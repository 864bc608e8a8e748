package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** O(n) Rabin–Karp document fingerprint: the minimum polynomial rolling
  * hash over all `k`-byte windows of a string (X4 fingerprinting — the
  * rolling-hash formulation). Base 31, exact 64-bit arithmetic (no modulus:
  * for k ≤ 9, 255·Σ31^j < 2^63, so the value is exact and portable — an
  * O(n·k) re-computation in any engine yields the identical integer, which
  * is what the DuckDB oracle does).
  *
  * A codegen'd `Expression` rather than SQL lambdas because the rolling
  * recurrence h' = (h − c₀·31^(k−1))·31 + c_k is inherently stateful across
  * windows — array HOFs would recompute every window from scratch (O(n·k))
  * on the interpreted path.
  */
case class MinRollingHash(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == IntegerType &&
        right.foldable)
      // the literal is foldable, so validate its VALUE at analysis time —
      // a bad window should be an AnalysisException at plan time, not an
      // IllegalArgumentException from a task mid-job (and a null literal
      // must not unbox to 0)
      right.eval() match {
        case null => TypeCheckResult.TypeCheckFailure(
          "min_rolling_hash window literal must not be null")
        case w: Int if w >= 1 && w <= 9 => TypeCheckResult.TypeCheckSuccess
        case w => TypeCheckResult.TypeCheckFailure(
          s"min_rolling_hash window must be in [1,9] for exact 64-bit math, got $w")
      }
    else TypeCheckResult.TypeCheckFailure(
      "min_rolling_hash expects (string, literal int window)")

  override def dataType: DataType = LongType
  override def prettyName: String = "min_rolling_hash"

  @transient private lazy val k: Int = {
    val w = right.eval().asInstanceOf[Int]
    require(w >= 1 && w <= 9, s"window must be in [1,9] for exact 64-bit math, got $w")
    w
  }

  override def nullable: Boolean = true

  override protected def nullSafeEval(s: Any, w: Any): Any = {
    val bytes = s.asInstanceOf[UTF8String].getBytes
    if (bytes.length < k) null else MinRollingHash.minHash(bytes, k)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kLit = k
    nullSafeCodeGen(ctx, ev, (str, _) => {
      val bytes = ctx.freshName("bytes")
      s"""
         |byte[] $bytes = $str.getBytes();
         |${ev.isNull} = $bytes.length < $kLit;
         |if (!${ev.isNull}) {
         |  ${ev.value} = graft.functions.MinRollingHash.minHash($bytes, $kLit);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinRollingHash =
    copy(left = newLeft, right = newRight)
}

object MinRollingHash {
  final val Base = 31L

  /** Shared by interpreted eval and generated code. Returns Long.MinValue
    * marker never — caller guards length < k as null. */
  def minHash(bytes: Array[Byte], k: Int): Long = {
    val n = bytes.length
    if (n < k) return 0L // guarded by null check in codegen; eval path below
    var top = 1L
    var i = 1
    while (i < k) { top *= Base; i += 1 }
    var h = 0L
    i = 0
    while (i < k) { h = h * Base + (bytes(i) & 0xff); i += 1 }
    var min = h
    i = k
    while (i < n) {
      h = (h - (bytes(i - k) & 0xff) * top) * Base + (bytes(i) & 0xff)
      if (h < min) min = h
      i += 1
    }
    min
  }
}
