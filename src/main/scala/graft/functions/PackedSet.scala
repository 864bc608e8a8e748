package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, IntegerType, StringType}

/** Packed sorted string-set: one compact BINARY blob per set —
  * `[len:int16BE bytes]*` entries in unsigned-byte-lexicographic order —
  * plus a linear-merge intersection count over two such blobs.
  *
  * Why: the pairwise set-overlap queries (`dedup_containment`,
  * `dedup_ngram_jaccard*`) attach whole shingle ARRAYS to candidate
  * pairs through merge joins and evaluate `size(array_intersect(a, b))`
  * per pair. An `array<string>` rides Spark's sorters/exchanges at
  * ~16+ bytes per element of structural overhead (per-element
  * offset+size words, padding) and `array_intersect` builds a hash set
  * per ROW; the packed form carries ~(2 + len) bytes per element, and
  * the counting merge is a branch-light memcmp walk with ZERO per-pair
  * allocation. Exactness: identity is FULL BYTE EQUALITY (no hashing),
  * and unsigned byte order equals Spark's UTF8String order, so
  * `packed_intersect_count(pack(a), pack(b)) ==
  * size(array_intersect(a, b))` for all inputs — duplicate elements
  * are counted once per distinct value, exactly as `array_intersect`'s
  * distinct-match semantics (PackedSetSpec pins the parity). */
object PackedSet {
  /** Pack: sort (unsigned byte order) + length-prefix. Null elements are
    * rejected (the shingle builders are never-null by construction). */
  def pack(arr: ArrayData): Array[Byte] = {
    val n = arr.numElements()
    val items = new Array[Array[Byte]](n)
    var total = 0
    var i = 0
    while (i < n) {
      val u = arr.getUTF8String(i)
      if (u == null) throw new IllegalStateException(
        s"pack_sorted_set: null element at index $i of a $n-element " +
          "array. The engine's shingle producers are never-null by " +
          "construction, so a null here is a caller bug — pre-filter " +
          "(array_compact) or fix the producer; pack_sorted_set " +
          "deliberately defines no null semantics to silently encode.")
      val b = u.getBytes
      require(b.length <= 0x7fff,
        s"pack_sorted_set entry exceeds 32767 bytes (${b.length})")
      items(i) = b
      total += b.length + 2
      i += 1
    }
    java.util.Arrays.sort(items, PackedSet.cmp)
    val out = new Array[Byte](total)
    var pos = 0
    i = 0
    while (i < n) {
      val b = items(i)
      out(pos) = ((b.length >> 8) & 0xff).toByte
      out(pos + 1) = (b.length & 0xff).toByte
      System.arraycopy(b, 0, out, pos + 2, b.length)
      pos += b.length + 2
      i += 1
    }
    out
  }

  private val cmp = new java.util.Comparator[Array[Byte]] {
    override def compare(a: Array[Byte], b: Array[Byte]): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val d = (a(i) & 0xff) - (b(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      a.length - b.length
    }
  }

  /** Entry length at `pos` (2-byte BE prefix). */
  @inline private def entryLen(p: Array[Byte], pos: Int): Int =
    ((p(pos) & 0xff) << 8) | (p(pos + 1) & 0xff)

  /** Unsigned compare of the entries at positions `pa`/`pb`. */
  private def cmpAt(a: Array[Byte], pa: Int, b: Array[Byte], pb: Int): Int = {
    val la = entryLen(a, pa); val lb = entryLen(b, pb)
    val n = math.min(la, lb)
    var i = 0
    while (i < n) {
      val d = (a(pa + 2 + i) & 0xff) - (b(pb + 2 + i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    la - lb
  }

  /** |distinct(a) ∩ distinct(b)| by linear merge — equal runs advance
    * past ALL duplicates on both sides so each common value counts once
    * (array_intersect's distinct-match semantics). */
  def intersectCount(a: Array[Byte], b: Array[Byte]): Int = {
    var pa = 0; var pb = 0; var c = 0
    while (pa < a.length && pb < b.length) {
      val d = cmpAt(a, pa, b, pb)
      if (d < 0) pa += 2 + entryLen(a, pa)
      else if (d > 0) pb += 2 + entryLen(b, pb)
      else {
        c += 1
        // skip duplicate runs of the matched value on both sides
        val startA = pa
        pa += 2 + entryLen(a, pa)
        while (pa < a.length && cmpAt(a, startA, a, pa) == 0)
          pa += 2 + entryLen(a, pa)
        val startB = pb
        pb += 2 + entryLen(b, pb)
        while (pb < b.length && cmpAt(b, startB, b, pb) == 0)
          pb += 2 + entryLen(b, pb)
      }
    }
    c
  }
}

/** `pack_sorted_set(array<string>)` → binary (see [[PackedSet]]). */
case class PackSortedSet(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    // containsNull=true schemas are accepted (builders like toDF mark
    // them conservatively); an ACTUAL null element raises at runtime —
    // the shingle producers feeding this are never-null by construction
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "pack_sorted_set expects array<string>")
  }
  override def dataType: DataType = BinaryType
  override def prettyName: String = "pack_sorted_set"

  override protected def nullSafeEval(a: Any): Any =
    PackedSet.pack(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PackedSet.pack($c)")

  override protected def withNewChildInternal(newChild: Expression): PackSortedSet =
    copy(child = newChild)
}

/** `packed_intersect_count(binary, binary)` → int (see [[PackedSet]]). */
case class PackedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "packed_intersect_count expects two binary blobs")
  override def dataType: DataType = IntegerType
  override def prettyName: String = "packed_intersect_count"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    PackedSet.intersectCount(a.asInstanceOf[Array[Byte]],
      b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.PackedSet.intersectCount($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PackedIntersectCount =
    copy(left = newLeft, right = newRight)
}
