package perfbench

import scala.jdk.CollectionConverters._

/** Minimal JSON building on the Jackson that ships with Spark. */
object Json {
  def obj(kv: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  private def toJava(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.asScala.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case m: scala.collection.Map[_, _] =>
      toJava(obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*))
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case o: Option[_] => o.map(toJava).orNull
    case x => x
  }

  def write(path: String, value: Any): Unit =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValue(new java.io.File(path), toJava(value))

  def read(path: String): java.util.Map[String, Any] =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(new java.io.File(path), classOf[java.util.Map[String, Any]])
}
