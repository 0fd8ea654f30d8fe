package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Minimal JSON in and out: the plan is read with Jackson (on Spark's
  * classpath already); records are written by [[Json.write]], which
  * knows just the value shapes the records hold.
  */
object Json {
  private val mapper = new ObjectMapper()

  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))

  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => mapper.writeValueAsString(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => write(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => write(other.toString)
  }

  implicit final class NodeOps(private val n: JsonNode) extends AnyVal {
    def str(k: String): String = n.get(k).asText()
    def int(k: String): Int = n.get(k).asInt()
    def long(k: String): Long = n.get(k).asLong()
    def dbl(k: String): Double = n.get(k).asDouble()
    def bool(k: String): Boolean = n.has(k) && n.get(k).asBoolean()
    def items(k: String): Seq[JsonNode] = {
      import scala.jdk.CollectionConverters._
      if (n.has(k)) n.get(k).elements().asScala.toSeq else Nil
    }
  }
}

/** Append-only JSON-lines record file. */
final class Out(path: String) extends AutoCloseable {
  private val w = new java.io.PrintWriter(
    new java.io.BufferedWriter(new java.io.FileWriter(path)))
  def apply(kind: String, fields: (String, Any)*): Unit = synchronized {
    w.println(Json.write(scala.collection.immutable.ListMap(
      ("type" -> kind) +: fields: _*)))
    w.flush()
  }
  def close(): Unit = w.close()
}
