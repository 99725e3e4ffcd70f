package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Minimal JSON for the run record: maps, sequences, strings, numbers. */
object Json {
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + write(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def read(path: String): JsonNode =
    new ObjectMapper().readTree(new java.io.File(path))

  def fields(n: JsonNode): Seq[(String, JsonNode)] =
    n.properties().asScala.map(e => e.getKey -> e.getValue).toSeq

  def save(path: String, v: Any): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      write(v) + "\n")
}
