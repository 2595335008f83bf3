package graftbench

import java.nio.file.{Files, Path}

/** Minimal JSON writer for the harness's stdout protocol and files. */
object Json {

  def str(s: String): String = "\"" + s.flatMap {
    case '\\' => "\\\\"
    case '"' => "\\\""
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      // epoch ms and byte counts without an exponent
      else if (math.abs(d) >= 1e7) String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
      else d.toString
    case n: Number => n.toString
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  /** One protocol line on stdout: `{"kind": kind, ...fields}`. */
  def emit(kind: String, fields: (String, Any)*): Unit = synchronized {
    println(obj(("kind" -> kind) +: fields))
    Console.out.flush()
  }

  def writeOracle(p: Path, sql: Map[String, String]): Unit =
    Files.writeString(p, obj(sql.toSeq.sortBy(_._1)))
}
