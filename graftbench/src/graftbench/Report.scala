package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** Minimal JSON output for the run record, the check inputs and the trace. */
object Report {
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case o: Option[_] => o.map(json).getOrElse("null")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case a: Array[_] => json(a.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def writeJson(path: Path, v: Any): Unit = Files.writeString(path, json(v), UTF_8)

  def writeLines(path: Path, vs: Iterator[Any]): Unit = {
    val w = Files.newBufferedWriter(path, UTF_8)
    try vs.foreach { v => w.write(json(v)); w.newLine() } finally w.close()
  }

  def sha1(s: String): String =
    java.security.MessageDigest.getInstance("SHA-1").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
}
