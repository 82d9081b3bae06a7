package perfbench

import java.io.{BufferedWriter, FileWriter}

/** The run's record: one JSON object per line, `{"k": kind, "tag": ..., ...}`.
  * Kept in a file, not on stdout, so Spark's own logging cannot interleave
  * with it; `run.py` reads it after the JVM has exited. */
final class Record(path: String) {
  private val w = new BufferedWriter(new FileWriter(path))

  def write(kind: String, tag: String, fields: (String, Any)*): Unit = {
    val sb = new StringBuilder
    sb.append("{\"k\":").append(Record.json(kind))
      .append(",\"tag\":").append(Record.json(tag))
    fields.foreach { case (k, v) =>
      sb.append(',').append(Record.json(k)).append(':').append(Record.json(v))
    }
    sb.append("}\n")
    synchronized(w.write(sb.toString))
  }

  def close(): Unit = synchronized(w.close())
}

object Record {
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case s: Seq[_] => s.map(json).mkString("[", ",", "]")
    case s =>
      val sb = new StringBuilder("\"")
      s.toString.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append('"').toString
  }
}
