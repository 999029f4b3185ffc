package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** Minimal JSON rendering for the benchmark's output lines. */
final case class Json(rendered: String) {
  override def toString: String = rendered
}

object Json {
  def obj(fields: (String, Any)*): Json =
    Json(fields.map { case (k, v) => quote(k) + ":" + render(v) }.mkString("{", ",", "}"))

  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  def render(v: Any): String = v match {
    case j: Json => j.rendered
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"not a JSON number: $d")
      d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.sortBy(_._1.toString).map { case (k, x) => k.toString -> x }: _*)
      .rendered
    case xs: Seq[_] => xs.map(render).mkString("[", ",", "]")
    case other => sys.error(s"cannot render ${other.getClass}")
  }
}

/** Output digests pinned for the default seed, one per workload, in a
 * flat JSON object {"<workload>": "<digest>"}. */
object Pinned {
  def read(file: Path, workload: String): Option[String] = {
    val text = new String(Files.readAllBytes(file), StandardCharsets.UTF_8)
    ("\"" + java.util.regex.Pattern.quote(workload) + "\"\\s*:\\s*\"([0-9a-f]+)\"").r
      .findFirstMatchIn(text).map(_.group(1))
  }
}
