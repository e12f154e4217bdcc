package perfbench

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Check values recorded per workload and seed, in `expected.json`:
  * `{"<workload>": {"<seed>": {"<check>": "<value>", ...}}}`. */
object Expected {
  /** The values recorded for `seed`, if any; the file itself must exist. */
  def load(path: String, workload: String, seed: Long): Option[Map[String, String]] = {
    val f = new java.io.File(path)
    require(f.isFile, s"no recorded check values at $path")
    JsonMethods.parse(f) \ workload \ seed.toString match {
      case JObject(fields) => Some(fields.collect { case (k, JString(v)) => k -> v }.toMap)
      case _ => None
    }
  }

  def render(checks: Map[String, String]): String =
    JsonMethods.compact(JObject(checks.toSeq.sortBy(_._1).map { case (k, v) => k -> JString(v) }: _*))
}
