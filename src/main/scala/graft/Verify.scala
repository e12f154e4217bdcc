package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — one tab or CR left raw in an oracle SQL string would make the whole
    * oracle_sql.json unreadable to `tools/compare.py`. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The verified action: the whole output as one parquet file. */
  def write(df: org.apache.spark.sql.DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: restrict to the named queries (local debugging)
    val only = args.drop(2).toSet
    // Route through GraftSession: nanosAsLong + UTC + AQE must match the
    // engine's standard session or events-based queries fail here only.
    val spark = GraftSession.local(GraftSession.envCores, "graft-verify")
    new java.io.File(outDir).mkdirs()
    var failed = List.empty[String]
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
    selected.foreach { case (name, fn) =>
      try write(fn(spark, sfDir), s"$outDir/$name")
      catch { case e: Throwable =>
        failed ::= name
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} FAILED: ${failed.mkString(", ")}")
    else
      System.err.println(s"[verify] all ${selected.size} queries dumped OK")
    spark.stop()
  }
}
