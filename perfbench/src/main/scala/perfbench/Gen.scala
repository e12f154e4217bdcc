package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Every table is derived from the seed alone with
  * the schemas and value ranges of the repository's test tables
  * (`documents`, `lineitem`, `orders`, `events`) at the row counts the
  * workload asks for, and written as ONE parquet file `<dir>/<name>.parquet`
  * — the source layout, so a later io or partitioning change shows up in
  * the benchmark instead of being hidden by the generator.
  *
  * Randomness is `xxhash64(seed, salt, key…)` mapped to [0,1): the same
  * seed gives byte-identical inputs, and no row depends on task order. */
object Gen {

  /** What one generated input holds, as recorded in the run's manifest. */
  final case class Input(name: String, rows: Long, bytes: Long, files: Int)

  /** The word list of the test tables' `documents.text` word salad. */
  val vocab: Seq[String] = Seq("join", "hash", "row", "batch", "scan", "column",
    "customer", "filter", "small", "slow", "merge", "order", "vector", "line",
    "data", "table", "agg", "value", "key", "stream", "window", "a", "spark",
    "part", "group", "big", "sort", "query", "fast", "the")

  /** Planted intent keywords: intent i owns words 3i..3i+2. The words are
    * outside [[vocab]] and stay distinct under Porter stemming. */
  val intents: Seq[String] = Seq("billing", "delivery", "account", "upgrade")
  val intentWords: Seq[String] = Seq(
    "invoice", "refund", "charge",
    "courier", "parcel", "tracking",
    "password", "login", "profile",
    "premium", "plan", "bundle")

  private def arr(ws: Seq[String]): String = ws.map(w => s"'$w'").mkString("array(", ",", ")")

  /** Uniform double in [0,1) keyed by the seed, a salt and key columns. */
  def u(seed: Long, salt: String, keys: String*): String =
    s"(pmod(xxhash64(${seed}L, '$salt', ${keys.mkString(", ")}), 1000003) / 1000003.0)"

  /** Integer in [0, n) keyed like [[u]]. */
  def pick(seed: Long, salt: String, n: Int, keys: String*): String =
    s"cast(pmod(xxhash64(${seed}L, '$salt', ${keys.mkString(", ")}), $n) as int)"

  /** `documents`-shaped rows with a planted intent label: each document
    * carries keywords of its intent at rate 0.12 and of a random other
    * intent at rate 0.03, and 10% of the labels are replaced by a random
    * intent (label noise). `offset` keeps hold-out ids disjoint. */
  def docs(spark: SparkSession, seed: Long, rows: Long, offset: Long): DataFrame =
    docsOf(spark.range(offset, offset + rows).toDF("doc_id").withColumn("src", col("doc_id")), seed)

  /** The document of key `src` for every row of `keys`, under its `doc_id`. */
  private def docsOf(keys: DataFrame, seed: Long): DataFrame = {
    val k = intents.size
    val langs = "array('en','en','en','de','es','fr','zh')"
    keys
      .withColumn("intent", expr(pick(seed, "intent", k, "src")))
      .withColumn("other", expr(s"pmod(intent + 1 + ${pick(seed, "other", k - 1, "src")}, $k)"))
      .withColumn("len", expr(s"14 + ${pick(seed, "len", 70, "src")}"))
      .withColumn("text", expr(
        s"""array_join(transform(sequence(0, len - 1), j ->
           |  CASE WHEN ${u(seed, "ip", "src", "j")} < 0.12
           |    THEN element_at(${arr(intentWords)}, intent * 3 + ${pick(seed, "ik", 3, "src", "j")} + 1)
           |  WHEN ${u(seed, "op", "src", "j")} < 0.03
           |    THEN element_at(${arr(intentWords)}, other * 3 + ${pick(seed, "ok", 3, "src", "j")} + 1)
           |  ELSE element_at(${arr(vocab)}, ${pick(seed, "w", vocab.size, "src", "j")} + 1)
           |  END), ' ')""".stripMargin))
      .withColumn("label_idx", expr(
        s"CASE WHEN ${u(seed, "noise", "src")} < 0.10 THEN ${pick(seed, "nl", k, "src")} ELSE intent END"))
      .select(col("doc_id"), col("text"),
        expr(s"element_at($langs, ${pick(seed, "lang", 7, "src")} + 1)").as("lang"),
        expr(s"concat('src', ${pick(seed, "src", 8, "src")})").as("source"),
        length(col("text")).cast("long").as("n_chars"),
        element_at(lit(intents.toArray), col("label_idx") + 1).as("intent"))
  }

  /** Raw crawl: `rows` [[docs]] plus planted duplicates — a share
    * `dupRate` re-delivered verbatim and a share `nearRate` re-delivered
    * with one word inserted. Copies come from distinct base documents, so
    * the crawl holds exactly `rows + nearRate * rows` distinct texts. */
  def crawl(spark: SparkSession, seed: Long, rows: Long,
            dupRate: Double, nearRate: Double): DataFrame = {
    val nearFrom = rows + (rows * dupRate).toLong
    // copy j re-delivers base doc (j * 7919 + shift) % rows: 7919 is prime
    // and coprime to every crawl size used, so sources never repeat
    val keys = spark.range(crawlRows(rows, dupRate, nearRate)).toDF("doc_id")
      .withColumn("src", expr(
        s"""CASE WHEN doc_id < $rows THEN doc_id
           |  WHEN doc_id < $nearFrom THEN pmod((doc_id - $rows) * 7919, $rows)
           |  ELSE pmod((doc_id - $nearFrom) * 7919 + 3, $rows) END""".stripMargin))
    val all = docsOf(keys, seed)
    all.withColumn("text", when(col("doc_id") < nearFrom, col("text")).otherwise(expr(
        s"array_join(array_insert(split(text, ' '), 3, " +
          s"element_at(${arr(vocab)}, ${pick(seed, "nw", vocab.size, "doc_id")} + 1)), ' ')")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select(all.columns.map(col): _*)
  }

  def crawlRows(rows: Long, dupRate: Double, nearRate: Double): Long =
    rows + (rows * dupRate).toLong + (rows * nearRate).toLong

  /** `orders` (one per 4 lineitems) and `lineitem`, consistent keys. */
  def orders(spark: SparkSession, seed: Long, rows: Long, customers: Int): DataFrame =
    spark.range(rows).toDF("o_orderkey")
      .select(col("o_orderkey"),
        expr(pick(seed, "ck", customers, "o_orderkey")).cast("long").as("o_custkey"),
        expr(s"element_at(array('F','O','P'), ${pick(seed, "os", 3, "o_orderkey")} + 1)").as("o_orderstatus"),
        expr(s"round(1000 + 499000 * ${u(seed, "tp", "o_orderkey")}, 2)").as("o_totalprice"),
        expr(s"timestamp_seconds(788918400 + 86400 * ${pick(seed, "od", 2404, "o_orderkey")})").as("o_orderdate"),
        expr(s"element_at(array('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'), ${pick(seed, "op", 5, "o_orderkey")} + 1)")
          .as("o_orderpriority"))

  def lineitem(spark: SparkSession, seed: Long, orderRows: Long, parts: Int): DataFrame =
    spark.range(orderRows * 4).toDF("r")
      .select(
        col("r").divide(4).cast("long").as("l_orderkey"),
        expr(pick(seed, "pk", parts, "r")).cast("long").as("l_partkey"),
        expr(pick(seed, "sk", 100, "r")).cast("long").as("l_suppkey"),
        expr("cast(pmod(r, 4) + 1 as int)").as("l_linenumber"),
        expr(s"cast(1 + ${pick(seed, "q", 50, "r")} as double)").as("l_quantity"),
        expr(s"round(900 + 104000 * ${u(seed, "ep", "r")}, 2)").as("l_extendedprice"),
        expr(s"${pick(seed, "d", 11, "r")} / 100.0").as("l_discount"),
        expr(s"${pick(seed, "t", 9, "r")} / 100.0").as("l_tax"),
        expr(s"element_at(array('A','N','R'), ${pick(seed, "rf", 3, "r")} + 1)").as("l_returnflag"),
        expr(s"element_at(array('F','O'), ${pick(seed, "ls", 2, "r")} + 1)").as("l_linestatus"),
        expr(s"timestamp_seconds(788918400 + 86400 * (1 + ${pick(seed, "sd", 2500, "r")}))").as("l_shipdate"))

  def events(spark: SparkSession, seed: Long, rows: Long, users: Int): DataFrame =
    spark.range(rows).toDF("event_id")
      .select(col("event_id"),
        expr(s"timestamp_micros(1704067200000000 + cast(2592000000000 * ${u(seed, "ts", "event_id")} as long))").as("ts"),
        expr(pick(seed, "uid", users, "event_id")).cast("long").as("user_id"),
        expr(s"element_at(array('click','signup','error','view','purchase'), ${pick(seed, "et", 5, "event_id")} + 1)").as("event_type"),
        expr(s"round(0.01 + 490 * ${u(seed, "v", "event_id")}, 2)").as("value"),
        expr(s"""concat('{"k": ', ${pick(seed, "k", 100, "event_id")}, '}')""").as("props"))

  /** Write `df`, which holds `rows` rows, as the single file
    * `<dir>/<name>.parquet`. */
  def writeSingle(df: DataFrame, dir: String, name: String, rows: Long): Input = {
    val tmp = new File(dir, s".$name.tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().find(f => f.getName.startsWith("part-") &&
      f.getName.endsWith(".parquet")).getOrElse(sys.error(s"no part file for $name"))
    val target = new File(dir, s"$name.parquet")
    Files.move(part.toPath, target.toPath, StandardCopyOption.REPLACE_EXISTING)
    deleteTree(tmp)
    Input(name, rows, target.length(), 1)
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
