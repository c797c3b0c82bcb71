package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Same schemas and distributions as
  * `graft.GenData` (which takes no seed): every hash-derived uniform also
  * hashes the seed, so one seed always gives byte-identical tables and two
  * seeds give independent draws of the same shape.
  *
  * Timestamps are written as TIMESTAMP_NTZ micros, the flavour of the
  * shipped test tables, which `graft.sources.Tables.events` normalizes and
  * DuckDB reads as plain TIMESTAMP.
  */
final class Gen(spark: SparkSession, sf: Double, seed: Long) {
  import spark.implicits._

  private def u01(salt: Int, cols: Column*): Column =
    (pmod(xxhash64(cols ++ Seq(lit(salt), lit(seed)): _*), lit(1L << 40))
      .cast("double") / lit((1L << 40).toDouble))

  private def pick(salt: Int, values: Seq[String], id: Column): Column =
    element_at(array(values.map(lit): _*),
      (u01(salt, id) * values.size).cast("int") + 1)

  private def ntz(c: Column): Column = c.cast("timestamp_ntz")

  val nCustomer: Long = (150000 * sf).toLong max 1500L
  val nOrders: Long = (1500000 * sf).toLong max 15000L
  val nEvents: Long = (1000000 * sf).toLong max 10000L
  val nUsers: Long = (15000 * sf).toLong max 150L
  val nDocs: Long = (50000 * sf).toLong max 500L
  val nVecs: Long = (20000 * sf).toLong max 500L

  def region: DataFrame = Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"),
    (3, "EUROPE"), (4, "MIDDLE EAST")).toDF("r_regionkey", "r_name")

  def nation: DataFrame = spark.range(25).select(
    $"id".cast("int").as("n_nationkey"),
    concat(lit("NATION_"), $"id").as("n_name"),
    ($"id" % 5).cast("int").as("n_regionkey"))

  def customer: DataFrame = spark.range(nCustomer).select(
    $"id".as("c_custkey"),
    format_string("Customer#%09d", $"id").as("c_name"),
    (u01(1, $"id") * 25).cast("int").as("c_nationkey"),
    round(u01(2, $"id") * 11000 - 1000, 2).as("c_acctbal"),
    pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
      "MACHINERY"), $"id").as("c_mktsegment"))

  def orders: DataFrame = spark.range(nOrders).select(
    $"id".as("o_orderkey"),
    (u01(11, $"id") * nCustomer).cast("long").as("o_custkey"),
    pick(12, Seq("O", "P", "F"), $"id").as("o_orderstatus"),
    round(u01(13, $"id") * 499000 + 1000, 2).as("o_totalprice"),
    ntz(timestamp_seconds(lit(788918400L) // 1995-01-01 UTC
      + (u01(14, $"id") * 2404).cast("long") * 86400L)).as("o_orderdate"),
    pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
      "5-LOW"), $"id").as("o_orderpriority"))

  /** 30 days of Jan 2024, exponential(mean 50) values. */
  def events: DataFrame = spark.range(nEvents).select(
    $"id".as("event_id"),
    ntz(timestamp_micros(lit(1704067200000000L)
      + (u01(26, $"id") * 30L * 86400L * 1000000L).cast("long"))).as("ts"),
    (u01(27, $"id") * nUsers).cast("long").as("user_id"),
    pick(28, Seq("view", "click", "purchase", "signup", "error"), $"id")
      .as("event_type"),
    round(-log(lit(1.0) - u01(29, $"id")) * 50, 2).as("value"),
    format_string("{\"k\": %d}", (u01(30, $"id") * 100).cast("int"))
      .as("props"))

  /** 10..100 words of a 30-word vocabulary, 5% "dup" suffix, ~8
    * exact-duplicate pairs per 5000 docs. */
  def documents: DataFrame = {
    val vocab = Seq("spark", "window", "merge", "table", "column", "vector",
      "stream", "value", "data", "small", "join", "filter", "big", "group",
      "hash", "customer", "sort", "order", "slow", "line", "part", "fast",
      "the", "row", "agg", "key", "query", "a", "scan", "batch")
    val vocabArr = array(vocab.map(lit): _*)
    val base = spark.range(nDocs).select(
      $"id".as("doc_id"),
      concat(
        array_join(transform(
          sequence(lit(1), (u01(31, $"id") * 91).cast("int") + 10),
          i => element_at(vocabArr,
            (u01(32, $"id", i) * vocab.size).cast("int") + 1)), " "),
        when(u01(33, $"id") < 0.05, lit(" dup")).otherwise(lit("")))
        .as("text"),
      when(u01(34, $"id") < 0.41, "en")
        .otherwise(pick(35, Seq("de", "fr", "zh", "es"), $"id")).as("lang"),
      concat(lit("src"), (u01(36, $"id") * 20).cast("int")).as("source"))
    val dupPairs = base
      .where(u01(37, $"doc_id") < 8.0 / 5000)
      .select($"doc_id".as("_dup_id"),
        (u01(38, $"doc_id") * nDocs).cast("long").as("_src_id"))
      .where($"_dup_id" =!= $"_src_id")
    val srcText = base.select($"doc_id".as("_src_id"), $"text".as("_src_text"))
    base
      .join(broadcast(dupPairs.join(srcText, "_src_id")
        .select($"_dup_id".as("_d"), $"_src_text")),
        $"doc_id" === $"_d", "left")
      .select($"doc_id",
        coalesce($"_src_text", $"text").as("text"),
        $"lang", $"source",
        length(coalesce($"_src_text", $"text")).cast("long").as("n_chars"))
  }

  /** Uniform on the unit 64-sphere, float32, labels 0..9. */
  def embeddings: DataFrame = {
    val gauss = transform(sequence(lit(1), lit(64)), i =>
      sqrt(-lit(2.0) * log(lit(1.0) - u01(39, $"id", i)))
        * cos(lit(2.0 * math.Pi) * u01(40, $"id", i)))
    spark.range(nVecs)
      .select($"id", gauss.as("_g"))
      .select($"id",
        aggregate($"_g", lit(0.0), (acc, x) => acc + x * x).as("_n2"), $"_g")
      .select($"id".as("vec_id"),
        transform($"_g", x => (x / sqrt($"_n2")).cast("float")).as("embedding"),
        (u01(41, $"id") * 10).cast("int").as("label"))
  }

  private def table(name: String): (DataFrame, Long) = name match {
    case "region" => (region, 5L)
    case "nation" => (nation, 25L)
    case "customer" => (customer, nCustomer)
    case "orders" => (orders, nOrders)
    case "events" => (events, nEvents)
    case "documents" => (documents, nDocs)
    case "embeddings" => (embeddings, nVecs)
  }

  /** Writes `names` as `<dir>/<name>.parquet`, plus `_manifest.json` with
    * the seed and row counts, and returns the row counts. Each table is one
    * file, like the shipped test tables, or with `perCore` one file per
    * core, so that scans run on every core. */
  def write(dir: String, names: Seq[String], perCore: Boolean): Map[String, Long] = {
    val rows = names.map { n =>
      val (df, count) = table(n)
      (if (perCore) df else df.coalesce(1))
        .write.mode("overwrite").parquet(s"$dir/$n.parquet")
      n -> count
    }.toMap
    val manifest = Json.obj("seed" -> seed, "sf" -> sf, "rows" -> rows)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "_manifest.json"), manifest)
    rows
  }
}
