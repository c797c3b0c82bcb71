package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is configured. Every main (Bench,
  * Verify, Profile, Quickstart, GenData) and the spec session build
  * through here and add only what is theirs.
  *
  * Environment:
  *  - `SPARK_GRAFT_CPUS`: local core count and shuffle partitions
  *    (default: every available processor);
  *  - `SPARK_GRAFT_MASTER`: master URL replacing `local[cpus]`, e.g.
  *    `local-cluster[2,2,2048]` to run across real executor JVMs (closure
  *    serialization, broadcast transport — what single-JVM local mode
  *    hides); `SPARK_GRAFT_JARS` (read by Verify) must then name the
  *    packaged application jar for the executor classpath.
  */
object GraftSession {

  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Shared config: shuffle partitions = cores (AQE coalesces any excess),
    * UTC session time zone, nanosecond parquet timestamps read as longs
    * (older `events.ts` files; `Tables.events` converts them), graft's
    * native expressions and rules, no UI. */
  def builder(appName: String): SparkSession.Builder = {
    val n = cpus
    SparkSession.builder()
      .appName(appName)
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$n]"))
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
  }

  /** [[builder]] plus the caller's own `conf`, started with Spark's log
    * level at WARN. */
  def start(appName: String, conf: (String, String)*): SparkSession = {
    val spark = conf.foldLeft(builder(appName)) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
