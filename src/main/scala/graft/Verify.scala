package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional third arg: comma-separated query names for fast iteration
    val only = args.drop(2).headOption.map(_.split(",").toSet)
    // SPARK_GRAFT_JARS: the packaged application jar, for executor JVMs
    // under a SPARK_GRAFT_MASTER cluster (see GraftSession)
    val spark = GraftSession.start("graft-verify",
      sys.env.get("SPARK_GRAFT_JARS").map("spark.jars" -> _).toSeq: _*)
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
      // repartition(1), NOT coalesce(1): coalesce propagates up to the last
      // shuffle boundary, so a query whose final operator is a join/filter
      // (no aggregate) would run its whole heavy stage in ONE task
      // (measured 204 s vs 8.5 s for q_containment at sf2); repartition
      // inserts an exchange and keeps upstream parallelism. The gate sorts
      // rows before hashing, so the changed row order is irrelevant.
      try { fn(spark, sfDir).repartition(1).write.mode("overwrite")
              .parquet(s"$outDir/$name"); None }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name) }
    }.sorted
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // a failed key must fail the run, not just scroll past in the log
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} failed: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }
}
