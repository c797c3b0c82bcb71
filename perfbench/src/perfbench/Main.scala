package perfbench

import graft.SparkEntry
import graft.operators._
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** One operation of a pass: a gate, or a DAG stage. */
final case class Op(name: String, family: String, constructS: Double,
    actionS: Double, ok: Boolean, error: String)

/** Result to compare against `oracle` (a `SparkEntry.oracleSql` key), or to
  * require rows from when the gate has no oracle. `project`: compare only the
  * oracle's columns (a DAG stage also carries what later stages read). */
final case class Check(name: String, path: String, oracle: String, project: Boolean)

/** A named workload: which tables it generates at which scale, and one
  * timed pass that materializes every result under `work`, where the
  * correctness check reads the last pass's results. */
trait Workload {
  def sf: Double
  def tables: Seq[String]
  /** Inputs are written one file per core rather than one file per table. */
  def perCore: Boolean
  def pass(spark: SparkSession, data: String, work: String): Seq[Op]
  def checks(work: String): Seq[Check]
}

object Harness {
  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Runs `construct` then `action`; a failed operation keeps its time. */
  def op(spark: SparkSession, name: String, family: String)(
      construct: => DataFrame)(action: DataFrame => Unit): Op = {
    var constructS: Option[Double] = None
    val t0 = System.nanoTime()
    try {
      Trace.scoped(spark, name) {
        val df = Trace.span("entry", s"construct:$name")(construct)
        constructS = Some(seconds(t0))
        Trace.span("action", s"action:$name")(action(df))
      }
      val total = seconds(t0)
      Op(name, family, constructS.get, total - constructS.get, ok = true, "")
    } catch {
      case e: VirtualMachineError => throw e
      case e: Throwable =>
        val total = seconds(t0)
        val c = constructS.getOrElse(total)
        val err = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(300)
        System.err.println(s"[perfbench] $name FAILED: $err")
        Op(name, family, c, total - c, ok = false, err)
    }
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** Gates from `SparkEntry.queries`, each timed as construction (eager jobs
  * run inside `queries(key)`) plus writing its result as one parquet file. */
final class Gates(val sf: Double, val tables: Seq[String],
    gates: Seq[(String, String)]) extends Workload {
  import Harness._
  val perCore = false

  def pass(spark: SparkSession, data: String, work: String): Seq[Op] =
    gates.map { case (k, fam) =>
      op(spark, k, fam)(SparkEntry.queries(k)(spark, data)) { df =>
        // repartition, not coalesce: keeps the upstream stage parallel
        df.repartition(1).write.mode("overwrite").parquet(s"$work/results/$k")
      }
    }

  def checks(work: String): Seq[Check] = gates.map { case (k, _) =>
    Check(k, s"$work/results/$k", k, project = false)
  }
}

/** The kwwhat dbt DAG: each model is materialized as parquet, as dbt does,
  * and later models read it back. Every stage keeps the output columns of
  * the gate of the same shape, whose oracle checks it. */
final class KwwhatDag(val sf: Double) extends Workload {
  import Harness._
  val tables: Seq[String] = Seq("events")
  val perCore = true

  /** (stage, gate whose oracle checks it) in DAG order. */
  val stages: Seq[(String, String)] = Seq(
    "stg_frames" -> "q_json_frame",
    "status_changes" -> "q_status_changes",
    "transactions" -> "q_event_correlate",
    "visits" -> "q_visits",
    "faulted_outages" -> "q_faulted_outages",
    "offline_gaps" -> "q_offline_gaps",
    "uptime_daily" -> "q_uptime",
    "interval_data" -> "q_bucket_alloc",
    "metric_layer" -> "q_metric_layer")

  private def span[A](name: String)(body: => A): A = Trace.span("operators", name)(body)

  private def model(spark: SparkSession, data: String, work: String, stage: String): DataFrame = {
    def read(name: String): DataFrame =
      Trace.span("sources", s"Tables.load:$name")(Tables.load(spark, work, name))
    def frames: DataFrame = read("stg_frames")
    stage match {
      case "stg_frames" =>
        val ev = Trace.span("sources", "Tables.events")(Tables.events(spark, data))
        val msg = when(col("event_id") % 2 === 0,
            concat(lit("[2,\""), col("event_id"), lit("\",\""), col("event_type"),
              lit("\","), col("props"), lit("]")))
          .otherwise(concat(lit("[3,\""), col("event_id"), lit("\","), col("props"), lit("]")))
        span("stg_frames")(ev.withColumn("msg", msg).select(
          col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"),
          get_json_object(col("msg"), "$[0]").as("message_type_id"),
          get_json_object(col("msg"), "$[1]").as("unique_id"),
          when(get_json_object(col("msg"), "$[0]") === "2",
            get_json_object(col("msg"), "$[3].k"))
            .otherwise(get_json_object(col("msg"), "$[2].k"))
            .cast("bigint").as("k_value")))
      case "status_changes" =>
        span("ChangeDetect.changes")(ChangeDetect.changes(
            frames.select("user_id", "ts", "event_id", "event_type"),
            Seq("user_id"), Seq("ts", "event_id"), "event_type"))
          .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
            col("event_type").as("status"), col("previous_status"),
            unix_micros(col("previous_ts")).as("previous_ts_us"),
            col("next_status"), unix_micros(col("next_ts")).as("next_ts_us"))
      case "transactions" =>
        val f = frames
        span("AsOf.correlateFirstWithin")(AsOf.correlateFirstWithin(
            f.filter(col("event_type") === "signup").select("event_id", "user_id", "ts"),
            f.filter(col("event_type") === "purchase"),
            Seq("user_id"), "event_id", "ts", "ts", 7L * 86400L, Seq("event_id", "value")))
          .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
            unix_micros(col("matched_ts")).as("matched_ts_us"),
            col("matched_event_id"), col("matched_value"))
      case "visits" =>
        val attempts = frames.select(
          col("event_id"),
          col("user_id").cast("string").as("charger_id"),
          (col("event_id") % 2).cast("string").as("port_id"),
          (col("user_id") % 20).cast("string").as("location_id"),
          col("ts").as("start_ts"),
          timestamp_micros(unix_micros(col("ts")) + (lit(30L) + col("event_id") % 300L) * 1000000L)
            .as("stop_ts"),
          when(col("event_type").isin("purchase", "click"),
            concat(lit("T"), (col("user_id") % 7).cast("string"))).as("id_tag"),
          col("value"))
        span("Visits.visits")(Visits.visits(attempts, "location_id", Seq("charger_id", "port_id"),
            "start_ts", "stop_ts", "id_tag",
            authGapSeconds = 1800L, anonGapSeconds = 120L, chainGapSeconds = 120L,
            tieBreakCols = Seq("event_id"),
            extraAggs = Seq(sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))))
          .select(col("grouping_key"), col("visit_seq"),
            unix_micros(col("visit_start_ts")).as("visit_start_us"),
            unix_micros(col("visit_end_ts")).as("visit_end_us"),
            col("charge_attempt_count"), col("id_tag"), col("location_id"), col("total_value"))
      case "faulted_outages" =>
        val spans = frames.select(col("user_id"),
          (col("event_id") % 2).cast("string").as("connector_id"),
          col("ts").as("from_ts"), (col("ts") + expr("interval 10 minutes")).as("to_ts"))
        val required = spans.select("user_id").distinct().withColumn("n_connectors", lit(2L))
        span("Outages.allFaultedOutages")(Outages.allFaultedOutages(spans, Seq("user_id"),
            "connector_id", "from_ts", "to_ts", required, "n_connectors"))
          .select(col("user_id"), unix_micros(col("from_ts")).as("from_us"),
            unix_micros(col("to_ts")).as("to_us"))
      case "offline_gaps" =>
        val f = frames
        val bounds = f.agg(min(col("ts")).as("mstart"), max(col("ts")).as("mend"))
        span("Intervals.heartbeatGaps")(Intervals.heartbeatGaps(
            f.select("user_id", "ts").crossJoin(broadcast(bounds)),
            Seq("user_id"), "ts", "mstart", "mend", 3600L))
          .select(col("user_id"), unix_micros(col("from_ts")).as("from_us"),
            unix_micros(col("to_ts")).as("to_us"), col("gap_seconds"))
      case "uptime_daily" =>
        val ev = frames.select("user_id", "ts")
        val lifetime = ev.groupBy(col("user_id"))
          .agg(min(col("ts")).as("c_start"), max(col("ts")).as("c_end"))
        val commissioned = span("Intervals.allocateToDays")(
            Intervals.allocateToDays(lifetime, "c_start", "c_end"))
          .select(col("user_id"), col("date_id"), col("overlap_us").as("c_us"))
        val gaps = span("Intervals.heartbeatGaps")(Intervals.heartbeatGaps(
            ev.join(lifetime, "user_id"), Seq("user_id"), "ts", "c_start", "c_end", 3600L))
          .select(col("user_id"), col("from_ts"), col("to_ts"))
        val downtime = span("Intervals.allocateToDays")(
            Intervals.allocateToDays(gaps, "from_ts", "to_ts"))
          .groupBy(col("user_id"), col("date_id")).agg(sum(col("overlap_us")).as("d_us"))
        commissioned.join(downtime, Seq("user_id", "date_id"), "left")
          .withColumn("d_us", coalesce(col("d_us"), lit(0L)))
          .filter(col("c_us") > 0)
          .select(col("user_id"), col("date_id"),
            ((col("c_us") - col("d_us")).cast("double") / col("c_us").cast("double")).as("uptime"))
      case "interval_data" =>
        val intervals = frames.select(col("user_id"), col("ts").as("from_ts"),
          (col("ts") + expr("interval 10 minutes")).as("to_ts"))
        span("Intervals.allocateToBuckets")(
            Intervals.allocateToBuckets(intervals, "from_ts", "to_ts", 900L))
          .groupBy(col("user_id"), col("bucket_start"))
          .agg(count(lit(1)).as("n_intervals"), sum(col("overlap_us")).as("total_overlap_us"))
          .select(col("user_id"), unix_micros(col("bucket_start")).as("bucket_us"),
            col("n_intervals"), col("total_overlap_us"))
      case "metric_layer" =>
        val sessions = span("Sessionize.sessionMetrics")(Sessionize.sessionMetrics(
          Sessionize.sessionize(frames, Seq("user_id"), "ts", 1800L, tieBreakCols = Seq("event_id")),
          Seq("user_id"), "ts",
          Seq(sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"),
            max(struct(col("ts"), col("event_id"), col("event_type"))).as("_last"))))
          .withColumn("is_successful", col("_last.event_type") === "purchase")
          .withColumn("cohort", pmod(col("user_id"), lit(10L)))
        val visitMetrics = Trace.span("metrics", "SemanticModel.query")(
          SparkEntry.visitSemanticModel.query(sessions, Seq(col("cohort")),
            Seq("total_visits", "total_charge_attempts", "average_attempts_per_visit",
              "first_attempt_success", "troubled_success", "failed_visits",
              "first_attempt_success_rate", "troubled_success_rate", "failed_rate")))
        // the q_metric_layer quantization: exact k/2^40 values sum
        // order-independently, so both engines agree bit for bit
        val q = lit(1099511627776.0)
        val uptimeModel = graft.metrics.SemanticModel(
          measures = Seq(graft.metrics.Measure("uptime_average",
            graft.metrics.MeasureAgg.Average, floor(col("uptime") * q) / q)),
          metrics = Seq(graft.metrics.SimpleMetric("average_uptime", "uptime_average")))
        val uptimeMetrics = Trace.span("metrics", "SemanticModel.query")(uptimeModel.query(
          read("uptime_daily").withColumn("cohort", pmod(col("user_id"), lit(10L))),
          Seq(col("cohort")), Seq("average_uptime")))
        visitMetrics.join(uptimeMetrics, Seq("cohort"), "left")
    }
  }

  def pass(spark: SparkSession, data: String, work: String): Seq[Op] =
    stages.map { case (stage, _) =>
      op(spark, stage, "dag")(model(spark, data, work, stage)) { df =>
        df.write.mode("overwrite").parquet(s"$work/$stage.parquet")
      }
    }

  def checks(work: String): Seq[Check] = stages.map { case (stage, gate) =>
    Check(stage, s"$work/$stage.parquet", gate, project = true)
  }
}

object Workloads {
  // kwwhat-shape batch gates that no DAG stage repeats: small scans whose
  // time is mostly fixed per-query cost (planning, job and task launch)
  val kwwhatGates: Seq[String] = Seq("q_stg_cast", "q_latest_status", "q_scd2",
    "q_asof_backward", "q_pivot", "q_user_aggs")

  // curation gates whose hot paths are graft.plans native kernels
  // (Gpt2Pretokens, NfcNormalize, FnvMix with TopKPerKey, FloatDot) and whose
  // DuckDB oracles take under a second; the oracles of the kernel-heavy
  // dedup gates take minutes
  val curationGates: Seq[String] = Seq("q_gpt2_pretok", "q_text_normalize",
    "q_weighted_sample", "q_knn_brute")

  // a stateful stream replay: state store, checkpoints, micro-batches
  val streamGates: Seq[String] = Seq("q_stream_changes")

  private def tag(keys: Seq[String], family: String) = keys.map(_ -> family)

  /** `extra` gate keys are appended to a gate workload; the benchmark's own
    * test passes an unknown key to check that a failure is counted. */
  def apply(name: String, extra: Seq[String]): Workload = name match {
    case "kwwhat_dag_sf0.1" => new KwwhatDag(0.1)
    case "gates_sf0.1" => new Gates(0.1, Seq("customer", "events", "documents", "embeddings"),
      tag(kwwhatGates, "kwwhat") ++ tag(curationGates, "curation") ++
        tag(streamGates, "stream") ++ tag(extra, "extra"))
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
}

/** Usage: Main <workload> <seed> <seconds> <trace 0|1> <runDir> <resultFile> [extraGate,...]
  *
  * Sets up (start a session, generate inputs, warm the session) three
  * times, runs an untimed warm-up pass, then repeats timed passes until
  * `seconds` have elapsed. Writes timings, counters and spans to
  * `resultFile` as JSON; perfbench/run.py turns them into metrics. */
object Main {
  def session(cpus: Int, runDir: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()

  /** Reads every generated table and aggregates it through a shuffle once,
    * so parquet footers, codegen and the JIT are warm before timing. */
  private def warm(spark: SparkSession, data: String, tables: Seq[String]): Unit =
    tables.foreach { t =>
      val df = Tables.load(spark, data, t)
      Harness.noop(df)
      Harness.noop(df.groupBy(df.columns.head).count())
    }

  private def peakRssKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  private def opJson(o: Op): String = Json.obj("name" -> o.name, "family" -> o.family,
    "construct_s" -> o.constructS, "action_s" -> o.actionS, "ok" -> o.ok, "error" -> o.error)

  def main(args: Array[String]): Unit = {
    val Array(name, seedS, secondsS, traceS, runDir, resultFile) = args.take(6)
    val extra = args.drop(6).headOption.toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    val (seed, budget, trace) = (seedS.toLong, secondsS.toDouble, traceS == "1")
    val cpus = Runtime.getRuntime.availableProcessors()
    val w = Workloads(name, extra)
    val data = s"$runDir/data"
    val work = s"$runDir/work"

    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var rows = Map.empty[String, Long]
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    for (i <- 0 until 3) {
      val t0 = System.nanoTime()
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      spark = session(cpus, runDir)
      spark.sparkContext.setLogLevel("WARN")
      rows = new Gen(spark, w.sf, seed).write(data, w.tables, w.perCore)
      warm(spark, data, w.tables)
      setups += (if (i == 0) (System.currentTimeMillis() - jvmStart) / 1e3
                 else Harness.seconds(t0))
      System.err.println(s"[perfbench] setup $i: ${setups.last} s")
    }

    // An untimed warm-up pass first: a fresh JVM spends its first pass
    // compiling (JIT, generated code), which makes that pass slower by a
    // quarter and less repeatable. Then one timed pass at least; a traced
    // run makes three, and its traced pass sits between two untraced ones,
    // so the overhead ratio does not mistake further warming for tracing.
    val warmupT0 = System.nanoTime()
    val warmupOps = w.pass(spark, data, work)
    val warmupS = Harness.seconds(warmupT0)
    val minPasses = if (trace) 3 else 1
    val listeners = new Listeners(spark)
    val passes = mutable.ArrayBuffer.empty[String]
    var lastOps = Seq.empty[Op]
    val tStart = System.nanoTime()
    var i = 0
    while (Harness.seconds(tStart) < budget || i < minPasses) {
      val traced = trace && i % 2 == 1
      if (traced) { listeners.register(); Trace.on = true; Trace.pass = i }
      val t0 = System.nanoTime()
      lastOps = Trace.span("pass", s"pass:$i")(w.pass(spark, data, work))
      val wall = Harness.seconds(t0)
      val (counters, triggers) =
        if (traced) { Trace.on = false; listeners.unregister() } else (Map.empty[String, Double], Nil)
      passes += Json.obj("traced" -> traced, "wall_s" -> wall,
        "ops" -> lastOps.map(o => RawJson(opJson(o))), "counters" -> counters,
        "triggers_ms" -> triggers)
      i += 1
    }
    spark.stop()

    // a failed operation is already counted; only what succeeded is checked
    val ok = lastOps.filter(_.ok).map(_.name).toSet
    val checks = w.checks(work).filter(c => ok(c.name))
    val oracles = checks.flatMap(c => SparkEntry.oracleSql.get(c.oracle).map(c.oracle -> _)).toMap
    val spans = Trace.spans.map(s => RawJson(Json.obj("id" -> s.id, "parent" -> s.parent,
      "pass" -> s.pass, "layer" -> s.layer, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    val out = Json.obj(
      "workload" -> name, "seed" -> seed, "cpus" -> cpus, "sf" -> w.sf,
      "rows" -> rows, "data_dir" -> data,
      "setup_s" -> setups,
      "checks" -> checks.map(c => RawJson(Json.obj("name" -> c.name, "path" -> c.path,
        "oracle" -> c.oracle, "project" -> c.project))),
      "oracle_sql" -> oracles,
      "warmup" -> RawJson(Json.obj("wall_s" -> warmupS,
        "ops" -> warmupOps.map(o => RawJson(opJson(o))))),
      "passes" -> passes.map(RawJson),
      "spans" -> spans,
      "peak_rss_kb" -> peakRssKb())
    java.nio.file.Files.writeString(java.nio.file.Paths.get(resultFile), out)
  }
}
