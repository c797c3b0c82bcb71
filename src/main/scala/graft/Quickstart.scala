package graft

import graft.operators.{AsOf, ChangeDetect, Intervals, Visits}
import graft.metrics._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Runnable end-to-end example on the reference's OWN demo dataset — the
  * pipeline a kwwhat user would port first, as one copyable program:
  * raw OCPP 1.6 log frames → frame parsing → status changes →
  * transaction correlation (energy) → offline gaps → daily uptime →
  * visits → metric layer. Each stage lands as parquet under `outDir`.
  *
  * Run it:
  * {{{
  *   sbt "runMain graft.Quickstart /root/reference/demo/seeds target/quickstart"
  * }}}
  * Both args optional (defaults shown). Swap `seedDir` for a directory
  * containing your own `ocpp_1_6_synthetic_logs_14d.csv`-shaped export
  * (columns: timestamp, id, action, msg) and `chargers.csv`
  * (charge_point_id, commissioned_ts, decommissioned_ts) to run the same
  * pipeline on your data.
  *
  * Reference models this mirrors: stg_ocpp_logs.sql (frame parsing),
  * int_status_changes.sql, int_charging_transactions.sql,
  * int_offline_outages.sql, fact_uptime.sql, fact_visits.sql, and the
  * semantic layer's visit metrics.
  */
object Quickstart {

  def main(args: Array[String]): Unit = {
    val seedDir = args.headOption.getOrElse("/root/reference/demo/seeds")
    val outDir = args.drop(1).headOption.getOrElse("target/quickstart")
    val spark = GraftSession.start("graft-quickstart")

    def save(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$name")
      println(f"[quickstart] $name%-18s ${spark.read.parquet(s"$outDir/$name").count()}%6d rows -> $outDir/$name")
    }

    // 1. Frame parsing: each OCPP frame is a JSON array [type, uid, ...];
    //    CALL (2) carries its payload at index 3, CALLRESULT (3) at 2.
    val logs = spark.read
      .option("header", "true").option("multiLine", "true").option("escape", "\"")
      .csv(s"$seedDir/ocpp_1_6_synthetic_logs_14d.csv")
      .select(
        to_timestamp(col("timestamp")).as("ts"),
        col("id").as("charger_id"), col("action"), col("msg"))
      .withColumn("message_type_id", get_json_object(col("msg"), "$[0]"))
      .withColumn("unique_id", get_json_object(col("msg"), "$[1]"))
      .withColumn("payload",
        when(col("message_type_id") === "2", get_json_object(col("msg"), "$[3]"))
          .when(col("message_type_id") === "3", get_json_object(col("msg"), "$[2]")))
    save(logs, "stg_logs")

    // 2. Status changes: collapse duplicate StatusNotification runs per
    //    (charger, connector) — only genuine transitions survive.
    val status = logs.filter(col("action") === "StatusNotification")
      .select(col("charger_id"),
        get_json_object(col("payload"), "$.connectorId").as("connector_id"),
        get_json_object(col("payload"), "$.status").as("status"),
        col("ts"), col("unique_id"))
    save(ChangeDetect.changes(status, Seq("charger_id", "connector_id"),
      Seq("ts", "unique_id"), "status"), "status_changes")

    // 3. Transactions: as-of join each StopTransaction back to the latest
    //    StartTransaction on the same charger; energy = meter delta.
    val starts = logs.filter(col("action") === "StartTransaction")
      .select(col("charger_id"), col("ts"),
        get_json_object(col("payload"), "$.idTag").as("id_tag"),
        get_json_object(col("payload"), "$.connectorId").as("connector_id"),
        get_json_object(col("payload"), "$.meterStart").cast("long").as("meter_start"),
        col("unique_id").as("start_uid"))
    val stops = logs.filter(col("action") === "StopTransaction")
      .select(col("charger_id"), col("ts"),
        get_json_object(col("payload"), "$.meterStop").cast("long").as("meter_stop"),
        get_json_object(col("payload"), "$.reason").as("reason"))
    val transactions = AsOf.asOfBackward(stops, starts, Seq("charger_id"),
        "ts", "ts", Seq("meter_start", "id_tag", "start_uid"),
        rightTieBreakCols = Seq("start_uid"))
      .withColumn("energy_wh", col("meter_stop") - col("asof_meter_start"))
    save(transactions, "transactions")

    // 4. Offline gaps + daily uptime: silences > 5 min inside each
    //    charger's commissioned window, allocated to calendar days.
    val chargers = spark.read.option("header", "true").csv(s"$seedDir/chargers.csv")
      .select(col("charge_point_id").as("charger_id"),
        to_timestamp(col("commissioned_ts")).as("monitor_start"),
        coalesce(to_timestamp(col("decommissioned_ts")),
          to_timestamp(lit("2025-10-15 08:00:00"))).as("monitor_end"))
    val observed = logs.join(broadcast(chargers), Seq("charger_id"))
    val gaps = Intervals.heartbeatGaps(observed, Seq("charger_id"), "ts",
      "monitor_start", "monitor_end", thresholdSeconds = 300L)
      .select("charger_id", "from_ts", "to_ts").distinct()
    save(gaps, "offline_gaps")
    val commissioned = Intervals.allocateToDays(chargers, "monitor_start", "monitor_end")
      .select(col("charger_id"), col("date_id"), col("overlap_us").as("c_us"))
    val downtime = Intervals.allocateToDays(gaps, "from_ts", "to_ts")
      .groupBy(col("charger_id"), col("date_id"))
      .agg(sum(col("overlap_us")).as("d_us"))
    val uptime = commissioned.join(downtime, Seq("charger_id", "date_id"), "left")
      .withColumn("d_us", coalesce(col("d_us"), lit(0L)))
      .filter(col("c_us") > 0)
      .select(col("charger_id"), col("date_id"),
        ((col("c_us") - col("d_us")).cast("double") / col("c_us").cast("double"))
          .as("uptime"))
    save(uptime, "uptime_daily")

    // 5. Visits: authenticated/anonymous dynamic-gap sessionization of
    //    charge attempts (connectors 1,2 → port 1; 3,4 → port 2).
    val attempts = starts
      .withColumn("port_id",
        when(col("connector_id").isin("1", "2"), "1").otherwise("2"))
      .withColumn("stop_ts", col("ts") + expr("interval 30 minutes"))
      .withColumn("location_id", lit("LOC-001"))
    val visits = Visits.visits(attempts, "location_id",
      Seq("charger_id", "port_id"), "ts", "stop_ts", "id_tag",
      tieBreakCols = Seq("start_uid"))
    save(visits, "fact_visits")

    // 6. Metric layer: declare measures/metrics once, query at any grain.
    val model = SemanticModel(
      measures = Seq(
        Measure("visits_count", MeasureAgg.Count, col("visit_seq")),
        Measure("attempts_count", MeasureAgg.Sum, col("charge_attempt_count"))),
      metrics = Seq(
        SimpleMetric("total_visits", "visits_count"),
        SimpleMetric("total_charge_attempts", "attempts_count"),
        RatioMetric("attempts_per_visit", "total_charge_attempts", "total_visits")))
    save(model.query(visits,
      Seq(to_date(col("visit_start_ts")).as("date_id")),
      Seq("total_visits", "total_charge_attempts", "attempts_per_visit")),
      "visit_metrics_daily")

    println(s"[quickstart] done — results under $outDir")
    spark.stop()
  }
}
