package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.analytics.EventAnalytics
import graft.export.Sinks
import graft.ingest.JsonlIngest
import graft.operators.Quarantine
import graft.transform.CleanEvents
import graft.warehouse.StarWarehouse

/** `graft.Pipeline.run` replayed step by step, each layer call inside its
  * own span, in the same order and with the same arguments. The traced
  * run checks that the replay's quality counts equal `Pipeline.run`'s on
  * the same input, so a drift between the two shows as a failed batch. */
object EtlReplay {

  def run(spark: SparkSession, tr: Tracer, op: Int, batch: String,
          warehouseRoot: String, exportRoot: String): Map[String, Long] = {
    val (rawEvents, badIngest, users) = tr.span(op, "ingest.read") {
      val (good, bad) = JsonlIngest.readEvents(spark, s"$batch/events.jsonl")
      (good, bad, JsonlIngest.readUsersCsv(spark, s"$batch/users.csv"))
    }
    val t = tr.span(op, "transform") { CleanEvents.transform(rawEvents, users) }
    val allBad = Quarantine.unionQuarantines(Seq(
      badIngest,
      t.bad.select(to_json(struct(t.bad.columns.map(col).toSeq: _*))
        .as("raw"), col("reason"))))
    tr.span(op, "ingest.bad_records") {
      JsonlIngest.writeBadRecords(allBad, s"$exportRoot/bad_records")
    }

    val wh = new StarWarehouse(spark, warehouseRoot)
    tr.span(op, "warehouse.dim_users") { wh.upsertDimUsers(t.cleaned) }
    tr.span(op, "warehouse.fact_events") { wh.upsertFactEvents(t.cleaned) }
    val intlPath = s"$batch/intl.jsonl"
    val intlRows =
      if (!new java.io.File(intlPath).exists()) None
      else Some(tr.span(op, "warehouse.intl") {
        wh.upsertFactInternationalSales(
          JsonlIngest.readInternationalSales(spark, intlPath))
        wh.read("fact_international_sales").count()
      })

    val fact = wh.read("fact_events")
    tr.span(op, "export") {
      val joined = fact.join(broadcast(wh.read("dim_event_types")),
          Seq("event_type_id"))
        .withColumnRenamed("event", "event_type")
        .withColumn("user_id", col("user_id").cast("string"))
        .withColumn("value", col("amount"))
      Sinks.writeCsv(EventAnalytics.dau(joined), s"$exportRoot/dau")
      Sinks.writeCsv(EventAnalytics.revenue(joined), s"$exportRoot/revenue")
      Sinks.writeCsv(EventAnalytics.eventCounts(joined),
        s"$exportRoot/event_counts")
      Sinks.writeCsv(EventAnalytics.funnel(joined), s"$exportRoot/funnel")
      // the intl fact exists: this batch set always carries intl sales
      Sinks.writeCsv(EventAnalytics.substrRevenue(
          wh.read("fact_international_sales"), col("ts"), col("gross_amt"))
        .withColumnRenamed("revenue", "intl_revenue"),
        s"$exportRoot/international_revenue")
      val pv = fact.orderBy(col("ts"), col("event_id")).limit(50)
      val relevantUsers = wh.read("dim_users").join(
        broadcast(pv.select("user_id").distinct()), Seq("user_id"),
        "left_semi")
      Sinks.writeCsv(pv.join(broadcast(relevantUsers), Seq("user_id"), "left")
        .select("event_id", "ts", "user_id", "event_type_id", "amount",
          "event_date", "event_hour", "country", "signup_source")
        .orderBy(col("ts"), col("event_id")),
        s"$exportRoot/fact_events_preview")
    }

    tr.span(op, "quality") {
      val metrics = t.metrics ++ Map(
        "bad_records_total" -> allBad.count(),
        "fact_events_rows" -> fact.count()) ++
        intlRows.map("intl_sales_rows" -> _)
      Sinks.writeQualityReport(metrics, s"$exportRoot/quality_report.json")
      metrics
    }
  }
}
