package graft.ingest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.tables.ParquetTable

/** The end-to-end Silver ingest job — the engine's equivalent of
  * `etl.py:main` (SURVEY §3.1): detect format → read → transform →
  * quarantine invalid coordinates → idempotent partition refresh of the
  * warehouse table → registry + run-summary observability.
  *
  * The transform runs once per drop: the [[SilverEtl.flagged]] frame is
  * persisted, one `groupBy(is_invalid_coord).count()` materialises it and
  * yields both counts, and the quarantine and silver writes read the
  * cache. The cache is released however the job ends.
  *
  * Partitioning matches the reference: `(course_id, event_date)`
  * (etl.py:680-682) — partition pruning serves the dashboard corpus's
  * per-course/per-date filters at 100 TB.
  */
object SilverJob {

  final case class Result(
      validCount: Long, invalidCount: Long,
      tablePath: String, quarantinePath: Option[String])

  def run(
      spark: SparkSession,
      landingDir: String,
      warehouseDir: String,
      cfg: SilverEtl.SilverConfig,
      runId: String,
      runSeq: Long = System.nanoTime()): Result = {
    val registry = s"$warehouseDir/ingestion_log"
    IngestionRegistry.log(spark, registry, cfg.courseId, cfg.ingestDate,
      "started", 0L, landingDir, runSeq)
    try {
      val flagged = SilverEtl.flagged(SilverEtl.read(spark, landingDir), cfg).persist()
      val tablePath = s"$warehouseDir/fact_telemetry_event"
      val (validCount, invalidCount, quarantinePath) =
        try {
          val counts = flagged.groupBy(col("is_invalid_coord")).count().collect()
            .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
          val (valid, invalid) = SilverEtl.splitFlagged(flagged)
          val invalidCount = counts.getOrElse(true, 0L)
          val quarantinePath =
            if (invalidCount > 0)
              Some(ParquetTable.writeQuarantine(
                invalid, s"$warehouseDir/quarantine", cfg.courseId, cfg.ingestDate, runId))
            else None
          // M1/M2: dynamic partition overwrite = idempotent refresh of exactly
          // the (course_id, event_date) partitions present in this ingest.
          ParquetTable.refreshPartitions(
            valid.withColumn("event_date",
              coalesce(col("event_date"), lit("1900-01-01").cast("date"))),
            tablePath, Seq("course_id", "event_date"))
          (counts.getOrElse(false, 0L), invalidCount, quarantinePath)
        } finally flagged.unpersist()

      IngestionRegistry.log(spark, registry, cfg.courseId, cfg.ingestDate,
        "success", validCount, s"invalid=$invalidCount", runSeq + 1)
      ParquetTable.writeRunSummary(
        spark, s"$warehouseDir/observability/run_id=$runId",
        Map(
          "run_id" -> runId, "course_id" -> cfg.courseId,
          "ingest_date" -> cfg.ingestDate, "landing_uri" -> landingDir,
          "valid_count" -> validCount.toString,
          "invalid_count" -> invalidCount.toString,
          "table" -> tablePath))
      Result(validCount, invalidCount, tablePath, quarantinePath)
    } catch {
      case e: Exception =>
        IngestionRegistry.log(spark, registry, cfg.courseId, cfg.ingestDate,
          "failed", 0L, String.valueOf(e.getMessage), runSeq + 1)
        throw e
    }
  }
}
