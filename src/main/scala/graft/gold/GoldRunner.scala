package graft.gold

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.Clustered
import org.apache.spark.storage.StorageLevel

import scala.collection.immutable.ListMap

/** In-process replacement for the reference's dbt DAG: resolves model
  * dependency order (fact_rounds → derived models → dim_course →
  * gold_coverage_audit, `SURVEY.md §3.2`) and materializes each model.
  *
  * Layout: silver is hash-clustered by `course_id` once, as the
  * reference's silver table is partitioned by course (etl.py:680-682),
  * and every model reads that one clustered frame. Every per-course and
  * per-round model groups by keys that include `course_id`, so it plans
  * with no exchange, and a written gold table holds each course's rows
  * contiguously. Silver small enough to coalesce into one partition is
  * one task per model and one file per gold table. `fact_rounds` is
  * persisted on top of it — the explicit form of the reference's "derive
  * from fact_rounds to avoid re-scanning fix-grain telemetry" rule
  * (pace_summary_by_round.sql:5-7) — and keeps the clustering. At 100 TB
  * the clustered frame becomes a written, course-bucketed intermediate
  * table; the dependency order is identical.
  *
  * Cache contract: the clustered silver is an eager local checkpoint, not
  * a session cache entry; its blocks go once the returned models are no
  * longer reachable. `buildAll` persists the returned `fact_rounds`
  * (MEMORY_AND_DISK) and never releases it, because the returned models
  * are lazy and read it until they are written. The caller unpersists
  * `fact_rounds` once every model it needs is materialised; after that
  * `buildAll` leaves nothing in the session's cache.
  */
object GoldRunner {

  /** Build all 20 models. Returns them in dependency order. */
  def buildAll(
      silver: DataFrame,
      topology: DataFrame,
      exactPercentiles: Boolean = false): ListMap[String, DataFrame] = {
    val s = Clustered.localCheckpoint(silver, col("course_id"))
    val factRounds = GoldModels.factRounds(s).persist(StorageLevel.MEMORY_AND_DISK)
    val holePerf = GoldModels.factRoundHolePerformance(s, topology)
    val byMonth = GoldModels.courseRoundsByMonth(factRounds)
    val byWeekday = GoldModels.courseRoundsByWeekday(factRounds)
    val config = GoldModels.courseConfigurationAnalysis(factRounds)
    val dq = GoldModels.dataQualityOverview(s)
    val completeness = GoldModels.telemetryCompletenessSummary(s)
    val dimCourse = GoldModels.dimCourse(s, config, dq, completeness, factRounds, topology)
    ListMap(
      "fact_rounds" -> factRounds,
      "fact_round_hole_performance" -> holePerf,
      "pace_summary_by_round" -> GoldModels.paceSummaryByRound(factRounds),
      "signal_quality_rounds" -> GoldModels.signalQualityRounds(factRounds),
      "device_health_errors" -> GoldModels.deviceHealthErrors(s),
      "data_quality_overview" -> dq,
      "critical_column_gaps" -> GoldModels.criticalColumnGaps(s),
      "course_configuration_analysis" -> config,
      "course_rounds_by_month" -> byMonth,
      "course_rounds_by_weekday" -> byWeekday,
      "course_start_hole_distribution" -> GoldModels.courseStartHoleDistribution(factRounds),
      "dim_course" -> dimCourse,
      "telemetry_completeness_summary" -> completeness,
      "gold_coverage_audit" -> GoldModels.goldCoverageAudit(
        s, factRounds, holePerf, byMonth, byWeekday, dimCourse),
      "fact_telemetry_fix" -> GoldModels.factTelemetryFix(s),
      "dim_round" -> GoldModels.dimRound(s),
      "dim_device" -> GoldModels.dimDevice(s),
      "global_overview" -> GoldModels.globalOverview(s, exactPercentiles),
      "global_course_summary" -> GoldModels.globalCourseSummary(s, exactPercentiles),
      "global_time_patterns" -> GoldModels.globalTimePatterns(s, exactPercentiles))
  }
}
