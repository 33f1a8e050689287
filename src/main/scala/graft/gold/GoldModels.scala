package graft.gold

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The Gold layer: the reference's 18 dbt models (12 `gold.*` +
  * 6 `silver_normalized.*`, `pipeline/gold/dbt_project.yml:17-28`)
  * re-expressed as pure `DataFrame => DataFrame` Spark functions.
  *
  * Dialect conventions (SURVEY §2.9 / §7.4):
  *   - Trino `DATE_DIFF('second', a, b)` → `unix_timestamp(b) - unix_timestamp(a)`
  *   - Trino `day_of_week` (1=Mon..7=Sun) → `weekday(ts) + 1` (pinned to the
  *     Trino convention, NOT Spark's dayofweek)
  *   - Trino `FORMAT_DATETIME(ts, 'MMMM'/'EEEE')` → `date_format`
  *   - Trino `APPROX_PERCENTILE` → `percentile_approx` (or exact
  *     `percentile` when `exactPercentiles` is set — used by the
  *     cross-engine correctness gate, where sketches can't hash-match)
  *   - `AT TIME ZONE 'UTC'` → no-op (session TZ pinned to UTC)
  *
  * Scale notes: [[GoldRunner]] hands every model silver hash-clustered by
  * `course_id`. Every per-course and per-round model groups by keys that
  * include `course_id`, so it plans with no exchange; distinct counts are
  * written as two-level aggregates whose first level keeps `course_id`,
  * or as plain counts where the grain already makes a value unique, so
  * none plans an Expand. Joins of per-course frames are shuffled hash
  * joins, which on that input need neither an exchange nor a broadcast
  * job. Only the models keyed off the course (devices across courses, the
  * global single-row overview) shuffle, and only once silver spans more
  * than one partition. Derived models read `fact_rounds` instead of
  * re-scanning fix-grain telemetry — the reference's own manual
  * common-subplan reuse (pace_summary_by_round.sql:5-7), which the runner
  * turns into an explicit persist.
  */
object GoldModels {

  private def pct(num: org.apache.spark.sql.Column, den: org.apache.spark.sql.Column, dp: Int) =
    round(lit(100.0) * num / nullif(den, lit(0)), dp)

  /** The right side of an equi-join whose sides are clustered alike on
    * keys the join includes, as every per-course frame built from
    * [[GoldRunner]]'s clustered silver is: a shuffled hash join there
    * plans with no exchange and, unlike the broadcast the planner picks
    * for a small side, runs no job of its own. */
  private def coPartitioned(df: DataFrame): DataFrame = df.hint("shuffle_hash")

  // ------------------------------------------------------------ fact_rounds

  /** gold.fact_rounds — grain (course_id, round_id); the canonical round
    * rollup every derived model reads. Ref: gold/models/gold/fact_rounds.sql:14-115. */
  /** Exact distinct count for a small-integer column (domain ⊆ [0, 63]):
    * popcount of the OR of per-value bitmasks. Declarative aggregate →
    * codegen HashAggregate, no Expand, no ObjectHashAggregate.
    *
    * The domain is ENFORCED, not assumed: shiftleft(1L, c) wraps mod 64
    * in the JVM, so a negative or >63 value (bad upstream data) would
    * silently alias another bit and undercount. Out-of-range values
    * raise_error instead — the task fails loudly, matching
    * COUNT(DISTINCT)'s never-silently-wrong contract. */
  private def distinctViaBitmask(c: org.apache.spark.sql.Column) =
    coalesce(
      bit_count(bit_or(when(c.isNotNull,
        when(c.between(0, 63),
          call_function("shiftleft", lit(1L), c.cast(IntegerType)))
          .otherwise(raise_error(concat(
            lit("distinctViaBitmask: value outside [0,63] domain: "),
            c.cast(StringType))).cast(LongType))))),
      lit(0)).cast(LongType)

  def factRounds(silver: DataFrame): DataFrame = {
    val base = silver.filter(col("is_location_padding") === false)
    val rollup = base
      .groupBy(col("course_id"), col("round_id"))
      .agg(
        min(col("fix_timestamp")).as("round_start_ts"),
        max(col("fix_timestamp")).as("round_end_ts"),
        (unix_timestamp(max(col("fix_timestamp"))) -
          unix_timestamp(min(col("fix_timestamp")))).as("duration_sec"),
        count(lit(1)).as("fix_count"),
        sum(when(col("is_timestamp_missing"), 1).otherwise(0)).as("ts_missing_fix_count"),
        // bounded domains (hole ≤ 27, nine ≤ 4, both < 64): distinct
        // count = popcount of an OR'd bitmask. Same null-excluding
        // semantics as COUNT(DISTINCT) without its Expand, and unlike
        // collect_set it stays a DeclarativeAggregate — one collect_set
        // would force the whole 28-aggregate rollup into
        // ObjectHashAggregate, which falls back to sort-based beyond 128
        // grouping keys per partition.
        distinctViaBitmask(col("hole_number")).as("holes_played"),
        distinctViaBitmask(col("nine_number")).as("nines_played"),
        min(col("section_number")).as("min_section_number"),
        max(col("section_number")).as("max_section_number"),
        min(when(col("hole_section") === 1, col("section_number")))
          .as("first_tee_section_number"),
        max(col("start_hole")).as("start_hole"),
        max(col("start_section")).as("start_section"),
        max(col("end_section")).as("end_section"),
        bool_or(coalesce(col("is_nine_hole"), lit(false))).as("is_nine_hole"),
        bool_or(coalesce(col("is_complete"), lit(false))).as("is_complete"),
        avg(col("pace")).as("avg_pace_sec"),
        max(col("pace")).as("max_pace_sec"),
        avg(col("pace_gap")).as("avg_pace_gap_sec"),
        avg(col("positional_gap")).as("avg_positional_gap"),
        sum(when(col("is_projected"), 1).otherwise(0)).as("projected_fix_count"),
        sum(when(col("is_problem"), 1).otherwise(0)).as("problem_fix_count"),
        min(col("battery_percentage")).as("min_battery_pct"),
        avg(col("battery_percentage")).as("avg_battery_pct"),
        sum(when(col("battery_percentage") < 20, 1).otherwise(0)).as("low_battery_fix_count"),
        sum(when(col("battery_percentage") < 10, 1).otherwise(0)).as("critical_battery_fix_count"),
        sum(when(col("is_cache"), 1).otherwise(0)).as("cached_fix_count"))
    rollup
      .withColumn("round_duration_minutes",
        round(col("duration_sec").cast(DoubleType) / 60.0, 1))
      .withColumn("projected_rate",
        col("projected_fix_count").cast(DoubleType) / nullif(col("fix_count"), lit(0)))
      .withColumn("problem_rate",
        col("problem_fix_count").cast(DoubleType) / nullif(col("fix_count"), lit(0)))
      .withColumn("cached_rate",
        col("cached_fix_count").cast(DoubleType) / nullif(col("fix_count"), lit(0)))
      .withColumn("ts_missing_rate",
        col("ts_missing_fix_count").cast(DoubleType) / nullif(col("fix_count"), lit(0)))
      .withColumn("round_length",
        when(col("nines_played") >= 3 || col("max_section_number") > 54, "27")
          .when(col("nines_played") === 2 || col("max_section_number") > 27, "18")
          .when(col("nines_played") === 1, "9")
          .otherwise("unknown"))
      .withColumn("round_date", col("round_start_ts").cast(DateType))
      .withColumn("round_year", year(col("round_start_ts")))
      .withColumn("round_month", month(col("round_start_ts")))
      .withColumn("round_day", dayofmonth(col("round_start_ts")))
      .withColumn("round_weekday", expr("weekday(round_start_ts) + 1")) // Trino 1=Mon..7=Sun
  }

  // ---------------------------------------------- fact_round_hole_performance

  /** gold.fact_round_hole_performance — grain (course, round, hole, nine);
    * the fatigue-comparison grain. Ref: fact_round_hole_performance.sql:8-56. */
  def factRoundHolePerformance(silver: DataFrame, topology: DataFrame): DataFrame = {
    val holeStats = silver
      .filter(col("is_location_padding") === false && col("hole_number").isNotNull)
      .groupBy(col("course_id"), col("round_id"), col("hole_number"), col("nine_number"))
      .agg(
        min(col("fix_timestamp")).as("hole_start_time"),
        max(col("fix_timestamp")).as("hole_end_time"),
        (unix_timestamp(max(col("fix_timestamp"))) -
          unix_timestamp(min(col("fix_timestamp")))).as("duration_sec"),
        avg(col("pace")).as("avg_pace_sec"),
        max(col("pace")).as("max_pace_sec"),
        avg(col("pace_gap")).as("avg_pace_gap_sec"),
        bool_or(col("is_complete")).as("round_was_completed"))
    val topo = topology.select(
      col("facility_id"),
      col("nine_number").cast(IntegerType).as("t_nine_number"),
      col("unit_name"))
    holeStats
      .join(
        broadcast(topo),
        holeStats("course_id") === topo("facility_id") &&
          holeStats("nine_number") === topo("t_nine_number"),
        "left")
      .select(
        holeStats("course_id"), col("round_id"), col("hole_number"), col("nine_number"),
        col("unit_name").as("course_unit"),
        col("hole_start_time"), col("hole_end_time"), col("duration_sec"),
        col("avg_pace_sec"), col("max_pace_sec"), col("avg_pace_gap_sec"),
        col("round_was_completed"))
  }

  // ------------------------------------------------------ derived projections

  /** gold.pace_summary_by_round — projection of fact_rounds
    * (pace_summary_by_round.sql:11-20). */
  def paceSummaryByRound(factRounds: DataFrame): DataFrame =
    factRounds.select(
      col("course_id"), col("round_id"), col("round_start_ts"), col("round_end_ts"),
      col("fix_count"),
      col("avg_pace_sec").as("avg_pace"),
      col("avg_pace_gap_sec").as("avg_pace_gap"),
      col("avg_positional_gap"))

  /** gold.signal_quality_rounds (signal_quality_rounds.sql:11-19). */
  def signalQualityRounds(factRounds: DataFrame): DataFrame =
    factRounds.select(
      col("course_id"), col("round_id"), col("fix_count"),
      col("projected_fix_count"), col("problem_fix_count"),
      col("projected_rate"), col("problem_rate"))

  /** gold.device_health_errors — fix-grain low-battery filter
    * (device_health_errors.sql:1-26). */
  def deviceHealthErrors(silver: DataFrame): DataFrame =
    silver
      .filter(
        col("is_location_padding") === false &&
          col("battery_percentage").isNotNull && col("battery_percentage") < 20)
      .select(
        col("course_id"), col("round_id"), col("fix_timestamp"),
        col("battery_percentage"),
        when(col("battery_percentage").isNull, lit(null).cast(StringType))
          .when(col("battery_percentage") < 10, "battery_critical")
          .when(col("battery_percentage") < 20, "battery_low")
          .otherwise(lit(null).cast(StringType)).as("health_flag"))

  // -------------------------------------------------------- seasonality

  /** gold.course_rounds_by_month — month bucketing with the 1900-01-01
    * sentinel for timestamp-less rounds (course_rounds_by_month.sql:19-64). */
  def courseRoundsByMonth(factRounds: DataFrame): DataFrame = {
    val keyed = factRounds.select(
      col("course_id"), col("round_id"),
      when(col("round_start_ts").isNull, lit("1900-01-01").cast(DateType).cast(TimestampType))
        .otherwise(date_trunc("month", col("round_start_ts"))).as("month_start"),
      when(col("round_start_ts").isNull, lit(0))
        .otherwise(month(col("round_start_ts"))).as("month_number"),
      when(col("round_start_ts").isNull, lit("Unknown (missing timestamp)"))
        .otherwise(date_format(col("round_start_ts"), "MMMM")).as("month_name"))
    val monthly = keyed
      .groupBy(col("course_id"), col("month_start"), col("month_number"), col("month_name"))
      // fact_rounds' (course_id, round_id) grain makes each round_id
      // distinct within its course.
      .agg(count(col("round_id")).as("rounds"))
    val totals = monthly
      .groupBy(col("course_id").as("t_course_id"))
      .agg(sum(col("rounds")).as("total_rounds"))
    monthly
      .join(coPartitioned(totals), monthly("course_id") === totals("t_course_id"))
      .select(
        col("course_id"), col("month_start"), col("month_number"), col("month_name"),
        col("rounds"),
        round(col("rounds").cast(DoubleType) / col("total_rounds") * 100, 2)
          .as("pct_total"))
  }

  /** gold.course_rounds_by_weekday — weekday 0 = unknown bucket
    * (course_rounds_by_weekday.sql:1-40). */
  def courseRoundsByWeekday(factRounds: DataFrame): DataFrame =
    factRounds
      .select(
        col("course_id"),
        when(col("round_start_ts").isNull, lit(0))
          .otherwise(expr("weekday(round_start_ts) + 1")).as("weekday_number"),
        when(col("round_start_ts").isNull, lit("Unknown (missing timestamp)"))
          .otherwise(date_format(col("round_start_ts"), "EEEE")).as("weekday_name"))
      .groupBy(col("course_id"), col("weekday_number"), col("weekday_name"))
      .agg(count(lit(1)).as("rounds"))

  /** gold.course_start_hole_distribution — shotgun-start distribution +
    * section sanity ranges (course_start_hole_distribution.sql:17-75). */
  def courseStartHoleDistribution(factRounds: DataFrame): DataFrame = {
    val rounds = factRounds.filter(col("start_hole").isNotNull)
    val startStats = rounds
      .groupBy(col("course_id"), col("start_hole"))
      .agg(
        count(lit(1)).as("rounds_with_this_start"),
        sum(when(col("is_complete"), 1).otherwise(0)).as("complete_rounds_with_this_start"),
        min(col("min_section_number")).as("min_min_section_number"),
        max(col("min_section_number")).as("max_min_section_number"),
        min(col("start_section")).as("min_start_section"),
        max(col("start_section")).as("max_start_section"),
        min(col("first_tee_section_number")).as("min_first_tee_section_number"),
        max(col("first_tee_section_number")).as("max_first_tee_section_number"))
    // startStats' grain is (course_id, start_hole), so each start hole is
    // already distinct within its course.
    val totals = startStats
      .groupBy(col("course_id").as("t_course_id"))
      .agg(
        sum(col("rounds_with_this_start")).as("total_rounds"),
        sum(col("complete_rounds_with_this_start")).as("total_complete_rounds"),
        count(col("start_hole")).as("distinct_start_holes"))
    startStats
      .join(coPartitioned(totals), startStats("course_id") === totals("t_course_id"))
      .select(
        col("course_id"), col("start_hole"),
        col("rounds_with_this_start"), col("complete_rounds_with_this_start"),
        col("total_rounds"), col("total_complete_rounds"), col("distinct_start_holes"),
        pct(col("rounds_with_this_start"), col("total_rounds"), 2)
          .as("pct_rounds_with_this_start"),
        pct(col("complete_rounds_with_this_start"), col("total_complete_rounds"), 2)
          .as("pct_complete_rounds_with_this_start"),
        col("min_min_section_number"), col("max_min_section_number"),
        col("min_start_section"), col("max_start_section"),
        col("min_first_tee_section_number"), col("max_first_tee_section_number"))
  }

  // -------------------------------------------------- course configuration

  /** gold.course_configuration_analysis — 9/18/27 typing, shotgun starts,
    * complexity score (course_configuration_analysis.sql:7-113). */
  def courseConfigurationAnalysis(factRounds: DataFrame): DataFrame = {
    def rounds(cond: org.apache.spark.sql.Column) = sum(when(cond, 1).otherwise(0))
    // Two levels, (course, start hole) then course, so neither distinct
    // count plans an Expand: the distinct start holes are the first
    // level's non-null keys, and fact_rounds' (course_id, round_id) grain
    // makes every round_id distinct within its course. The average is
    // Σ/n of the partials, the same arithmetic as Average's buffer.
    val perStart = factRounds
      .groupBy(col("course_id"), col("start_hole"))
      .agg(
        count(lit(1)).as("rounds_"),
        count(col("round_id")).as("round_ids_"),
        max(col("max_section_number")).as("max_section_"),
        max(col("holes_played")).as("max_holes_"),
        max(col("nines_played")).as("max_nines_"),
        rounds(col("is_nine_hole") === true).as("nine_hole_"),
        rounds(col("is_nine_hole") === false || col("is_nine_hole").isNull).as("full_"),
        rounds(col("is_complete") === true).as("complete_"),
        rounds(col("is_complete") === false).as("incomplete_"),
        rounds(col("nines_played") === 1).as("single_nine_"),
        rounds(col("nines_played") === 2).as("two_nine_"),
        rounds(col("nines_played") >= 3).as("three_nine_"),
        sum(col("fix_count")).as("fix_sum_"),
        count(col("fix_count")).as("fix_n_"),
        min(col("fix_count")).as("fix_min_"),
        max(col("fix_count")).as("fix_max_"))
    val summary = perStart
      .groupBy(col("course_id"))
      .agg(
        sum(col("round_ids_")).as("total_rounds"),
        max(col("max_section_")).as("max_section_seen"),
        max(col("max_holes_")).as("max_holes_in_round"),
        max(col("max_nines_")).as("max_nines_in_round"),
        sum(col("nine_hole_")).as("nine_hole_rounds"),
        sum(col("full_")).as("full_rounds"),
        sum(col("complete_")).as("complete_rounds"),
        sum(col("incomplete_")).as("incomplete_rounds"),
        count(col("start_hole")).as("unique_start_holes"),
        sum(when(col("start_hole") === 1, col("rounds_")).otherwise(0))
          .as("rounds_starting_hole_1"),
        sum(when(col("start_hole") =!= 1 && col("start_hole").isNotNull, col("rounds_"))
          .otherwise(0)).as("shotgun_start_rounds"),
        sum(col("single_nine_")).as("single_nine_rounds"),
        sum(col("two_nine_")).as("two_nine_rounds"),
        sum(col("three_nine_")).as("three_nine_rounds"),
        round(sum(col("fix_sum_")) / sum(col("fix_n_")), 0).as("avg_locations_per_round"),
        min(col("fix_min_")).as("min_locations_per_round"),
        max(col("fix_max_")).as("max_locations_per_round"))
      .withColumn("likely_course_type",
        when(col("max_section_seen") > 54, "27-hole")
          .when(col("max_section_seen") > 27, "18-hole")
          .otherwise("9-hole"))
    summary.select(
      col("course_id"), col("total_rounds"), col("likely_course_type"),
      col("max_section_seen"), col("max_holes_in_round"),
      pct(col("complete_rounds"), col("total_rounds"), 1).as("pct_complete"),
      pct(col("incomplete_rounds"), col("total_rounds"), 1).as("pct_incomplete"),
      pct(col("nine_hole_rounds"), col("total_rounds"), 1).as("pct_nine_hole"),
      pct(col("full_rounds"), col("total_rounds"), 1).as("pct_full_rounds"),
      col("unique_start_holes"),
      pct(col("shotgun_start_rounds"), col("total_rounds"), 1).as("pct_shotgun_starts"),
      when(col("likely_course_type") === "27-hole",
        pct(col("single_nine_rounds"), col("total_rounds"), 1)).as("pct_single_nine"),
      when(col("likely_course_type") === "27-hole",
        pct(col("two_nine_rounds"), col("total_rounds"), 1)).as("pct_two_nines"),
      when(col("likely_course_type") === "27-hole",
        pct(col("three_nine_rounds"), col("total_rounds"), 1)).as("pct_all_three_nines"),
      col("avg_locations_per_round"), col("min_locations_per_round"),
      col("max_locations_per_round"),
      round(
        col("unique_start_holes") * 10 +
          when(col("likely_course_type") === "27-hole", 30)
            .when(col("likely_course_type") === "18-hole", 20)
            .otherwise(10) +
          when(lit(100.0) * col("nine_hole_rounds") / nullif(col("total_rounds"), lit(0)) > 20, 10)
            .otherwise(0) +
          when(lit(100.0) * col("incomplete_rounds") / nullif(col("total_rounds"), lit(0)) > 10, 5)
            .otherwise(0),
        0).as("course_complexity_score"))
  }

  // ------------------------------------------------------------ data quality

  /** gold.data_quality_overview — per-course null profiling with 4-tier
    * scores (data_quality_overview.sql:7-170). */
  def dataQualityOverview(silver: DataFrame): DataFrame = {
    def nulls(c: String, as: String) = sum(when(col(c).isNull, 1).otherwise(0)).as(as)
    val stats = silver.filter(col("is_location_padding") === false)
      .groupBy(col("course_id"))
      .agg(
        count(lit(1)).as("total_events"),
        countDistinct(col("round_id")).as("total_rounds"),
        nulls("pace", "null_pace"),
        nulls("pace_gap", "null_pace_gap"),
        nulls("positional_gap", "null_positional_gap"),
        nulls("goal_time", "null_goal_time"),
        sum(when(col("latitude").isNull || col("longitude").isNull, 1).otherwise(0))
          .as("null_coordinates"),
        nulls("fix_timestamp", "null_fix_timestamp"),
        nulls("hole_number", "null_hole_number"),
        nulls("section_number", "null_section_number"),
        nulls("hole_section", "null_hole_section"),
        nulls("nine_number", "null_nine_number"),
        nulls("current_nine", "null_current_nine"),
        nulls("battery_percentage", "null_battery"),
        nulls("is_cache", "null_is_cache"),
        nulls("is_projected", "null_is_projected"),
        nulls("is_problem", "null_is_problem"),
        sum(when(col("is_timestamp_missing") === true, 1).otherwise(0))
          .as("timestamp_missing_flag"),
        nulls("start_hole", "null_start_hole"),
        nulls("start_section", "null_start_section"),
        nulls("end_section", "null_end_section"),
        nulls("is_nine_hole", "null_is_nine_hole"),
        nulls("is_complete", "null_is_complete"),
        sum(when(col("battery_percentage") < 20, 1).otherwise(0)).as("low_battery_events"),
        sum(when(col("is_problem") === true, 1).otherwise(0)).as("problem_events"))

    def p(c: String) =
      coalesce(lit(100.0) * col(c) / nullif(col("total_events"), lit(0)), lit(0.0))
    val tier1 = lit(100) - (p("null_pace") + p("null_pace_gap") +
      p("null_positional_gap") + p("null_goal_time")) / 4
    val tier2 = lit(100) - (p("null_coordinates") + p("null_fix_timestamp") +
      p("null_hole_number") + p("null_section_number")) / 4
    val tier3 = lit(100) - (p("null_battery") + p("null_is_cache") +
      p("timestamp_missing_flag")) / 3
    val tier4 = lit(100) - (p("null_start_hole") + p("null_is_nine_hole") +
      p("null_is_complete")) / 3

    stats.select(
      col("course_id"), col("total_events"), col("total_rounds"),
      pct(col("null_pace"), col("total_events"), 2).as("pct_missing_pace"),
      pct(col("null_pace_gap"), col("total_events"), 2).as("pct_missing_pace_gap"),
      pct(col("null_positional_gap"), col("total_events"), 2).as("pct_missing_positional_gap"),
      pct(col("null_goal_time"), col("total_events"), 2).as("pct_missing_goal_time"),
      pct(col("null_coordinates"), col("total_events"), 2).as("pct_missing_coordinates"),
      pct(col("null_fix_timestamp"), col("total_events"), 2).as("pct_missing_fix_timestamp"),
      pct(col("null_hole_number"), col("total_events"), 2).as("pct_missing_hole_number"),
      pct(col("null_section_number"), col("total_events"), 2).as("pct_missing_section_number"),
      pct(col("null_hole_section"), col("total_events"), 2).as("pct_missing_hole_section"),
      pct(col("null_nine_number"), col("total_events"), 2).as("pct_missing_nine_number"),
      pct(col("null_current_nine"), col("total_events"), 2).as("pct_missing_current_nine"),
      pct(col("null_battery"), col("total_events"), 2).as("pct_missing_battery"),
      pct(col("null_is_cache"), col("total_events"), 2).as("pct_missing_is_cache"),
      pct(col("null_is_projected"), col("total_events"), 2).as("pct_missing_is_projected"),
      pct(col("null_is_problem"), col("total_events"), 2).as("pct_missing_is_problem"),
      pct(col("timestamp_missing_flag"), col("total_events"), 2).as("pct_timestamp_missing_flag"),
      pct(col("null_start_hole"), col("total_events"), 2).as("pct_missing_start_hole"),
      pct(col("null_start_section"), col("total_events"), 2).as("pct_missing_start_section"),
      pct(col("null_end_section"), col("total_events"), 2).as("pct_missing_end_section"),
      pct(col("null_is_nine_hole"), col("total_events"), 2).as("pct_missing_is_nine_hole"),
      pct(col("null_is_complete"), col("total_events"), 2).as("pct_missing_is_complete"),
      round(tier1, 1).as("score_tier_1_pace"),
      round(tier2, 1).as("score_tier_2_location"),
      round(tier3, 1).as("score_tier_3_device"),
      round(tier4, 1).as("score_tier_4_config"),
      round((tier1 + tier2 + tier3 + tier4) / 4, 1).as("data_quality_score"))
      .withColumn("overall_quality_score", col("data_quality_score"))
  }

  /** gold.critical_column_gaps — tiered gap analysis with status strings,
    * weighted usability score, recommendations
    * (critical_column_gaps.sql:14-175). */
  def criticalColumnGaps(silver: DataFrame): DataFrame = {
    def nulls(c: String, as: String) = sum(when(col(c).isNull, 1).otherwise(0)).as(as)
    val counts = silver.filter(col("is_location_padding") === false)
      .groupBy(col("course_id"))
      .agg(
        count(lit(1)).as("total_events"),
        countDistinct(col("round_id")).as("total_rounds"),
        nulls("pace", "t1_null_pace"),
        nulls("pace_gap", "t1_null_pace_gap"),
        nulls("positional_gap", "t1_null_positional_gap"),
        nulls("hole_number", "t2_null_hole"),
        nulls("section_number", "t2_null_section"),
        nulls("latitude", "t2_null_lat"),
        nulls("fix_timestamp", "t2_null_timestamp"),
        nulls("battery_percentage", "t3_null_battery"),
        nulls("is_projected", "t3_null_projected"),
        nulls("start_hole", "t4_null_start_hole"),
        nulls("goal_time", "t4_null_goal_time"))

    def p(c: String) = lit(100.0) * col(c) / col("total_events")
    val pctPaceWorst = greatest(p("t1_null_pace"), p("t1_null_pace_gap"))
    val pctDeviceHealth =
      lit(100.0) * (col("t3_null_battery") + col("t3_null_projected")) /
        (lit(2) * col("total_events"))
    val pctRoundConfig =
      lit(100.0) * (col("t4_null_goal_time") + col("t4_null_start_hole")) /
        (lit(2) * col("total_events"))

    counts.select(
      col("course_id"), col("total_events"), col("total_rounds"),
      round(p("t1_null_pace"), 2).as("pct_null_pace"),
      round(p("t1_null_pace_gap"), 2).as("pct_null_pace_gap"),
      round(p("t1_null_positional_gap"), 2).as("pct_null_positional_gap"),
      when(pctPaceWorst > 50, "🔴 CRITICAL: Pace analysis NOT possible")
        .when(pctPaceWorst > 20, "🟠 WARNING: Pace analysis degraded")
        .when(pctPaceWorst > 5, "🟡 MINOR: Some pace gaps")
        .otherwise("🟢 GOOD: Pace data complete").as("pace_data_status"),
      round(p("t2_null_hole"), 2).as("pct_null_hole"),
      round(p("t2_null_section"), 2).as("pct_null_section"),
      round(p("t2_null_lat"), 2).as("pct_null_latitude"),
      round(p("t2_null_timestamp"), 2).as("pct_null_timestamp"),
      when(p("t2_null_hole") > 30, "🔴 CRITICAL: Hole tracking broken")
        .when(p("t2_null_hole") > 10, "🟠 WARNING: Location gaps detected")
        .otherwise("🟢 GOOD: Location data complete").as("location_data_status"),
      round(p("t3_null_battery"), 2).as("pct_null_battery"),
      when(pctDeviceHealth > 50, "🟠 WARNING: Cannot monitor device health")
        .when(pctDeviceHealth > 20, "🟡 MINOR: Some battery data missing")
        .otherwise("🟢 GOOD: Device health trackable").as("device_health_status"),
      round(p("t4_null_start_hole"), 2).as("pct_null_start_hole"),
      round(p("t4_null_goal_time"), 2).as("pct_null_goal_time"),
      when(pctRoundConfig > 80, "🟠 WARNING: Goal times not set")
        .when(pctRoundConfig > 50, "🟡 MINOR: Start hole unknown")
        .otherwise("🟢 GOOD: Round config available").as("round_config_status"),
      round(
        lit(100) - (
          lit(0.40) * pctPaceWorst +
            lit(0.30) * (p("t2_null_hole") + p("t2_null_timestamp")) / 2 +
            lit(0.20) * pctDeviceHealth +
            lit(0.10) * pctRoundConfig),
        1).as("usability_score"),
      when(pctPaceWorst > 20,
        "Check pace calculation algorithm - many events missing pace values")
        .when(p("t2_null_hole") > 20,
          "Review location assignment logic - many events without hole numbers")
        .when(pctDeviceHealth > 50, "Enable battery reporting on devices")
        .when(pctRoundConfig > 80, "Configure goal times for this course in the system")
        .otherwise("Data quality acceptable - monitor for changes")
        .as("top_recommendation"))
  }

  /** gold.telemetry_completeness_summary — padding / ts-missing counts +
    * pcts per course (telemetry_completeness_summary.sql:13-60). */
  def telemetryCompletenessSummary(silver: DataFrame): DataFrame =
    silver
      .groupBy(col("course_id"))
      .agg(
        count(lit(1)).as("total_rows"),
        sum(when(col("is_location_padding"), 1).otherwise(0)).as("padding_rows"),
        sum(when(!col("is_location_padding"), 1).otherwise(0)).as("non_padding_rows"),
        sum(when(col("is_timestamp_missing"), 1).otherwise(0)).as("ts_missing_rows"),
        sum(when(col("is_timestamp_missing") && !col("is_location_padding"), 1).otherwise(0))
          .as("ts_missing_non_padding_rows"))
      .withColumn("pct_padding_total",
        pct(col("padding_rows"), col("total_rows"), 2))
      .withColumn("pct_ts_missing_total",
        pct(col("ts_missing_rows"), col("total_rows"), 2))
      .withColumn("pct_ts_missing_non_padding",
        pct(col("ts_missing_non_padding_rows"), col("non_padding_rows"), 2))

  // ------------------------------------------------------------- dim_course

  /** gold.dim_course — the 5-way stitch over config/dq/completeness/rounds/
    * topology (dim_course.sql:14-99). */
  def dimCourse(
      silver: DataFrame,
      config: DataFrame,
      dq: DataFrame,
      completeness: DataFrame,
      factRounds: DataFrame,
      topology: DataFrame): DataFrame = {
    val baseCourses = silver.filter(col("course_id").isNotNull)
      .select(col("course_id")).distinct()
    val roundRange = factRounds
      .groupBy(col("course_id").as("r_course_id"))
      .agg(
        count(lit(1)).as("rounds_observed"),
        sum(when(col("is_complete"), 1).otherwise(0)).as("complete_rounds_observed"),
        min(col("round_start_ts")).as("first_round_start_ts"),
        max(col("round_start_ts")).as("last_round_start_ts"),
        array_sort(collect_set(col("round_length"))).as("playable_round_lengths"))
    val units = topology
      .groupBy(col("facility_id").as("u_course_id"))
      .agg(array_sort(collect_set(col("unit_name"))).as("unit_names"))
    baseCourses
      .join(coPartitioned(config.withColumnRenamed("course_id", "c_course_id")),
        col("course_id") === col("c_course_id"), "left")
      .join(coPartitioned(dq.withColumnRenamed("course_id", "d_course_id")),
        col("course_id") === col("d_course_id"), "left")
      .join(coPartitioned(completeness.withColumnRenamed("course_id", "t_course_id")),
        col("course_id") === col("t_course_id"), "left")
      .join(coPartitioned(roundRange), col("course_id") === col("r_course_id"), "left")
      .join(broadcast(units), col("course_id") === col("u_course_id"), "left")
      .select(
        col("course_id"),
        col("likely_course_type"), col("max_section_seen"), col("max_holes_in_round"),
        col("unique_start_holes"), col("pct_shotgun_starts"), col("pct_nine_hole"),
        col("pct_full_rounds"), col("course_complexity_score"),
        col("rounds_observed"), col("complete_rounds_observed"),
        col("first_round_start_ts"), col("last_round_start_ts"),
        col("playable_round_lengths"),
        col("data_quality_score"), col("overall_quality_score"),
        col("pct_missing_pace"), col("pct_missing_pace_gap"),
        col("pct_missing_hole_number"), col("pct_missing_section_number"),
        col("pct_missing_fix_timestamp"), col("pct_missing_start_hole"),
        col("total_rows"), col("padding_rows"), col("non_padding_rows"),
        col("pct_padding_total"), col("pct_ts_missing_total"),
        col("pct_ts_missing_non_padding"),
        col("unit_names"),
        when(col("unit_names").isNull, 0).otherwise(size(col("unit_names")))
          .as("unit_count"))
  }

  // ------------------------------------------------------- coverage audit

  /** gold.gold_coverage_audit — silver vs every gold model, per course
    * (gold_coverage_audit.sql:17-128). */
  def goldCoverageAudit(
      silver: DataFrame,
      factRounds: DataFrame,
      holePerf: DataFrame,
      roundsByMonth: DataFrame,
      roundsByWeekday: DataFrame,
      dimCourse: DataFrame): DataFrame = {
    val courses = silver.filter(col("course_id").isNotNull)
      .select(col("course_id")).distinct()
    // Row counts and round-distinct counts split (distinct-decomposition):
    // two COUNT(DISTINCT)s in the row-count agg would Expand the fix
    // table 3×; the round grain gets its own two-level codegen aggregate
    // with identical null-excluding semantics.
    val rowCounts = silver.filter(col("course_id").isNotNull)
      .groupBy(col("course_id").as("s_course_id"))
      .agg(
        count(lit(1)).as("silver_total_rows"),
        sum(when(col("is_location_padding"), 1).otherwise(0)).as("silver_padding_rows"),
        sum(when(!col("is_location_padding"), 1).otherwise(0)).as("silver_non_padding_rows"),
        sum(when(col("is_timestamp_missing"), 1).otherwise(0)).as("silver_ts_missing_rows"),
        sum(when(col("is_timestamp_missing") && !col("is_location_padding"), 1).otherwise(0))
          .as("silver_ts_missing_non_padding_rows"))
    val roundCounts = silver
      .filter(col("course_id").isNotNull && col("round_id").isNotNull)
      .groupBy(col("course_id"), col("round_id"))
      .agg(max(when(!col("is_location_padding"), 1).otherwise(0)).as("has_np"))
      .groupBy(col("course_id").as("rc_course_id"))
      .agg(
        count(lit(1)).as("silver_distinct_rounds_all"),
        sum(col("has_np")).cast(LongType).as("silver_distinct_rounds_non_padding"))
    val silverCounts = rowCounts
      .join(coPartitioned(roundCounts), col("s_course_id") === col("rc_course_id"), "left")
      .select(col("s_course_id"),
        col("silver_total_rows"), col("silver_padding_rows"),
        col("silver_non_padding_rows"), col("silver_ts_missing_rows"),
        col("silver_ts_missing_non_padding_rows"),
        coalesce(col("silver_distinct_rounds_all"), lit(0L))
          .as("silver_distinct_rounds_all"),
        coalesce(col("silver_distinct_rounds_non_padding"), lit(0L))
          .as("silver_distinct_rounds_non_padding"))
    // fact_rounds' grain is (course_id, round_id): its round_ids are
    // already distinct within a course.
    val fr = factRounds.groupBy(col("course_id").as("f_course_id"))
      .agg(
        count(lit(1)).as("gold_fact_rounds_rows"),
        count(col("round_id")).as("gold_fact_rounds_distinct_rounds"),
        sum(col("fix_count")).as("gold_fact_rounds_sum_fix_count"))
    // Hole performance's two distinct counts are two-level aggregates that
    // keep course_id in their first level, joined back per course.
    val hpKeys = holePerf
      .groupBy(col("course_id"),
        concat_ws(":", col("round_id"), col("hole_number"), col("nine_number")))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("course_id").as("h_course_id"))
      .agg(
        sum(col("n")).as("gold_hole_perf_rows"),
        count(lit(1)).as("gold_hole_perf_distinct_round_hole_nine"))
    val hpRounds = holePerf.select(col("course_id"), col("round_id")).distinct()
      .groupBy(col("course_id").as("hr_course_id"))
      .agg(count(col("round_id")).as("gold_hole_perf_distinct_rounds"))
    val hp = hpKeys.join(coPartitioned(hpRounds), col("h_course_id") === col("hr_course_id"))
      .select(col("h_course_id"), col("gold_hole_perf_rows"),
        col("gold_hole_perf_distinct_rounds"), col("gold_hole_perf_distinct_round_hole_nine"))
    val sm = roundsByMonth.groupBy(col("course_id").as("m_course_id"))
      .agg(
        sum(col("rounds")).as("gold_rounds_by_month_sum_rounds"),
        sum(when(col("month_number") === 0, col("rounds")).otherwise(0))
          .as("gold_rounds_by_month_unknown_ts_rounds"))
    val sw = roundsByWeekday.groupBy(col("course_id").as("w_course_id"))
      .agg(
        sum(col("rounds")).as("gold_rounds_by_weekday_sum_rounds"),
        sum(when(col("weekday_number") === 0, col("rounds")).otherwise(0))
          .as("gold_rounds_by_weekday_unknown_ts_rounds"))
    val dc = dimCourse.select(
      col("course_id").as("d_course_id"),
      lit(1).as("gold_dim_course_present"),
      col("unit_count"))
    courses
      .join(coPartitioned(silverCounts), col("course_id") === col("s_course_id"), "left")
      .join(coPartitioned(fr), col("course_id") === col("f_course_id"), "left")
      .join(coPartitioned(hp), col("course_id") === col("h_course_id"), "left")
      .join(coPartitioned(sm), col("course_id") === col("m_course_id"), "left")
      .join(coPartitioned(sw), col("course_id") === col("w_course_id"), "left")
      .join(coPartitioned(dc), col("course_id") === col("d_course_id"), "left")
      .drop("s_course_id", "f_course_id", "h_course_id", "m_course_id",
        "w_course_id", "d_course_id")
  }

  // --------------------------------------------------- silver_normalized

  /** silver_normalized.fact_telemetry_fix — rename/projection VIEW
    * (fact_telemetry_fix.sql:16-75). */
  def factTelemetryFix(silver: DataFrame): DataFrame =
    silver.select(
      col("course_id"), col("round_id"), col("location_index"), col("fix_timestamp"),
      col("is_timestamp_missing"), col("is_location_padding"),
      col("hole_number"), col("section_number"), col("hole_section"), col("nine_number"),
      col("pace"), col("pace_gap"), col("positional_gap"),
      col("latitude"), col("longitude"), col("geometry_wkt"),
      col("battery_percentage"), col("is_cache"), col("is_projected"), col("is_problem"),
      col("ingest_date"), col("event_date"), col("round_start_time"), col("round_end_time"),
      col("start_hole"), col("start_section"), col("end_section"),
      col("is_nine_hole"), col("current_nine"), col("goal_time"), col("is_complete"),
      col("device").as("device_id"), col("first_fix"), col("last_fix"),
      col("goal_name"), col("goal_time_fraction"),
      col("is_incomplete"), col("is_secondary"), col("is_auto_assigned"),
      col("last_section_start"), col("current_section"), col("current_hole"),
      col("current_hole_section"))

  /** silver_normalized.dim_round (dim_round.sql:14-97).
    *
    * The four string-typed maxes aggregate separately: a string
    * aggregation buffer is not fixed-width, so one `max(goal_name)`
    * would demote the whole 27-aggregate rollup from codegen
    * HashAggregate to SortAggregate (sorting every fix row under every
    * buffer). The narrow string slice pays the sort on 6 columns; the
    * join back reuses the (course_id, round_id) hash partitioning. */
  def dimRound(silver: DataFrame): DataFrame = {
    val base = silver
      .filter(col("course_id").isNotNull && col("round_id").isNotNull)
    val numeric = base
      .groupBy(col("course_id"), col("round_id"))
      .agg(
        count(lit(1)).as("total_rows"),
        sum(when(col("is_location_padding"), 1).otherwise(0)).as("padding_rows"),
        sum(when(!col("is_location_padding"), 1).otherwise(0)).as("non_padding_rows"),
        sum(when(col("is_timestamp_missing"), 1).otherwise(0)).as("ts_missing_rows"),
        sum(when(col("is_timestamp_missing") && !col("is_location_padding"), 1).otherwise(0))
          .as("ts_missing_non_padding_rows"),
        min(col("fix_timestamp")).as("first_fix_ts"),
        max(col("fix_timestamp")).as("last_fix_ts"),
        distinctViaBitmask(col("hole_number")).as("holes_observed"),
        distinctViaBitmask(col("nine_number")).as("nines_observed"),
        min(col("section_number")).as("min_section_number"),
        max(col("section_number")).as("max_section_number"),
        max(col("round_start_time")).as("round_start_time"),
        max(col("round_end_time")).as("round_end_time"),
        max(col("start_hole")).as("start_hole"),
        max(col("start_section")).as("start_section"),
        max(col("end_section")).as("end_section"),
        bool_or(coalesce(col("is_nine_hole"), lit(false))).as("is_nine_hole"),
        bool_or(coalesce(col("is_complete"), lit(false))).as("is_complete"),
        bool_or(coalesce(col("is_incomplete"), lit(false))).as("is_incomplete"),
        bool_or(coalesce(col("is_secondary"), lit(false))).as("is_secondary"),
        bool_or(coalesce(col("is_auto_assigned"), lit(false))).as("is_auto_assigned"),
        max(col("current_nine")).as("current_nine"),
        max(col("goal_time")).as("goal_time"),
        max(col("goal_time_fraction")).as("goal_time_fraction"))
    val strings = base
      .groupBy(col("course_id"), col("round_id"))
      .agg(
        max(col("goal_name")).as("goal_name"),
        max(col("device")).as("device_id"),
        max(col("first_fix")).as("first_fix"),
        max(col("last_fix")).as("last_fix"))
    numeric.join(coPartitioned(strings), Seq("course_id", "round_id"))
      .select(
        col("course_id"), col("round_id"), col("total_rows"), col("padding_rows"),
        col("non_padding_rows"), col("ts_missing_rows"), col("ts_missing_non_padding_rows"),
        col("first_fix_ts"), col("last_fix_ts"), col("holes_observed"), col("nines_observed"),
        col("min_section_number"), col("max_section_number"),
        col("round_start_time"), col("round_end_time"),
        col("start_hole"), col("start_section"), col("end_section"),
        col("is_nine_hole"), col("is_complete"), col("is_incomplete"),
        col("is_secondary"), col("is_auto_assigned"),
        col("current_nine"), col("goal_time"), col("goal_name"),
        col("goal_time_fraction"), col("device_id"), col("first_fix"), col("last_fix"))
  }

  /** silver_normalized.dim_device (dim_device.sql:14-38). */
  def dimDevice(silver: DataFrame): DataFrame =
    silver
      .filter(col("device").isNotNull)
      .groupBy(col("device").as("device_id"))
      .agg(
        count(lit(1)).as("total_rows"),
        countDistinct(col("course_id")).as("courses_seen"),
        min(col("fix_timestamp")).as("first_seen_ts"),
        max(col("fix_timestamp")).as("last_seen_ts"),
        sum(when(col("is_timestamp_missing"), 1).otherwise(0)).as("ts_missing_rows"),
        min(col("battery_percentage")).as("min_battery_pct"),
        max(col("battery_percentage")).as("max_battery_pct"),
        avg(col("battery_percentage")).as("avg_battery_pct"))

  /** Per-round flag rollup shared by the global models: turns the
    * reference's `COUNT(DISTINCT CASE WHEN flag THEN round_id END)`
    * family (which Catalyst plans as an Expand — one row-copy per
    * distinct-aggregate) into one groupBy(round) + one count. Identical
    * semantics: a round is counted iff ANY of its non-padding fixes
    * carries the flag. */
  private def roundFlagRollup(silver: DataFrame, perCourse: Boolean): DataFrame =
    silver
      .filter(col("course_id").isNotNull && col("round_id").isNotNull)
      // the global overview counts a round once even if its fixes span
      // courses; the per-course summary counts it within each course
      .groupBy(
        (if (perCourse) Seq(col("course_id")) else Nil) :+ col("round_id"): _*)
      .agg(
        bool_or(!col("is_location_padding")).as("has_non_padding"),
        bool_or(!col("is_location_padding") && coalesce(col("is_complete"), lit(false)))
          .as("f_complete"),
        bool_or(!col("is_location_padding") && coalesce(col("is_nine_hole"), lit(false)))
          .as("f_nine_hole"),
        bool_or(!col("is_location_padding") && coalesce(col("is_secondary"), lit(false)))
          .as("f_secondary"),
        bool_or(!col("is_location_padding") && coalesce(col("is_auto_assigned"), lit(false)))
          .as("f_auto_assigned"))

  private def roundFlagCounts(roundFlags: DataFrame, groupCols: Seq[String]): DataFrame = {
    val g = if (groupCols.isEmpty) roundFlags.groupBy()
    else roundFlags.groupBy(groupCols.map(col): _*)
    g.agg(
      count(lit(1)).as("distinct_rounds_all"),
      sum(when(col("has_non_padding"), 1).otherwise(0)).as("distinct_rounds_non_padding"),
      sum(when(col("f_complete"), 1).otherwise(0)).as("complete_rounds"),
      sum(when(col("f_nine_hole"), 1).otherwise(0)).as("nine_hole_rounds"),
      sum(when(col("f_secondary"), 1).otherwise(0)).as("secondary_rounds"),
      sum(when(col("f_auto_assigned"), 1).otherwise(0)).as("auto_assigned_rounds"))
  }

  /** silver_normalized.global_overview — single-row global KPIs
    * (global_overview.sql:15-98). `exactPercentiles` swaps the
    * APPROX_PERCENTILE for the exact variant (correctness gate).
    * Round-distinct flags come from [[roundFlagRollup]] — two column-
    * pruned passes instead of a 9-way Expand of the fact table. */
  def globalOverview(silver: DataFrame, exactPercentiles: Boolean = false): DataFrame = {
    val median =
      if (exactPercentiles) expr("percentile(pg, 0.5)")
      else expr("percentile_approx(pg, 0.5, 10000)")
    // Same decomposition as globalCourseSummary: two countDistincts in
    // one agg Expand the full 100 TB scan ×3 before partial
    // aggregation, and the percentile drags every counter through a
    // sort-based ObjectHashAggregate. Split into a codegen counter agg
    // that also counts the courses (a single distinct over the
    // clustering key, so its first level needs no exchange), a two-level
    // distinct agg over devices, and a percentile over a one-column
    // slice; all are single-row frames, so the crossJoins are free.
    val filtered = silver.filter(col("course_id").isNotNull)
    val baseStats = filtered.agg(
      countDistinct(col("course_id")).as("courses"),
      count(lit(1)).as("total_rows"),
      sum(when(col("is_location_padding"), 1).otherwise(0)).as("padding_rows"),
      sum(when(!col("is_location_padding"), 1).otherwise(0)).as("non_padding_rows"),
      sum(when(col("is_timestamp_missing"), 1).otherwise(0)).as("ts_missing_rows"),
      sum(when(col("is_timestamp_missing") && !col("is_location_padding"), 1).otherwise(0))
        .as("ts_missing_non_padding_rows"),
      sum(when(!col("is_location_padding") && col("is_problem"), 1).otherwise(0))
        .as("problem_rows"),
      min(col("fix_timestamp")).as("first_fix_ts"),
      max(col("fix_timestamp")).as("last_fix_ts"),
      avg(when(!col("is_location_padding"), col("pace_gap"))).as("avg_pace_gap_sec"))
    val devStats = filtered.select(col("device"))
      .agg(countDistinct(col("device")).as("distinct_devices"))
    val medStats = filtered
      .select(when(!col("is_location_padding"), col("pace_gap")).as("pg"))
      .agg(median.as("median_pace_gap_sec"))
    val rowStats = baseStats.crossJoin(devStats).crossJoin(medStats)
    val agg0 = rowStats.crossJoin(
      roundFlagCounts(roundFlagRollup(silver, perCourse = false), Nil))
    agg0.select(
      col("total_rows"), col("padding_rows"), col("non_padding_rows"),
      col("courses"), col("distinct_rounds_all"), col("distinct_rounds_non_padding"),
      col("distinct_devices"), col("ts_missing_rows"), col("ts_missing_non_padding_rows"),
      col("problem_rows"),
      pct(col("problem_rows"), col("non_padding_rows"), 2)
        .as("pct_problem_rows_non_padding"),
      col("complete_rounds"),
      pct(col("complete_rounds"), col("distinct_rounds_non_padding"), 2)
        .as("pct_complete_rounds"),
      col("nine_hole_rounds"),
      pct(col("nine_hole_rounds"), col("distinct_rounds_non_padding"), 2)
        .as("pct_nine_hole_rounds"),
      col("secondary_rounds"),
      pct(col("secondary_rounds"), col("distinct_rounds_non_padding"), 2)
        .as("pct_secondary_rounds"),
      col("auto_assigned_rounds"),
      pct(col("auto_assigned_rounds"), col("distinct_rounds_non_padding"), 2)
        .as("pct_auto_assigned_rounds"),
      pct(col("padding_rows"), col("total_rows"), 2).as("pct_padding_rows"),
      pct(col("ts_missing_rows"), col("total_rows"), 2).as("pct_ts_missing_rows"),
      pct(col("ts_missing_non_padding_rows"), col("non_padding_rows"), 2)
        .as("pct_ts_missing_non_padding_rows"),
      col("first_fix_ts"), col("last_fix_ts"),
      col("avg_pace_gap_sec"), col("median_pace_gap_sec"))
  }

  /** silver_normalized.global_course_summary — per-course variant of the
    * overview (global_course_summary.sql:14-99). */
  def globalCourseSummary(silver: DataFrame, exactPercentiles: Boolean = false): DataFrame = {
    val median =
      if (exactPercentiles) expr("percentile(pg, 0.5)")
      else expr("percentile_approx(pg, 0.5, 10000)")
    // Decomposed like globalTimePatterns: countDistinct(device) forces
    // an Expand and the percentile forces a sort-based
    // ObjectHashAggregate — in ONE agg every other buffer rides through
    // both penalties (~7× at sf0.1, worse at scale). Split into a
    // codegen HashAggregate for the plain counters, a two-level
    // distinct aggregate over a two-column slice, and a percentile over
    // a two-column slice; the three join back on their shared
    // course_id hash partitioning (no extra shuffle).
    val filtered = silver.filter(col("course_id").isNotNull)
    // Two-level rewrite folds the distinct-device count into the SAME
    // scan as the counters: partial-aggregate by (course_id, device)
    // (all codegen, map-side combined), then roll up by course_id where
    // distinct_devices is just the non-null group count. One scan, two
    // narrow shuffles, no Expand anywhere. avg decomposes to Σ/n of the
    // partials — identical arithmetic to Average's internal buffer.
    val perDevice = filtered
      .groupBy(col("course_id"), col("device"))
      .agg(
        count(lit(1)).as("rows_"),
        sum(when(col("is_location_padding"), 1).otherwise(0)).as("pad_"),
        sum(when(!col("is_location_padding"), 1).otherwise(0)).as("npad_"),
        sum(when(col("is_timestamp_missing"), 1).otherwise(0)).as("tsm_"),
        sum(when(col("is_timestamp_missing") && !col("is_location_padding"), 1).otherwise(0))
          .as("tsmn_"),
        sum(when(!col("is_location_padding") && col("is_problem"), 1).otherwise(0))
          .as("prob_"),
        sum(when(!col("is_location_padding"), col("pace_gap"))).as("pg_sum_"),
        count(when(!col("is_location_padding"), col("pace_gap"))).as("pg_n_"))
    val baseStats = perDevice
      .groupBy(col("course_id"))
      .agg(
        sum(col("rows_")).as("total_rows"),
        sum(col("pad_")).as("padding_rows"),
        sum(col("npad_")).as("non_padding_rows"),
        count(when(col("device").isNotNull, 1)).as("distinct_devices"),
        sum(col("tsm_")).as("ts_missing_rows"),
        sum(col("tsmn_")).as("ts_missing_non_padding_rows"),
        sum(col("prob_")).as("problem_rows"),
        (sum(col("pg_sum_")) / sum(col("pg_n_"))).as("avg_pace_gap_sec"))
    val medStats = filtered
      .select(col("course_id"),
        when(!col("is_location_padding"), col("pace_gap")).as("pg"))
      .groupBy(col("course_id"))
      .agg(median.as("median_pace_gap_sec"))
    val rowStats = baseStats
      .join(coPartitioned(medStats), Seq("course_id"))
      .select(
        col("course_id"), col("total_rows"), col("padding_rows"),
        col("non_padding_rows"), col("distinct_devices"),
        col("ts_missing_rows"), col("ts_missing_non_padding_rows"),
        col("problem_rows"), col("avg_pace_gap_sec"),
        col("median_pace_gap_sec"))
    val roundStats = roundFlagCounts(
      roundFlagRollup(silver, perCourse = true), Seq("course_id"))
      .withColumnRenamed("course_id", "r_course_id")
    val joined = rowStats
      .join(coPartitioned(roundStats), col("course_id") === col("r_course_id"), "left")
      .drop("r_course_id")
    // a course whose round_ids are all NULL has no flag-rollup rows: its
    // distinct counts are 0 (reference COUNT(DISTINCT ...) semantics)
    Seq("distinct_rounds_all", "distinct_rounds_non_padding", "complete_rounds",
        "nine_hole_rounds", "secondary_rounds", "auto_assigned_rounds")
      .foldLeft(joined)((df, c) => df.withColumn(c, coalesce(col(c), lit(0L))))
      .withColumn("pct_problem_rows_non_padding",
        pct(col("problem_rows"), col("non_padding_rows"), 2))
      .withColumn("pct_complete_rounds",
        pct(col("complete_rounds"), col("distinct_rounds_non_padding"), 2))
      .withColumn("pct_nine_hole_rounds",
        pct(col("nine_hole_rounds"), col("distinct_rounds_non_padding"), 2))
      .withColumn("pct_secondary_rounds",
        pct(col("secondary_rounds"), col("distinct_rounds_non_padding"), 2))
      .withColumn("pct_auto_assigned_rounds",
        pct(col("auto_assigned_rounds"), col("distinct_rounds_non_padding"), 2))
      .withColumn("pct_padding_rows", pct(col("padding_rows"), col("total_rows"), 2))
      .withColumn("pct_ts_missing_rows", pct(col("ts_missing_rows"), col("total_rows"), 2))
      .withColumn("pct_ts_missing_non_padding_rows",
        pct(col("ts_missing_non_padding_rows"), col("non_padding_rows"), 2))
  }

  /** silver_normalized.global_time_patterns — time-of-day × weekday/weekend
    * grid (global_time_patterns.sql:21-85). */
  def globalTimePatterns(silver: DataFrame, exactPercentiles: Boolean = false): DataFrame = {
    val median =
      if (exactPercentiles) expr("percentile(pace_gap, 0.5)")
      else expr("percentile_approx(pace_gap, 0.5, 10000)")
    // Decomposed into three aggregations over the same grouping key: a
    // countDistinct (Expand) plus an exact percentile (sort-based
    // ObjectHashAggregate) in ONE agg drags every other buffer through
    // both penalties. The distinct round count is a two-level codegen
    // aggregate, the percentile runs over a two-column slice, and the
    // three results join back on their shared hash partitioning.
    // `hk` stands in for the nullable hour key so the joins stay
    // null-safe without <=> (which would block partitioning reuse).
    val enriched = silver
      .filter(col("course_id").isNotNull && !col("is_location_padding"))
      .withColumn("time_bucket",
        when(col("fix_timestamp").isNull, "unknown")
          .when(hour(col("fix_timestamp")).between(5, 11), "morning")
          .when(hour(col("fix_timestamp")).between(12, 17), "afternoon")
          .when(hour(col("fix_timestamp")).between(18, 23), "evening")
          .otherwise("night"))
      .withColumn("day_type",
        when(col("fix_timestamp").isNull, "unknown")
          .when(expr("weekday(fix_timestamp) + 1").isin(6, 7), "weekend")
          .otherwise("weekday"))
      .withColumn("hk",
        when(col("fix_timestamp").isNull, lit(-1)).otherwise(hour(col("fix_timestamp"))))
    val keys = Seq("course_id", "day_type", "time_bucket", "hk")
    val base = enriched
      .groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("rows"),
        sum(when(col("is_problem"), 1).otherwise(0)).as("problem_rows"),
        pct(sum(when(col("is_problem"), 1).otherwise(0)), count(lit(1)), 2)
          .as("pct_problem_rows"),
        avg(col("pace_gap")).as("avg_pace_gap_sec"))
    val rounds = enriched
      .filter(col("round_id").isNotNull)
      .select((keys :+ "round_id").map(col): _*).distinct()
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("rounds"))
    val med = enriched
      .select((keys :+ "pace_gap").map(col): _*)
      .groupBy(keys.map(col): _*)
      .agg(median.as("median_pace_gap_sec"))
    base.join(coPartitioned(rounds), keys, "left").join(coPartitioned(med), keys)
      .select(
        col("course_id"), col("day_type"), col("time_bucket"),
        when(col("hk") === -1, lit(null).cast(IntegerType))
          .otherwise(col("hk")).as("hour_of_day"),
        col("rows"), coalesce(col("rounds"), lit(0L)).as("rounds"),
        col("problem_rows"), col("pct_problem_rows"),
        col("avg_pace_gap_sec"), col("median_pace_gap_sec"))
  }
}
