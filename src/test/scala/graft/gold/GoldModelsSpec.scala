package graft.gold

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ingest.SilverEtl
import graft.ingest.SilverEtl.SilverConfig

/** Gold-layer semantics over the golf fixtures, including the reference's
  * dbt data tests re-expressed as assertions (SURVEY §5: unique grains,
  * non_negative, between_0_and_100, and the gold_coverage_audit
  * reconciliation invariants).
  */
class GoldModelsSpec extends SparkSpec {

  private def res(p: String): String =
    getClass.getResource(p).toString.stripPrefix("file:")

  private lazy val topology: DataFrame =
    spark.read.option("header", true).csv(res("/golf/seeds/dim_facility_topology.csv"))

  /** Silver built from BOTH fixture sources (JSON americanfalls + CSV
    * erinhills) — same output schema, unioned like a multi-course lake. */
  private lazy val silver: DataFrame = {
    val json = SilverEtl.transform(
      SilverEtl.readJson(spark, res("/golf/json") + "/*.json"),
      SilverConfig("americanfalls", "2024-01-20"))._1
    val csv = SilverEtl.transform(
      SilverEtl.readCsvUnion(spark, res("/golf/csv")),
      SilverConfig("erinhills", "2024-04-05", topology = Some(topology)))._1
    json.unionByName(csv).persist()
  }

  private lazy val models = GoldRunner.buildAll(silver, topology)

  // buildAll leaves fact_rounds cached for its caller, and this spec
  // persisted silver; release both so the shared session does not carry
  // them into later suites.
  override def afterAll(): Unit = {
    try {
      models("fact_rounds").unpersist()
      silver.unpersist()
    } finally super.afterAll()
  }

  test("all 20 models build and are non-degenerate") {
    // Both percentile modes: the benchmark builds the approximate sketches,
    // the gm_global_* gates the exact ones. collect, not count: count()
    // prunes every unread aggregate, the percentiles included.
    for ((exact, built) <- Seq(
        false -> models,
        true -> GoldRunner.buildAll(silver, topology, exactPercentiles = true))) {
      assert(built.size === 20)
      built.foreach { case (name, df) =>
        val n = df.collect().length
        // device_health_errors can legitimately be empty (no battery < 20 in
        // fixtures); everything else must produce rows.
        if (name != "device_health_errors")
          assert(n > 0, s"$name produced no rows (exactPercentiles = $exact)")
      }
    }
  }

  test("bitmask distinct counts fail loudly on out-of-domain values") {
    // shiftleft wraps mod 64 in the JVM — a hole_number of 99 would
    // silently alias bit 35 without the domain guard. The guard must
    // surface bad upstream data as an error, never an undercount.
    val poisoned = silver.withColumn("hole_number",
      when(col("hole_number").isNotNull && col("location_index") === 1, lit(99))
        .otherwise(col("hole_number")))
    val ex = intercept[Exception] {
      GoldModels.factRounds(poisoned).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("distinctViaBitmask")),
      s"expected the domain-guard error, got: ${messages(ex).mkString(" | ")}")
  }

  test("dbt unique-grain tests: fact_rounds / hole perf / dim_round / by_month") {
    def assertUniqueGrain(name: String, keys: Seq[String]): Unit = {
      val df = models(name)
      val dup = df.groupBy(keys.map(col): _*).count().filter(col("count") > 1).count()
      assert(dup === 0, s"$name has duplicate grain rows on ${keys.mkString(",")}")
    }
    assertUniqueGrain("fact_rounds", Seq("course_id", "round_id"))
    assertUniqueGrain("fact_round_hole_performance",
      Seq("course_id", "round_id", "hole_number", "nine_number"))
    assertUniqueGrain("dim_round", Seq("course_id", "round_id"))
    assertUniqueGrain("dim_course", Seq("course_id"))
    assertUniqueGrain("course_rounds_by_month",
      Seq("course_id", "month_start", "month_number", "month_name"))
    assertUniqueGrain("dim_device", Seq("device_id"))
  }

  test("dbt singular test: no duplicate (round_id, fix_timestamp, location_index) in silver") {
    val dups = silver
      .groupBy(col("round_id"), col("fix_timestamp"), col("location_index"))
      .count().filter(col("count") > 1).count()
    assert(dups === 0)
  }

  test("dbt generic tests: scores between 0 and 100, counts non-negative") {
    val dq = models("data_quality_overview")
    val badScores = dq.filter(
      col("data_quality_score") < 0 || col("data_quality_score") > 100 ||
        col("score_tier_1_pace") < 0 || col("score_tier_1_pace") > 100).count()
    assert(badScores === 0)
    val gaps = models("critical_column_gaps")
    assert(gaps.filter(col("usability_score") < 0 || col("usability_score") > 100)
      .count() === 0)
    val fr = models("fact_rounds")
    assert(fr.filter(col("fix_count") < 0 || col("duration_sec") < 0).count() === 0)
  }

  test("coverage audit reconciles silver and gold counts (gold_coverage_audit.sql)") {
    val audit = models("gold_coverage_audit").collect()
    audit.foreach { r =>
      def l(name: String): Long = r.getLong(r.fieldIndex(name))
      assert(l("silver_total_rows") ===
        l("silver_padding_rows") + l("silver_non_padding_rows"))
      // every non-padding silver row is accounted for in fact_rounds
      assert(l("gold_fact_rounds_sum_fix_count") === l("silver_non_padding_rows"))
      // seasonality models preserve the round population
      assert(l("gold_rounds_by_month_sum_rounds") === l("gold_fact_rounds_rows"))
      assert(l("gold_rounds_by_weekday_sum_rounds") === l("gold_fact_rounds_rows"))
      assert(r.getInt(r.fieldIndex("gold_dim_course_present")) === 1)
    }
  }

  test("fact_rounds: duration, round_length classification, Trino weekday") {
    val ca1 = models("fact_rounds").filter(col("round_id") === "ca1").collect()(0)
    // ca1 fixes span 08:00:00 -> 08:08:00 = 480 sec
    assert(ca1.getLong(ca1.fieldIndex("duration_sec")) === 480L)
    assert(ca1.getDouble(ca1.fieldIndex("round_duration_minutes")) === 8.0)
    // 2024-04-01 is a Monday -> Trino day_of_week 1 (Spark dayofweek would say 2)
    assert(ca1.getInt(ca1.fieldIndex("round_weekday")) === 1)
    val r2 = models("fact_rounds").filter(col("round_id") === "ca2").collect()(0)
    // ca2 sections 31-32 -> max_section > 27 -> classified '18'
    assert(r2.getString(r2.fieldIndex("round_length")) === "18")
  }

  test("hole performance separates nines on the same physical hole (fatigue grain)") {
    val hp = models("fact_round_hole_performance")
    // cb1 plays hole 1 in BOTH nines (sections 1-2 -> nine 1, section 30 -> nine 2)
    val cb1 = hp.filter(col("round_id") === "cb1" && col("hole_number") === 1)
      .select("nine_number", "course_unit").collect()
    assert(cb1.map(_.getInt(0)).toSet === Set(1, 2))
    val units = cb1.map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(units(1) === "Front Nine" && units(2) === "Back Nine")
  }

  test("seasonality models bucket missing timestamps as month 0 / weekday 0") {
    // All fixture rounds have timestamps; assert the non-unknown path and
    // that pct_total sums to ~100 per course.
    val byMonth = models("course_rounds_by_month")
    val pctSums = byMonth.groupBy(col("course_id"))
      .agg(sum(col("pct_total")).as("s")).collect()
    pctSums.foreach(r => assert(math.abs(r.getDouble(1) - 100.0) < 0.02))
    assert(byMonth.filter(col("month_number") === 0).count() === 0)
  }

  test("global_overview is a single row with consistent counts") {
    val row = models("global_overview").collect()
    assert(row.length === 1)
    val r = row(0)
    def l(n: String): Long = r.getLong(r.fieldIndex(n))
    assert(l("total_rows") === silver.count())
    assert(l("courses") === 2L)
    assert(l("padding_rows") + l("non_padding_rows") === l("total_rows"))
  }

  test("device_health_errors only carries sub-20 battery fixes with flags") {
    val dhe = models("device_health_errors")
    assert(dhe.filter(col("battery_percentage") >= 20).count() === 0)
    assert(dhe.filter(col("health_flag").isNull).count() === 0)
  }
}
