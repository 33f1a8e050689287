package graft.gold

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ExpandExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

import graft.SparkSpec
import graft.ingest.{SilverEtl, Topology}
import graft.ingest.SilverEtl.SilverConfig
import graft.tables.ParquetTable

/** The physical layout `GoldRunner.buildAll` gives the gold build over the
  * golf fixture's silver (both courses, written partitioned as `SilverJob`
  * writes it): which models shuffle, how many Spark jobs the build runs,
  * and what it leaves cached. */
class GoldLayoutSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def res(p: String): String =
    getClass.getResource(p).toString.stripPrefix("file:")

  private lazy val tmp = java.nio.file.Files.createTempDirectory("gold-layout")

  private lazy val silverPath: String = {
    val seedTopology =
      spark.read.option("header", true).csv(res("/golf/seeds/dim_facility_topology.csv"))
    val json = SilverEtl.transform(
      SilverEtl.readJson(spark, res("/golf/json") + "/*.json"),
      SilverConfig("americanfalls", "2024-01-20"))._1
    val csv = SilverEtl.transform(
      SilverEtl.readCsvUnion(spark, res("/golf/csv")),
      SilverConfig("erinhills", "2024-04-05", topology = Some(seedTopology)))._1
    val dir = tmp.resolve("silver").toString
    json.unionByName(csv).write.partitionBy("course_id", "event_date").parquet(dir)
    dir
  }

  private def silver: DataFrame = spark.read.parquet(silverPath)

  /** Every node of an executed plan, through adaptive stages, subqueries
    * and the plans of the caches it scans. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] =
    collectWithSubqueries(p) { case n => n } ++
      collectWithSubqueries(p) { case m: InMemoryTableScanExec => m }
        .flatMap(m => nodes(m.relation.cachedPlan))

  /** Spark jobs started by `body` on this thread. A sentinel job after it
    * flushes the listener bus, so no late event is missed. */
  private def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tags = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("graft.spec.tag")))
          .foreach(tags.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.spec.tag", "body")
      try body finally sc.setLocalProperty("graft.spec.tag", "sentinel")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!tags.contains("sentinel") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(tags.contains("sentinel"), "sentinel job event never arrived")
      tags.asScala.count(_ == "body")
    } finally {
      sc.setLocalProperty("graft.spec.tag", null)
      sc.removeSparkListener(listener)
    }
  }

  /** Topology, `buildAll` over it, the body on the built models, then the
    * release a caller owes (`Lakehouse`'s gold build does the same). */
  private def withGold[T](body: Map[String, DataFrame] => T): T = {
    val s = silver
    val topology = Topology.buildTopology(spark, s).cache()
    val models = GoldRunner.buildAll(s, topology)
    try body(models)
    finally {
      models("fact_rounds").unpersist()
      s.unpersist()
      topology.unpersist()
    }
  }

  test("per-course and per-round models plan no exchange and no Expand") {
    withGold { models =>
      Seq("fact_rounds", "fact_round_hole_performance", "data_quality_overview",
        "critical_column_gaps", "telemetry_completeness_summary", "dim_round",
        "course_configuration_analysis").foreach { name =>
        val df = models(name)
        df.collect()
        val plan = df.queryExecution.executedPlan
        val ns = nodes(plan)
        assert(!ns.exists(_.isInstanceOf[ShuffleExchangeLike]), s"$name shuffles:\n$plan")
        assert(!ns.exists(_.isInstanceOf[ExpandExec]), s"$name plans an Expand:\n$plan")
      }
    }
  }

  test("buildAll leaves no cache entry once fact_rounds, silver and topology are released") {
    // Earlier suites may leave entries of their own (the gold gates cache
    // fact_rounds per session); start from an empty cache.
    spark.catalog.clearCache()
    withGold { models =>
      models.foreach { case (name, df) =>
        ParquetTable.createOrReplace(df, tmp.resolve("gold").resolve(name).toString, Nil)
      }
    }
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  // The count the course-clustered build reaches on this fixture, silver
  // read included. A change that brings per-model shuffles or broadcasts
  // back fails here, not only in the benchmark.
  private val GoldJobBudget = 42

  test(s"topology, buildAll and all 20 models run at most $GoldJobBudget jobs") {
    val jobs = jobsStartedBy {
      withGold(_.values.foreach(_.collect()))
    }
    assert(jobs <= GoldJobBudget, s"$jobs jobs, budget $GoldJobBudget")
  }
}
