package graft.ingest

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import SilverEtl._

/** `SilverJob.run` against `SilverEtl.transform`, and the driver-side
  * planning steps that must start no Spark job. */
class SilverJobSpec extends SparkSpec {

  private def res(p: String): String =
    getClass.getResource(p).toString.stripPrefix("file:")

  private def tmp(): String = Files.createTempDirectory("graft_silver").toString

  private lazy val topology: DataFrame =
    spark.read.option("header", true).csv(res("/golf/seeds/dim_facility_topology.csv"))

  /** Rows equal by value, duplicates included: `exceptAll` both ways. */
  private def assertSameRows(actual: DataFrame, expected: DataFrame): Unit = {
    val a = actual.select(expected.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    assert(a.exceptAll(expected).count() === 0, "rows only in the job's output")
    assert(expected.exceptAll(a).count() === 0, "rows only in transform's output")
  }

  /** RDDs the session holds persisted: a materialised cached frame is one. */
  private def persistedRdds: Int = spark.sparkContext.getPersistentRDDs.size

  Seq(
    ("json", "/golf/json", "americanfalls", "2024-01-20"),
    ("json with invalid coordinates", "/golf/json_invalid", "indiancreek", "2024-03-02"),
    ("csv with topology", "/golf/csv", "erinhills", "2024-04-05")
  ).foreach { case (name, dir, course, date) =>
    test(s"parity ($name): SilverJob's silver and quarantine rows equal transform's split") {
      val cfg = SilverConfig(course, date,
        topology = if (dir == "/golf/csv") Some(topology) else None)
      val warehouse = tmp()
      val (valid, invalid) = SilverEtl.run(spark, res(dir), cfg)
      val r = SilverJob.run(spark, res(dir), warehouse, cfg, "runp", 10)
      assert(r.validCount === valid.count() && r.invalidCount === invalid.count())

      // The job writes NULL event dates under the 1900-01-01 partition.
      val expectedSilver = valid.withColumn("event_date",
        coalesce(col("event_date"), lit("1900-01-01").cast("date")))
      assertSameRows(spark.read.parquet(r.tablePath), expectedSilver)

      r.quarantinePath match {
        case Some(q) => assertSameRows(spark.read.schema(invalid.schema).json(q), invalid)
        case None    => assert(invalid.isEmpty)
      }
    }
  }

  test("a failed silver write releases the cache and logs the drop as failed") {
    val warehouse = tmp()
    // A regular file where the silver table directory belongs: the
    // quarantine write succeeds, the partition refresh throws.
    Files.writeString(java.nio.file.Paths.get(warehouse, "fact_telemetry_event"), "not a table")
    val persisted = persistedRdds
    val cfg = SilverConfig("indiancreek", "2024-03-02")
    intercept[Exception] {
      SilverJob.run(spark, res("/golf/json_invalid"), warehouse, cfg, "runf", 20)
    }
    assert(persistedRdds === persisted)
    assert(SilverEtl.flagged(SilverEtl.read(spark, res("/golf/json_invalid")), cfg)
      .storageLevel === org.apache.spark.storage.StorageLevel.NONE)
    assert(Files.exists(java.nio.file.Paths.get(warehouse, "quarantine")))
    val latest = IngestionRegistry.latest(spark, s"$warehouse/ingestion_log").collect()
    assert(latest.length === 1 && latest(0).getAs[String]("status") === "failed")
  }

  /** Jobs started on this thread while `body` runs. Spark posts job events
    * asynchronously, so a tagged sentinel job is run last and the count is
    * read once its start has been delivered. */
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

  test("format detection and CSV header schemas start no Spark job") {
    val dir = java.nio.file.Paths.get(tmp())
    // An empty name and a case-duplicate of `a`: Spark's header rules
    // rename them (`_c1`, `a0`/`A2`), and the union must agree.
    Files.writeString(dir.resolve("x.csv"), "a,,A,b\n1,2,3,4\n5,6,7,8\n")
    Files.writeString(dir.resolve("y.csv"), "b,a\n9,10\n")
    Files.writeString(dir.resolve("_ignored.json"), "[]")
    Files.writeString(dir.resolve(".hidden.json"), "[]")

    var format = ""
    var union: DataFrame = null
    val jobs = jobsStartedBy {
      format = detectFileFormat(spark, dir.toString)
      union = readCsvUnion(spark, dir.toString)
      union.schema
    }
    assert(jobs === 0)
    assert(format === "csv") // hidden and underscore JSON files are not landing files

    val inferred = spark.read.option("header", true).option("escape", "\"")
      .csv(dir.resolve("x.csv").toString)
    assert(inferred.columns.toSeq === Seq("a0", "_c1", "A2", "b"))
    val fromY = spark.read.option("header", true).csv(dir.resolve("y.csv").toString)
    val expected = inferred.unionByName(fromY, allowMissingColumns = true)
    assert(union.schema === expected.schema)
    assertSameRows(union, expected)
  }

  test("detection and the silver read use only the listed landing files") {
    val dir = java.nio.file.Paths.get(tmp())
    def copy(fixture: String, name: String, to: java.nio.file.Path = dir): Unit =
      Files.copy(java.nio.file.Paths.get(res(fixture)), to.resolve(name))
    copy("/golf/json/sample_json.json", "sample_json.json")
    // Hidden names that match `*.json`, each a valid export of another round.
    copy("/golf/json_invalid/invalid_coordinates.json", "_partial.json")
    copy("/golf/json_mongo/sample_json_mongodb.json", ".tmp.json")
    Files.writeString(dir.resolve("_SUCCESS"), "")
    Files.writeString(dir.resolve(".sample_json.json.crc"), "junk")
    assert(detectFileFormat(spark, dir.toString) === "json")
    assert(jobsStartedBy(detectFileFormat(spark, dir.toString)) === 0)
    assertSameRows(SilverEtl.read(spark, dir.toString),
      readJson(spark, res("/golf/json/sample_json.json")))

    // A CSV drop beside a hidden JSON file is still read as CSV.
    val csvDir = java.nio.file.Paths.get(tmp())
    copy("/golf/csv/erinhills_a.rounds.csv", "erinhills_a.rounds.csv", csvDir)
    copy("/golf/json/sample_json.json", "_partial.json", csvDir)
    assertSameRows(SilverEtl.read(spark, csvDir.toString),
      readCsvUnion(spark, res("/golf/csv/erinhills_a.rounds.csv")))
  }
}
