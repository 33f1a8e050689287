package graft.tables

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.ingest.{IngestionRegistry, SilverEtl, SilverJob, Topology}

/** Maintenance operators M1–M9 (SURVEY §2.10) against local parquet. */
class MaintenanceSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft_maint").toString

  import scala.jdk.CollectionConverters._

  test("M1/M2: dynamic partition refresh is idempotent and partition-scoped") {
    import spark.implicits._
    val path = s"${tmp()}/t"
    val day1 = Seq(("c1", "2024-01-01", 1), ("c1", "2024-01-01", 2),
      ("c2", "2024-01-01", 3)).toDF("course_id", "event_date", "v")
    ParquetTable.createOrReplace(day1, path, Seq("course_id", "event_date"))
    assert(spark.read.parquet(path).count() === 3)

    // Re-ingest c1/2024-01-01 with different content: only that partition
    // is replaced; c2 remains.
    val reingest = Seq(("c1", "2024-01-01", 9)).toDF("course_id", "event_date", "v")
    ParquetTable.refreshPartitions(reingest, path, Seq("course_id", "event_date"))
    val after = spark.read.parquet(path)
    assert(after.count() === 2)
    assert(after.filter(col("course_id") === "c2").count() === 1)
    assert(after.filter(col("course_id") === "c1").select("v").collect()(0).getInt(0) === 9)

    // Idempotency: same refresh twice → same state.
    ParquetTable.refreshPartitions(reingest, path, Seq("course_id", "event_date"))
    assert(spark.read.parquet(path).count() === 2)
  }

  // AQE on (batch jobs) and off (Spark turns it off in streaming
  // micro-batches).
  Seq(true, false).foreach { aqe =>
    test(s"M1: a partition refresh writes one file per partition value, idempotently (AQE $aqe)") {
      val session = spark.newSession()
      session.conf.set("spark.sql.adaptive.enabled", aqe.toString)
      import session.implicits._
      val path = s"${tmp()}/t"
      val batch = (1 to 60).map(i => (s"c${i % 2}", f"2024-01-0${i % 3 + 1}", i))
        .toDF("course_id", "event_date", "v")
        .repartition(8) // every task holds rows of every partition value
      def filesPerPartition(): Map[String, Int] =
        FsUtil.parquetFiles(java.nio.file.Paths.get(path))
          .groupBy(f => java.nio.file.Paths.get(path).relativize(f.getParent).toString)
          .map { case (dir, files) => dir -> files.size }
      def rows() = session.read.parquet(path).select("course_id", "v")
        .collect().map(r => (r.getString(0), r.getInt(1))).sorted.toSeq

      ParquetTable.refreshPartitions(batch, path, Seq("course_id", "event_date"))
      val first = filesPerPartition()
      assert(first.size === 6 && first.values.forall(_ == 1), first)
      val firstRows = rows()
      assert(firstRows.size === 60)

      ParquetTable.refreshPartitions(batch, path, Seq("course_id", "event_date"))
      assert(filesPerPartition() === first)
      assert(rows() === firstRows)
    }
  }

  test("compaction collapses per-batch fragment files, preserves data exactly") {
    import spark.implicits._
    val path = s"${tmp()}/t"
    // simulate many small append batches: 12 daily refreshes, each
    // fragmented into several files per partition dir
    (1 to 12).foreach { i =>
      val date = f"2024-01-$i%02d"
      val batch = (1 to 6).map(j => ("c1", date, i * 100 + j))
        .toDF("course_id", "event_date", "v")
        .repartition(3)
      if (i == 1) ParquetTable.createOrReplace(batch, path, Seq("course_id", "event_date"))
      else ParquetTable.refreshPartitions(batch, path, Seq("course_id", "event_date"))
    }
    def snapshot() = spark.read.parquet(path)
      .select(col("v"), col("event_date").cast("string"))
      .collect().map(r => (r.getInt(0), r.getString(1))).sorted.toSeq
    val beforeData = snapshot()
    val (before, after) = ParquetTable.compact(
      spark, path, Seq("course_id", "event_date"))
    assert(after < before, s"no compaction: $before -> $after")
    assert(snapshot() === beforeData) // same rows, fewer files
  }

  test("clustered compaction sorts each output file by the cluster key (data skipping)") {
    import spark.implicits._
    val path = s"${tmp()}/tc"
    // values deliberately scattered across input files so only the
    // clusterBy sort can make the outputs ordered
    (1 to 4).foreach { i =>
      val batch = (1 to 50).map(j => (s"c$i", (j * 7 + i) % 200, s"p$i$j"))
        .toDF("course_id", "k", "payload").repartition(3)
      if (i == 1) ParquetTable.createOrReplace(batch, path, Seq("course_id"))
      else ParquetTable.refreshPartitions(batch, path, Seq("course_id"))
    }
    ParquetTable.compact(spark, path, Seq("course_id"), clusterBy = Seq("k"))
    val files = FsUtil.parquetFiles(java.nio.file.Paths.get(path))
    assert(files.nonEmpty)
    files.foreach { f =>
      val ks = spark.read.parquet(f.toString).select("k")
        .collect().map(_.getInt(0)).toSeq
      assert(ks === ks.sorted, s"file $f not clustered by k")
    }
    // data survives byte-for-byte
    assert(spark.read.parquet(path).count() === 200)
  }

  test("M3: align-by-name schema evolution adds missing, drops extra, reorders") {
    import spark.implicits._
    val target = StructType(Seq(
      StructField("a", IntegerType), StructField("b", StringType),
      StructField("c", BooleanType)))
    val df = Seq((("x"), 1, 2.0)).toDF("b", "a", "extra")
    val aligned = ParquetTable.alignToSchema(df, target)
    assert(aligned.columns.toSeq === Seq("a", "b", "c"))
    val row = aligned.collect()(0)
    assert(row.getInt(0) === 1 && row.getString(1) === "x" && row.isNullAt(2))
  }

  test("M4/J10: merge updates matched, inserts new, keeps unmatched (dimensions.py:366-398)") {
    import spark.implicits._
    val path = s"${tmp()}/topo"
    val existing = Seq(
      ("erinhills", 1, "Front Nine", 1, 1, 27),
      ("erinhills", 2, null.asInstanceOf[String], 2, 28, 54),
      ("indiancreek", 1, "Course", 1, 1, 27))
      .toDF("facility_id", "unit_id", "unit_name", "nine_number", "section_start", "section_end")
    ParquetTable.createOrReplace(existing, path, Nil)

    val incoming = Seq(
      ("erinhills", 2, "Back Nine", 2, 28, 54),      // fills NULL name
      ("americanfalls", 1, "Course", 1, 1, 24))      // new facility
      .toDF("facility_id", "unit_id", "unit_name", "nine_number", "section_start", "section_end")

    ParquetTable.merge(spark, path, incoming,
      keys = Seq("facility_id", "unit_id", "nine_number", "section_start", "section_end"))

    val after = spark.read.parquet(path).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getString(2)).toMap
    assert(after.size === 4)
    assert(after(("erinhills", 2)) === "Back Nine")      // updated
    assert(after(("erinhills", 1)) === "Front Nine")     // untouched
    assert(after(("indiancreek", 1)) === "Course")       // kept (not in source)
    assert(after(("americanfalls", 1)) === "Course")     // inserted
  }

  test("M4: preserve_existing_unit_names merge variant only fills NULL/empty") {
    import spark.implicits._
    val path = s"${tmp()}/topo2"
    val existing = Seq(
      ("a", 1, "Curated Name"), ("a", 2, null.asInstanceOf[String]))
      .toDF("facility_id", "unit_id", "unit_name")
    ParquetTable.createOrReplace(existing, path, Nil)
    val incoming = Seq(("a", 1, "Inferred"), ("a", 2, "Inferred"))
      .toDF("facility_id", "unit_id", "unit_name")
    // dimensions.py:356-362: keep target name unless NULL/empty.
    ParquetTable.merge(spark, path, incoming,
      keys = Seq("facility_id", "unit_id"),
      updates = Map("unit_name" -> ((t, s) =>
        when((t.isNull || t === "") && s.isNotNull && s =!= "", s).otherwise(t))))
    val after = spark.read.parquet(path).collect()
      .map(r => r.getInt(1) -> r.getString(2)).toMap
    assert(after(1) === "Curated Name" && after(2) === "Inferred")
  }

  test("M8: registry tracks latest status, resume and missing sets") {
    import spark.implicits._
    val path = s"${tmp()}/log"
    IngestionRegistry.log(spark, path, "c1", "2024-01-01", "started", 0, "", 1)
    IngestionRegistry.log(spark, path, "c1", "2024-01-01", "failed", 0, "boom", 2)
    IngestionRegistry.log(spark, path, "c1", "2024-01-01", "success", 10, "", 3)
    IngestionRegistry.log(spark, path, "c1", "2024-01-02", "started", 0, "", 4)
    val latest = IngestionRegistry.latest(spark, path).collect()
      .map(r => r.getString(1) -> r.getString(2)).toMap
    assert(latest("2024-01-01") === "success" && latest("2024-01-02") === "started")
    val expected = Seq(("c1", "2024-01-01"), ("c1", "2024-01-02"), ("c2", "2024-01-01"))
      .toDF("course_id", "ingest_date")
    val missing = IngestionRegistry.missing(spark, path, expected).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(missing === Set(("c1", "2024-01-02"), ("c2", "2024-01-01")))
  }

  test("M9: topology inference — 18-hole continuous holes (dimensions.py:57-109)") {
    import spark.implicits._
    // holes 1..18, 3 sections each, 10 fixes per section
    val fixes = for {
      hole <- 1 to 18; sec <- (hole - 1) * 3 + 1 to hole * 3; _ <- 1 to 10
    } yield ("course18", hole, sec, false)
    val silver = fixes.toDF("course_id", "hole_number", "section_number", "is_location_padding")
    val topo = Topology.buildTopology(spark, silver, minFixes = 100).collect()
    assert(topo.length === 2)
    val byNine = topo.map(r => r.getInt(3) -> ((r.getInt(4), r.getInt(5), r.getString(2)))).toMap
    assert(byNine(1) === ((1, 27, "Front Nine")))
    assert(byNine(2) === ((28, 54, "Back Nine")))
  }

  test("M9: topology inference — hole reset detection via dominant-hole boundaries") {
    import spark.implicits._
    // 27-hole course: holes 1..9 repeat per nine, sections 1..81
    val fixes = for {
      nine <- 0 to 2; hole <- 1 to 9; s <- 1 to 3; _ <- 1 to 6
    } yield ("course27", hole, nine * 27 + (hole - 1) * 3 + s, false)
    val silver = fixes.toDF("course_id", "hole_number", "section_number", "is_location_padding")
    val topo = Topology.buildTopology(spark, silver, minFixes = 100).collect()
    assert(topo.length === 3)
    val ranges = topo.map(r => r.getInt(3) -> ((r.getInt(4), r.getInt(5)))).toMap
    assert(ranges === Map(1 -> ((1, 27)), 2 -> ((28, 54)), 3 -> ((55, 81))))
    assert(topo.map(_.getString(2)).toSet === Set("Front Nine", "Middle Nine", "Back Nine"))
  }

  test("M9: 9-hole course gets a single 'Course' unit") {
    import spark.implicits._
    val fixes = for { hole <- 1 to 9; s <- 1 to 3; _ <- 1 to 10 }
      yield ("course9", hole, (hole - 1) * 3 + s, false)
    val silver = fixes.toDF("course_id", "hole_number", "section_number", "is_location_padding")
    val topo = Topology.buildTopology(spark, silver, minFixes = 100).collect()
    assert(topo.length === 1)
    assert(topo(0).getString(2) === "Course")
    assert((topo(0).getInt(4), topo(0).getInt(5)) === ((1, 27)))
  }

  test("A1: sections-per-hole dimension (generate_sections_per_hole.py:53-61)") {
    import spark.implicits._
    val fixes = Seq(
      ("c", Some(1), 1, false), ("c", Some(1), 2, false), ("c", Some(1), 2, false),
      ("c", Some(2), 4, false), ("c", Some(2), 6, false),
      ("c", None: Option[Int], 7, false), ("c", Some(3), 9, true))
      .toDF("course_id", "hole_number", "section_number", "is_location_padding")
    val sph = Topology.sectionsPerHole(fixes).orderBy(col("hole_number")).collect()
    assert(sph.length === 2)
    assert((sph(0).getInt(1), sph(0).getInt(2), sph(0).getInt(3), sph(0).getLong(4)) ===
      ((1, 1, 2, 2L)))
    assert((sph(1).getInt(1), sph(1).getInt(2), sph(1).getInt(3), sph(1).getLong(4)) ===
      ((2, 4, 6, 2L)))
  }

  test("M1-M8 end-to-end: SilverJob is idempotent and observably logged") {
    val warehouse = tmp()
    val landing = getClass.getResource("/golf/json").toString.stripPrefix("file:")
    val cfg = SilverEtl.SilverConfig("americanfalls", "2024-01-20")
    val r1 = SilverJob.run(spark, landing, warehouse, cfg, "run1", 100)
    val r2 = SilverJob.run(spark, landing, warehouse, cfg, "run2", 200)
    assert(r1.validCount === r2.validCount)
    val table = spark.read.parquet(s"$warehouse/fact_telemetry_event")
    assert(table.count() === r1.validCount) // second run replaced, not duplicated
    val latest = IngestionRegistry.latest(spark, s"$warehouse/ingestion_log").collect()
    assert(latest.length === 1 && latest(0).getString(2) === "success")
    // M6 run summary written and readable
    val summary = spark.read.json(s"$warehouse/observability/run_id=run2")
    assert(summary.select("valid_count").collect()(0).getString(0) === r1.validCount.toString)
  }

  test("quarantined rows land under a run-scoped path (M5)") {
    val warehouse = tmp()
    val landing = getClass.getResource("/golf/json_invalid").toString.stripPrefix("file:")
    val cfg = SilverEtl.SilverConfig("indiancreek", "2024-03-02")
    val r = SilverJob.run(spark, landing, warehouse, cfg, "runq", 300)
    assert(r.invalidCount === 2)
    val q = spark.read.json(r.quarantinePath.get)
    assert(q.count() === 2)
  }
}
