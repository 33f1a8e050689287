package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.gold.GoldRunner
import graft.ingest.{BronzeIngest, SilverEtl, SilverJob, Topology}
import graft.tables.ParquetTable

/** The bronze → silver → gold build, driven through the engine's public
  * functions: per drop `BronzeIngest.upload` then `SilverJob.run`, then
  * `GoldRunner.buildAll` with every model materialised. */
object Lakehouse {

  val GoldThreads = 4

  final case class Built(warehouse: Path, silver: String, gold: String)

  /** Fix counts the engine reported: silver valid and quarantined rows
    * from `SilverJob.run`, and, in a traced run, the location slots the
    * explode yields before dedup. */
  final class IngestTally {
    var exploded, valid, quarantined = 0L
  }

  /** A table open: what a query pays before it can build its plan. */
  def open(spark: SparkSession, tr: Tracer, ops: Ops, path: String): DataFrame =
    tr.span("tables.open", "tables") {
      val t0 = System.nanoTime()
      val df = spark.read.parquet(path)
      ops.record("open", (System.nanoTime() - t0) / 1e9)
      df
    }

  /** Location slots the engine's explode yields for a landed drop, before
    * dedup: the first steps of `SilverEtl.transform`, counted. */
  def explodedSlots(spark: SparkSession, dir: String, cfg: SilverEtl.SilverConfig): Long = {
    val landing = SilverEtl.detectFileFormat(spark, dir) match {
      case "json" => SilverEtl.readJson(spark, s"$dir/*.json")
      case _ => SilverEtl.readCsvUnion(spark, dir)
    }
    val rounds = SilverEtl.withRoundFields(landing, cfg)
    val exploded =
      if (landing.columns.contains("locations")) SilverEtl.explodeJsonLocations(rounds)
      else SilverEtl.explodeCsvLocations(rounds,
        SilverEtl.discoverLocationIndices(landing.columns.toIndexedSeq))
    exploded.count()
  }

  /** Runs one full build into `root`. Per drop it records a `fresh`
    * sample (upload start → the drop's rows read back from silver) and a
    * `query` sample for the read-back; every gold model is one
    * `model.<name>` sample. Returns None when any step failed or read back
    * wrong. */
  def build(spark: SparkSession, bronze: BronzeGen.Bronze, root: Path,
      ops: Ops, tr: Tracer, tally: IngestTally): Option[Built] = {
    val landing = root.resolve("landing")
    val wh = root.resolve("warehouse")
    val silverPath = wh.resolve("fact_telemetry_event").toString
    var ok = true

    bronze.drops.zipWithIndex.foreach { case (d, i) =>
      val scheduled = System.nanoTime()
      val dropLanding = landing.resolve(s"${d.course}/${d.ingestDate}")
      val cfg = SilverEtl.SilverConfig(d.course, d.ingestDate)
      ops.timed("upload") {
        tr.span("ingest.upload", "ingest") {
          d.files.foreach { f =>
            // BronzeIngest.upload validates CSV headers only; JSON drops
            // are landed with the same byte copy, unvalidated.
            if (d.format == "csv") BronzeIngest.upload(f, dropLanding)
            else {
              Files.createDirectories(dropLanding)
              Files.copy(f, dropLanding.resolve(f.getFileName), StandardCopyOption.COPY_ATTRIBUTES)
            }
          }
        }
      }(_ => true)
      val exploded = if (!tr.on) None else {
        ops.timed("plan") {
          tr.span("ingest.plan", "ingest") {
            SilverEtl.run(spark, dropLanding.toString, cfg)
          }
        }(_ => true)
        Some(tr.mute(explodedSlots(spark, dropLanding.toString, cfg)))
      }
      val res = ops.timed("silver_job") {
        tr.span("ingest.silver_job", "ingest") {
          SilverJob.run(spark, dropLanding.toString, wh.toString, cfg, s"run$i", i * 10L)
        }
      }(r => r.validCount == d.validExpected && r.invalidCount == d.invalidExpected)
      ok &&= res.isDefined
      res.foreach { r =>
        tally.valid += r.validCount
        tally.quarantined += r.invalidCount
        // Exploded slots less silver's valid and quarantined rows are the
        // rows dedup dropped: exactly the planted duplicates.
        exploded.foreach { n =>
          tally.exploded += n
          ok &&= ops.check("bronze slots = valid + quarantined + dedup-dropped") {
            n - r.validCount - r.invalidCount == d.dupSlots
          }
        }
      }
      val readBack = Query.run(spark, tr, ops, "drill", "drop_rows", silverPath) {
        _.filter(col("course_id") === d.course && col("round_id").startsWith(d.roundPrefix))
          .agg(count(lit(1)))
      }(_.head.getLong(0) == d.validExpected)
      ok &&= readBack.isDefined
      if (readBack.isDefined) ops.record("fresh", (System.nanoTime() - scheduled) / 1e9)
      System.err.println(f"[perfbench] drop ${d.course}/${d.ingestDate} ${d.format} " +
        f"${d.slotsIn} slots in ${(System.nanoTime() - scheduled) / 1e9}%.2f s")
    }

    val goldRoot = wh.resolve("gold")
    tr.span("gold.build", "gold") {
      val silver = open(spark, tr, ops, silverPath)
      val topology = tr.span("gold.topology", "gold") {
        Topology.buildTopology(spark, silver).cache()
      }
      val built = tr.span("gold.construct", "gold") { GoldRunner.buildAll(silver, topology) }
      // Models materialise on GoldThreads threads, as a dbt run with that
      // many threads would; each model is one `model.<name>` sample.
      val parent = tr.current
      val pool = java.util.concurrent.Executors.newFixedThreadPool(GoldThreads)
      try {
        val done = built.toSeq.map { case (name, df) =>
          pool.submit(new java.util.concurrent.Callable[Boolean] {
            def call(): Boolean = ops.timed(s"model.$name") {
              tr.span(s"gold.model.$name", "gold", under = parent) {
                ParquetTable.createOrReplace(df, goldRoot.resolve(name).toString, Nil)
              }
            }(_ => true).isDefined
          })
        }
        ok &&= done.map(_.get()).forall(identity)
      } finally {
        pool.shutdown()
        built.get("fact_rounds").foreach(_.unpersist())
        silver.unpersist()
        topology.unpersist()
      }
    }

    // fact_rounds has one row per distinct silver round, and that is every
    // round the generator wrote.
    val frCount = Query.run(spark, tr, ops, "gold", "fact_rounds_rows",
        goldRoot.resolve("fact_rounds").toString) {
      _.agg(count(lit(1)))
    }(_.head.getLong(0) == bronze.rounds)
    val silverRounds = Query.run(spark, tr, ops, "global", "silver_rounds", silverPath) {
      _.agg(countDistinct(col("round_id")))
    }(_.head.getLong(0) == bronze.rounds)
    ok &&= frCount.isDefined && silverRounds.isDefined

    if (ok) Some(Built(wh, silverPath, goldRoot.toString)) else None
  }
}
