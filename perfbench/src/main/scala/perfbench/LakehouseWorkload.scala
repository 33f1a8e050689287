package perfbench

import java.nio.file.Path
import java.util.concurrent.CyclicBarrier

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}

import graft.analytics.{DashboardQueries => DQ, DashboardQueries2 => DQ2}

/** Metric reporting shared by the workloads. */
object Report {
  /** Ingest, table-write and gold layers of a lakehouse build. */
  def ingestLayers(ctx: Ctx, ops: Ops, tally: Lakehouse.IngestTally,
      warehouse: Option[Path]): Seq[(String, Double)] = {
    val tr = ctx.tr
    val jobsPerDrop = tr.allSpans.filter(_.name == "ingest.silver_job")
      .map(s => tr.spanCounters(s.id).jobs.size.toDouble)
    val files = warehouse.map(Fs.dataFiles).getOrElse(Nil)
    Seq(
      "ingest.upload_s" -> Layers.med(ops, "upload"),
      "ingest.plan_s" -> Layers.med(ops, "plan"),
      "ingest.silver_job_s" -> Layers.med(ops, "silver_job"),
      "ingest.jobs_per_drop" -> (if (jobsPerDrop.isEmpty) 0.0 else Stats.median(jobsPerDrop)),
      "ingest.fixes_in" -> tally.exploded.toDouble,
      "ingest.fixes_valid" -> tally.valid.toDouble,
      "ingest.fixes_quarantined" -> tally.quarantined.toDouble,
      "ingest.fixes_dedup_dropped" -> (tally.exploded - tally.valid - tally.quarantined).toDouble,
      "tables.files_written" -> files.size.toDouble,
      "tables.bytes_per_file" -> (if (files.isEmpty) 0.0 else Fs.bytes(files).toDouble / files.size),
      "gold.build_s" -> tr.allSpans.filter(_.name == "gold.build").map(_.durS).sum /
        math.max(1, tr.allSpans.count(_.name == "gold.build"))) ++
      Spec.GoldModels.map(m => s"gold.model_s.$m" -> Layers.med(ops, s"model.$m"))
  }

  /** Query-side layers: tables.open_s, tables.write_s and analytics. */
  def queryLayers(ctx: Ctx, ops: Ops): Seq[(String, Double)] = {
    val returned = ops.values("rows_returned").sum
    Seq(
      "tables.open_s" -> Layers.med(ops, "open"),
      "tables.write_s" -> ctx.tr.tableWriteS,
      "analytics.rows_read_per_row_returned" ->
        (if (returned == 0) 0.0 else ops.values("rows_read").sum / returned),
      "analytics.files_read_per_query" -> Layers.med(ops, "files_read")) ++
      Seq("drill", "global", "gold").flatMap(k => Seq(
        s"analytics.construct_ms.$k" -> Layers.med(ops, s"construct.$k", 1000),
        s"analytics.exec_ms.$k" -> Layers.med(ops, s"exec.$k", 1000)))
  }

  /** Query latency and rate from the `query` samples of `ops`, and
    * freshness from `fresh`. */
  def latency(ops: Ops, fresh: Seq[Double], wallS: Double): Seq[(String, Double)] = {
    val q = ops.values("query")
    Seq(
      "query_p50_ms" -> Stats.median(q) * 1000,
      "query_p95_ms" -> Stats.pct(q, 95) * 1000,
      "queries_per_s" -> q.size / wallS,
      "fresh_p50_s" -> Stats.median(fresh),
      "fresh_p95_s" -> Stats.pct(fresh, 95))
  }
}

/** The dashboard's query catalogue: one query for each function of the
  * dashboard library (`DashboardQueries`, `DashboardQueries2`) that reads
  * the silver fact table alone, in source order, and one read of each gold
  * model, in build order. The library holds the reference dashboard's
  * query families, and those read both fix-grain and gold-grain tables.
  * Nothing records how often each is issued, so each counts once.
  *
  * All 61 cost 30–50 s for the single-client reference pass and 17–36 s
  * for a two-client pass on a 4-core VM, more than a run can hold, so a
  * run serves every `Stride`-th query of each kind: the same share of
  * each. */
object Dashboard {
  final case class Q(kind: String, name: String, table: String, build: DataFrame => DataFrame)

  val Stride = 4

  def served(b: Lakehouse.Built, c: String, round: String, hole: Int): IndexedSeq[Q] = {
    def drill(name: String)(f: DataFrame => DataFrame) = Q("drill", s"$name/$c", b.silver, f)
    def global(name: String)(f: DataFrame => DataFrame) = Q("global", name, b.silver, f)
    val drills = IndexedSeq(
      drill("roundSample")(DQ.roundSample(_, c, Some(round))),
      drill("roundMapPoints")(DQ.roundMapPoints(_, c, round)),
      drill("roundProgression")(DQ.roundProgression(_, c, round)),
      drill("roundProgressionSummary")(DQ.roundProgressionSummary(_, c)),
      drill("holeDurations")(DQ.holeDurations(_, c)),
      drill("paceByHole")(DQ.paceByHole(_, Some(c))),
      drill("paceBySection")(DQ.paceBySection(_, Some(c))),
      drill("nineLoopPaceComparison")(DQ.nineLoopPaceComparison(_, c)),
      drill("nineCombinations")(DQ.nineCombinations(_, c)),
      drill("roundDurationForCourse")(DQ2.roundDurationForCourse(_, c)),
      drill("courseTopologyMapPoints")(DQ2.courseTopologyMapPoints(_, c)),
      drill("roundValidation")(DQ2.roundValidation(_, Some(c))),
      drill("paceComparisonForHole")(DQ2.paceComparisonForHole(_, c, hole)))
    val globals = IndexedSeq(
      global("overviewStats")(DQ.overviewStats),
      global("courseSummary")(DQ.courseSummary),
      global("dataQualityScore")(DQ.dataQualityScore),
      global("columnCompleteness")(DQ2.columnCompleteness),
      global("columnCompletenessExtended")(DQ2.columnCompletenessExtended),
      global("paddingAnalysis")(DQ2.paddingAnalysis),
      global("sectionsPerHole")(DQ2.sectionsPerHole),
      global("roundTypes")(DQ2.roundTypes),
      global("roundDuration")(DQ2.roundDuration),
      global("roundDurationDetails")(DQ2.roundDurationDetails(_, None)),
      // Any finite limit would cut through ties on round_date and make the
      // listing nondeterministic, so the whole listing is read.
      global("roundList")(DQ2.roundList(_, Int.MaxValue)),
      global("deviceStats")(DQ2.deviceStats),
      global("courseCentroids")(DQ2.courseCentroids),
      global("roundLengthDistribution")(DQ2.roundLengthDistribution),
      global("roundValidationSummary")(DQ2.roundValidationSummary),
      global("bottleneckSummary")(DQ2.bottleneckSummary),
      global("globalOverview")(DQ2.globalOverview),
      global("globalPaceComparison")(DQ2.globalPaceComparison),
      global("globalRoundDurationComparison")(DQ2.globalRoundDurationComparison),
      global("globalWeekdayHeatmap")(DQ2.globalWeekdayHeatmap),
      global("globalHourlyDistribution")(DQ2.globalHourlyDistribution),
      global("globalDataQualityRanking")(DQ2.globalDataQualityRanking),
      global("globalDeviceFleet")(DQ2.globalDeviceFleet),
      global("globalMonthlyTrend")(DQ2.globalMonthlyTrend),
      global("globalCompletionRates")(DQ2.globalCompletionRates),
      global("infrastructureStats")(DQ2.infrastructureStats),
      global("eventsPerCourse")(DQ2.eventsPerCourse),
      global("eventsByMonth")(DQ2.eventsByMonth))
    val gold = Spec.GoldModels.map(m => Q("gold", m, s"${b.gold}/$m", identity))
    // The kinds are interleaved evenly, so each client's share of a pass
    // has the same mix.
    Seq(drills, globals, gold).map(_.zipWithIndex.filter(_._2 % Stride == 0).map(_._1))
      .flatMap(qs => qs.zipWithIndex.map { case (q, i) => ((i + 0.5) / qs.size, q) })
      .sortBy(_._1).map(_._2).toIndexedSeq
  }
}

/** The medallion path end to end in one process. The timed phase first
  * builds the lakehouse from seeded bronze, as a scheduled batch does in
  * a fresh process: every drop through `BronzeIngest.upload` and
  * `SilverJob.run`, then all 20 gold models. It then serves the dashboard
  * queries over what it built: a single-client reference pass fixes each
  * query's result hash, then two clients split one pass (two when
  * tracing) between them in lock-step, each result checked against its
  * reference. The work is fixed, so `seconds` does not change it. */
final class LakehouseWorkload extends Workload {
  val shape = BronzeGen.Shape(courses = 2, dropsPerCourse = 1, roundsPerDrop = 60, csvMaxFixes = 60)
  val Clients = 2

  private var bronze: BronzeGen.Bronze = _
  private var built: Option[Lakehouse.Built] = None
  private var buildS = 0.0
  private var storedRatio = 0.0
  private var dashWallS = 0.0
  private val tally = new Lakehouse.IngestTally
  private val buildOps = new Ops
  private var queries: IndexedSeq[Dashboard.Q] = IndexedSeq.empty
  private var expected: Map[String, String] = Map.empty

  def generate(ctx: Ctx): Unit =
    bronze = BronzeGen.generate(ctx.args.seed, shape, ctx.dir("bronze"))

  /** Set-up is the session start alone: the bronze is generated before it,
    * and the build is the timed batch. */
  def setupReps: Int = 1
  def prepare(ctx: Ctx, ops: Ops, last: Boolean): Unit = ()

  /** The catalogue, its drill-downs on one seeded course, round and hole. */
  private def mix(b: Lakehouse.Built, seed: Long): IndexedSeq[Dashboard.Q] = {
    val r = new Random(seed)
    val drop = bronze.drops(r.nextInt(bronze.drops.size))
    Dashboard.served(b, drop.course, drop.roundId(r.nextInt(drop.rounds)), 1 + r.nextInt(18))
  }

  private def issue(ctx: Ctx, ops: Ops, q: Dashboard.Q): Option[Array[Row]] =
    Query.run(ctx.spark, ctx.tr, ops, q.kind, q.name, q.table)(q.build)(rows =>
      expected.get(q.name).forall(_ == ResultHash.of(rows)))

  def measure(ctx: Ctx, ops: Ops, untraced: Ops, seconds: Double): Unit = {
    val t0 = System.nanoTime()
    built = Lakehouse.build(ctx.spark, bronze, ctx.dir("lakehouse"), buildOps, ctx.tr, tally)
    buildS = (System.nanoTime() - t0) / 1e9
    ops.absorb(buildOps)
    built match {
      case None => ops.fail("lakehouse build")
      case Some(b) =>
        storedRatio = Fs.bytes(Fs.dataFiles(b.warehouse)).toDouble / bronze.bytes
        queries = mix(b, ctx.args.seed)
        val refOps = new Ops
        val t1 = System.nanoTime()
        expected = ctx.tr.mute(queries.flatMap(q =>
          issue(ctx, refOps, q).map(rows => q.name -> ResultHash.of(rows))).toMap)
        ops.absorb(refOps)
        System.err.println(f"[perfbench] reference pass: ${queries.size} queries in " +
          f"${(System.nanoTime() - t1) / 1e9}%.2f s")
        dashWallS = serve(ctx, ops, untraced)
    }
  }

  /** Two clients split each pass in lock-step: at step k client c issues
    * query 2k + c, and both wait for the other before the next step, so
    * every run pairs the same queries. Free-running clients paired them by
    * chance, and a run's median latency swung with the pairing. In a traced
    * run, query i of pass p is traced when i + p is even: over two passes
    * each query has one traced and one untraced sample. Returns the wall
    * time. */
  private def serve(ctx: Ctx, ops: Ops, untraced: Ops): Double = {
    val passes = if (ctx.args.trace) 2 else 1
    val steps = (queries.size + Clients - 1) / Clients
    val step = new CyclicBarrier(Clients)
    val t1 = System.nanoTime()
    val threads = (0 until Clients).map { c =>
      val t = new Thread(() => {
        for (p <- 0 until passes; k <- 0 until steps) {
          val i = k * Clients + c
          if (i < queries.size)
            ctx.tr.alternate(i + p, ops, untraced)(issue(ctx, _, queries(i)))
          step.await()
        }
      }, s"dashboard-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    (System.nanoTime() - t1) / 1e9
  }

  def primary: String = "query"

  def endToEnd(ops: Ops): Seq[(String, Double)] =
    Seq("rows_per_s" -> bronze.slotsIn / buildS,
      "stored_bytes_per_input_byte" -> storedRatio) ++
      Report.latency(ops, buildOps.values("fresh"), dashWallS)

  def layers(ctx: Ctx, ops: Ops): Seq[(String, Double)] =
    Report.ingestLayers(ctx, buildOps, tally, built.map(_.warehouse)) ++
      Report.queryLayers(ctx, ops)
}
