package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** Shared state of one benchmark run. */
final class Ctx(val spark: SparkSession, val tr: Tracer, val args: Args) {
  def dir(name: String): java.nio.file.Path = {
    val p = args.tmp.resolve(name); Files.createDirectories(p); p
  }
}

/** A workload: inputs, its own set-up, the timed phase, and the metrics
  * it reports. */
trait Workload {
  /** Generates the seeded inputs. Not part of set-up time. */
  def generate(ctx: Ctx): Unit
  /** One repetition of the workload's own set-up; the last one stays in
    * place for the timed phase. */
  def prepare(ctx: Ctx, ops: Ops, last: Boolean): Unit
  def setupReps: Int
  /** Warm-up of a long-running service once it is set up. Batch
    * workloads have none: a scheduled batch runs in a fresh process. */
  def warm(ctx: Ctx, ops: Ops): Unit = ()
  /** The timed phase. A traced run sends the samples of its muted
    * primary operations to `untraced` (see [[Tracer.alternate]]). */
  def measure(ctx: Ctx, ops: Ops, untraced: Ops, seconds: Double): Unit
  /** The sample key whose median the tracing overhead compares. */
  def primary: String
  /** End-to-end metrics other than setup_s and live_heap_mb. */
  def endToEnd(ops: Ops): Seq[(String, Double)]
  /** This workload's per-layer values; absent ones print as 0. */
  def layers(ctx: Ctx, ops: Ops): Seq[(String, Double)]
  def close(ctx: Ctx): Unit = ()
}

object Main {

  val Cores = 4

  def session(args: Args): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", args.tmp.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.tmp.resolve("spark-warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", args.tmp.resolve("checkpoints").toString)
    b.getOrCreate()
  }

  def workload(name: String): Workload = name match {
    case "lakehouse" => new LakehouseWorkload
    case "live_ingest" => new LiveIngest
    case "llm_curation" => new LlmCuration
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val w = workload(args.workload)
    val t0 = System.nanoTime()
    val spark = session(args)
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val tr = new Tracer(spark.sparkContext, args.trace, runId)
    val ctx = new Ctx(spark, tr, args)
    val ops = new Ops

    w.generate(ctx)
    val reps = (1 to w.setupReps).map { i =>
      val t = System.nanoTime()
      w.prepare(ctx, ops, last = i == w.setupReps)
      (System.nanoTime() - t) / 1e9
    }
    val tw = System.nanoTime()
    w.warm(ctx, ops)
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = sessionS + warmS + Stats.median(reps)

    val untraced = new Ops
    tr.enabled = args.trace
    try w.measure(ctx, ops, untraced, args.seconds.toDouble)
    catch { case e: Throwable => ops.fail(s"timed phase: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    finally tr.enabled = false
    // Spark's cleaner releases shuffle and broadcast state only after a GC
    // has found it unreachable, so collect until the reading settles.
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    val rt = Runtime.getRuntime
    val heapMb = (rt.totalMemory - rt.freeMemory) / 1048576.0
    org.apache.spark.ListenerDrain(spark.sparkContext)

    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) {
        val units = Spec.endToEnd.toMap
        (Seq("setup_s" -> setupS, "live_heap_mb" -> heapMb) ++ w.endToEnd(ops))
          .map { case (k, v) => (k, v, units(k)) }
      } else {
        val primaryU = untraced.values(w.primary)
        val primaryT = ops.values(w.primary)
        val overhead =
          if (primaryU.isEmpty || primaryT.isEmpty) 0.0
          else (Stats.median(primaryT) / Stats.median(primaryU) - 1) * 100
        val got = (w.layers(ctx, ops) ++ Layers.counters(tr) ++ Seq(
          "trace.overhead_pct" -> overhead,
          "trace.spans" -> tr.allSpans.size.toDouble,
          "run.failed_ratio" ->
            (ops.failed + untraced.failed).toDouble / math.max(1L, ops.attempted + untraced.attempted)
        )).toMap
        Spec.perLayer.map { case (k, u) => (k, got.getOrElse(k, 0.0), u) }
      }
    val attempted = ops.attempted + untraced.attempted
    val failed = ops.failed + untraced.failed
    val correct = failed == 0 && metrics.forall(m => !m._2.isNaN && !m._2.isInfinite)

    Record.write(ctx, Record.stamp(ctx), ops, untraced, metrics,
      Map("session_s" -> sessionS, "warm_s" -> warmS, "prepare_median_s" -> Stats.median(reps)))
    try w.close(ctx) finally spark.stop()
    println(Json.obj(Seq(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.Raw(Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u))) })))))
    System.out.flush()
    if (!correct) sys.exit(1)
  }
}
