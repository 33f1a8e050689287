package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** The metric names and units BENCHMARK.json declares, in its order. */
object Spec {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "rows_per_s" -> "1/s", "query_p50_ms" -> "ms",
    "query_p95_ms" -> "ms", "queries_per_s" -> "1/s", "fresh_p50_s" -> "s",
    "fresh_p95_s" -> "s", "stored_bytes_per_input_byte" -> "ratio",
    "live_heap_mb" -> "MB")

  val GoldModels: Seq[String] = Seq(
    "fact_rounds", "fact_round_hole_performance", "pace_summary_by_round",
    "signal_quality_rounds", "device_health_errors", "data_quality_overview",
    "critical_column_gaps", "course_configuration_analysis", "course_rounds_by_month",
    "course_rounds_by_weekday", "course_start_hole_distribution", "dim_course",
    "telemetry_completeness_summary", "gold_coverage_audit", "fact_telemetry_fix",
    "dim_round", "dim_device", "global_overview", "global_course_summary",
    "global_time_patterns")

  val LlmStages: Seq[String] = Seq(
    "exact_dedup", "minhash", "quality", "decontaminate", "split", "ivf_topk")

  val Layers: Seq[String] = Seq("ingest", "tables", "gold", "analytics", "streaming", "llm")

  val perLayer: Seq[(String, String)] =
    Seq("ingest.upload_s" -> "s", "ingest.plan_s" -> "s", "ingest.silver_job_s" -> "s",
      "ingest.jobs_per_drop" -> "count", "ingest.fixes_in" -> "count",
      "ingest.fixes_valid" -> "count", "ingest.fixes_quarantined" -> "count",
      "ingest.fixes_dedup_dropped" -> "count",
      "tables.write_s" -> "s", "tables.files_written" -> "count",
      "tables.bytes_per_file" -> "bytes", "tables.open_s" -> "s",
      "gold.build_s" -> "s") ++
      GoldModels.map(m => s"gold.model_s.$m" -> "s") ++
      Seq("drill", "global", "gold").flatMap(k =>
        Seq(s"analytics.construct_ms.$k" -> "ms", s"analytics.exec_ms.$k" -> "ms")) ++
      Seq("analytics.rows_read_per_row_returned" -> "ratio",
        "analytics.files_read_per_query" -> "count",
        "streaming.batch_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
        "streaming.rows_per_batch" -> "count", "streaming.state_rows" -> "count",
        "streaming.backlog_files" -> "count", "loadgen.late_ms" -> "ms") ++
      LlmStages.map(s => s"llm.${s}_s" -> "s") ++
      Seq("llm.candidate_pairs" -> "count", "llm.verified_pairs" -> "count",
        "llm.planted_recall" -> "ratio") ++
      Layers.flatMap(l => new Counters().metrics(l).map(m => m._1 -> m._3)) ++
      Seq("trace.overhead_pct" -> "%", "trace.spans" -> "count",
        "run.failed_ratio" -> "ratio")
}

object Layers {
  def counters(tr: Tracer): Seq[(String, Double)] =
    Spec.Layers.flatMap(l => tr.layerCounters(l).metrics(l).map(m => m._1 -> m._2))

  /** Median of a sample key, or 0 when the workload has none. */
  def med(ops: Ops, key: String, scale: Double = 1.0): Double = {
    val v = ops.values(key)
    if (v.isEmpty) 0.0 else Stats.median(v) * scale
  }
}

/** Minimal JSON writer for the result line and the record. */
object Json {
  final case class Raw(s: String)
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case null => "null"
    case other => str(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** The run record: environment stamp, sample summaries, spans and
  * per-span engine counters. Written only when `--record` names a file;
  * `compare.py` refuses to compare records whose stamps differ. */
object Record {
  def stamp(ctx: Ctx): Map[String, Any] = {
    val conf = ctx.spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" } - "spark.sql.warehouse.dir" -
      "spark.sql.streaming.checkpointLocation"
    Map(
      "git_sha" -> sys.props.getOrElse("perfbench.git_sha", "unknown"),
      "source_sha" -> sys.props.getOrElse("perfbench.source_sha", "unknown"),
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_version" -> ctx.spark.version,
      "java_version" -> System.getProperty("java.version"),
      "jvm_flags" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
        .asScala.filter(_.startsWith("-X")).toSeq,
      "confs" -> conf.toSeq.sortBy(_._1).toMap,
      "workload" -> ctx.args.workload,
      "seconds" -> ctx.args.seconds,
      "seed" -> ctx.args.seed,
      "trace" -> ctx.args.trace)
  }

  private def summary(ops: Ops, keys: Seq[String]): Map[String, Any] =
    keys.flatMap { k =>
      val v = ops.values(k)
      if (v.isEmpty) None else {
        val p = Stats.reportablePct(v.size)
        Some(k -> Map("n" -> v.size, "p50" -> Stats.median(v),
          "reportable_pct" -> p, "at_reportable_pct" -> Stats.pct(v, p), "values" -> v))
      }
    }.toMap

  def write(ctx: Ctx, stamp: Map[String, Any], ops: Ops, untraced: Ops,
      metrics: Seq[(String, Double, String)], setup: Map[String, Double]): Unit = {
    val keys = ops.keys ++ untraced.keys
    val samples = summary(ops, keys.distinct)
    System.err.println("[perfbench] samples " + Json.value(samples.map { case (k, v) =>
      k -> v.asInstanceOf[Map[String, Any]].filter(kv => kv._1 == "n" || kv._1 == "reportable_pct") }))
    ctx.args.record.foreach { path =>
      val tr = ctx.tr
      val self = tr.selfTimes
      val spans = tr.allSpans.map { s =>
        val c = tr.spanCounters(s.id)
        Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
          "run_id" -> s.runId, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
          "self_s" -> self.getOrElse(s.id, 0.0),
          "counters" -> c.metrics("c").map(m => m._1.stripPrefix("c.") -> m._2).toMap)
      }
      val rec = Map(
        "stamp" -> stamp,
        "setup" -> setup,
        "metrics" -> metrics.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap,
        "samples" -> samples,
        "untraced_samples" -> summary(untraced, untraced.keys),
        "failures" -> (ops.failureLog ++ untraced.failureLog),
        "spans" -> spans)
      Files.write(path, (Json.value(rec) + "\n").getBytes(UTF_8))
    }
  }
}
