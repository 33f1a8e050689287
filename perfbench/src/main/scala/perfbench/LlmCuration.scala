package perfbench

import java.nio.file.Path

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.{Curation, Dedup, Similarity}

/** The curation pipeline over a seeded corpus: exact dedup, MinHash near
  * dups, quality and blocklist rules, decontamination, split assignment,
  * then an IVF index probed with seeded queries. The timed phase is one
  * cold pass of the whole pipeline, as a scheduled curation batch runs in
  * a fresh process. */
final class LlmCuration extends Workload {
  val Docs = 1500
  val TopK = 10
  val RecallFloor = 0.9

  private var corpus: DocGen.Corpus = _
  private var docs: DataFrame = _
  private var eval: DataFrame = _
  private var storedRatio = 0.0
  private var pairs = (0L, 0L)
  private var recall = 0.0

  def generate(ctx: Ctx): Unit = {
    corpus = DocGen.generate(ctx.args.seed, Docs, ctx.dir("corpus"))
  }

  private val docSchema = "doc_id BIGINT, text STRING, emb ARRAY<FLOAT>"

  private def load(ctx: Ctx, c: DocGen.Corpus): (DataFrame, DataFrame) = {
    val d = ctx.spark.read.schema(docSchema).json(c.docs.toString).cache()
    val e = ctx.spark.read.schema("doc_id BIGINT, text STRING").json(c.eval.toString).cache()
    d.count(); e.count()
    (d, e)
  }

  /** Times one stage; its output is materialised so the stage owns its
    * work, and `expect` is the row count the planted corpus implies. */
  private def stage(ctx: Ctx, ops: Ops, name: String, expect: Long)(f: => DataFrame): Option[DataFrame] =
    ops.timed(s"stage.$name") {
      ctx.tr.span(s"llm.$name", "llm") {
        val out = f.persist()
        (out, out.count())
      }
    }(_._2 == expect).map(_._1)

  /** One pipeline pass; returns false when any stage failed. */
  private def pass(ctx: Ctx, ops: Ops, untraced: Ops, c: DocGen.Corpus, d: DataFrame,
      e: DataFrame): Boolean = {
    val spark = ctx.spark
    val out = ctx.dir("llm")
    val t0 = System.nanoTime()
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: Option[DataFrame]) = { df.foreach(held += _); df }
    try {
      val n1 = c.n - c.exactCopies
      val exact = keep(stage(ctx, ops, "exact_dedup", n1) {
        Dedup.dedupExact(d, "doc_id", "text")
      }).getOrElse(return false)

      val n2 = n1 - c.nearVariants
      val near = keep(stage(ctx, ops, "minhash", n2) {
        val cands = Dedup.minHashCandidates(exact, "doc_id", "text").persist()
        held += cands
        val verified = Dedup.verifyJaccard(cands, exact, "doc_id", "text", 2, 0.7).persist()
        held += verified
        val found = verified.select("id_a", "id_b").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toSet
        pairs = (cands.count(), found.size.toLong)
        System.err.println(s"[perfbench] near-dup pairs: ${pairs._2} verified of ${pairs._1}; " +
          s"planted ${c.nearPairs.size}, found ${c.nearPairs.count(found.contains)}; " +
          s"removing ${found.map(_._2).size} (planted variants ${c.nearVariants})")
        recall = c.nearPairs.count(found.contains).toDouble / math.max(1, c.nearPairs.size)
        exact.join(verified.select(col("id_b").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
      }).getOrElse(return false)
      ops.check("planted near-dup recall") { recall >= RecallFloor }

      val n3 = n2 - c.lowQuality - c.blocked
      val quality = keep(stage(ctx, ops, "quality", n3) {
        Curation.blocklistFilter(near.filter(Curation.gopherKeep(col("text"))), "text",
          c.blockedDomains)
      }).getOrElse(return false)

      val n4 = n3 - c.contaminated
      val clean = keep(stage(ctx, ops, "decontaminate", n4) {
        Curation.decontaminate(quality, e, "doc_id", "text")
      }).getOrElse(return false)

      val curated = out.resolve("curated").toString
      val split = keep(stage(ctx, ops, "split", n4) {
        Curation.withSplit(clean, "doc_id").write.parquet(curated)
        spark.read.parquet(curated)
      }).getOrElse(return false)
      ops.check("split labels cover every document") {
        split.groupBy("split").count().collect().map(_.getLong(1)).sum == n4
      }
      ops.record("fresh", (System.nanoTime() - t0) / 1e9)

      val ivf = ivfStage(ctx, ops, untraced, c, split, out.resolve("ivf"))
      storedRatio = Fs.bytes(Fs.dataFiles(out)).toDouble / c.bytes
      ivf
    } finally held.foreach(_.unpersist())
  }

  /** Trains the quantizer, materialises the index, and probes it with the
    * seeded queries; each probe is one `query` sample checked against a
    * brute-force top-k over the curated ids. The first query is probed
    * once more before them, checked but not timed: the first probe pays
    * the probe plan's code generation, and the samples are warm probes. */
  private def ivfStage(ctx: Ctx, ops: Ops, untraced: Ops, c: DocGen.Corpus, curated: DataFrame,
      path: Path): Boolean = {
    val ids = curated.select("doc_id").collect().map(_.getLong(0))
    val t0 = System.nanoTime()
    val ok = ctx.tr.span("llm.ivf_topk", "llm") {
      val centroids = Similarity.trainIvfCentroids(curated, "emb", 16)
      Similarity.materializeIvf(curated, "doc_id", "emb", centroids, path.toString)
      def probe(q: Array[Float]): Array[Long] =
        Similarity.ivfTopKMaterialized(ctx.spark, path.toString, centroids, q, TopK, 6)
          .collect().map(_.getLong(0))
      def good(q: Array[Float], got: Array[Long]): Boolean = {
        val exact = ids.sortBy(id => dist(c.vectors(id), q)).take(TopK).toSet
        got.count(exact.contains).toDouble / TopK >= RecallFloor
      }
      ops.check("warm-up probe") { good(c.queries.head, probe(c.queries.head)) } &&
        c.queries.zipWithIndex.map { case (q, i) =>
          ctx.tr.alternate(i, ops, untraced) { into =>
            into.timed("query") {
              ctx.tr.span("llm.ivf_probe", "llm")(probe(q))
            }(good(q, _)).isDefined
          }
        }.forall(identity)
    }
    ops.record("stage.ivf_topk", (System.nanoTime() - t0) / 1e9)
    ok
  }

  private def dist(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
    s
  }

  /** Loading and caching the corpus is the workload's own set-up. */
  def setupReps: Int = 3
  def prepare(ctx: Ctx, ops: Ops, last: Boolean): Unit = {
    val (d, e) = load(ctx, corpus)
    if (last) { docs = d; eval = e } else { d.unpersist(); e.unpersist() }
  }

  /** One cold pass, whatever `seconds` is: a pass takes longer than a run's
    * usual `seconds`, and a second, warm pass would measure something
    * else. */
  def measure(ctx: Ctx, ops: Ops, untraced: Ops, seconds: Double): Unit =
    ops.timed("pipeline")(pass(ctx, ops, untraced, corpus, docs, eval))(identity)

  def primary: String = "query"

  def endToEnd(ops: Ops): Seq[(String, Double)] =
    Seq("rows_per_s" -> corpus.n / Stats.median(ops.values("pipeline")),
      "stored_bytes_per_input_byte" -> storedRatio) ++
      Report.latency(ops, ops.values("fresh"), ops.values("query").sum)

  def layers(ctx: Ctx, ops: Ops): Seq[(String, Double)] =
    Spec.LlmStages.map(s => s"llm.${s}_s" -> Layers.med(ops, s"stage.$s")) ++ Seq(
      "llm.candidate_pairs" -> pairs._1.toDouble,
      "llm.verified_pairs" -> pairs._2.toDouble,
      "llm.planted_recall" -> recall)
}
