package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.streaming.{ContinuousRefresh, StreamingTelemetry}

/** Open loop: a generator lands fix files at a fixed rate, a sync tick
  * at a time; they flow through `readFixStream` → `dedupStream` →
  * `ContinuousRefresh.start` into a table partitioned by (course, drop),
  * while one closed-loop client queries that table. Each file is one
  * complete partition. */
final class LiveIngest extends Workload {
  val FilesPerTick = 16
  val TickSeconds = 2.0
  val WarmSeconds = 10.0
  val WarmClients = 4
  val DrainTimeoutS = 60.0

  private final class Pending(val file: StreamGen.FixFile, val scheduledNs: Long,
      val partition: Path)

  /** One stream: its input directory, table and bookkeeping. */
  private final class Live(val root: Path) {
    val in: Path = root.resolve("in")
    val staging: Path = root.resolve("staging")
    val table: Path = root.resolve("table")
    val checkpoint: Path = root.resolve("checkpoint")
    Seq(in, staging).foreach(Files.createDirectories(_))
    var query: StreamingQuery = _
    val pending = new ConcurrentHashMap[String, Pending]()
    val landedRows = new AtomicLong
    val writtenRows = new AtomicLong
    val wireBytes = new AtomicLong
    val perCourse = new ConcurrentHashMap[String, AtomicLong]()
    /** The file whose partition was seen committed last. */
    val latest = new java.util.concurrent.atomic.AtomicReference[Pending]()
  }

  private var live: Live = _
  private val nextFile = new AtomicLong
  private val progress = mutable.ArrayBuffer.empty[LiveIngest.Batch]
  @volatile private var filesWritten = 0L
  @volatile private var filesLanded = 0L
  @volatile private var listening = false
  private var storedRatio = 0.0
  private var tableFiles = Seq.empty[Path]
  private var landedPerS = 0.0
  @volatile private var clientS = 0.0

  def generate(ctx: Ctx): Unit = ()

  private def start(ctx: Ctx, root: Path): Live = {
    val l = new Live(root)
    val fixes = StreamingTelemetry.readFixStream(ctx.spark, l.in.toString)
    val keyed = StreamingTelemetry.dedupStream(fixes)
      .withColumn("drop_id", regexp_extract(col("roundId"), "^(s\\d+)-", 1))
    l.query = ContinuousRefresh.start(keyed, l.table.toString, Seq("courseId", "drop_id"),
      l.checkpoint.toString)
    l
  }

  /** Lands one tick's files at its scheduled time: all are written
    * aside first, then moved in one after another. */
  private def land(l: Live, seed: Long, files: Range, scheduledNs: Long, ops: Ops): Unit = {
    val names = files.map { i =>
      val f = StreamGen.file(seed, i)
      val name = f"fix-$i%06d.json"
      val part = l.table.resolve(s"courseId=${f.course}/drop_id=${f.dropId}")
      l.pending.put(f.dropId, new Pending(f, scheduledNs, part))
      Files.write(l.staging.resolve(name), f.body.getBytes(UTF_8))
      l.writtenRows.addAndGet(f.rows - f.dups)
      l.wireBytes.addAndGet(f.body.length)
      name
    }
    names.foreach(n =>
      Files.move(l.staging.resolve(n), l.in.resolve(n), StandardCopyOption.ATOMIC_MOVE))
    ops.record("late", (System.nanoTime() - scheduledNs) / 1e9)
    filesWritten += files.size
  }

  /** Polls for landed partitions; a file is fresh when its partition
    * directory has been committed into the table. */
  private def watch(l: Live, ops: Ops): Unit = {
    l.pending.values.asScala.toSeq.foreach { p =>
      if (Files.isDirectory(p.partition)) {
        ops.record("fresh", (System.nanoTime() - p.scheduledNs) / 1e9)
        l.pending.remove(p.file.dropId)
        l.landedRows.addAndGet(p.file.rows - p.file.dups)
        l.perCourse.computeIfAbsent(p.file.course, _ => new AtomicLong)
          .addAndGet(p.file.rows - p.file.dups)
        l.latest.set(p)
        filesLanded += 1
      }
    }
  }

  /** The client's query: pace by hole over the partition landed last,
    * read the way a live view of "the round that just came in" would. Its
    * row count must equal that file's rows minus its planted duplicates. */
  private def clientQuery(ctx: Ctx, ops: Ops, l: Live): Unit = {
    val p = l.latest.get
    Query.run(ctx.spark, ctx.tr, ops, "drill", "latest_pace_by_hole", p.partition.toString) {
      _.groupBy("holeNumber").agg(count(lit(1)).as("fixes"), avg("pace").as("pace"))
    }(_.map(_.getLong(1)).sum == p.file.rows - p.file.dups)
  }

  private def stop(l: Live): Unit = if (l != null && l.query != null) {
    l.query.stop()
    l.query = null
  }

  /** Runs the generator, watcher and `clients` clients for `seconds`, then
    * waits for every file to land and checks the table holds exactly the
    * generated rows minus the planted duplicates. Only the first client's
    * time counts toward `queries_per_s`. */
  private def run(ctx: Ctx, ops: Ops, untraced: Ops, l: Live, seconds: Double,
      clients: Int = 1): Unit = {
    val seed = ctx.args.seed
    val startNs = System.nanoTime()
    val endNs = startNs + (seconds * 1e9).toLong
    val done = new AtomicBoolean(false)
    val first = nextFile.get.toInt
    val landed0 = l.landedRows.get
    val gen = new Thread(() => {
      var tick = 0
      var due = startNs
      while (due < endNs) {
        val now = System.nanoTime()
        if (due > now) Thread.sleep((due - now) / 1000000L, ((due - now) % 1000000L).toInt)
        val from = first + tick * FilesPerTick
        land(l, seed, from until from + FilesPerTick, due, ops)
        tick += 1
        due = startNs + (tick * TickSeconds * 1e9).toLong
      }
      nextFile.addAndGet(tick.toLong * FilesPerTick)
    }, "live-generator")
    val watcher = new Thread(() => {
      while (!done.get) { watch(l, ops); Thread.sleep(2) }
    }, "live-watcher")
    def client(c: Int) = new Thread(() => {
      // The client starts once the table has its first partition.
      while (l.landedRows.get == 0 && System.nanoTime() < endNs) Thread.sleep(2)
      val t = System.nanoTime()
      var k = 0L
      while (System.nanoTime() < endNs) {
        // Traced by the Thue–Morse sequence, not by parity: queries repeat
        // a pattern over the tick cycle, so parity could put every traced
        // query in the same phase of it.
        ctx.tr.alternate(java.lang.Long.bitCount(k), ops, untraced)(clientQuery(ctx, _, l))
        k += 1
      }
      if (c == 0) clientS += (System.nanoTime() - t) / 1e9
    }, s"live-client-$c")
    val clientThreads = (0 until clients).map(client)
    (Seq(gen, watcher) ++ clientThreads).foreach(_.start())
    gen.join(); clientThreads.foreach(_.join())
    val drainEnd = System.nanoTime() + (DrainTimeoutS * 1e9).toLong
    while (!l.pending.isEmpty && System.nanoTime() < drainEnd) Thread.sleep(5)
    done.set(true); watcher.join()
    watch(l, ops)
    val lastLanded = System.nanoTime()
    ops.check("every file landed") { l.pending.isEmpty }
    landedPerS = (l.landedRows.get - landed0) / ((lastLanded - startNs) / 1e9)
    verifyTable(ctx, ops, l)
  }

  private def verifyTable(ctx: Ctx, ops: Ops, l: Live): Unit = {
    val counts = ctx.spark.read.parquet(l.table.toString).groupBy("courseId").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    ops.check("landed rows = generated rows − planted duplicates") {
      counts.values.sum == l.writtenRows.get &&
        counts.forall { case (c, n) => Option(l.perCourse.get(c)).exists(_.get == n) }
    }
    tableFiles = Fs.dataFiles(l.table)
    storedRatio = Fs.bytes(tableFiles).toDouble / l.wireBytes.get
  }

  /** Starting the stream is the workload's own set-up; it is repeated and
    * the last one is kept running, then warmed up (see [[warm]]). */
  def setupReps: Int = 3
  def prepare(ctx: Ctx, ops: Ops, last: Boolean): Unit = {
    val l = start(ctx, ctx.dir(s"live-${System.nanoTime()}"))
    // Ready once the first (empty) trigger has completed.
    while (l.query.lastProgress == null && l.query.isActive) Thread.sleep(2)
    if (last) {
      live = l
      // Only the measured stream's micro-batches count to `streaming`.
      ctx.tr.adoptGroup(l.query.runId.toString, "streaming")
      ctx.spark.streams.addListener(new StreamingQueryListener {
        def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
          val p = e.progress
          if (listening && p.numInputRows > 0) progress.synchronized {
            progress += LiveIngest.Batch(
              p.durationMs.getOrDefault("triggerExecution", 0L).longValue,
              p.durationMs.getOrDefault("addBatch", 0L).longValue,
              p.numInputRows,
              p.stateOperators.map(_.numRowsTotal).sum,
              filesWritten - filesLanded)
          }
        }
      })
    } else stop(l)
  }

  /** The kept stream runs the generator and four clients for a while
    * before the timed phase, their samples discarded: until then each
    * micro-batch of a fresh stream, and each query, is slower than the
    * last. */
  override def warm(ctx: Ctx, ops: Ops): Unit = if (live != null) {
    val warmOps = new Ops
    try run(ctx, warmOps, warmOps, live, WarmSeconds, WarmClients)
    finally clientS = 0
    if (warmOps.failed > 0) ops.fail("warm-up")
  }

  def measure(ctx: Ctx, ops: Ops, untraced: Ops, seconds: Double): Unit =
    if (live == null) ops.fail("stream did not start")
    else {
      listening = ctx.args.trace
      try run(ctx, ops, untraced, live, seconds) finally listening = false
    }

  def primary: String = "query"

  override def close(ctx: Ctx): Unit = stop(live)

  def endToEnd(ops: Ops): Seq[(String, Double)] =
    Seq("rows_per_s" -> landedPerS, "stored_bytes_per_input_byte" -> storedRatio) ++
      Report.latency(ops, ops.values("fresh"), clientS)

  def layers(ctx: Ctx, ops: Ops): Seq[(String, Double)] = {
    val p = progress.synchronized(progress.toSeq)
    def med(f: LiveIngest.Batch => Long) =
      if (p.isEmpty) 0.0 else Stats.median(p.map(x => f(x).toDouble))
    Seq(
      "streaming.batch_ms" -> med(_.batchMs),
      "streaming.add_batch_ms" -> med(_.addBatchMs),
      "streaming.rows_per_batch" -> med(_.rows),
      "streaming.state_rows" -> med(_.stateRows),
      "streaming.backlog_files" -> med(_.backlogFiles),
      "loadgen.late_ms" -> Layers.med(ops, "late", 1000),
      "tables.files_written" -> tableFiles.size.toDouble,
      "tables.bytes_per_file" ->
        (if (tableFiles.isEmpty) 0.0 else Fs.bytes(tableFiles).toDouble / tableFiles.size)) ++
      Report.queryLayers(ctx, ops)
  }
}

object LiveIngest {
  /** One non-empty micro-batch, from its `StreamingQueryProgress`, with
    * the files written but not yet landed when it reported. */
  final case class Batch(batchMs: Long, addBatchMs: Long, rows: Long, stateRows: Long,
      backlogFiles: Long)
}
