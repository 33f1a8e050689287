package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One span around a call the benchmark makes into an engine layer. */
final case class Span(
    id: Long, parent: Long, name: String, layer: String, runId: String,
    startNs: Long, endNs: Long) {
  def durS: Double = (endNs - startNs) / 1e9
}

/** Engine counters summed over the jobs of one span. */
final class Counters {
  var cpuNs = 0L; var gcMs = 0L; var inputBytes = 0L; var inputRecords = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  var tasks = 0L
  val jobs = mutable.Set.empty[Int]
  val stages = mutable.Set.empty[Int]
  /** Task run times (ms) per stage, for the skew signal. */
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  def merge(o: Counters): Unit = {
    cpuNs += o.cpuNs; gcMs += o.gcMs; inputBytes += o.inputBytes
    inputRecords += o.inputRecords; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill; tasks += o.tasks
    jobs ++= o.jobs; stages ++= o.stages
    o.stageTaskMs.foreach { case (s, ms) =>
      stageTaskMs.getOrElseUpdate(s, mutable.ArrayBuffer.empty) ++= ms }
  }

  /** Largest max/median task-time ratio over stages with ≥ 4 tasks. */
  def taskMaxOverMedian: Double = {
    val ratios = stageTaskMs.values.filter(_.size >= 4).map { ms =>
      val s = ms.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2)).toDouble
    }
    if (ratios.isEmpty) 0.0 else ratios.max
  }

  def metrics(prefix: String): Seq[(String, Double, String)] = Seq(
    (s"$prefix.cpu_s", cpuNs / 1e9, "s"),
    (s"$prefix.gc_s", gcMs / 1e3, "s"),
    (s"$prefix.input_bytes", inputBytes.toDouble, "bytes"),
    (s"$prefix.shuffle_read_bytes", shuffleRead.toDouble, "bytes"),
    (s"$prefix.shuffle_write_bytes", shuffleWrite.toDouble, "bytes"),
    (s"$prefix.spill_bytes", spill.toDouble, "bytes"),
    (s"$prefix.jobs", jobs.size.toDouble, "count"),
    (s"$prefix.stages", stages.size.toDouble, "count"),
    (s"$prefix.tasks", tasks.toDouble, "count"),
    (s"$prefix.task_max_over_median", taskMaxOverMedian, "ratio"))
}

/** Spans kept in memory and written at exit, plus a SparkListener that
  * attributes engine counters to spans by job group. When tracing is off
  * `span` only runs its body. */
final class Tracer(sc: SparkContext, traceMode: Boolean, runId: String) {
  /** Spans are recorded only while enabled and not muted on the calling
    * thread; a traced run mutes every other primary operation so the
    * untraced ones, interleaved with them, give the overhead base. */
  @volatile var enabled = false
  private val muted = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  /** Whether spans are being recorded on the calling thread. */
  def on: Boolean = enabled && !muted.get

  /** Runs `body` on this thread without spans. */
  def mute[T](body: => T): T = {
    val was = muted.get
    muted.set(true)
    try body finally muted.set(was)
  }

  /** For a primary operation of a traced run: those with an odd `key` run
    * muted and report into `untraced`, the overhead base. Callers choose
    * keys that split the same mix of operations evenly between the two.
    * Untraced runs report everything into `ops`. */
  def alternate[T](key: Long, ops: Ops, untraced: Ops)(body: Ops => T): T =
    if (traceMode && key % 2 == 1) mute(body(untraced)) else body(ops)
  private val nextId = new AtomicLong(1)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, String)]] {
    override def initialValue(): List[(Long, String)] = Nil
  }
  /** job group → span id, and span id → counters. */
  private val groupSpan = new ConcurrentHashMap[String, java.lang.Long]()
  private val counters = new ConcurrentHashMap[Long, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val writeExecStart = new ConcurrentHashMap[Long, java.lang.Long]()
  private val writeNs = new AtomicLong
  private val spanLayer = new ConcurrentHashMap[Long, String]()

  if (traceMode) sc.addSparkListener(Listener)

  /** The innermost open span on this thread, 0 when none. */
  def current: Long = stack.get.headOption.map(_._1).getOrElse(0L)

  /** Records a span around `body`. Its parent is the innermost open span
    * on this thread, or `under` for work handed to another thread. */
  def span[T](name: String, layer: String, under: Long = -1)(body: => T): T =
    if (!enabled || muted.get) body else {
      val id = nextId.getAndIncrement()
      val outer = stack.get
      val parent = if (under >= 0) under else outer.headOption.map(_._1).getOrElse(0L)
      val group = s"perfbench-span-$id"
      spanLayer.put(id, layer)
      groupSpan.put(group, id)
      sc.setJobGroup(group, name, interruptOnCancel = false)
      stack.set((id, group) :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        outer.headOption match {
          case Some((_, g)) => sc.setJobGroup(g, "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        spans.add(Span(id, parent, name, layer, runId, t0, t1))
      }
    }

  /** Attribute jobs of a foreign job group (a streaming query's run id)
    * to a synthetic span of `layer`. */
  def adoptGroup(group: String, layer: String): Unit = {
    val id = nextId.getAndIncrement()
    spanLayer.put(id, layer)
    groupSpan.put(group, id)
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Self time: a span's duration minus the union of its children's. */
  def selfTimes: Map[Long, Double] = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val ivs = kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)).sortBy(_._1)
      var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.id -> (s.endNs - s.startNs - covered) / 1e9
    }.toMap
  }

  def spanCounters(id: Long): Counters = counters.getOrDefault(id, new Counters)

  def layerCounters(layer: String): Counters = {
    val out = new Counters
    counters.asScala.foreach { case (id, c) =>
      if (spanLayer.get(id) == layer) c.synchronized(out.merge(c)) }
    out
  }

  /** Wall time of SQL executions whose plan writes a table (from the
    * executions' own start and end times). */
  def tableWriteS: Double = writeNs.get / 1e9

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (enabled && group != null) Option(groupSpan.get(group)).foreach { id =>
        val c = counters.computeIfAbsent(id, _ => new Counters)
        c.synchronized {
          c.jobs += e.jobId
          e.stageIds.foreach { s => c.stages += s; stageSpan.put(s, id) }
        }
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val id = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (id != null && m != null) {
        val c = counters.computeIfAbsent(id, _ => new Counters)
        c.synchronized {
          c.tasks += 1
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.inputBytes += m.inputMetrics.bytesRead
          c.inputRecords += m.inputMetrics.recordsRead
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
            m.executorRunTime
        }
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart
          if enabled && s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") =>
        writeExecStart.put(s.executionId, s.time)
      case s: SparkListenerSQLExecutionEnd =>
        Option(writeExecStart.remove(s.executionId)).foreach { t0 =>
          writeNs.addAndGet((s.time - t0) * 1000000L) }
      case _ =>
    }
  }
}
