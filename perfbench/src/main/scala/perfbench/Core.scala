package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Command-line options; `run.py` passes them through unchanged and adds
  * `--tmp`, the per-run temporary root it deletes at exit. */
final case class Args(
    workload: String, seed: Long, seconds: Int, trace: Boolean,
    tmp: Path, record: Option[Path])

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toInt,
      trace = need("trace") == "1",
      tmp = Path.of(need("tmp")),
      record = kv.get("record").map(Path.of(_)))
  }
}

/** Operation accounting. Every timed operation carries a status: a throw
  * or a wrong result counts as failed and never becomes a latency
  * sample. Thread-safe, since the dashboard runs two clients. */
final class Ops {
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val attemptedN = new AtomicLong
  private val failedN = new AtomicLong
  private val failures = mutable.ArrayBuffer.empty[String]

  def attempted: Long = attemptedN.get
  def failed: Long = failedN.get

  /** Times `body`, then `ok` judges its result. The sample (seconds) is
    * kept under `key` only when the body returned and `ok` held. */
  def timed[T](key: String)(body: => T)(ok: T => Boolean): Option[T] = {
    attemptedN.incrementAndGet()
    val t0 = System.nanoTime()
    val res = try Right(body) catch { case e: Throwable => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    res match {
      case Right(v) if ok(v) => record(key, dt); Some(v)
      case Right(v) => fail(s"$key: wrong result ${String.valueOf(v).take(200)}"); None
      case Left(e) => fail(s"$key: ${e.getClass.getSimpleName}: ${e.getMessage}"); None
    }
  }

  /** A correctness check that is not itself timed. */
  def check(what: String)(cond: => Boolean): Boolean = {
    attemptedN.incrementAndGet()
    val ok = try cond catch { case e: Throwable =>
      fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"); return false
    }
    if (!ok) fail(s"$what: mismatch")
    ok
  }

  def record(key: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += v
  }

  def fail(msg: String): Unit = {
    failedN.incrementAndGet()
    synchronized { if (failures.size < 50) failures += msg }
    System.err.println(s"[perfbench] FAILED $msg")
  }

  def values(key: String): Seq[Double] = synchronized {
    samples.get(key).map(_.toSeq).getOrElse(Nil)
  }

  def failureLog: Seq[String] = synchronized(failures.toSeq)

  def keys: Seq[String] = synchronized(samples.keys.toSeq)

  /** Counts another accounting's operations and failures as this one's;
    * its samples stay where they are. */
  def absorb(o: Ops): Unit = {
    attemptedN.addAndGet(o.attempted)
    failedN.addAndGet(o.failed)
    synchronized { failures ++= o.failureLog.take(50 - failures.size) }
  }
}

object Stats {
  /** Percentile, p in [0, 100], interpolated linearly between the order
    * statistics (numpy's default): with a few dozen samples a nearest-rank
    * p95 is the largest or second-largest sample alone. NaN when there are
    * no samples, which marks the run incorrect. */
  def pct(xs: Seq[Double], p: Double): Double = if (xs.isEmpty) Double.NaN else {
    val s = xs.sorted
    val h = (s.size - 1) * p / 100.0
    val lo = math.floor(h).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** The highest of the usual percentiles that still has at least ten
    * samples beyond it, as reported next to each timing. */
  def reportablePct(n: Int): Double =
    Seq(99.0, 95.0, 90.0, 75.0, 50.0).find(p => n * (1 - p / 100) >= 10).getOrElse(50.0)
}

object Fs {
  /** Data files (not markers, not checksums) under `p`. */
  def dataFiles(p: Path): Seq[Path] = if (!Files.exists(p)) Nil else {
    val s = Files.walk(p)
    try s.iterator().asScala.filter { f =>
      val n = f.getFileName.toString
      Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
    }.toSeq
    finally s.close()
  }

  def bytes(files: Seq[Path]): Long = files.map(Files.size).sum
}

/** Canonical text form of collected rows: sorted, doubles to nine
  * significant digits, so a result hash does not depend on row order or
  * on summation order in the last bits. */
object ResultHash {
  import org.apache.spark.sql.Row
  private def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN) "NaN" else f"$d%.9g"
    case f: Float => f"${f.toDouble}%.6g"
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "→" + canon(x) }.sorted.mkString("{", ",", "}")
    case a: Array[_] => a.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }
  def of(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(canon).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().take(12).map("%02x".format(_)).mkString
  }
}
