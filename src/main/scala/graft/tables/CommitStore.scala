package graft.tables

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** The storage primitives a table-format commit protocol is allowed to
  * assume — chosen so they exist on BOTH a local/HDFS filesystem and a
  * modern object store, because the two disagree about everything else:
  *
  *  - local FS / HDFS have atomic rename and O_EXCL create, no
  *    compare-and-swap;
  *  - S3 / GCS / Azure have NO rename at all (a "rename" is
  *    copy+delete, visible mid-flight) and no O_EXCL, but every object
  *    PUT is atomic whole-object (readers see the complete object or
  *    none) and all three expose conditional writes: create-if-absent
  *    (S3 `If-None-Match: *`, GCS `ifGenerationMatch: 0`, Azure
  *    `If-None-Match: *`) and compare-and-swap on the current version
  *    (S3 `If-Match: <etag>`, GCS generation preconditions, Azure
  *    ETags).
  *
  * So the contract is three primitives and nothing more:
  *
  *  1. [[putIfAbsent]] — exclusive create of a complete immutable
  *     object. THE version-minting primitive: two writers racing to
  *     create the same commit object, exactly one wins.
  *  2. [[putIfMatch]] — CAS overwrite of a small mutable object (the
  *     current-version pointer). Never used for anything a reader
  *     could see half-written: conditional PUTs are full-object atomic.
  *  3. [[list]]/[[get]] — enumerate committed objects and read them.
  *
  * Atomic RENAME is deliberately absent: a protocol written against
  * this trait cannot accidentally depend on it, which is exactly the
  * dependency that makes naive local-FS table formats unsafe on the
  * reference's own deployment substrate (S3A/MinIO,
  * docker-compose.yml + pipeline/lib/tm_lakehouse/spark_utils.py:17-146).
  * [[ManifestLog]] is the commit protocol built on these primitives;
  * [[FaultyCommitStore]] is the hostile simulation used to prove it.
  */
trait CommitStore {

  /** Full content of `key`, or None. A committed object is immutable,
    * so a successful read is never partial. */
  def get(key: String): Option[String]

  /** Create `key` with `content` iff it does not exist; true = this
    * caller created it. Atomic: concurrent callers on the same key see
    * exactly one true. */
  def putIfAbsent(key: String, content: String): Boolean

  /** Compare-and-swap: write `content` to `key` iff its current
    * content is `expected` (None = key must not exist). true = swapped. */
  def putIfMatch(key: String, content: String, expected: Option[String]): Boolean

  /** Keys of the objects directly under `prefix` (non-recursive),
    * unordered. Strongly consistent on every modern store (S3 since
    * 2020), so a just-committed object is always visible. */
  def list(prefix: String): Seq[String]

  /** Idempotent delete. */
  def delete(key: String): Unit
}

/** Local-filesystem [[CommitStore]]: keys are absolute paths.
  *
  *  - `putIfAbsent` = write to a hidden temp file, then ATOMIC_MOVE
  *    WITHOUT replace — the only winner of the move owns the key, and
  *    the published object is always complete (never a partially
  *    written create).
  *  - `putIfMatch` serializes through a JVM-wide monitor: the local
  *    FS has no native CAS, and Spark local mode is single-JVM, so a
  *    process-wide mutex is faithful. (A multi-process local deploy
  *    would hold the table's `_lock` file around commits, which
  *    [[IncrementalTable]] already does; a real object store provides
  *    CAS natively.)
  */
object LocalCommitStore extends CommitStore {
  private def p(key: String): Path = Paths.get(key)
  private val casMonitor = new Object

  override def get(key: String): Option[String] =
    try Some(new String(Files.readAllBytes(p(key)), StandardCharsets.UTF_8))
    catch { case _: java.io.IOException => None }

  override def putIfAbsent(key: String, content: String): Boolean = {
    val target = p(key)
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(
      s".put-${java.util.UUID.randomUUID()}.__tmp__")
    Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
    // hard-link, not rename: POSIX rename() silently REPLACES an
    // existing target (ATOMIC_MOVE alone is not exclusive), while
    // link() atomically fails with EEXIST — the local equivalent of a
    // conditional PUT. The published object is complete before the
    // link makes it visible.
    try { Files.createLink(target, tmp); true }
    catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      case _: java.nio.file.FileSystemException if Files.exists(target) => false
    } finally { Files.deleteIfExists(tmp); () }
  }

  override def putIfMatch(
      key: String, content: String, expected: Option[String]): Boolean =
    casMonitor.synchronized {
      if (get(key) != expected) false
      else {
        val target = p(key)
        Files.createDirectories(target.getParent)
        val tmp = target.resolveSibling(
          s".cas-${java.util.UUID.randomUUID()}.__tmp__")
        Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
        Files.move(tmp, target,
          StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
        true
      }
    }

  override def list(prefix: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val dir = p(prefix)
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala
        .filter(f => Files.isRegularFile(f) &&
          !f.getFileName.toString.endsWith(".__tmp__"))
        .map(_.toString).toSeq
      finally s.close()
    }
  }

  override def delete(key: String): Unit = { Files.deleteIfExists(p(key)); () }
}

/** Hostile [[CommitStore]] for protocol proofs: wraps a real store and
  * injects the failure modes an object store actually exhibits —
  * writer crashes between operations, and AMBIGUOUS writes (the PUT
  * landed but the 200 never reached the client: timeout, dropped
  * connection — the store-side duplicate/retry hazard every S3 client
  * deals with). Each armed fault fires once and disarms, modeling a
  * crash-restart or retry cycle. Counters let specs assert the fault
  * actually fired.
  */
final class FaultyCommitStore(inner: CommitStore) extends CommitStore {

  /** Thrown in place of / after the targeted operation — the simulated
    * process death. */
  final class InjectedCrash(val key: String)
    extends RuntimeException(s"injected crash at $key")

  @volatile private var crashBeforePut: Option[String => Boolean] = None
  @volatile private var crashAfterPut: Option[String => Boolean] = None
  @volatile private var ambiguousPut: Option[String => Boolean] = None
  private val fired = new java.util.concurrent.atomic.AtomicInteger(0)

  def armCrashBeforePut(pred: String => Boolean): Unit = { crashBeforePut = Some(pred) }
  def armCrashAfterPut(pred: String => Boolean): Unit = { crashAfterPut = Some(pred) }
  /** The put succeeds server-side but the caller is told it failed. */
  def armAmbiguousPut(pred: String => Boolean): Unit = { ambiguousPut = Some(pred) }
  def faultsFired: Int = fired.get()

  override def putIfAbsent(key: String, content: String): Boolean = {
    crashBeforePut.filter(_(key)).foreach { _ =>
      crashBeforePut = None; fired.incrementAndGet()
      throw new InjectedCrash(key)
    }
    val r = inner.putIfAbsent(key, content)
    crashAfterPut.filter(_(key)).foreach { _ =>
      crashAfterPut = None; fired.incrementAndGet()
      throw new InjectedCrash(key)
    }
    ambiguousPut.filter(_(key)) match {
      case Some(_) if r =>
        ambiguousPut = None; fired.incrementAndGet()
        false // landed, but reported as failed — the retry hazard
      case _ => r
    }
  }

  override def get(key: String): Option[String] = inner.get(key)
  override def putIfMatch(
      key: String, content: String, expected: Option[String]): Boolean =
    inner.putIfMatch(key, content, expected)
  override def list(prefix: String): Seq[String] = inner.list(prefix)
  override def delete(key: String): Unit = inner.delete(key)
}
