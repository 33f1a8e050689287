package graft.tables

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Crash-path proofs for [[IncrementalTable]]: every interleaving a
  * writer death can produce must leave `read()` on a consistent
  * committed version, never wedge later writers, and leave only
  * debris that vacuum can reclaim. Metadata rides [[CommitStore]], so
  * crash points are injected live via [[FaultyCommitStore]]
  * (CommitProtocolSpec covers mint-adjacent crashes; here: vacuum,
  * compaction, staging and lock interleavings). Filesystem-level
  * debris (a dead writer's `_lock` or staging dir) is simulated the
  * honest way: construct ON DISK exactly the state it leaves behind,
  * then assert recovery. */
class FaultInjectionSpec extends SparkSpec {

  import spark.implicits._

  private def freshPath(name: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), "graft_fi_spec", name)
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      } finally walk.close()
    }
    p.toString
  }

  private def df(rows: (Long, String, String)*) = rows.toDF("k", "v", "part")
  private def sdf(rows: (Long, String)*) = rows.toDF("k", "v")

  // ---- IncrementalTable: a failed or abandoned staging write ----------

  private def stagingDirs(path: String): Seq[String] =
    FsUtil.listDir(Paths.get(path)).map(_.getFileName.toString)
      .filter(_.startsWith(".staging-")).sorted

  test("IT: a staging write that throws leaves no staging dir behind") {
    val path = freshPath("it_stage_fail")
    IncrementalTable.commitFull(df((1L, "a", "p1")), path, Seq("part"))
    def poisoned = df((2L, "b", "p1"), (3L, "c", "p2")).coalesce(1)
      .withColumn("v", when(col("k") === 3L, raise_error(lit("boom")))
        .otherwise(col("v")))
    intercept[Exception](IncrementalTable.commitFull(poisoned, path, Seq("part")))
    intercept[Exception](
      IncrementalTable.refreshPartitions(poisoned, path, Seq("part")))
    assert(stagingDirs(path).isEmpty)
    assert(IncrementalTable.versions(path) === Seq(1))
    assert(IncrementalTable.read(spark, path)
      .select("v").as[String].collect().toSeq === Seq("a"))
  }

  test("IT: vacuum reclaims a staging dir quiet for an hour, keeps a fresh one") {
    val path = freshPath("it_stage_age")
    IncrementalTable.commitFull(sdf((1L, "a")), path)
    val aged = Paths.get(path, ".staging-deadbeef")
    val fresh = Paths.get(path, ".staging-inflight")
    sdf((9L, "dead")).write.parquet(aged.toString)
    sdf((8L, "live")).write.parquet(fresh.toString)
    // a dead writer's dir: every file and dir in it last changed 2 h ago
    val twoHoursAgo = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 2 * 3600 * 1000L)
    (FsUtil.listDir(aged) :+ aged).foreach(Files.setLastModifiedTime(_, twoHoursAgo))

    IncrementalTable.vacuum(path)
    assert(stagingDirs(path) === Seq(".staging-inflight"))
    assert(IncrementalTable.read(spark, path)
      .select("v").as[String].collect().toSeq === Seq("a"))
  }

  // ---- IncrementalTable: a dead writer's lock --------------------------

  test("IT: a lock whose recorded acquire time is 0 does not block commits") {
    val path = freshPath("it_lock_dead")
    Files.createDirectories(Paths.get(path))
    val lock = Paths.get(path, "_lock")
    Files.write(lock, "0 dead-writer".getBytes(StandardCharsets.UTF_8))
    assert(IncrementalTable.commitFull(sdf((1L, "a")), path) === 1)
    // the stale lock was broken and ours released: nothing left behind
    assert(!Files.exists(lock))
  }

  test("IT: an unparseable lock falls back to its mtime") {
    val path = freshPath("it_lock_garbled")
    Files.createDirectories(Paths.get(path))
    val lock = Paths.get(path, "_lock")
    val garbled = "not-a-timestamp".getBytes(StandardCharsets.UTF_8)

    // fresh mtime: a live holder — the commit waits until it lets go
    Files.write(lock, garbled)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val waiting = Future(IncrementalTable.commitFull(sdf((1L, "a")), path))
    Thread.sleep(1000)
    assert(!waiting.isCompleted)
    Files.delete(lock)
    assert(Await.result(waiting, 60.seconds) === 1)

    // mtime older than the stale bound: broken like a dead writer's lock
    Files.write(lock, garbled)
    Files.setLastModifiedTime(lock, java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 3600 * 1000L))
    assert(IncrementalTable.commitFull(sdf((2L, "b")), path) === 2)
    assert(!Files.exists(lock))
  }

  // ---- IncrementalTable: crash mid-compaction swap ---------------------

  test("IT: compaction dying before its manifest PUT leaves the table intact, debris collectable") {
    val path = freshPath("it_compact")
    val store = new FaultyCommitStore(LocalCommitStore)
    // 20 distinct keys hashed over 10 partitions → every hive dir holds
    // several fragment files, so the compactor always has work
    val frag = (1L to 20L).map(i => (i, s"v$i", if (i % 2 == 0) "p1" else "p2"))
    IncrementalTable.commitFull(
      frag.toDF("k", "v", "part").repartition(10, col("k")),
      path, Seq("part"), store = store)
    val before = IncrementalTable.read(spark, path, store = store)
      .select("k", "v").as[(Long, String)].collect().toSet
    assert(before.size === 20)

    // the compactor rewrites fragments, adopts them into data/, then
    // dies at its manifest PUT
    store.armCrashBeforePut(_.contains("_manifests"))
    intercept[store.InjectedCrash] {
      IncrementalTable.compact(spark, path, Seq("part"), store = store)
    }

    // nothing committed; reads identical; fragments still live
    assert(IncrementalTable.versions(path, store) === Seq(1))
    assert(IncrementalTable.read(spark, path, store = store)
      .select("k", "v").as[(Long, String)].collect().toSet === before)

    // vacuum reclaims the compactor's adopted-but-unreferenced files,
    // then a retried compaction commits normally
    IncrementalTable.vacuum(path, keep = 1, store = store)
    val (b2, a2) = IncrementalTable.compact(spark, path, Seq("part"), store = store)
    assert(a2 <= b2)
    assert(IncrementalTable.read(spark, path, store = store)
      .select("k", "v").as[(Long, String)].collect().toSet === before)
  }

  // ---- IncrementalTable: crash mid-vacuum ------------------------------

  test("IT: vacuum dying after data deletes but before manifest drops converges on re-run") {
    val path = freshPath("it_vac")
    val store = new FaultyCommitStore(LocalCommitStore)
    IncrementalTable.commitFull(df((1L, "a", "p1")), path, Seq("part"), store = store)
    IncrementalTable.refreshPartitions(df((1L, "a2", "p1")), path, Seq("part"), store = store)
    IncrementalTable.refreshPartitions(df((1L, "a3", "p1")), path, Seq("part"), store = store)

    // vacuum(keep=1) died after deleting v1/v2's unreferenced data files
    // but before dropping their manifest objects: fabricate by deleting
    // exactly the files only old manifests name
    val liveFiles = {
      val (_, fs) = {
        val lines = new ManifestLog(store, path).manifest(3).get.split("\n")
        (lines.head, lines.tail.filter(_.nonEmpty).toSeq)
      }
      fs.toSet
    }
    FsUtil.parquetFiles(Paths.get(path, "data")).foreach { f =>
      if (!liveFiles.contains(Paths.get(path, "data").relativize(f).toString))
        Files.delete(f)
    }
    assert(IncrementalTable.versions(path, store) === Seq(1, 2, 3))

    // current version reads fine (its files are all live)
    assert(IncrementalTable.read(spark, path, store = store)
      .select("v").as[String].collect().toSeq === Seq("a3"))

    // re-running vacuum drops the stale manifests; reads stay identical
    IncrementalTable.vacuum(path, keep = 1, store = store)
    assert(IncrementalTable.versions(path, store) === Seq(3))
    assert(IncrementalTable.read(spark, path, store = store)
      .select("v").as[String].collect().toSeq === Seq("a3"))
    // and the table accepts new commits
    assert(IncrementalTable.refreshPartitions(
      df((1L, "a4", "p1")), path, Seq("part"), store = store) === 4)
  }

  // ---- vacuum vs the rollback pin --------------------------------------

  test("IT: vacuum never reclaims the rollback-pinned version — pinned reads survive") {
    val path = freshPath("it_vac_pin")
    (1 to 4).foreach(i =>
      IncrementalTable.commitFull(sdf((i.toLong, s"v$i")), path))
    IncrementalTable.rollback(path, 2)
    assert(IncrementalTable.currentVersion(path) === Some(2))

    // keep=1 would keep only {4} by recency; the live pin must ALSO
    // protect 2 (dropVersions protects currentVersion, which resolves
    // through the pin) — a vacuum that reclaimed the pinned version
    // would break every reader mid-rollback
    IncrementalTable.vacuum(path, keep = 1)
    assert(IncrementalTable.versions(path).contains(2))
    assert(IncrementalTable.read(spark, path)
      .select("v").as[String].collect().toSeq === Seq("v2"))
    // the un-pinned non-newest versions are reclaimed
    assert(IncrementalTable.versions(path) === Seq(2, 4))
  }

  test("IT: time-travel read of a vacuumed version fails cleanly, never partially") {
    val path = freshPath("it_vac_tt")
    (1 to 3).foreach(i =>
      IncrementalTable.commitFull(sdf((i.toLong, s"v$i")), path))
    IncrementalTable.vacuum(path, keep = 1)
    assert(IncrementalTable.versions(path) === Seq(3))
    // a vacuumed version is GONE from the committed set: the read is
    // refused up front (clean IllegalArgumentException), not answered
    // from whatever files happen to remain
    intercept[IllegalArgumentException] {
      IncrementalTable.read(spark, path, Some(1))
    }
    assert(IncrementalTable.read(spark, path)
      .select("v").as[String].collect().toSeq === Seq("v3"))
  }

  // ---- lockless readers vs a live commit+vacuum storm ------------------

  test("ML: manifest readers racing commits and dropVersions always see a complete payload") {
    // ManifestLog-level storm (no Spark in the loop, so hundreds of
    // interleavings run in seconds): one writer commits versions whose
    // payload encodes its own version (versions are dense at the top, so
    // render(cur) knows it will mint cur+1); one vacuum loop drops
    // everything but the newest two; three reader threads resolve
    // current → fetch its manifest. Lockless-deployment invariant: a
    // reader either gets the COMPLETE payload of the version it
    // resolved, or a clean miss (the version aged out between resolve
    // and fetch) — never a torn or mismatched payload.
    val path = freshPath("ml_storm")
    Files.createDirectories(Paths.get(path))
    val log = new ManifestLog(LocalCommitStore, path)
    val commits = 200
    val anomalies = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val cleanMisses = new java.util.concurrent.atomic.AtomicInteger()
    val goodReads = new java.util.concurrent.atomic.AtomicInteger()
    val dropped = new java.util.concurrent.atomic.AtomicInteger()
    val writerDone = new java.util.concurrent.atomic.AtomicBoolean(false)

    val writer = new Thread(() => {
      (1 to commits).foreach { _ =>
        log.commit(cur => s"payload v${cur.map(_._1).getOrElse(0) + 1}")
      }
      writerDone.set(true)
    })
    val vacuumer = new Thread(() => {
      while (!writerDone.get()) {
        val vs = log.versions
        if (vs.size > 2) {
          val drop = vs.dropRight(2)
          log.dropVersions(drop)
          dropped.addAndGet(drop.size)
        }
      }
    })
    val readers = (1 to 3).map(_ => new Thread(() => {
      while (!writerDone.get()) {
        log.currentVersion.foreach { v =>
          log.manifest(v) match {
            case Some(p) =>
              if (p.trim != s"payload v$v")
                anomalies.add(s"v$v read '${p.trim}'")
              else goodReads.incrementAndGet()
            case None => cleanMisses.incrementAndGet() // aged out mid-read
          }
        }
      }
    }))
    val threads = Seq(writer, vacuumer) ++ readers
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(anomalies.isEmpty,
      s"torn/mismatched reads: ${anomalies.toArray.mkString("; ")}")
    assert(goodReads.get() > 0, "storm produced no successful reads")
    assert(dropped.get() > 0, "vacuum loop never engaged — storm vacuous")
    // the log itself converged: newest version is the last commit
    assert(log.currentVersion === Some(commits))
  }

  test("IT: Spark readers under a live commit+vacuum storm see only complete snapshots") {
    // The same invariant through the FULL read path (manifest → parquet
    // scan): a lockless reader either collects a complete committed
    // snapshot — all rows carry one version tag and the full row count —
    // or fails cleanly when its resolved version's files are vacuumed
    // mid-scan. A mixed-tag or short result would mean torn reads.
    val path = freshPath("it_storm")
    val rowsPerVersion = 8
    val commits = 6
    val anomalies = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val cleanMisses = new java.util.concurrent.atomic.AtomicInteger()
    val goodReads = new java.util.concurrent.atomic.AtomicInteger()
    val writerDone = new java.util.concurrent.atomic.AtomicBoolean(false)

    IncrementalTable.commitFull(
      (1 to rowsPerVersion).map(k => (k.toLong, "v1")).toDF("k", "v"), path)
    val writer = new Thread(() => {
      (2 to commits).foreach { i =>
        IncrementalTable.commitFull(
          (1 to rowsPerVersion).map(k => (k.toLong, s"v$i")).toDF("k", "v"),
          path)
        IncrementalTable.vacuum(path, keep = 2)
      }
      writerDone.set(true)
    })
    val readers = (1 to 2).map(_ => new Thread(() => {
      while (!writerDone.get()) {
        try {
          val tags = IncrementalTable.read(spark, path)
            .select("v").as[String].collect().toSeq
          if (tags.distinct.size != 1 || tags.size != rowsPerVersion)
            anomalies.add(s"torn snapshot: ${tags.distinct.mkString(",")} (${tags.size} rows)")
          else goodReads.incrementAndGet()
        } catch {
          // resolved version vacuumed mid-scan → clean failure, allowed
          case _: Exception => cleanMisses.incrementAndGet()
        }
      }
    }))
    val threads = writer +: readers
    threads.foreach(_.start())
    threads.foreach(_.join(300000))
    assert(anomalies.isEmpty,
      s"torn snapshots: ${anomalies.toArray.mkString("; ")}")
    assert(goodReads.get() > 0, "storm produced no successful reads")
    assert(IncrementalTable.read(spark, path)
      .select("v").as[String].collect().toSet === Set(s"v$commits"))
  }
}
