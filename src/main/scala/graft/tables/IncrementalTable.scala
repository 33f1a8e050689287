package graft.tables

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DataType, StructType}

/** Manifest-based versioned table — the engine's one time-travel /
  * atomic-commit table, Iceberg-shaped. A commit is METADATA over
  * immutable data files (etl.py:639-682 gets the same via Iceberg's
  * DELETE+append): [[commitFull]] replaces the whole live set (right for
  * dimension/gold tables, which the reference rewrites whole,
  * dimensions.py:366-398), while [[refreshPartitions]] replaces only the
  * partitions one run touched — right for a 100 TB fact table where one
  * day of one course changes.
  *
  * {{{
  *   <path>/data/<hive partition dirs>/<commit>-part-*.parquet  (immutable)
  *   <path>/_manifests/m00000001      (schema line + live-file list,
  *                                     putIfAbsent-minted, immutable)
  *   <path>/_latest (CAS pointer)     <path>/_lock (local serializer)
  * }}}
  *
  * Each manifest names the complete live-file set of its version, so
  *   - [[refreshPartitions]] writes and moves O(changed partitions) of
  *     DATA; the untouched partitions' files are carried by reference;
  *   - time travel ([[read]] with a version) and [[rollback]] are pure
  *     metadata — every version's files still exist until [[vacuum]];
  *   - [[fileChanges]] derives the (added, removed) file groups of any
  *     version pair by manifest set-difference;
  *   - [[diff]] is the row-level CDC read (inserts and deletes; an
  *     update is its delete+insert pair).
  *
  * Commit protocol ([[ManifestLog]] over [[CommitStore]] — the
  * object-store-safe design): the heavy data write lands in a
  * writer-unique staging dir OUTSIDE the lock; the manifest then mints
  * its version as ONE putIfAbsent of an immutable object, and that
  * conditional PUT is the single commit point (current = newest minted
  * version; rollback writes a CAS pin that the next commit
  * supersedes). No atomic rename, no O_EXCL, no mutable shared log
  * file is required of the metadata store, so the identical protocol
  * runs on S3/GCS/Azure conditional PUTs (the reference's own
  * deployment substrate is S3A/MinIO). The
  * local `_lock` merely SERIALIZES local writers so their carried-file
  * computations don't race; correctness does not depend on it — a
  * lockless writer that loses the mint race gets ManifestLog.CommitLost
  * and retries with re-read state (the Delta/Iceberg commit loop),
  * proven against a hostile store in CommitProtocolSpec. Staged files
  * are invisible until a manifest names them; concurrent refreshes
  * serialize at metadata speed and compose (last writer wins per
  * partition, both commits preserved in history).
  *
  * On an object store the DATA files also need no renames: executors
  * write uniquely-named objects directly under `data/` (what Spark's
  * cloud committers do) and the manifest simply names them; the local
  * backend's staging-dir rename in [[adopt]] is an optimization, not a
  * protocol requirement.
  *
  * Scale notes: manifest size is O(live files), kept in one text object
  * per version (Iceberg shards this into manifest lists; at 10⁵ files a
  * flat manifest is still single-digit MB). The data moves are renames,
  * never byte copies, on any HDFS-like filesystem.
  */
object IncrementalTable {

  /** How long a writer waits for the `_lock` before giving up. */
  private val LockTimeoutMs = 30000L
  /** Age past which a `_lock` counts as a crashed writer's and is broken
    * — the clock-based break every object-store commit protocol
    * ultimately falls back to. */
  private val StaleLockMs = 600000L
  /** [[vacuum]] reclaims a `.staging-*` dir once nothing in it has
    * changed for this long; a live staging write keeps touching files. */
  private val StagingGraceMs = 3600000L

  private def dataDir(path: String): Path = Paths.get(path, "data")

  /** Manifest entries are dataDir-relative for files this table OWNS; a
    * [[shallowClone]] commits the source's live files as ABSOLUTE paths
    * instead — zero data movement, the clone's metadata simply names
    * another table's immutable objects (Delta CLONE's representation).
    * Every code path below distinguishes the two by absoluteness. */
  private def isForeign(f: String): Boolean = Paths.get(f).isAbsolute

  /** The hive-partition directory key of a manifest entry — the thing
    * refresh/delete/compact group carried files by. For owned (relative)
    * entries this is just the parent dir ("p=1/sub=2"). For foreign
    * (absolute) entries the key is the name=value suffix, so a cloned
    * file and a locally rewritten file of the SAME partition collide on
    * the same key and the carry/replace logic composes across a clone
    * boundary. */
  private def hiveDirOf(f: String): String = {
    val p = Paths.get(f)
    if (!p.isAbsolute)
      Option(p.getParent).map(_.toString).getOrElse("")
    else {
      val segs = (0 until p.getNameCount).map(p.getName(_).toString)
      val firstHive = segs.indexWhere(_.contains("="))
      if (firstHive < 0) ""
      else segs.slice(firstHive, segs.size - 1).mkString("/")
    }
  }

  /** Partition-layout SIGNATURE of a manifest entry: the ordered hive
    * column names in its path ("p" for `p=1/f.parquet`, "p/y" for
    * `p=1/y=2/f.parquet`, "" for unpartitioned). After a PARTITION
    * EVOLUTION (a refresh that adds partition columns), one manifest
    * legitimately holds files of several layouts; reads group by
    * signature so Spark's partition discovery sees a consistent layout
    * per group. */
  private def sigOf(f: String): String = {
    val d = hiveDirOf(f)
    if (d.isEmpty) ""
    else d.split("/").map(_.takeWhile(_ != '=')).mkString("/")
  }

  /** Two hive dirs CONFLICT when one is a segment-wise prefix of the
    * other (same dir included) — the carry rule that makes partition
    * evolution composable: refreshing `p=1/y=1997` under an evolved
    * layout must drop the pre-evolution coarse `p=1` files (the refresh
    * contract requires the caller to supply EVERY row of each touched
    * coarse partition when changing layout), while `p=1/y=1997` vs
    * `p=1/y=1998` stay independent exactly as before. Unpartitioned
    * entries ("") conflict only with each other. */
  private def dirsConflict(a: String, b: String): Boolean = {
    val x = a.split("/").filter(_.nonEmpty)
    val y = b.split("/").filter(_.nonEmpty)
    if (x.isEmpty || y.isEmpty) x.length == y.length
    else {
      val n = math.min(x.length, y.length)
      x.take(n).sameElements(y.take(n))
    }
  }

  /** Rewriting operators (DELETE WHERE, compaction) key their
    * carry/swap logic by exact hive dir, which is only sound when every
    * live file shares the CURRENT partition layout — mid-evolution
    * (mixed-layout) manifests must finish the evolution first (refresh
    * every coarse partition at the new layout). Reads and refreshes
    * work fine mid-evolution; this guard keeps the rewriters honest
    * instead of silently duplicating or dropping rows. */
  private def requireHomogeneousLayout(
      files: Seq[String], partitionCols: Seq[String], op: String): Unit = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    val expected = partitionCols.map(escapePathName).mkString("/")
    val sigs = files.map(sigOf).distinct
    require(sigs.forall(_ == expected),
      s"$op requires a homogeneous partition layout [$expected], but live " +
        s"files carry layouts [${sigs.mkString(", ")}] — complete the " +
        "partition evolution (refresh every partition at the new layout) first")
  }

  /** basePath for a foreign entry's read group: the prefix before the
    * first name=value segment (the source table's data root), so hive
    * partition columns parse out of the dir names exactly as they do
    * for owned files. */
  private def foreignBase(f: String): String = {
    val p = Paths.get(f)
    val segs = (0 until p.getNameCount).map(p.getName(_).toString)
    val firstHive = segs.indexWhere(_.contains("="))
    val cut = if (firstHive < 0) segs.size - 1 else firstHive
    p.getRoot.toString + segs.take(cut).mkString("/")
  }

  /** Metadata goes through the object-store-safe [[ManifestLog]]
    * protocol (putIfAbsent-minted immutable manifest objects + a
    * CAS-updated pointer — no atomic rename, no O_EXCL, no mutable
    * shared log file). `store` defaults to the local filesystem; an
    * object-store deployment swaps in its conditional-PUT
    * implementation and the protocol carries over unchanged. */
  private def log(path: String, store: CommitStore): ManifestLog =
    new ManifestLog(store, path)

  /** All committed versions, ascending (the manifest-object listing). */
  def versions(path: String, store: CommitStore = LocalCommitStore): Seq[Int] =
    log(path, store).versions

  /** The committed version the pointer names, if the table exists. */
  def currentVersion(
      path: String, store: CommitStore = LocalCommitStore): Option[Int] =
    log(path, store).currentVersion

  /** (schema, relative file paths) of a committed version's manifest. */
  private def manifest(
      path: String, v: Int, store: CommitStore): (StructType, Seq[String]) = {
    val lines = log(path, store).manifest(v).getOrElse(
      throw new IllegalArgumentException(
        s"version $v has no manifest at $path")).split("\n").toSeq
    val schema = DataType.fromJson(lines.head).asInstanceOf[StructType]
    (schema, lines.tail.filter(_.nonEmpty))
  }

  /** Stage `df` as partitioned parquet in a writer-unique dir, run `body`
    * on (staging dir, staged file paths relative to it), then delete the
    * dir — also when the staging write itself throws, so a failed write
    * leaves no debris. The write runs OUTSIDE the commit lock — this is
    * the heavy part. */
  private def staged[T](df: DataFrame, path: String, partitionCols: Seq[String])(
      body: (Path, Seq[Path]) => T): T = {
    val staging = Paths.get(path, s".staging-${java.util.UUID.randomUUID()}")
    try {
      val w = df.write.mode("overwrite")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(staging.toString)
      body(staging, FsUtil.parquetFiles(staging).map(staging.relativize))
    } finally FsUtil.deleteRec(staging)
  }

  /** Serialize local writers on an O_EXCL `_lock` file (atomic create).
    * A lock older than [[StaleLockMs]] is a crashed writer's and is
    * broken; waiting longer than [[LockTimeoutMs]] throws. */
  private def withLock[T](path: String)(body: => T): T = {
    val lock = Paths.get(path, "_lock")
    Files.createDirectories(Paths.get(path))
    // Lock content is "<acquireMillis> <holderToken>": the timestamp
    // drives staleness, the token proves ownership at release time.
    val token = java.util.UUID.randomUUID().toString
    val deadline = System.currentTimeMillis() + LockTimeoutMs
    var acquired = false
    while (!acquired) {
      try {
        Files.write(lock, s"${System.currentTimeMillis()} $token"
          .getBytes(StandardCharsets.UTF_8),
          java.nio.file.StandardOpenOption.CREATE_NEW)
        acquired = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          val age = lockAge(lock)
          if (age > StaleLockMs) {
            // Atomic takeover: RENAME the stale lock rather than delete
            // it — only one waiter wins the move (a delete could race
            // another waiter's fresh CREATE_NEW and evict a live lock);
            // losers see NoSuchFile and re-enter the create race.
            val debris = lock.resolveSibling(
              s"_lock.broken-${java.util.UUID.randomUUID().toString}")
            try {
              Files.move(lock, debris, StandardCopyOption.ATOMIC_MOVE)
              Files.deleteIfExists(debris); ()
            } catch { case _: java.nio.file.NoSuchFileException => () }
          }
          else if (System.currentTimeMillis() > deadline)
            throw new IllegalStateException(
              s"could not acquire $lock within ${LockTimeoutMs}ms")
          else Thread.sleep(50)
      }
    }
    try body finally releaseLock(lock, token)
  }

  /** Lock age from its recorded acquire time. When the content doesn't
    * parse (crash between CREATE_NEW and the content write, corruption),
    * fall back to the file mtime so an orphaned empty lock still goes
    * stale instead of wedging every future writer until manual cleanup. */
  private def lockAge(lock: Path): Long =
    try {
      System.currentTimeMillis() - new String(
        Files.readAllBytes(lock), StandardCharsets.UTF_8)
        .trim.split("\\s+")(0).toLong
    } catch {
      case _: Exception =>
        try System.currentTimeMillis() - Files.getLastModifiedTime(lock).toMillis
        catch { case _: Exception => 0L } // vanished mid-check — racing holder
    }

  /** Release only a lock this holder still owns: a writer paused past
    * StaleLockMs may have been stale-broken and replaced by another
    * writer's fresh lock — an unconditional delete here would evict that
    * live holder and let a third writer into the critical section. The
    * token check narrows the exposure to the read→delete window (the
    * stale BREAK itself is an atomic rename, so two breakers can't race). */
  private def releaseLock(lock: Path, token: String): Unit =
    try {
      val content = new String(Files.readAllBytes(lock), StandardCharsets.UTF_8)
      if (content.contains(token)) { Files.deleteIfExists(lock); () }
    } catch { case _: Exception => () } // already gone or replaced — not ours to touch

  /** Rename staged files into `data/` under a fresh commit prefix;
    * returns their new data-relative paths. Renames, not copies. */
  private def adopt(staging: Path, rels: Seq[Path], path: String): Seq[String] = {
    val commitId = java.util.UUID.randomUUID().toString.take(8)
    rels.map { rel =>
      val parent = Option(rel.getParent)
      val target = parent match {
        case Some(p) => dataDir(path).resolve(p).resolve(
          s"$commitId-${rel.getFileName}")
        case None => dataDir(path).resolve(s"$commitId-${rel.getFileName}")
      }
      Files.createDirectories(target.getParent)
      Files.move(staging.resolve(rel), target, StandardCopyOption.ATOMIC_MOVE)
      dataDir(path).relativize(target).toString
    }
  }

  /** One conditional-PUT mint via [[ManifestLog]] — the commit point.
    * `basedOn` carries the version the new file list was derived from:
    * Some(base) routes through the OCC check (stale base → CommitLost),
    * None is the overwrite form whose payload derives from nothing.
    * Under the local lock a CommitLost never fires; lockless (object
    * store) the caller re-reads and retries — the Delta/Iceberg commit
    * loop. */
  private def commitManifest(
      path: String, schema: StructType, files: Seq[String],
      store: CommitStore, basedOn: Option[Option[Int]] = None,
      op: String = "commit"): Int = {
    val payload = (schema.json +: files.sorted).mkString("\n")
    basedOn match {
      case Some(base) => log(path, store).commitAt(base, payload, op)
      case None       => log(path, store).commitOnce(payload, op)
    }
  }

  /** DESCRIBE HISTORY: one audit row per committed version — (version,
    * commit timestamp, operation, live file count), parsed straight
    * from the immutable manifest headers. */
  def history(path: String, store: CommitStore = LocalCommitStore)
      : Seq[(Int, Long, String, Int)] =
    log(path, store).history.map(ci =>
      // payload = schema line + file lines → files = lines - 1
      (ci.version, ci.timestampMs, ci.operation, math.max(0, ci.payloadLines - 1)))

  /** Full commit: the new version's live set is exactly `df`'s files
    * (every previous file is logically removed, though still readable
    * via time travel until vacuumed). */
  def commitFull(
      df: DataFrame, path: String, partitionCols: Seq[String] = Nil,
      store: CommitStore = LocalCommitStore): Int = {
    Files.createDirectories(Paths.get(path))
    staged(df, path, partitionCols) { (staging, rels) =>
      withLock(path) {
        commitManifest(path, df.schema, adopt(staging, rels, path), store,
          op = "overwrite")
      }
    }
  }

  /** Incremental partition refresh — the versioned form of
    * ParquetTable.refreshPartitions: only the hive partitions present in
    * `df` are replaced; every other partition's files carry over BY
    * REFERENCE into the new manifest. Data cost is O(changed
    * partitions); history, time travel and diff keep working because
    * the replaced files stay on disk for older manifests. */
  def refreshPartitions(
      df: DataFrame, path: String, partitionCols: Seq[String],
      store: CommitStore = LocalCommitStore): Int = {
    require(partitionCols.nonEmpty, "partition refresh needs partition columns")
    Files.createDirectories(Paths.get(path))
    staged(df, path, partitionCols) { (staging, rels) =>
      // hive dirs touched by this refresh, e.g. "p=1-URGENT/sub=2"
      val changed = rels.map(r => Option(r.getParent).map(_.toString).getOrElse(""))
        .toSet
      withLock(path) {
        val base = currentVersion(path, store)
        val carried = base match {
          case None => Nil
          case Some(v) =>
            val (prevSchema, prevFiles) = manifest(path, v, store)
            // columns may be ADDED by a refresh (partition evolution
            // commits the widened schema; pre-evolution files null-fill
            // the new columns on read), never silently dropped
            require(prevSchema.fieldNames.toSet.subsetOf(
                df.schema.fieldNames.toSet),
              s"refresh schema ${df.schema.fieldNames.mkString(",")} drops " +
                s"columns of ${prevSchema.fieldNames.mkString(",")} — " +
                "align with ParquetTable.alignToSchema first")
            // prefix-conflict carry (not equality): under partition
            // evolution a refresh of p=1/y=1997 must displace the
            // pre-evolution coarse p=1 files — see [[dirsConflict]]
            prevFiles.filterNot(f =>
              changed.exists(c => dirsConflict(hiveDirOf(f), c)))
        }
        commitManifest(path, df.schema,
          carried ++ adopt(staging, rels, path), store, basedOn = Some(base),
          op = "refresh")
      }
    }
  }

  /** Targeted row deletion (DELETE WHERE — the compliance/right-to-be-
    * forgotten path) at O(affected partitions) cost: partitions holding
    * matching rows are rewritten WITHOUT them and committed as a new
    * manifest version; untouched partitions carry by reference. A
    * partition whose every row matches disappears from the new version
    * entirely — the subtlety [[refreshPartitions]] cannot express,
    * since it only replaces partitions present in the incoming frame
    * and an all-deleted partition produces no rows to land. Previous
    * versions still hold the deleted rows until [[vacuum]] reclaims
    * them (run vacuum(keep = 1) after a compliance delete to actually
    * destroy the data). Returns the new version (or the current one
    * when nothing matches — no empty commit). */
  def deleteWhere(
      spark: SparkSession, path: String, partitionCols: Seq[String],
      predicate: org.apache.spark.sql.Column,
      store: CommitStore = LocalCommitStore): Int = {
    require(partitionCols.nonEmpty, "deleteWhere works on partitioned tables")
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    def dirOf(f: String): String = hiveDirOf(f)
    val v0 = currentVersion(path, store).getOrElse(
      throw new IllegalArgumentException(s"no committed version at $path"))
    val (_, files0) = manifest(path, v0, store)
    requireHomogeneousLayout(files0, partitionCols, "deleteWhere")
    val cur = read(spark, path, Some(v0), store)
    // affected partition VALUES — bounded by partition count, the same
    // driver-side scale the manifest itself lives at
    val affected = cur.filter(predicate)
      .select(partitionCols.map(col): _*).distinct().collect()
    if (affected.isEmpty) return v0
    val affectedDirs = affected.map { r =>
      partitionCols.zipWithIndex.map { case (c, i) =>
        s"${escapePathName(c)}=${escapePathName(
          Option(r.get(i)).map(_.toString).getOrElse("__HIVE_DEFAULT_PARTITION__"))}"
      }.mkString("/")
    }.toSet
    val inAffected = affected.map { r =>
      partitionCols.zipWithIndex
        .map { case (c, i) => col(c) <=> lit(r.get(i)) }
        .reduce(_ && _)
    }.reduce(_ || _)
    // SQL DELETE semantics: only predicate-TRUE rows go; NULL keeps the
    // row, exactly as in unaffected partitions it never looked at.
    val keepRows = cur.filter(
      inAffected && !org.apache.spark.sql.functions.coalesce(predicate, lit(false)))
    staged(keepRows, path, partitionCols) { (staging, rels) =>
      withLock(path) {
        val vNow = currentVersion(path, store).getOrElse(v0)
        val (schemaNow, filesNow) = manifest(path, vNow, store)
        // OCC guard (same shape as compact's): the rewrite was derived
        // from v0, so each affected dir's live file set must still be
        // exactly v0's — otherwise a concurrent commit to that dir would
        // be silently reverted to stale v0 contents. Fail; the caller
        // re-runs against the new current version.
        val byDir0 = files0.groupBy(dirOf)
        val byDirNow = filesNow.groupBy(dirOf)
        val raced = affectedDirs.filter(d =>
          byDir0.getOrElse(d, Nil).toSet != byDirNow.getOrElse(d, Nil).toSet)
        if (raced.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"deleteWhere read v$v0 but partitions ${raced.mkString(", ")} " +
              s"changed by a concurrent commit (now v$vNow); retry the delete")
        val carried = filesNow.filterNot(f => affectedDirs.contains(dirOf(f)))
        commitManifest(path, schemaNow,
          carried ++ adopt(staging, rels, path), store, basedOn = Some(Some(vNow)),
          op = "delete")
      }
    }
  }

  /** OPTIMIZE as a manifest commit: every partition holding more than
    * `maxFilesPerPartition` live files is rewritten into coalesced files
    * and the result commits as a NEW version whose manifest swaps the
    * fragments for the compacted files. Untouched partitions carry by
    * reference; previous versions still read the original fragments
    * (time travel unaffected; the row-level diff across a compaction is
    * EMPTY — it is a metadata-plus-layout rewrite, never a data change);
    * [[vacuum]] eventually reclaims the fragments.
    *
    * Concurrency (Delta OPTIMIZE semantics): the heavy rewrite runs
    * outside the lock against the version it read; under the lock each
    * compacted partition is swapped ONLY IF its live file set is still
    * exactly what was compacted — a partition refreshed concurrently
    * keeps the refresher's files and this compactor's rewrite of it is
    * discarded (skip, not fail). Returns (filesBefore, filesAfter) over
    * the whole table at commit time; equal counts mean nothing needed
    * compacting (no empty commit is made). */
  def compact(
      spark: SparkSession, path: String, partitionCols: Seq[String],
      maxFilesPerPartition: Int = 1,
      store: CommitStore = LocalCommitStore): (Int, Int) = {
    require(partitionCols.nonEmpty, "compaction works on partitioned tables")
    def dirOf(f: String): String = hiveDirOf(f)
    val v0 = currentVersion(path, store).getOrElse(
      throw new IllegalArgumentException(s"no committed version at $path"))
    val (schema0, files0) = manifest(path, v0, store)
    requireHomogeneousLayout(files0, partitionCols, "compact")
    val frag = files0.groupBy(dirOf)
      .filter(_._2.size > maxFilesPerPartition)
    if (frag.isEmpty) return (files0.size, files0.size)

    // heavy rewrite outside the lock: read ONLY the fragmented
    // partitions (readFiles groups owned vs cloned-foreign entries by
    // their data roots), one task per partition so each dir lands as
    // one file — compacting a shallow clone MATERIALIZES the compacted
    // partitions locally, Delta CLONE's exact behavior on rewrite
    val df = readFiles(spark, path, schema0, frag.values.flatten.toSeq)
      .repartition(partitionCols.map(col): _*)
    staged(df, path, partitionCols) { (staging, rels) =>
      withLock(path) {
        val vNow = currentVersion(path, store).getOrElse(v0)
        val (schemaNow, filesNow) = manifest(path, vNow, store)
        val nowByDir = filesNow.groupBy(dirOf)
        val safe = frag.keySet.filter(d =>
          nowByDir.get(d).map(_.toSet) == frag.get(d).map(_.toSet))
        if (safe.isEmpty) (filesNow.size, filesNow.size)
        else {
          val keep = filesNow.filterNot(f => safe.contains(dirOf(f)))
          val adopted = adopt(staging,
            rels.filter(r => safe.contains(dirOf(r.toString))), path)
          commitManifest(path, schemaNow, keep ++ adopted, store,
            basedOn = Some(Some(vNow)), op = "compact")
          (filesNow.size, keep.size + adopted.size)
        }
      }
    }
  }

  /** Read a committed snapshot: the current one, or `version` for time
    * travel. Partition columns come back from the hive dir names
    * (basePath) and every column is cast to the manifest's recorded
    * schema, so reads are schema-stable across versions — including an
    * empty version, which reads as an empty frame of the right schema. */
  def read(spark: SparkSession, path: String, version: Option[Int] = None,
      store: CommitStore = LocalCommitStore): DataFrame = {
    val v = version.orElse(currentVersion(path, store)).getOrElse(
      throw new IllegalArgumentException(s"no committed version at $path"))
    require(versions(path, store).contains(v),
      s"version $v not in committed set ${versions(path, store)} at $path")
    val (schema, files) = manifest(path, v, store)
    readFiles(spark, path, schema, files)
  }

  /** Schema-aligned scan of an explicit live-file subset — the shared
    * read path of [[read]] (a whole manifest) and [[diff]] (only the
    * files a version pair disagrees on). */
  private def readFiles(spark: SparkSession, path: String,
      schema: StructType, files: Seq[String]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else {
      // Owned (relative) entries read under this table's data root;
      // foreign (shallow-cloned) entries group by THEIR data root so
      // partition columns still parse from the hive dir names. Each
      // group aligns to the manifest schema before the union, so a
      // mixed manifest (clone + local rewrites) reads seamlessly.
      val (foreign, local) = files.partition(isForeign)
      val groups = Seq.newBuilder[DataFrame]
      // group by partition-layout signature (partition evolution can mix
      // layouts in one manifest) so discovery sees one layout per read;
      // alignToSchema null-fills partition columns a pre-evolution file's
      // dirs cannot supply
      local.groupBy(sigOf).toSeq.sortBy(_._1).foreach { case (_, fs) =>
        val abs = fs.sorted.map(f => dataDir(path).resolve(f).toString)
        groups += spark.read
          .option("basePath", dataDir(path).toString).parquet(abs: _*)
      }
      foreign.groupBy(f => (foreignBase(f), sigOf(f))).toSeq.sortBy(_._1)
        .foreach { case ((base, _), fs) =>
          groups += spark.read.option("basePath", base).parquet(fs.sorted: _*)
        }
      groups.result().map(ParquetTable.alignToSchema(_, schema))
        .reduce(_.unionByName(_))
    }

  /** Metadata-only rollback: CAS the pointer at an earlier version.
    * The pin expires as soon as anyone commits — for a durable revert
    * use [[restore]], which wins races the way commits do. */
  def rollback(path: String, version: Int,
      store: CommitStore = LocalCommitStore): Unit =
    log(path, store).setPointer(version)

  /** RESTORE as a commit (Delta RESTORE semantics): mint a NEW version
    * whose live-file set is exactly `version`'s — history stays linear
    * (the bad versions remain time-travelable until vacuum), the revert
    * is itself an audited commit that concurrent writers serialize
    * against, and unlike [[rollback]]'s pin it cannot be silently
    * superseded. Pure metadata: no data moves. Returns the new version. */
  def restore(path: String, version: Int,
      store: CommitStore = LocalCommitStore): Int = {
    val (schema, files) = manifest(path, version, store)
    withLock(path) {
      val base = currentVersion(path, store)
      commitManifest(path, schema, files, store,
        basedOn = Some(base), op = s"restore")
    }
  }

  /** SHALLOW CLONE (Delta `CREATE TABLE ... SHALLOW CLONE src [VERSION
    * AS OF v]`): mint a new table at `dstPath` whose first manifest
    * names the SOURCE's live data files by absolute path — a pure
    * metadata commit, zero bytes of data copied or moved, whatever the
    * table size. The clone then lives its own life: reads (including
    * time travel over its own history), partition refreshes, DELETE
    * WHERE, and compaction all work, writing NEW files under the
    * clone's own data root while untouched partitions keep reading the
    * source's immutable objects; the source never observes any of it.
    * Compacting a clone materializes the compacted partitions locally
    * (Delta's behavior on rewrite).
    *
    * Retention caveat, same as Delta's: the clone references but does
    * not own the source files, so a `vacuum` ON THE SOURCE that drops
    * the cloned version's files breaks the clone — keep the source's
    * retention above the clone's lifetime, or compact the clone to
    * materialize it. Returns the clone's first committed version. */
  def shallowClone(srcPath: String, dstPath: String,
      version: Option[Int] = None,
      store: CommitStore = LocalCommitStore): Int = {
    val v = version.orElse(currentVersion(srcPath, store)).getOrElse(
      throw new IllegalArgumentException(s"no committed version at $srcPath"))
    require(versions(srcPath, store).contains(v),
      s"version $v not in committed set at $srcPath")
    val (schema, files) = manifest(srcPath, v, store)
    // clone-of-a-clone: already-foreign entries carry through verbatim
    val entries = files.map { f =>
      if (isForeign(f)) f
      else dataDir(srcPath).resolve(f).toAbsolutePath.normalize.toString
    }
    Files.createDirectories(Paths.get(dstPath))
    withLock(dstPath) {
      commitManifest(dstPath, schema, entries, store,
        basedOn = Some(currentVersion(dstPath, store)), op = s"clone@v$v")
    }
  }

  /** The (added, removed) data-file groups between two versions — the
    * manifest set-difference that IS the incremental commit. */
  def fileChanges(path: String, fromV: Int, toV: Int,
      store: CommitStore = LocalCommitStore): (Seq[String], Seq[String]) = {
    val from = manifest(path, fromV, store)._2.toSet
    val to = manifest(path, toV, store)._2.toSet
    ((to -- from).toSeq.sorted, (from -- to).toSeq.sorted)
  }

  /** Row-level change feed between two versions: inserts = rows only in
    * `to`, deletes = rows only in `from`; an update is its delete+insert
    * pair. Compares whole rows, so callers align schema changes first.
    *
    * Scans ONLY the files the two manifests disagree on: a file carried
    * by reference contributes the identical row multiset to both sides
    * of the multiset difference, so it cancels exactly and never needs
    * reading. After a one-partition refresh of a 100 TB table the diff
    * reads one partition's worth of data, not 200 TB — the property
    * that makes [[IncrementalView]] maintenance O(changed data). Both
    * subsets align to the TO version's schema so the feed is
    * union-compatible across a schema evolution. */
  def diff(spark: SparkSession, path: String, fromV: Int, toV: Int,
      store: CommitStore = LocalCommitStore): DataFrame = {
    val (_, fromFiles) = manifest(path, fromV, store)
    val (toSchema, toFiles) = manifest(path, toV, store)
    val removed = fromFiles.toSet -- toFiles.toSet
    val added = toFiles.toSet -- fromFiles.toSet
    val before = readFiles(spark, path, toSchema, removed.toSeq.sorted)
    val after = readFiles(spark, path, toSchema, added.toSeq.sorted)
    // Pure-insert / pure-delete transitions (a new partition lands, a
    // partition is dropped) need no multiset subtraction: exceptAll
    // against an EMPTY side is the identity on the other, so the
    // aggregate round both exceptAlls plan is pure overhead. Decided at
    // the FILE level — no data is read to pick the path.
    if (removed.isEmpty) after.withColumn("__change", lit("insert"))
    else if (added.isEmpty) before.withColumn("__change", lit("delete"))
    else
      after.exceptAll(before).withColumn("__change", lit("insert"))
        .unionByName(before.exceptAll(after).withColumn("__change", lit("delete")))
  }

  /** Drop all but the newest `keep` versions (current always kept), then
    * delete every data file no kept manifest references. Serializes with
    * commits under the table lock, so an in-flight commit's just-adopted
    * files can't be swept: files only enter `data/` under this same
    * lock, and unreferenced files under `data/` belong to dropped
    * versions or to a commit that died mid-adopt (its version was never
    * logged, so its files are unreachable debris). A dead writer's
    * `.staging-*` dir is reclaimed once nothing in it has changed for
    * [[StagingGraceMs]]: staging writes run outside the lock, so a
    * younger dir may belong to a live writer. */
  /** `unreferencedGraceMs` protects the LOCKLESS (object-store) path:
    * a writer there adopts data files BEFORE minting its manifest, so
    * a concurrent vacuum would otherwise sweep the in-flight files and
    * the writer would mint a manifest naming deleted data. Locally the
    * shared lock already serializes this (adopt and vacuum both run
    * under it) and tests may pass 0; lockless deployments must keep
    * the grace above the longest possible commit, exactly Delta's
    * retention-vs-in-flight-writer rule. */
  def vacuum(path: String, keep: Int = 2,
      store: CommitStore = LocalCommitStore,
      unreferencedGraceMs: Long = 0L): Unit = {
    withLock(path) {
      val now = System.currentTimeMillis()
      FsUtil.listDir(Paths.get(path))
        .filter(_.getFileName.toString.startsWith(".staging-"))
        .filter(d => now - FsUtil.newestMtime(d) > StagingGraceMs)
        .foreach(FsUtil.deleteRec)
      val committed = versions(path, store)
      if (committed.nonEmpty) {
        val keepSet = committed.takeRight(math.max(keep, 1)).toSet ++
          currentVersion(path, store)
        val live = keepSet.toSeq.sorted
          .flatMap(v => manifest(path, v, store)._2).toSet
        FsUtil.parquetFiles(dataDir(path)).foreach { f =>
          val quiet =
            try now - Files.getLastModifiedTime(f).toMillis >= unreferencedGraceMs
            catch { case _: Exception => false } // vanished — racing writer
          if (quiet && !live.contains(dataDir(path).relativize(f).toString))
            Files.delete(f)
        }
        // the newest manifest always survives (keepSet ⊇ last), so
        // version numbers never reuse after a vacuum
        log(path, store).dropVersions(committed.filterNot(keepSet.contains))
      }
    }
  }
}
