package graft.tables

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Manifest-based incremental commits: a refresh must move only the
  * changed partitions' data while history, time travel, rollback, file
  * diff and vacuum keep every version readable until it is vacuumed. */
class IncrementalTableSpec extends SparkSpec {

  import spark.implicits._

  private def freshPath(name: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), "graft_it_spec", name)
    FsUtil.deleteRec(p)
    p.toString
  }

  private def df(rows: (Long, String, String)*) =
    rows.toDF("k", "v", "part")

  test("full commit + incremental refresh: only changed partitions gain files") {
    val path = freshPath("incr")
    val v1 = IncrementalTable.commitFull(
      df((1L, "a", "p1"), (2L, "b", "p1"), (3L, "c", "p2"), (4L, "d", "p3")),
      path, Seq("part"))
    assert(v1 === 1)
    val v2 = IncrementalTable.refreshPartitions(
      df((3L, "c2", "p2")), path, Seq("part"))
    assert(v2 === 2)

    // current read: p1 and p3 carried untouched, p2 replaced
    val cur = IncrementalTable.read(spark, path)
      .select("k", "v").as[(Long, String)].collect().toSet
    assert(cur === Set((1L, "a"), (2L, "b"), (3L, "c2"), (4L, "d")))

    // time travel to v1 still sees the original p2
    val old = IncrementalTable.read(spark, path, Some(1))
      .select("k", "v").as[(Long, String)].collect().toSet
    assert(old === Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))

    // the commit was incremental: added AND removed files all live in
    // p2; p1's and p3's files carried by reference
    val (added, removed) = IncrementalTable.fileChanges(path, 1, 2)
    assert(added.nonEmpty && removed.nonEmpty)
    assert(added.forall(_.startsWith("part=p2/")), s"added outside p2: $added")
    assert(removed.forall(_.startsWith("part=p2/")), s"removed outside p2: $removed")
  }

  test("refresh carries untouched partitions by reference (same physical files)") {
    val path = freshPath("carry")
    IncrementalTable.commitFull(
      df((1L, "a", "p1"), (2L, "b", "p2")), path, Seq("part"))
    IncrementalTable.refreshPartitions(df((2L, "b2", "p2")), path, Seq("part"))
    val (added, removed) = IncrementalTable.fileChanges(path, 1, 2)
    assert(added.forall(_.startsWith("part=p2/")))
    assert(removed.forall(_.startsWith("part=p2/")))
    // untouched partition must still be present in both versions AND be
    // the identical file paths (reference carry, no rewrite)
    val v1Files = IncrementalTable.read(spark, path, Some(1))
      .select(input_file_name()).as[String].collect().filter(_.contains("part=p1")).toSet
    val v2Files = IncrementalTable.read(spark, path, Some(2))
      .select(input_file_name()).as[String].collect().filter(_.contains("part=p1")).toSet
    assert(v1Files === v2Files && v1Files.nonEmpty)
  }

  test("idempotent refresh: re-running the same refresh keeps row counts") {
    val path = freshPath("idem")
    IncrementalTable.commitFull(
      df((1L, "a", "p1"), (2L, "b", "p2")), path, Seq("part"))
    IncrementalTable.refreshPartitions(df((2L, "b2", "p2")), path, Seq("part"))
    IncrementalTable.refreshPartitions(df((2L, "b2", "p2")), path, Seq("part"))
    assert(IncrementalTable.versions(path) === Seq(1, 2, 3))
    assert(IncrementalTable.read(spark, path).count() === 2)
    assert(IncrementalTable.read(spark, path)
      .filter(col("part") === "p2").select("v").as[String].collect().toSeq === Seq("b2"))
  }

  test("rollback is metadata-only and a later commit branches forward") {
    val path = freshPath("rb")
    IncrementalTable.commitFull(df((1L, "a", "p1")), path, Seq("part"))
    IncrementalTable.refreshPartitions(df((1L, "a2", "p1")), path, Seq("part"))
    IncrementalTable.rollback(path, 1)
    assert(IncrementalTable.read(spark, path)
      .select("v").as[String].collect().toSeq === Seq("a"))
    val v3 = IncrementalTable.refreshPartitions(df((1L, "a3", "p1")), path, Seq("part"))
    assert(v3 === 3)
    assert(IncrementalTable.read(spark, path, Some(2))
      .select("v").as[String].collect().toSeq === Seq("a2"))
  }

  test("diff between versions yields the delete+insert pairs of changed rows") {
    val path = freshPath("diff")
    IncrementalTable.commitFull(
      df((1L, "a", "p1"), (2L, "b", "p2")), path, Seq("part"))
    IncrementalTable.refreshPartitions(df((2L, "B", "p2")), path, Seq("part"))
    val d = IncrementalTable.diff(spark, path, 1, 2)
      .select("__change", "k", "v").as[(String, Long, String)].collect().toSet
    assert(d === Set(("insert", 2L, "B"), ("delete", 2L, "b")))
  }

  test("vacuum drops old versions' unreferenced files, keeps live ones") {
    val path = freshPath("vac")
    IncrementalTable.commitFull(
      df((1L, "a", "p1"), (2L, "b", "p2")), path, Seq("part"))
    IncrementalTable.refreshPartitions(df((2L, "b2", "p2")), path, Seq("part"))
    IncrementalTable.refreshPartitions(df((2L, "b3", "p2")), path, Seq("part"))
    IncrementalTable.vacuum(path, keep = 1)
    assert(IncrementalTable.versions(path) === Seq(3))
    // current still reads fine, including the carried p1 file from v1
    assert(IncrementalTable.read(spark, path)
      .select("k", "v").as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b3")))
    // old versions are gone
    intercept[IllegalArgumentException] {
      IncrementalTable.read(spark, path, Some(1))
    }
    // v2's replaced p2 file was physically deleted; v3's and the carried
    // p1 file survive
    val live = FsUtil.parquetFiles(Paths.get(path, "data")).map(_.toString)
    assert(live.count(_.contains("part=p2")) >= 1)
    assert(live.count(_.contains("part=p1")) >= 1)
  }

  test("empty refresh frame commits a no-op version; empty table reads empty") {
    val path = freshPath("empty")
    IncrementalTable.commitFull(df((1L, "a", "p1")), path, Seq("part"))
    IncrementalTable.refreshPartitions(
      df().filter(lit(false)), path, Seq("part"))
    assert(IncrementalTable.read(spark, path).count() === 1)
    // an empty FULL commit is readable with the right schema
    val p2 = freshPath("empty2")
    IncrementalTable.commitFull(df().filter(lit(false)), p2, Seq("part"))
    val out = IncrementalTable.read(spark, p2)
    assert(out.count() === 0)
    assert(out.columns.toSeq === Seq("k", "v", "part"))
  }

  test("compact: fragments collapse, history intact, diff across compaction empty") {
    val path = freshPath("compact")
    val rows = (1L to 40L).map(i => (i, s"v$i", s"p${i % 2}"))
    // 4-way shuffle → up to 4 files per partition
    IncrementalTable.commitFull(
      rows.toDF("k", "v", "part").repartition(4), path, Seq("part"))
    val (b, a) = IncrementalTable.compact(spark, path, Seq("part"))
    assert(b > a && a === 2, s"expected 2 compacted files, got $a of $b")
    assert(IncrementalTable.versions(path) === Seq(1, 2))
    // data identical in both versions; v1 still reads its fragments
    assert(IncrementalTable.read(spark, path).count() === 40)
    assert(IncrementalTable.read(spark, path, Some(1)).count() === 40)
    assert(IncrementalTable.diff(spark, path, 1, 2).count() === 0)
    // second compact: nothing fragmented → no-op, no empty commit
    val (b2, a2) = IncrementalTable.compact(spark, path, Seq("part"))
    assert(b2 === a2 && IncrementalTable.versions(path) === Seq(1, 2))
    // refresh after compaction composes: only that partition's files change
    IncrementalTable.refreshPartitions(
      df((99L, "z", "p1")), path, Seq("part"))
    val (added, removed) = IncrementalTable.fileChanges(path, 2, 3)
    assert((added ++ removed).forall(_.startsWith("part=p1/")))
  }

  test("deleteWhere: partial rewrite, all-deleted partition vanishes, history keeps rows") {
    val path = freshPath("delete")
    IncrementalTable.commitFull(
      df((1L, "a", "p1"), (2L, "b", "p1"), (3L, "c", "p2"), (5L, "e", "p2"),
        (4L, "d", "p3")),
      path, Seq("part"))
    // delete all of p1 and half of p2; p3 untouched
    val v = IncrementalTable.deleteWhere(spark, path, Seq("part"),
      col("part") === "p1" || col("k") === 3L)
    assert(v === 2)
    val cur = IncrementalTable.read(spark, path)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(cur === Set(4L, 5L))
    // p1's dir is gone from the manifest entirely
    val (added, removed) = IncrementalTable.fileChanges(path, 1, 2)
    assert(removed.exists(_.startsWith("part=p1/")))
    assert(!added.exists(_.startsWith("part=p1/")))
    // p3 carried by reference: no file churn outside affected partitions
    assert((added ++ removed).forall(f =>
      f.startsWith("part=p1/") || f.startsWith("part=p2/")))
    // history intact until vacuum; then the data is really gone
    assert(IncrementalTable.read(spark, path, Some(1)).count() === 5)
    IncrementalTable.vacuum(path, keep = 1)
    assert(IncrementalTable.versions(path) === Seq(2))
    assert(IncrementalTable.read(spark, path).count() === 2)
    // no-op delete makes no commit
    assert(IncrementalTable.deleteWhere(spark, path, Seq("part"),
      col("k") === 999L) === 2)
    assert(IncrementalTable.versions(path) === Seq(2))
  }

  test("schema mismatch on refresh fails fast instead of corrupting the manifest") {
    val path = freshPath("schema")
    IncrementalTable.commitFull(df((1L, "a", "p1")), path, Seq("part"))
    intercept[IllegalArgumentException] {
      IncrementalTable.refreshPartitions(
        Seq((1L, "p1")).toDF("k", "part"), path, Seq("part"))
    }
    assert(IncrementalTable.versions(path) === Seq(1))
  }

  test("partition evolution: refined layout displaces coarse files, mixed reads work") {
    val path = freshPath("evol")
    IncrementalTable.commitFull(
      df((1L, "a", "p1"), (2L, "b", "p1"), (3L, "c", "p2")), path, Seq("part"))
    // evolve p1 to (part, sub); p2 keeps the coarse layout
    val evolved = Seq((1L, "a", "p1", "s1"), (2L, "b2", "p1", "s2"))
      .toDF("k", "v", "part", "sub")
    IncrementalTable.refreshPartitions(evolved, path, Seq("part", "sub"))
    val cur = IncrementalTable.read(spark, path)
      .select("k", "v", "sub").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSet
    // evolved rows carry sub; the pre-evolution p2 row reads sub = null
    assert(cur === Set((1L, "a", "s1"), (2L, "b2", "s2"), (3L, "c", null)))
    // the coarse p1 file is gone from the live set (prefix conflict),
    // p2's coarse file is carried
    val (added, removed) = IncrementalTable.fileChanges(path, 1, 2)
    assert(removed.forall(_.startsWith("part=p1/")) && removed.nonEmpty)
    assert(added.forall(_.startsWith("part=p1/sub=")) && added.size === 2)
    // time travel reads the whole pre-evolution table (sub null-fills)
    assert(IncrementalTable.read(spark, path, Some(1))
      .select("v").as[String].collect().toSet === Set("a", "b", "c"))
    // rewriters refuse to run mid-evolution instead of corrupting
    val e = intercept[IllegalArgumentException] {
      IncrementalTable.compact(spark, path, Seq("part", "sub"))
    }
    assert(e.getMessage.contains("homogeneous"))
    // completing the evolution (refresh p2 at the new layout) re-arms them
    IncrementalTable.refreshPartitions(
      Seq((3L, "c", "p2", "s1")).toDF("k", "v", "part", "sub"),
      path, Seq("part", "sub"))
    val (b4, after) = IncrementalTable.compact(spark, path, Seq("part", "sub"))
    assert(after <= b4)
    assert(IncrementalTable.deleteWhere(spark, path, Seq("part", "sub"),
      col("k") === 2L) > 0)
    assert(IncrementalTable.read(spark, path)
      .select("k").as[Long].collect().toSet === Set(1L, 3L))
  }
}
