package graft.tables

import java.nio.file.Paths

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** SHALLOW CLONE: a metadata-only table copy whose manifest names the
  * source's data files by absolute path. The clone must cost zero data
  * movement, read identically to the source, diverge independently
  * (delete / refresh / compact write clone-local files), and never
  * mutate or be mutated by the source.
  */
class ShallowCloneSpec extends SparkSpec {

  import spark.implicits._

  private def freshPath(name: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), "graft_clone_spec", name)
    FsUtil.deleteRec(p)
    p.toString
  }

  private def df(rows: (Long, String, String)*) =
    rows.toDF("k", "v", "part")

  private def localFiles(path: String): Seq[String] =
    FsUtil.parquetFiles(Paths.get(path, "data")).map(_.toString)

  test("clone is zero-copy and reads the source version exactly") {
    val src = freshPath("zc_src")
    val dst = freshPath("zc_dst")
    IncrementalTable.commitFull(
      df((1L, "a", "p1"), (2L, "b", "p2"), (3L, "c", "p2")), src, Seq("part"))
    val v = IncrementalTable.shallowClone(src, dst)
    assert(v === 1)
    assert(localFiles(dst).isEmpty, "clone must copy no data files")
    val rows = IncrementalTable.read(spark, dst)
      .select("k", "v", "part").as[(Long, String, String)].collect().toSet
    assert(rows === Set((1L, "a", "p1"), (2L, "b", "p2"), (3L, "c", "p2")))
  }

  test("clone pins the requested version, not the source's later commits") {
    val src = freshPath("ver_src")
    val dst = freshPath("ver_dst")
    IncrementalTable.commitFull(df((1L, "a", "p1")), src, Seq("part"))
    IncrementalTable.refreshPartitions(df((1L, "a2", "p1")), src, Seq("part"))
    IncrementalTable.shallowClone(src, dst, version = Some(1))
    val vs = IncrementalTable.read(spark, dst)
      .select("v").as[String].collect().toSeq
    assert(vs === Seq("a"))
    // source advancing further never shows up in the clone
    IncrementalTable.refreshPartitions(df((1L, "a3", "p1")), src, Seq("part"))
    assert(IncrementalTable.read(spark, dst)
      .select("v").as[String].collect().toSeq === Seq("a"))
  }

  test("clone diverges via refresh with local files; source untouched") {
    val src = freshPath("div_src")
    val dst = freshPath("div_dst")
    IncrementalTable.commitFull(
      df((1L, "a", "p1"), (2L, "b", "p2")), src, Seq("part"))
    IncrementalTable.shallowClone(src, dst)
    val srcFilesBefore = localFiles(src).toSet

    IncrementalTable.refreshPartitions(df((2L, "b2", "p2")), dst, Seq("part"))
    // mixed manifest: p1 still foreign, p2 now local
    val cur = IncrementalTable.read(spark, dst)
      .select("k", "v").as[(Long, String)].collect().toSet
    assert(cur === Set((1L, "a"), (2L, "b2")))
    assert(localFiles(dst).nonEmpty, "refresh must write under the clone")
    assert(localFiles(src).toSet === srcFilesBefore, "source files unchanged")
    assert(IncrementalTable.read(spark, src)
      .select("v").as[String].collect().toSet === Set("a", "b"))

    // clone time travel still reads the pre-divergence state
    assert(IncrementalTable.read(spark, dst, Some(1))
      .select("v").as[String].collect().toSet === Set("a", "b"))
  }

  test("deleteWhere on a clone drops foreign files of an all-deleted partition") {
    val src = freshPath("del_src")
    val dst = freshPath("del_dst")
    IncrementalTable.commitFull(
      df((1L, "a", "p1"), (2L, "b", "p2"), (3L, "c", "p2")), src, Seq("part"))
    IncrementalTable.shallowClone(src, dst)
    IncrementalTable.deleteWhere(
      spark, dst, Seq("part"), col("part") === "p2" && col("k") === 2L)
    assert(IncrementalTable.read(spark, dst)
      .select("k").as[Long].collect().toSet === Set(1L, 3L))
    // all-deleted partition: foreign files just drop from the manifest
    IncrementalTable.deleteWhere(spark, dst, Seq("part"), col("part") === "p1")
    assert(IncrementalTable.read(spark, dst)
      .select("k").as[Long].collect().toSet === Set(3L))
    assert(IncrementalTable.read(spark, src).count() === 3L, "source intact")
  }

  test("compacting a clone materializes compacted partitions locally") {
    val src = freshPath("cmp_src")
    val dst = freshPath("cmp_dst")
    // two files in p1 → fragmented by maxFilesPerPartition = 1 (every
    // commit stages one file per partition value, so the writing session
    // caps the rows per file)
    val fragmenting = spark.newSession()
    fragmenting.conf.set("spark.sql.files.maxRecordsPerFile", "2")
    IncrementalTable.commitFull(
      fragmenting.createDataFrame(
        Seq((1L, "a", "p1"), (2L, "b", "p1"), (3L, "c", "p1"), (4L, "d", "p1")))
        .toDF("k", "v", "part"), src, Seq("part"))
    IncrementalTable.shallowClone(src, dst)
    val (before, after) = IncrementalTable.compact(spark, dst, Seq("part"))
    assert(before > after)
    assert(localFiles(dst).nonEmpty, "compaction materializes locally")
    assert(IncrementalTable.read(spark, dst)
      .select("v").as[String].collect().toSet === Set("a", "b", "c", "d"))
    assert(IncrementalTable.read(spark, src).count() === 4L)
  }

  test("vacuum on the clone never touches source data files") {
    val src = freshPath("vac_src")
    val dst = freshPath("vac_dst")
    IncrementalTable.commitFull(
      df((1L, "a", "p1"), (2L, "b", "p2")), src, Seq("part"))
    IncrementalTable.shallowClone(src, dst)
    IncrementalTable.refreshPartitions(df((2L, "b2", "p2")), dst, Seq("part"))
    val srcFiles = localFiles(src).toSet
    IncrementalTable.vacuum(dst, keep = 1)
    assert(localFiles(src).toSet === srcFiles, "source files survive clone vacuum")
    assert(IncrementalTable.read(spark, dst)
      .select("v").as[String].collect().toSet === Set("a", "b2"))
  }

  test("clone of a clone carries foreign entries verbatim") {
    val src = freshPath("cc_src")
    val mid = freshPath("cc_mid")
    val dst = freshPath("cc_dst")
    IncrementalTable.commitFull(df((1L, "a", "p1")), src, Seq("part"))
    IncrementalTable.shallowClone(src, mid)
    IncrementalTable.shallowClone(mid, dst)
    assert(localFiles(mid).isEmpty && localFiles(dst).isEmpty)
    assert(IncrementalTable.read(spark, dst)
      .select("v").as[String].collect().toSeq === Seq("a"))
  }
}
