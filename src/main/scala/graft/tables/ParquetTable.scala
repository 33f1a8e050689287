package graft.tables

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Maintenance operators M1–M7 (SURVEY §2.10) on plain-parquet tables.
  *
  * The reference gets DELETE/MERGE/schema-evolution from Iceberg; the
  * BASELINE approach names Delta. This container ships neither, so the
  * engine implements the same table semantics Spark-natively:
  *
  *   - M1 idempotent partition refresh  → dynamic partition overwrite
  *     (`partitionOverwriteMode=dynamic`) — Spark only rewrites the
  *     partitions present in the incoming frame, the exact semantics of
  *     the reference's DELETE WHERE course/date + append (etl.py:639-677),
  *     without a table format. Each refresh writes one file per partition
  *     value (a hash repartition by the partition columns).
  *   - M2 first-run CTAS with partitioning → partitioned parquet write.
  *   - M3 schema evolution → align-by-name projection (add missing as
  *     NULL, drop unknown extras) mirroring etl.py:654-673.
  *   - M4 MERGE INTO upsert → full-outer join rewrite (below).
  *   - M5/M6 quarantine + run-summary JSON writes.
  *
  * On a cluster with Delta/Iceberg each op becomes one engine call:
  *
  * | op                  | Delta Lake                               | Iceberg                                    |
  * |---------------------|------------------------------------------|--------------------------------------------|
  * | createOrReplace     | `CREATE OR REPLACE TABLE ... USING delta`| `CREATE OR REPLACE TABLE ... USING iceberg`|
  * | refreshPartitions   | `replaceWhere` overwrite                 | `overwritePartitions()`                    |
  * | alignToSchema       | `mergeSchema=true` write option          | schema evolution on write                  |
  * | merge               | `DeltaTable.merge(...)`                  | `MERGE INTO` SQL                           |
  * | compact             | `OPTIMIZE`                               | `rewrite_data_files` procedure             |
  * | writeQuarantine     | plain JSON write (format-agnostic)       | plain JSON write                           |
  * | writeRunSummary     | plain JSON write (format-agnostic)       | plain JSON write                           |
  *
  * What a table format adds beyond these ops (and plain parquet cannot
  * give): ACID commits (no swap-rename window), snapshot isolation for
  * concurrent writers, and time travel. In this engine those come from
  * [[IncrementalTable]]; the ops here document their non-atomic swap
  * window ([[swapWrite]]) instead.
  */
object ParquetTable {

  /** M2 — create (or fully replace) a partitioned table. */
  def createOrReplace(df: DataFrame, path: String, partitionCols: Seq[String]): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path)
  }

  /** M1 — idempotent partition refresh: only the partitions present in
    * `df` are replaced; everything else is untouched. Re-running the same
    * ingest is a no-op in row counts (the reference's DELETE+append goal).
    *
    * Rows are hash-repartitioned by the partition columns before the
    * write, so a refresh lands one file per partition value, not one file
    * per upstream task per partition. */
  def refreshPartitions(df: DataFrame, path: String, partitionCols: Seq[String]): Unit = {
    require(partitionCols.nonEmpty, "partition refresh needs partition columns")
    df.repartition(partitionCols.map(col): _*).write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)
  }

  /** M3 — schema evolution on write: align `df` to `target` by name; add
    * target columns missing from df as NULL, drop df-only extras, order as
    * target (etl.py:654-673, dimensions.py:329-343). */
  def alignToSchema(df: DataFrame, target: StructType): DataFrame = {
    val have = df.columns.toSet
    df.select(target.fields.map { f =>
      if (have.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toSeq: _*)
  }

  /** M4 / J10 — MERGE INTO semantics on a parquet table: rows matching on
    * `keys` are updated via `updates` (target columns referenced as
    * `t.<col>`, source as `s.<col>`), unmatched source rows are inserted,
    * unmatched target rows are kept. Implemented as a shuffle-free-as-
    * possible full-outer join + projection; the write goes through a
    * temp-dir swap so a failed job never half-replaces the table.
    *
    * At scale the join shuffles by the merge keys exactly like Delta's
    * MERGE; partition-pruning the target read before the join (pass
    * `targetFilter`) keeps it proportional to touched data.
    */
  def merge(
      spark: SparkSession,
      path: String,
      source: DataFrame,
      keys: Seq[String],
      updates: Map[String, (Column, Column) => Column] = Map.empty,
      targetFilter: Option[Column] = None): Unit = {
    val target0 = spark.read.parquet(path)
    val target = targetFilter.map(target0.filter).getOrElse(target0)
    val untouched = targetFilter.map(f => target0.filter(!f))

    val t = target.as("t")
    val s = alignToSchema(source, target.schema).as("s")
    val cond = keys.map(k => col(s"t.$k") <=> col(s"s.$k")).reduce(_ && _)
    val joined = t.join(s, cond, "full_outer")

    val merged = joined.select(target.schema.fieldNames.map { c =>
      val tc = col(s"t.$c"); val sc = col(s"s.$c")
      val matched = col(s"t.${keys.head}").isNotNull && col(s"s.${keys.head}").isNotNull
      val sourceOnly = col(s"t.${keys.head}").isNull
      val updated = updates.get(c).map(f => f(tc, sc)).getOrElse(
        if (keys.contains(c)) tc else sc)
      when(matched, updated)
        .when(sourceOnly, sc)
        .otherwise(tc)
        .as(c)
    }.toSeq: _*)

    val result = untouched.map(u => merged.unionByName(u)).getOrElse(merged)
    swapWrite(result, path)
  }

  /** Small-file compaction (the OPTIMIZE of real table formats): rewrite
    * each partition's fragment files into ~targetBytes outputs, preserving
    * partitioning and data. Long-lived append-mode tables accumulate one
    * file per (partition, batch); at 650 courses × 7 years of daily
    * appends the file count, not the byte count, becomes the scan
    * bottleneck (driver listing + task-per-file overhead). Returns
    * (filesBefore, filesAfter).
    *
    * Within each partition value the rewrite splits into
    * ceil(partitionRows × bytesPerRow / targetBytes) files via an
    * intra-partition salt — a multi-GB partition is parallelized across
    * that many tasks and lands as ~targetBytes files, instead of hashing
    * onto ONE task as a single giant file. The per-partition row counts
    * come from one map-side-combined aggregate (cardinality = number of
    * partition values — tiny next to the rewrite itself).
    *
    * Swap safety: the rewrite goes through [[swap]] (staged sibling, two
    * renames, old copy deleted only after the swapped-in table
    * validates; a non-atomic window between the renames — the price of
    * no real table format). A rewrite that lands no parquet file aborts
    * before anything is renamed.
    *
    * `clusterBy` sorts rows within each output task (after the salt
    * scatter) so every rewritten file carries tight parquet row-group
    * min/max stats on those columns — the OPTIMIZE ... ZORDER intent:
    * point/range scans on the cluster key skip most row groups at read
    * time. */
  def compact(
      spark: SparkSession, path: String, partitionCols: Seq[String],
      targetBytes: Long = 128L * 1024 * 1024,
      clusterBy: Seq[String] = Nil): (Long, Long) = {
    val files0 = FsUtil.parquetFiles(Paths.get(path))
    val before = files0.size.toLong
    if (before == 0) return (0L, 0L) // nothing to compact (empty table)
    val totalBytes = files0.map(Files.size).sum
    val df = spark.read.parquet(path)
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val rewritten =
      if (partitionCols.isEmpty) df.repartition(nFiles)
      else {
        // Per-partition file targets: rows per partition × avg bytes/row.
        // The per-partition counts are collected ONCE (cardinality = number
        // of partition values) and shipped back as a small literal frame,
        // so the aggregate lineage is never re-evaluated at write time —
        // the table being compacted is scanned exactly once for stats and
        // once for the rewrite.
        val pcols = partitionCols.map(col)
        val countRows = df.groupBy(pcols: _*).agg(count(lit(1)).as("__rows")).collect()
        val totalRows = math.max(1L, countRows.map(_.getLong(partitionCols.size)).sum)
        val bytesPerRow = math.max(1.0, totalBytes.toDouble / totalRows)
        val keySchema = StructType(partitionCols.map(c => df.schema(c)))
        val perPartRows = countRows.map { r =>
          val n = math.max(1L,
            math.ceil(r.getLong(partitionCols.size) * bytesPerRow / targetBytes).toLong)
          Row.fromSeq(
            partitionCols.indices.map(r.get) :+ n)
        }
        val perPart = spark.createDataFrame(
          spark.sparkContext.parallelize(perPartRows.toSeq, 1),
          StructType(keySchema.fields :+ StructField("__n_files", LongType)))
        df.join(broadcast(perPart), partitionCols, "left")
          .withColumn("__salt",
            pmod(xxhash64(monotonically_increasing_id()),
              coalesce(col("__n_files"), lit(1L))))
          .repartition(nFiles, (pcols :+ col("__salt")): _*)
          .drop("__n_files", "__salt")
      }
    val clustered =
      if (clusterBy.isEmpty) rewritten
      else rewritten.sortWithinPartitions((partitionCols ++ clusterBy).map(col): _*)
    val writer = clustered.write.mode(SaveMode.Overwrite)
    swap(path) { staged =>
      (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
        .parquet(staged)
      require(FsUtil.parquetFiles(Paths.get(staged)).nonEmpty,
        s"compaction wrote no files to $staged")
    }
    (before, FsUtil.parquetFiles(Paths.get(path)).size.toLong)
  }

  /** Write `df` to a temp sibling dir, then swap it into place — the
    * poor man's table-format commit (see [[swap]]). */
  def swapWrite(df: DataFrame, path: String): Unit =
    swap(path)(df.write.mode(SaveMode.Overwrite).parquet(_))

  /** The one swap sequence behind [[swapWrite]] and [[compact]]: `write`
    * fills a staged sibling dir, which is renamed into place after the
    * old table is renamed aside. The window between the two renames is
    * non-atomic (a crash there leaves no table at `path`, with the data
    * intact in `.__old__` for manual rollback); the old copy is deleted
    * only after the swapped-in directory validates non-empty. A `write`
    * that throws leaves the table untouched. */
  private def swap(path: String)(write: String => Unit): Unit = {
    val p = Paths.get(path)
    val tmp = p.resolveSibling(p.getFileName.toString + ".__staged__")
    val old = p.resolveSibling(p.getFileName.toString + ".__old__")
    deleteRec(tmp); deleteRec(old)
    write(tmp.toString)
    if (Files.exists(p)) Files.move(p, old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE)
    require(Files.exists(p.resolve("_SUCCESS")) || FsUtil.listDir(p).nonEmpty,
      s"post-swap validation failed at $path (rollback copy preserved at $old)")
    deleteRec(old)
  }

  /** M5 — quarantine write: invalid rows as JSON under a run-scoped path
    * (etl.py:613-623). */
  def writeQuarantine(df: DataFrame, baseDir: String, courseId: String,
      ingestDate: String, runId: String): String = {
    val path = s"$baseDir/silver/course_id=$courseId/ingest_date=$ingestDate/run_id=$runId"
    df.write.mode(SaveMode.Overwrite).json(path)
    path
  }

  /** M6 — single-file JSON run summary (etl.py:687-703): one record of
    * string fields in key order, coalesce(1), observability path. The
    * frame is built from a declared schema, so no inference job runs. */
  def writeRunSummary(spark: SparkSession, path: String, summary: Map[String, String]): Unit = {
    val fields = summary.toSeq.sortBy(_._1)
    val schema = StructType(fields.map { case (k, _) => StructField(k, StringType) })
    spark.createDataFrame(java.util.List.of(Row.fromSeq(fields.map(_._2))), schema)
      .coalesce(1).write.mode(SaveMode.Overwrite).json(path)
  }

  private def deleteRec(p: Path): Unit = FsUtil.deleteRec(p)
}
