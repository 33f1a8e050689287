package graft.ingest

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** M8 — ingestion registry: the reference logs every ingest attempt
  * (started / success / failed / skipped) to Postgres and uses it for
  * resume + missing-detection (`lib/tm_lakehouse/registry.py:34-229`,
  * `scripts/backfill.py:49-134`). Re-expressed as an append-only parquet
  * log table + window-dedup reads — no external database in the engine.
  */
object IngestionRegistry {

  /** Append one attempt record. `seq` orders attempts (callers pass a
    * monotonic run counter or epoch millis). */
  def log(
      spark: SparkSession, path: String,
      courseId: String, ingestDate: String,
      status: String, rows: Long, message: String, seq: Long): Unit = {
    spark.createDataFrame(
        java.util.List.of(Row(courseId, ingestDate, status, rows, message, seq)), LogSchema)
      .write.mode(SaveMode.Append).parquet(path)
  }

  private val LogSchema = StructType(Seq(
    StructField("course_id", StringType), StructField("ingest_date", StringType),
    StructField("status", StringType), StructField("rows", LongType, nullable = false),
    StructField("message", StringType), StructField("seq", LongType, nullable = false)))

  /** Latest attempt per (course, date) — the W1 dedup pattern applied to
    * operational state. */
  def latest(spark: SparkSession, path: String): DataFrame = {
    val w = Window.partitionBy(col("course_id"), col("ingest_date"))
      .orderBy(desc_nulls_last("seq"))
    spark.read.parquet(path)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** Resume support: (course, date) pairs whose latest status is success. */
  def completed(spark: SparkSession, path: String): DataFrame =
    latest(spark, path).filter(col("status") === "success")
      .select(col("course_id"), col("ingest_date"))

  /** Missing-detection: expected (course, date) pairs with no successful
    * ingest — left_anti against the success set (backfill.py:49-134). */
  def missing(spark: SparkSession, path: String, expected: DataFrame): DataFrame =
    expected.join(completed(spark, path), Seq("course_id", "ingest_date"), "left_anti")
}
