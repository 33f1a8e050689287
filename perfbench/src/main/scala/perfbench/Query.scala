package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** One read from issue to result collected: table open (tables layer),
  * plan construction and execution (analytics layer). */
object Query extends AdaptiveSparkPlanHelper {

  final case class Done(rows: Array[Row], constructS: Double, execS: Double,
      filesRead: Long, rowsRead: Long)

  /** Runs a query of `kind` (drill, global or gold) against the table at
    * `path`. A `query` sample is kept only when `ok` accepts the rows;
    * construct and exec times are kept with it. Scan counters are read
    * from the executed plan when tracing. */
  def run(spark: SparkSession, tr: Tracer, ops: Ops, kind: String, name: String,
      path: String)(build: DataFrame => DataFrame)(ok: Array[Row] => Boolean)
      : Option[Array[Row]] = {
    val done = ops.timed("query") {
      tr.span(s"analytics.$kind.$name", "analytics") {
        val table = Lakehouse.open(spark, tr, ops, path)
        val t1 = System.nanoTime()
        val df = build(table)
        val t2 = System.nanoTime()
        val rows = df.collect()
        val t3 = System.nanoTime()
        val (files, read) = if (tr.on) scans(df) else (0L, 0L)
        Done(rows, (t2 - t1) / 1e9, (t3 - t2) / 1e9, files, read)
      }
    }(d => ok(d.rows))
    done.map { d =>
      ops.record(s"construct.$kind", d.constructS)
      ops.record(s"exec.$kind", d.execS)
      ops.record("rows_returned", d.rows.length.toDouble)
      if (tr.on) {
        ops.record("files_read", d.filesRead.toDouble)
        ops.record("rows_read", d.rowsRead.toDouble)
      }
      d.rows
    }
  }

  /** Files and rows the file scans of an executed plan read. */
  def scans(df: DataFrame): (Long, Long) = {
    val ss = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    def metric(s: FileSourceScanExec, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
    (ss.map(metric(_, "numFiles")).sum, ss.map(metric(_, "numOutputRows")).sum)
  }
}
