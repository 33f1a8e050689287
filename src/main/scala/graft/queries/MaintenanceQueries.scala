package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Tables
import graft.ingest.{IngestionRegistry, Topology}
import graft.tables.ParquetTable
import QueryDef._

/** Maintenance operators M1–M9 (SURVEY §2.10) as oracle-checked
  * roundtrips: the engine performs the real table mutation (partition
  * refresh, merge, schema evolution, quarantine write, registry dedup,
  * topology inference) against scratch parquet, and the DuckDB oracle
  * states the expected FINAL state directly over the source tables.
  */
object MaintenanceQueries {

  private def t(s: SparkSession, d: String, n: String): DataFrame =
    Tables.load(s, d, n)

  // rooted under the per-JVM oracle scratch: a concurrent run of the
  // same gate (test vs Verify) would otherwise clobber this run's
  // working tables mid-query
  private def scratch(name: String): String = {
    val p = Paths.get(QueryDef.oracleScratch, "maint_q", name)
    graft.tables.FsUtil.deleteRec(p)
    Files.createDirectories(p.getParent)
    p.toString
  }

  /** orders' key, price and priority, read in a session of their own
    * that caps the rows per written file at a sixth of the table. Every
    * IncrementalTable commit stages one file per partition value, so this
    * is how a gate lands a fragmented commit for compaction to collapse. */
  private def fragmentingOrders(s: SparkSession, d: String): DataFrame = {
    val frag = s.newSession()
    val orders = t(frag, d, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    frag.conf.set("spark.sql.files.maxRecordsPerFile", math.max(1L, orders.count() / 6))
    orders
  }

  val defs: Seq[QueryDef] = Seq(

    // M1/M2 — idempotent partition refresh (etl.py:639-682): land orders
    // partitioned by priority, re-ingest ONE partition with doubled
    // prices (twice — idempotency), verify the final table state.
    QueryDef(
      "m1_partition_refresh",
      (s, d) => {
        val path = scratch("m1")
        val orders = t(s, d, "orders")
        ParquetTable.createOrReplace(
          orders.select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority")),
          path, Seq("o_orderpriority"))
        val reingest = orders.filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"), (col("o_totalprice") * 2).as("o_totalprice"),
            col("o_orderpriority"))
        ParquetTable.refreshPartitions(reingest, path, Seq("o_orderpriority"))
        ParquetTable.refreshPartitions(reingest, path, Seq("o_orderpriority")) // idempotent
        s.read.parquet(path)
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .orderBy(col("o_orderpriority"))
      },
      Some(s"""SELECT o_orderpriority, COUNT(*) AS n,
               CAST(SUM(CAST(CASE WHEN o_orderpriority = '1-URGENT'
                   THEN o_totalprice * 2 ELSE o_totalprice END AS DECIMAL(18,4))) AS DOUBLE) AS total
               FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // M3 — schema evolution: incoming frame missing a target column and
    // carrying an extra one, aligned by name before append
    // (etl.py:654-673).
    QueryDef(
      "m3_schema_evolution",
      (s, d) => {
        val target = StructType(Seq(
          StructField("c_custkey", LongType),
          StructField("c_name", StringType),
          StructField("c_acctbal", DoubleType),
          StructField("is_vip", BooleanType)))
        val incoming = t(s, d, "customer")
          .select(col("c_acctbal"), col("c_custkey"), lit("extra").as("junk"))
        ParquetTable.alignToSchema(incoming, target)
          .agg(
            count(lit(1)).as("n"),
            count(col("c_name")).as("n_name"),
            count(col("is_vip")).as("n_vip"),
            sum(col("c_custkey")).as("sum_key"),
            dsum(col("c_acctbal")).as("sum_bal"))
      },
      Some(s"""SELECT COUNT(*) AS n, 0::BIGINT AS n_name, 0::BIGINT AS n_vip,
               CAST(SUM(c_custkey) AS BIGINT) AS sum_key,
               ${dsumSql("c_acctbal")} AS sum_bal FROM customer""")),

    // M4/J10 — MERGE INTO on a parquet table (dimensions.py:366-398):
    // update half the suppliers' balances, insert shadow suppliers,
    // keep the rest untouched.
    QueryDef(
      "m4_merge_upsert",
      (s, d) => {
        val path = scratch("m4")
        val sup = t(s, d, "supplier")
          .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
        ParquetTable.createOrReplace(sup, path, Nil)
        val source = sup.filter(col("s_suppkey") % 2 === 0)
          .select(col("s_suppkey"), col("s_name"),
            (col("s_acctbal") + 1000.0).as("s_acctbal"))
          .unionByName(
            sup.select((col("s_suppkey") + 10000).as("s_suppkey"),
              concat(lit("shadow_"), col("s_name")).as("s_name"),
              lit(0.0).as("s_acctbal")))
        ParquetTable.merge(s, path, source, keys = Seq("s_suppkey"))
        s.read.parquet(path).orderBy(col("s_suppkey"))
      },
      Some("""SELECT s_suppkey, s_name,
              CASE WHEN s_suppkey % 2 = 0 THEN s_acctbal + 1000.0e0 ELSE s_acctbal END AS s_acctbal
              FROM supplier
              UNION ALL
              SELECT s_suppkey + 10000, 'shadow_' || s_name, CAST(0.0 AS DOUBLE)
              FROM supplier
              ORDER BY s_suppkey""")),

    // M5 — quarantine JSON write + readback (etl.py:613-623): events with
    // out-of-band values are quarantined to a run-scoped JSON path.
    QueryDef(
      "m5_quarantine_roundtrip",
      (s, d) => {
        val base = scratch("m5")
        val invalid = t(s, d, "events")
          .filter(col("value") > 250.0)
          .select(col("event_id"), col("event_type"), col("value"))
        val path = ParquetTable.writeQuarantine(invalid, base, "c1", "2024-01-01", "r1")
        s.read.json(path)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS sum_id
              FROM events WHERE value > 250.0 GROUP BY event_type ORDER BY event_type""")),

    // M10 — small-file compaction (beyond-reference OPTIMIZE): fragment a
    // table over many append batches, compact, verify the data survives
    // byte-for-byte and files actually collapsed.
    QueryDef(
      "m10_compaction",
      (s, d) => {
        val base = scratch("m10")
        val path = s"$base/t"
        val src = t(s, d, "orders")
          .filter(col("o_custkey") < 100)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
        // 5 fragmented "append batches" by custkey band
        (0 until 5).foreach { i =>
          val batch = src.filter(col("o_custkey") % 5 === i)
            .withColumn("band", (col("o_custkey") % 5).cast("int"))
            .repartition(4)
          if (i == 0) ParquetTable.createOrReplace(batch, path, Seq("band"))
          else ParquetTable.refreshPartitions(batch, path, Seq("band"))
        }
        val (before, after) = ParquetTable.compact(s, path, Seq("band"))
        s.read.parquet(path)
          .agg(
            count(lit(1)).as("n"),
            sum(col("o_orderkey")).as("sum_key"),
            countDistinct(col("o_orderstatus")).as("n_status"))
          .withColumn("files_reduced", lit(after < before))
      },
      Some("""SELECT COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
              COUNT(DISTINCT o_orderstatus) AS n_status, TRUE AS files_reduced
              FROM orders WHERE o_custkey < 100""")),

    // M6 — run-summary JSON roundtrip (etl.py:687-703): write the
    // single-record observability summary for an ingest run, read it back,
    // and pin its fields against the source aggregate. The one collect()
    // is a single bounded row (the run's own totals).
    QueryDef(
      "m6_run_summary",
      (s, d) => {
        val base = scratch("m6")
        val totals = t(s, d, "orders")
          .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sum_key"))
          .collect()(0)
        ParquetTable.writeRunSummary(s, s"$base/summary", Map(
          "course_id" -> "c1",
          "ingest_date" -> "2024-01-01",
          "row_count" -> totals.getLong(0).toString,
          "key_sum" -> totals.getLong(1).toString,
          "status" -> "success"))
        s.read.json(s"$base/summary")
          .select(col("course_id"), col("ingest_date"), col("key_sum"),
            col("row_count"), col("status"))
      },
      Some("""SELECT 'c1' AS course_id, '2024-01-01' AS ingest_date,
              CAST(CAST(SUM(o_orderkey) AS BIGINT) AS VARCHAR) AS key_sum,
              CAST(COUNT(*) AS VARCHAR) AS row_count,
              'success' AS status FROM orders""")),

    // M11 — snapshot versioning / time travel (beyond-reference: the
    // Delta/Iceberg capability BASELINE names and plain parquet lacks):
    // commit v1, commit v2 with +100 balances, time-travel-read v1 while
    // current is v2, then rollback and read the restored state. One
    // output row pins all four reads against the source table.
    QueryDef(
      "m11_time_travel",
      (s, d) => {
        val base = scratch("m11")
        val cust = t(s, d, "customer").select(col("c_custkey"), col("c_acctbal"))
        val it = graft.tables.IncrementalTable
        it.commitFull(cust, base)
        it.commitFull(
          cust.withColumn("c_acctbal", col("c_acctbal") + 100.0), base)
        val v1 = it.read(s, base, Some(1))
          .agg(count(lit(1)).as("n"), dsum(col("c_acctbal")).as("v1_bal"))
        val v2 = it.read(s, base)
          .agg(dsum(col("c_acctbal")).as("v2_bal"))
        it.rollback(base, 1)
        val restored = it.read(s, base)
          .agg(dsum(col("c_acctbal")).as("rollback_bal"))
        v1.crossJoin(v2).crossJoin(restored) // three 1-row frames
      },
      Some(s"""SELECT COUNT(*) AS n,
               ${dsumSql("c_acctbal")} AS v1_bal,
               ${dsumSql("c_acctbal + 100.0")} AS v2_bal,
               ${dsumSql("c_acctbal")} AS rollback_bal
               FROM customer""")),

    // M12 — snapshot change feed (CDC read over M11's log): v2 doubles
    // the balances of even-keyed customers, so the diff is exactly one
    // delete+insert pair per even key and nothing for odd keys.
    QueryDef(
      "m12_snapshot_diff",
      (s, d) => {
        val base = scratch("m12")
        val cust = t(s, d, "customer").select(col("c_custkey"), col("c_acctbal"))
        val it = graft.tables.IncrementalTable
        it.commitFull(cust, base)
        it.commitFull(
          cust.withColumn("c_acctbal",
            when(col("c_custkey") % 2 === 0, col("c_acctbal") * 2)
              .otherwise(col("c_acctbal"))), base)
        it.diff(s, base, fromV = 1, toV = 2)
          .groupBy(col("__change"))
          .agg(count(lit(1)).as("n"), dsum(col("c_acctbal")).as("bal"))
          .orderBy(col("__change"))
      },
      Some(s"""SELECT 'delete' AS __change, COUNT(*) AS n,
               ${dsumSql("c_acctbal")} AS bal
               FROM customer WHERE c_custkey % 2 = 0 AND c_acctbal <> c_acctbal * 2
               UNION ALL
               SELECT 'insert', COUNT(*),
               ${dsumSql("c_acctbal * 2")}
               FROM customer WHERE c_custkey % 2 = 0 AND c_acctbal <> c_acctbal * 2
               ORDER BY __change""")),

    // M13 — manifest-based INCREMENTAL versioned commit (the Iceberg
    // capability the reference leans on at etl.py:639-682): the M1
    // partition refresh rerun through the versioned path. v1 full commit,
    // v2/v3 incremental refreshes of ONE partition (idempotency), then
    // one row pins: the v1 snapshot still readable post-refresh, the
    // current snapshot's state, the v1→v3 row-level diff, and — via
    // manifest file-diff — that both refreshes touched ONLY the refreshed
    // partition's files (the O(changed partitions) commit property).
    QueryDef(
      "m13_incremental_refresh",
      (s, d) => {
        val it = graft.tables.IncrementalTable
        val base = scratch("m13")
        val orders = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        it.commitFull(orders, base, Seq("o_orderpriority"))
        val reingest = orders.filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"), (col("o_totalprice") * 2).as("o_totalprice"),
            col("o_orderpriority"))
        it.refreshPartitions(reingest, base, Seq("o_orderpriority"))
        it.refreshPartitions(reingest, base, Seq("o_orderpriority")) // idempotent
        val v1 = it.read(s, base, Some(1))
          .agg(count(lit(1)).as("n_v1"), dsum(col("o_totalprice")).as("v1_total"))
        val cur = it.read(s, base).agg(dsum(col("o_totalprice")).as("cur_total"))
        val d13 = it.diff(s, base, 1, 3)
        val ins = d13.filter(col("__change") === "insert")
          .agg(count(lit(1)).as("n_ins"), dsum(col("o_totalprice")).as("ins_total"))
        val del = d13.filter(col("__change") === "delete")
          .agg(count(lit(1)).as("n_del"), dsum(col("o_totalprice")).as("del_total"))
        val urgentOnly = (v: Int) => {
          val (a, r) = it.fileChanges(base, v, v + 1)
          a.nonEmpty && (a ++ r).forall(_.startsWith("o_orderpriority=1-URGENT/"))
        }
        v1.crossJoin(cur).crossJoin(ins).crossJoin(del)
          .withColumn("incremental_commit", lit(urgentOnly(1) && urgentOnly(2)))
      },
      Some(s"""SELECT COUNT(*) AS n_v1,
               ${dsumSql("o_totalprice")} AS v1_total,
               ${dsumSql("CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice * 2 ELSE o_totalprice END")} AS cur_total,
               CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_ins,
               ${dsumSql("CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice * 2 END")} AS ins_total,
               CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_del,
               ${dsumSql("CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END")} AS del_total,
               TRUE AS incremental_commit
               FROM orders""")),

    // M7 — namespace/table DDL + catalog scan (etl.py:626, dimensions.py:303-327).
    QueryDef(
      "m7_ddl_catalog",
      (s, d) => {
        // External LOCATION under scratch: the in-memory catalog forgets
        // tables between sessions but the filesystem doesn't — a managed
        // CTAS would collide with the previous run's leftover directory.
        val path = scratch("m7")
        s.sql("CREATE DATABASE IF NOT EXISTS graft_silver")
        t(s, d, "region").createOrReplaceTempView("m7_region_src")
        s.sql("DROP TABLE IF EXISTS graft_silver.region_copy")
        s.sql(s"""CREATE TABLE graft_silver.region_copy USING parquet
                  LOCATION '$path/region_copy' AS SELECT * FROM m7_region_src""")
        s.table("graft_silver.region_copy").orderBy(col("r_regionkey"))
      },
      Some("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")),

    // M8 — registry resume/missing: attempts derived from orders (started
    // for all, success for even keys), window-dedup to latest status.
    QueryDef(
      "m8_registry_latest",
      (s, d) => {
        val path = scratch("m8")
        val attempts = t(s, d, "orders")
          .select(
            col("o_orderpriority").as("course_id"),
            concat(lit("d"), col("o_orderkey") % 5).as("ingest_date"),
            lit("started").as("status"),
            lit(0L).as("rows"), lit("").as("message"),
            (col("o_orderkey") * 2).as("seq"))
          .unionByName(
            t(s, d, "orders").filter(col("o_orderkey") % 2 === 0)
              .select(
                col("o_orderpriority").as("course_id"),
                concat(lit("d"), col("o_orderkey") % 5).as("ingest_date"),
                lit("success").as("status"),
                col("o_orderkey").as("rows"), lit("").as("message"),
                (col("o_orderkey") * 2 + 1).as("seq")))
        attempts.write.mode("overwrite").parquet(path)
        IngestionRegistry.latest(s, path)
          .groupBy(col("course_id"), col("status"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("course_id"), col("status"))
      },
      Some("""SELECT course_id, status, COUNT(*) AS n FROM (
                SELECT course_id, ingest_date, status,
                ROW_NUMBER() OVER (PARTITION BY course_id, ingest_date ORDER BY seq DESC NULLS LAST) AS rn
                FROM (
                  SELECT o_orderpriority AS course_id, 'd' || CAST(o_orderkey % 5 AS VARCHAR) AS ingest_date,
                         'started' AS status, o_orderkey * 2 AS seq FROM orders
                  UNION ALL
                  SELECT o_orderpriority, 'd' || CAST(o_orderkey % 5 AS VARCHAR),
                         'success', o_orderkey * 2 + 1 FROM orders WHERE o_orderkey % 2 = 0
                )
              ) WHERE rn = 1 GROUP BY course_id, status ORDER BY course_id, status""")),

    // M29 — registry missing-partition detection, the backfill driver
    // (scripts/backfill.py:49-106): expected (course, date) pairs from
    // the landing zone minus pairs whose LATEST registry status is
    // success → the pending work list. Same window-dedup read as M8,
    // then a left_anti — both shuffles on the (course, date) key, no
    // driver-side set difference.
    QueryDef(
      "m29_registry_missing",
      (s, d) => {
        val path = scratch("m29")
        val attempts = t(s, d, "orders")
          .select(
            col("o_orderpriority").as("course_id"),
            concat(lit("d"), col("o_orderkey") % 5).as("ingest_date"),
            lit("started").as("status"),
            lit(0L).as("rows"), lit("").as("message"),
            (col("o_orderkey") * 2).as("seq"))
          .unionByName(
            t(s, d, "orders").filter(col("o_orderkey") % 2 === 0)
              .select(
                col("o_orderpriority").as("course_id"),
                concat(lit("d"), col("o_orderkey") % 5).as("ingest_date"),
                lit("success").as("status"),
                col("o_orderkey").as("rows"), lit("").as("message"),
                (col("o_orderkey") * 2 + 1).as("seq")))
        attempts.write.mode("overwrite").parquet(path)
        // expected universe: every (course, date) the landing zone holds —
        // here every combination the fixture generated
        val expected = t(s, d, "orders")
          .select(
            col("o_orderpriority").as("course_id"),
            concat(lit("d"), col("o_orderkey") % 5).as("ingest_date"))
          .distinct()
        IngestionRegistry.missing(s, path, expected)
          .orderBy(col("course_id"), col("ingest_date"))
      },
      Some("""WITH att AS (
                SELECT o_orderpriority AS course_id,
                       'd' || CAST(o_orderkey % 5 AS VARCHAR) AS ingest_date,
                       'started' AS status, o_orderkey * 2 AS seq FROM orders
                UNION ALL
                SELECT o_orderpriority, 'd' || CAST(o_orderkey % 5 AS VARCHAR),
                       'success', o_orderkey * 2 + 1 FROM orders WHERE o_orderkey % 2 = 0
              ),
              latest AS (
                SELECT course_id, ingest_date, status,
                ROW_NUMBER() OVER (PARTITION BY course_id, ingest_date ORDER BY seq DESC NULLS LAST) AS rn
                FROM att
              ),
              completed AS (
                SELECT course_id, ingest_date FROM latest
                WHERE rn = 1 AND status = 'success'
              ),
              expected AS (
                SELECT DISTINCT o_orderpriority AS course_id,
                       'd' || CAST(o_orderkey % 5 AS VARCHAR) AS ingest_date
                FROM orders
              )
              SELECT e.course_id, e.ingest_date FROM expected e
              ANTI JOIN completed c
                ON e.course_id = c.course_id AND e.ingest_date = c.ingest_date
              ORDER BY e.course_id, e.ingest_date""")),

    // M9 — topology inference, strategy A (continuous holes,
    // dimensions.py:57-109): the REAL driver-loop inference over a
    // silver mapping of lineitem; oracle reproduces the banded min/max.
    QueryDef(
      "m9_topology_holes",
      (s, d) => {
        val silver = t(s, d, "lineitem").select(
          col("l_returnflag").as("course_id"),
          (floor((col("l_partkey") % 54) / 3) + 1).cast(IntegerType).as("hole_number"),
          ((col("l_partkey") % 54) + 1).cast(IntegerType).as("section_number"),
          lit(false).as("is_location_padding"))
        Topology.buildTopology(s, silver, minFixes = 100)
          .orderBy(col("facility_id"), col("nine_number"))
      },
      Some("""WITH sil AS (
                SELECT l_returnflag AS course_id,
                CAST(FLOOR((l_partkey % 54) / 3) + 1 AS INTEGER) AS hole_number,
                CAST((l_partkey % 54) + 1 AS INTEGER) AS section_number
                FROM lineitem
              ),
              eligible AS (
                SELECT course_id FROM sil GROUP BY course_id HAVING COUNT(*) >= 100
              ),
              bands AS (
                SELECT course_id, 1 AS nine_number,
                CAST(MIN(section_number) AS INTEGER) AS section_start,
                CAST(MAX(section_number) AS INTEGER) AS section_end
                FROM sil WHERE hole_number BETWEEN 1 AND 9 GROUP BY course_id
                UNION ALL
                SELECT course_id, 2,
                CAST(MIN(section_number) AS INTEGER), CAST(MAX(section_number) AS INTEGER)
                FROM sil WHERE hole_number BETWEEN 10 AND 18 GROUP BY course_id
              )
              SELECT b.course_id AS facility_id,
              CAST(b.nine_number AS INTEGER) AS unit_id,
              CASE WHEN b.nine_number = 1 THEN 'Front Nine' ELSE 'Back Nine' END AS unit_name,
              CAST(b.nine_number AS INTEGER) AS nine_number,
              b.section_start, b.section_end
              FROM bands b JOIN eligible e ON b.course_id = e.course_id
              ORDER BY facility_id, nine_number""")),

    // M9 — topology inference, strategy B (hole resets, dominant-hole
    // boundary detection, dimensions.py:112-158): holes cycle 1..9 per
    // 27 sections; the oracle reproduces the sequential boundary scan
    // with LAG + a running boundary count.
    QueryDef(
      "m9_topology_sections",
      (s, d) => {
        val silver = t(s, d, "lineitem").select(
          col("l_returnflag").as("course_id"),
          (floor(((col("l_partkey") % 54)) % 27 / 3) + 1).cast(IntegerType).as("hole_number"),
          ((col("l_partkey") % 54) + 1).cast(IntegerType).as("section_number"),
          lit(false).as("is_location_padding"))
        Topology.buildTopology(s, silver, minFixes = 100)
          .orderBy(col("facility_id"), col("nine_number"))
      },
      Some("""WITH sil AS (
                SELECT l_returnflag AS course_id,
                CAST(FLOOR(((l_partkey % 54) % 27) / 3) + 1 AS INTEGER) AS hole_number,
                CAST((l_partkey % 54) + 1 AS INTEGER) AS section_number
                FROM lineitem
              ),
              eligible AS (
                SELECT course_id FROM sil GROUP BY course_id HAVING COUNT(*) >= 100
              ),
              section_holes AS (
                SELECT course_id, section_number, hole_number AS dominant_hole,
                COUNT(*) AS fix_count
                FROM sil GROUP BY course_id, section_number, hole_number
              ),
              filtered AS (
                SELECT * FROM section_holes WHERE fix_count >= 5
              ),
              lagged AS (
                SELECT course_id, section_number, dominant_hole,
                LAG(dominant_hole) OVER (PARTITION BY course_id ORDER BY section_number) AS prev_hole
                FROM filtered
              ),
              flagged AS (
                SELECT *, CASE WHEN prev_hole >= 7 AND dominant_hole <= 3 THEN 1 ELSE 0 END AS is_boundary
                FROM lagged
              ),
              assigned AS (
                SELECT course_id, section_number,
                1 + SUM(is_boundary) OVER (PARTITION BY course_id ORDER BY section_number) AS nine
                FROM flagged
              ),
              ranges AS (
                SELECT course_id, CAST(nine AS INTEGER) AS nine_number,
                CAST(MIN(section_number) AS INTEGER) AS section_start,
                CAST(MAX(section_number) AS INTEGER) AS section_end
                FROM assigned GROUP BY course_id, nine
              )
              SELECT r.course_id AS facility_id,
              r.nine_number AS unit_id,
              CASE WHEN r.nine_number = 1 THEN 'Front Nine' ELSE 'Back Nine' END AS unit_name,
              r.nine_number, r.section_start, r.section_end
              FROM ranges r JOIN eligible e ON r.course_id = e.course_id
              ORDER BY facility_id, nine_number""")),

    // A1/M9 — dim_sections_per_hole over the synthetic silver
    // (generate_sections_per_hole.py:53-61).
    QueryDef(
      "m9_sections_per_hole",
      (s, d) =>
        Topology.sectionsPerHole(GoldQueries.silverView(s, d))
          .orderBy(col("course_id"), col("hole_number")),
      Some(s"""WITH ${GoldQueries.SilverSql}
               SELECT course_id, hole_number,
               MIN(section_number) AS section_start,
               MAX(section_number) AS section_end,
               COUNT(DISTINCT section_number) AS sections_count
               FROM silver
               WHERE is_location_padding = FALSE AND hole_number IS NOT NULL
                 AND section_number IS NOT NULL
               GROUP BY course_id, hole_number
               ORDER BY course_id, hole_number""")),

    // M11 — runtime expectations (the dbt-test / CHECK-constraint
    // surface): four row-level rules audited in ONE conditional-
    // aggregation scan plus a grain-uniqueness check, unioned into the
    // standard (test_name, n_rows, n_violations, pass) report.
    QueryDef(
      "m11_expectations",
      (s, d) => {
        val li = t(s, d, "lineitem")
        graft.tables.Expectations.audit(li, Seq(
            "discount_in_range" -> col("l_discount").between(0, 0.1),
            "price_positive" -> (col("l_extendedprice") > 0),
            "qty_in_range" -> col("l_quantity").between(1, 50),
            "shipdate_not_null" -> col("l_shipdate").isNotNull))
          .unionByName(graft.tables.Expectations.auditUniqueGrain(
            li, Seq("l_orderkey", "l_linenumber")))
          .orderBy(col("test_name"))
      },
      Some("""WITH t AS (
                SELECT COUNT(*) AS n_rows,
                CAST(SUM(CASE WHEN l_discount BETWEEN 0 AND 0.1 THEN 0 ELSE 1 END) AS BIGINT) AS discount_in_range,
                CAST(SUM(CASE WHEN l_extendedprice > 0 THEN 0 ELSE 1 END) AS BIGINT) AS price_positive,
                CAST(SUM(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END) AS BIGINT) AS qty_in_range,
                CAST(SUM(CASE WHEN l_shipdate IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) AS shipdate_not_null
                FROM lineitem
              ),
              g AS (
                SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
                CAST(COALESCE(SUM(CASE WHEN n > 1 THEN n END), 0) AS BIGINT) AS nv
                FROM (SELECT COUNT(*) AS n FROM lineitem
                      GROUP BY l_orderkey, l_linenumber)
              )
              SELECT test_name, n_rows, n_violations, n_violations = 0 AS pass FROM (
                SELECT 'discount_in_range' AS test_name, n_rows, discount_in_range AS n_violations FROM t
                UNION ALL SELECT 'price_positive', n_rows, price_positive FROM t
                UNION ALL SELECT 'qty_in_range', n_rows, qty_in_range FROM t
                UNION ALL SELECT 'shipdate_not_null', n_rows, shipdate_not_null FROM t
                UNION ALL SELECT 'unique_grain', n_rows, nv FROM g
              ) ORDER BY test_name""")),

    // M14 — SCD2 dimension versioning (tables/Scd2): bootstrap customer
    // as version 1 (current as of 2020-01-01), apply one change batch
    // (every custkey % 3 = 0 moves to segment 'CHANGED'; every
    // custkey % 10 = 0 also arrives as a brand-new key with segment
    // 'NEW') effective 2023-06-01, emit the full versioned table. The
    // batch deliberately includes NO-OP rows (custkey % 3 = 1 resent
    // with unchanged values) — they must not spawn versions. The oracle
    // states the expected final history directly.
    QueryDef(
      "m14_scd2",
      (s, d) => {
        val cust = t(s, d, "customer")
          .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        val dim = graft.tables.Scd2.init(
          cust, lit(java.sql.Date.valueOf("2020-01-01")))
        val changes = cust.filter(col("c_custkey") % 3 === 0)
          .withColumn("c_mktsegment", lit("CHANGED"))
          .unionByName(cust.filter(col("c_custkey") % 3 === 1)) // no-ops
          .unionByName(cust.filter(col("c_custkey") % 10 === 0)
            .select((col("c_custkey") + 10000000L).as("c_custkey"),
              lit("NEW").as("c_mktsegment"), lit(0.0).as("c_acctbal")))
          .withColumn("change_ts", lit(java.sql.Date.valueOf("2023-06-01")))
        graft.tables.Scd2.apply(dim, changes, "c_custkey",
            Seq("c_mktsegment", "c_acctbal"), "change_ts")
          .orderBy(col("c_custkey"), col("effective_from"))
      },
      Some("""SELECT * FROM (
                SELECT c_custkey, c_mktsegment, c_acctbal,
                       DATE '2020-01-01' AS effective_from,
                       DATE '2023-06-01' AS effective_to,
                       FALSE AS is_current
                FROM customer WHERE c_custkey % 3 = 0
                UNION ALL
                SELECT c_custkey, 'CHANGED', c_acctbal,
                       DATE '2023-06-01', NULL, TRUE
                FROM customer WHERE c_custkey % 3 = 0
                UNION ALL
                SELECT c_custkey, c_mktsegment, c_acctbal,
                       DATE '2020-01-01', NULL, TRUE
                FROM customer WHERE c_custkey % 3 <> 0
                UNION ALL
                SELECT c_custkey + 10000000, 'NEW', 0.0e0,
                       DATE '2023-06-01', NULL, TRUE
                FROM customer WHERE c_custkey % 10 = 0
              ) ORDER BY c_custkey, effective_from""")),

    // M15 — file-level min/max stats index + pruned range scan
    // (tables/StatsIndex — the data-skipping half of Iceberg/Delta over
    // plain parquet): land lineitem range-clustered on l_orderkey in 8
    // files, build the stats manifest, range-scan a key slice reading
    // only stats-selected files. `files_skipped` pins that the cut
    // actually happened (files_read < files_total); the aggregate pins
    // that it lost no rows. Correctness never depends on the stats —
    // the predicate is re-applied on the scan.
    QueryDef(
      "m15_stats_skipping",
      (s, d) => {
        val base = scratch("m15")
        val li = t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_quantity"))
        li.repartitionByRange(8, col("l_orderkey"))
          .sortWithinPartitions(col("l_orderkey"))
          .write.mode("overwrite").parquet(base)
        graft.tables.StatsIndex.build(s, base, Seq("l_orderkey"))
        // daily-append shape: 4 new files land in a key range beyond the
        // statted data; the INCREMENTAL restat stats only those 4 and
        // carries the original 8 rows forward untouched
        li.select((col("l_orderkey") + 10000000L).as("l_orderkey"),
            col("l_extendedprice"), col("l_quantity"))
          .repartitionByRange(4, col("l_orderkey"))
          .sortWithinPartitions(col("l_orderkey"))
          .write.mode("append").parquet(base)
        val (statted, carried) = graft.tables.StatsIndex.buildIncremental(
          s, base, Seq("l_orderkey"))
        val (scanOld, readOld, total) = graft.tables.StatsIndex.scanBetween(
          s, base, "l_orderkey", 1000L, 2500L)
        val (scanNew, readNew, _) = graft.tables.StatsIndex.scanBetween(
          s, base, "l_orderkey", 10001000L, 10002500L)
        def rollup(scan: org.apache.spark.sql.DataFrame, id: String,
            read: Long): org.apache.spark.sql.DataFrame =
          scan.agg(
              count(lit(1)).as("n"),
              dsum(col("l_extendedprice")).as("price_total"),
              dsum(col("l_quantity")).as("qty_total"))
            .withColumn("scan_id", lit(id))
            .withColumn("files_skipped", lit(read < total))
        rollup(scanOld, "base", readOld)
          .unionByName(rollup(scanNew, "appended", readNew))
          .withColumn("incremental_ok", lit(statted == 4L && carried == 8L))
      },
      Some(s"""SELECT COUNT(*) AS n,
               ${dsumSql("l_extendedprice")} AS price_total,
               ${dsumSql("l_quantity")} AS qty_total,
               'base' AS scan_id, TRUE AS files_skipped, TRUE AS incremental_ok
               FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 2500
               UNION ALL
               SELECT COUNT(*), ${dsumSql("l_extendedprice")},
               ${dsumSql("l_quantity")}, 'appended', TRUE, TRUE
               FROM lineitem
               WHERE l_orderkey + 10000000 BETWEEN 10001000 AND 10002500""")),

    // M16 — CDC apply (tables/Cdc): fold an ordered change feed with
    // row-level DELETES and last-write-wins per key (the Debezium/binlog
    // shape merge doesn't cover) into a keyed table. Every even %3==0
    // key carries BOTH an upsert (seq 1) and a delete (seq 2) — the
    // delete must win; new keys insert; untouched keys pass through.
    QueryDef(
      "m16_cdc_apply",
      (s, d) => {
        val sup = t(s, d, "supplier")
          .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
        val upserts = sup.filter(col("s_suppkey") % 2 === 0)
          .select(col("s_suppkey"), col("s_name"),
            (col("s_acctbal") + 1000.0).as("s_acctbal"),
            lit("upsert").as("op"), lit(1L).as("seq"))
        val deletes = sup.filter(col("s_suppkey") % 3 === 0)
          .select(col("s_suppkey"),
            lit(null).cast("string").as("s_name"),
            lit(null).cast("double").as("s_acctbal"),
            lit("delete").as("op"), lit(2L).as("seq"))
        val inserts = sup.filter(col("s_suppkey") % 5 === 0)
          .select((col("s_suppkey") + 10000L).as("s_suppkey"),
            concat(lit("cdc_"), col("s_name")).as("s_name"),
            lit(0.0).as("s_acctbal"),
            lit("upsert").as("op"), lit(1L).as("seq"))
        graft.tables.Cdc.applyChanges(
            sup, upserts.unionByName(deletes).unionByName(inserts),
            keys = Seq("s_suppkey"), seqCol = "seq", opCol = "op")
          .orderBy(col("s_suppkey"))
      },
      Some("""SELECT * FROM (
                SELECT s_suppkey, s_name,
                       CASE WHEN s_suppkey % 2 = 0 THEN s_acctbal + 1000.0e0
                            ELSE s_acctbal END AS s_acctbal
                FROM supplier WHERE s_suppkey % 3 <> 0
                UNION ALL
                SELECT s_suppkey + 10000, 'cdc_' || s_name, 0.0e0
                FROM supplier WHERE s_suppkey % 5 = 0
              ) ORDER BY s_suppkey""")),

    // M17 — Z-order clustering + multi-column data skipping (the
    // OPTIMIZE ... ZORDER BY story): bucket both keys to a 1024-grid
    // (width_bucket), sort by the Morton interleave (functions.zorder2,
    // codegen kernel), land 16 files, build the M15 stats manifest —
    // then range scans on EITHER column read fewer files than the
    // table has. Single-column clustering can only ever skip for one
    // column; the interleave gives every file a tight rectangle in
    // both. Slice bounds are min + span/8 computed identically on both
    // engines (integer floor-division on non-negative keys).
    QueryDef(
      "m17_zorder_skipping",
      (s, d) => {
        val base = scratch("m17")
        val li = t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"), col("l_extendedprice"))
        val b = li.agg(
          min(col("l_orderkey")), max(col("l_orderkey")),
          min(col("l_partkey")), max(col("l_partkey"))).collect()(0)
        val (okMin, okMax, pkMin, pkMax) =
          (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
        val z = graft.functions.F.zorder2(
          expr(s"width_bucket(l_orderkey, $okMin, ${okMax + 1}, 1024)"),
          expr(s"width_bucket(l_partkey, $pkMin, ${pkMax + 1}, 1024)"))
        li.withColumn("__z", z)
          .repartitionByRange(16, col("__z"))
          .sortWithinPartitions(col("__z"))
          .drop("__z")
          .write.mode("overwrite").parquet(base)
        graft.tables.StatsIndex.build(s, base, Seq("l_orderkey", "l_partkey"))
        val (scanA, readA, totalA) = graft.tables.StatsIndex.scanBetween(
          s, base, "l_orderkey", okMin, okMin + (okMax - okMin) / 8)
        val (scanB, readB, totalB) = graft.tables.StatsIndex.scanBetween(
          s, base, "l_partkey", pkMin, pkMin + (pkMax - pkMin) / 8)
        val aggA = scanA.agg(count(lit(1)).as("n_by_orderkey"),
          dsum(col("l_extendedprice")).as("price_by_orderkey"))
        val aggB = scanB.agg(count(lit(1)).as("n_by_partkey"),
          dsum(col("l_extendedprice")).as("price_by_partkey"))
        aggA.crossJoin(aggB)
          .withColumn("both_columns_skip",
            lit(readA < totalA && readB < totalB))
      },
      Some(s"""SELECT
               (SELECT COUNT(*) FROM lineitem
                WHERE l_orderkey BETWEEN (SELECT MIN(l_orderkey) FROM lineitem)
                  AND (SELECT MIN(l_orderkey) + (MAX(l_orderkey) - MIN(l_orderkey)) // 8 FROM lineitem)) AS n_by_orderkey,
               (SELECT ${dsumSql("l_extendedprice")} FROM lineitem
                WHERE l_orderkey BETWEEN (SELECT MIN(l_orderkey) FROM lineitem)
                  AND (SELECT MIN(l_orderkey) + (MAX(l_orderkey) - MIN(l_orderkey)) // 8 FROM lineitem)) AS price_by_orderkey,
               (SELECT COUNT(*) FROM lineitem
                WHERE l_partkey BETWEEN (SELECT MIN(l_partkey) FROM lineitem)
                  AND (SELECT MIN(l_partkey) + (MAX(l_partkey) - MIN(l_partkey)) // 8 FROM lineitem)) AS n_by_partkey,
               (SELECT ${dsumSql("l_extendedprice")} FROM lineitem
                WHERE l_partkey BETWEEN (SELECT MIN(l_partkey) FROM lineitem)
                  AND (SELECT MIN(l_partkey) + (MAX(l_partkey) - MIN(l_partkey)) // 8 FROM lineitem)) AS price_by_partkey,
               TRUE AS both_columns_skip""")),

    // M18 — OPTIMIZE inside the versioned table (IncrementalTable
    // .compact): a fragmented commit (files capped at a sixth of the
    // rows → several files per partition) compacts into a NEW manifest
    // version. Pins: file count fell, the pre-compaction version still
    // reads (time travel), the current version's data is untouched, and
    // the row-level diff across the compaction is EMPTY — compaction is a
    // layout rewrite, never a data change.
    QueryDef(
      "m18_incremental_compact",
      (s, d) => {
        val it = graft.tables.IncrementalTable
        val base = scratch("m18")
        it.commitFull(fragmentingOrders(s, d), base, Seq("o_orderpriority"))
        val (before, after) = it.compact(s, base, Seq("o_orderpriority"))
        val v1 = it.read(s, base, Some(1))
          .agg(count(lit(1)).as("n_v1"), dsum(col("o_totalprice")).as("v1_total"))
        val cur = it.read(s, base)
          .agg(count(lit(1)).as("n_cur"), dsum(col("o_totalprice")).as("cur_total"))
        val diffRows = it.diff(s, base, 1, 2).count()
        v1.crossJoin(cur)
          .withColumn("files_reduced", lit(after < before))
          .withColumn("diff_empty", lit(diffRows == 0L))
      },
      Some(s"""SELECT COUNT(*) AS n_v1,
               ${dsumSql("o_totalprice")} AS v1_total,
               COUNT(*) AS n_cur,
               ${dsumSql("o_totalprice")} AS cur_total,
               TRUE AS files_reduced,
               TRUE AS diff_empty
               FROM orders""")),

    // M19 — targeted row deletion (IncrementalTable.deleteWhere, the
    // compliance DELETE): every 1-URGENT order plus half of 2-HIGH is
    // deleted in one versioned commit. Pins: the current version's
    // per-priority totals (1-URGENT gone ENTIRELY — the all-rows-deleted
    // partition must vanish, which a partition refresh can't express),
    // version 1 still holds everything (until vacuum), and the file
    // changes touch ONLY the two affected partitions.
    QueryDef(
      "m19_delete_where",
      (s, d) => {
        val it = graft.tables.IncrementalTable
        val base = scratch("m19")
        val orders = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        it.commitFull(orders, base, Seq("o_orderpriority"))
        val doomed = col("o_orderpriority") === "1-URGENT" ||
          (col("o_orderpriority") === "2-HIGH" && col("o_orderkey") % 2 === 0)
        it.deleteWhere(s, base, Seq("o_orderpriority"), doomed)
        val nAll = orders.count()
        val v1Intact = it.read(s, base, Some(1)).count() == nAll
        val (added, removed) = it.fileChanges(base, 1, 2)
        val scoped = (added ++ removed).nonEmpty &&
          (added ++ removed).forall(f =>
            f.startsWith("o_orderpriority=1-URGENT/") ||
              f.startsWith("o_orderpriority=2-HIGH/"))
        it.read(s, base)
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .withColumn("v1_intact", lit(v1Intact))
          .withColumn("files_scoped", lit(scoped))
          .orderBy(col("o_orderpriority"))
      },
      Some(s"""SELECT o_orderpriority, COUNT(*) AS n,
               ${dsumSql("o_totalprice")} AS total,
               TRUE AS v1_intact, TRUE AS files_scoped
               FROM orders
               WHERE NOT (o_orderpriority = '1-URGENT'
                 OR (o_orderpriority = '2-HIGH' AND o_orderkey % 2 = 0))
               GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // M20 — the object-store-safe commit protocol (ManifestLog over
    // CommitStore) under injected faults: a writer crash BEFORE the
    // manifest PUT must commit nothing, a crash AFTER the PUT but
    // before the pointer CAS must leave a dead branch readers never see
    // as current, an AMBIGUOUS PUT (landed, reported failed — the S3
    // retry hazard) must not double-commit, and N lockless concurrent
    // writers must mint N distinct dense versions with no lost update.
    // The oracle pins the final table state (URGENT doubled by the one
    // refresh that was allowed to succeed) plus TRUE for each protocol
    // invariant the query verified in-process.
    QueryDef(
      "m20_commit_protocol",
      (s, d) => {
        val it = graft.tables.IncrementalTable
        val base = scratch("m20")
        val store = new graft.tables.FaultyCommitStore(graft.tables.LocalCommitStore)
        val orders = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        it.commitFull(orders, base, Seq("o_orderpriority"), store = store)
        val urgentDoubled = orders.filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"), (col("o_totalprice") * 2).as("o_totalprice"),
            col("o_orderpriority"))

        // 1. crash before the manifest PUT: nothing commits
        store.armCrashBeforePut(_.contains("_manifests"))
        val crashed1 = try {
          it.refreshPartitions(urgentDoubled, base, Seq("o_orderpriority"), store = store)
          false
        } catch { case _: store.InjectedCrash => true }
        val noCommitAfterCrash = it.versions(base, store) == Seq(1) &&
          it.currentVersion(base, store).contains(1)

        // 2. crash immediately after the PUT: the conditional PUT is the
        //    single commit point — the version is complete and current
        store.armCrashAfterPut(_.contains("_manifests"))
        val crashed2 = try {
          it.refreshPartitions(urgentDoubled, base, Seq("o_orderpriority"), store = store)
          false
        } catch { case _: store.InjectedCrash => true }
        val durable = it.versions(base, store) == Seq(1, 2) &&
          it.currentVersion(base, store).contains(2)

        // 3. ambiguous PUT: the retry recognizes its own commit
        store.armAmbiguousPut(_.contains("_manifests"))
        val v3 = it.refreshPartitions(
          urgentDoubled, base, Seq("o_orderpriority"), store = store)
        val published = v3 == 3 && it.currentVersion(base, store).contains(3)

        // 4. lockless concurrent writers on a metadata-only log: dense
        //    unique versions, no lost update
        val logPath = scratch("m20_log")
        val n = 6
        val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
        (1 to n).foreach { i =>
          pool.execute { () =>
            new graft.tables.ManifestLog(store, logPath).commit {
              case None            => s"$i"
              case Some((_, prev)) => s"$prev,$i"
            }
            ()
          }
        }
        pool.shutdown()
        pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
        val occLog = new graft.tables.ManifestLog(store, logPath)
        val occOk = occLog.versions == (1 to n).toSeq &&
          occLog.manifest(n).exists(
            _.split(",").map(_.trim.toInt).toSet == (1 to n).toSet)

        it.read(s, base, store = store)
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .withColumn("crash_before_put_commits_nothing",
            lit(crashed1 && noCommitAfterCrash))
          .withColumn("crash_after_put_commit_durable", lit(crashed2 && durable))
          .withColumn("ambiguous_put_single_commit", lit(published))
          .withColumn("concurrent_mint_no_lost_update", lit(occOk))
          .orderBy(col("o_orderpriority"))
      },
      Some(s"""SELECT o_orderpriority, COUNT(*) AS n,
               CAST(SUM(CAST(CASE WHEN o_orderpriority = '1-URGENT'
                   THEN o_totalprice * 2 ELSE o_totalprice END AS DECIMAL(18,4))) AS DOUBLE) AS total,
               TRUE AS crash_before_put_commits_nothing,
               TRUE AS crash_after_put_commit_durable,
               TRUE AS ambiguous_put_single_commit,
               TRUE AS concurrent_mint_no_lost_update
               FROM orders
               GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // M21 — stats-driven broadcast decisions (StatsIndex table stats):
    // every dim join in the corpus is hand-broadcast()-hinted, which is
    // right until a "dim" outgrows executor memory at 100×. Here the
    // decision comes from MAINTAINED table stats instead: the small dim
    // (nation, provably tiny) broadcasts with no hand hint; the big dim
    // scanned under a 1 KB threshold degrades to a shuffle join. Both
    // plan shapes are asserted in-process with Spark's own auto-broadcast
    // disabled, so the stats layer alone makes the call; the oracle pins
    // the join RESULTS plus TRUE for each asserted plan shape, and the
    // recorded row counts / NDV against DuckDB's exact values.
    QueryDef(
      "m21_stats_broadcast",
      (s, d) => {
        val si = graft.tables.StatsIndex
        val dimSmall = scratch("m21_dim_small")
        val dimBig = scratch("m21_dim_big")
        t(s, d, "nation").select(col("n_nationkey"), col("n_name"))
          .write.parquet(dimSmall)
        t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .write.parquet(dimBig)
        val stSmall = si.buildTableStats(s, dimSmall, Seq("n_nationkey"))
        val stBig = si.buildTableStats(s, dimBig, Seq("o_orderkey"))
        val prevThresh = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try {
          val cust = t(s, d, "customer").select(col("c_custkey"), col("c_nationkey"))
          val small = si.readDimWithStats(s, dimSmall,
            broadcastThresholdBytes = 10L << 20, hintWithoutStats = false)
          val joinedSmall = cust.join(small,
            cust("c_nationkey") === small("n_nationkey"))
          val smallBroadcasts = joinedSmall.queryExecution.executedPlan
            .toString.contains("BroadcastHashJoin")
          val big = si.readDimWithStats(s, dimBig,
            broadcastThresholdBytes = 1024, hintWithoutStats = false)
          val joinedBig = cust.join(big, cust("c_custkey") === big("o_custkey"))
          val bigShuffles = joinedBig.queryExecution.executedPlan
            .toString.contains("SortMergeJoin")
          val perNation = joinedSmall.groupBy(col("n_name"))
            .agg(count(lit(1)).as("customers"))
          val bigAgg = joinedBig.agg(count(lit(1)).as("joined_orders"),
            dsum(col("o_totalprice")).as("joined_total"))
          // NDV is an HLL sketch → pinned as a tolerance BOOLEAN (the
          // a22 pattern), never as a raw value an exact oracle would
          // hash-mismatch
          val ndvOk =
            math.abs(stSmall.ndv("n_nationkey") - stSmall.rows) <=
              math.max(2L, stSmall.rows / 20)
          perNation.crossJoin(bigAgg)
            .withColumn("small_dim_rows", lit(stSmall.rows))
            .withColumn("small_dim_ndv_within_tol", lit(ndvOk))
            .withColumn("small_dim_broadcasts_from_stats", lit(smallBroadcasts))
            .withColumn("big_dim_degrades_to_shuffle", lit(bigShuffles))
            .withColumn("big_dim_rows", lit(stBig.rows))
            .orderBy(col("n_name"))
        } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      },
      Some(s"""SELECT n_name, COUNT(*) AS customers,
               (SELECT COUNT(*) FROM orders o JOIN customer c2 ON o.o_custkey = c2.c_custkey)
                 AS joined_orders,
               (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                FROM orders o JOIN customer c2 ON o.o_custkey = c2.c_custkey)
                 AS joined_total,
               (SELECT COUNT(*) FROM nation) AS small_dim_rows,
               TRUE AS small_dim_ndv_within_tol,
               TRUE AS small_dim_broadcasts_from_stats,
               TRUE AS big_dim_degrades_to_shuffle,
               (SELECT COUNT(*) FROM orders) AS big_dim_rows
               FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
               GROUP BY n_name ORDER BY n_name""")),

    // M22 — point-lookup data skipping via the per-file MEMBERSHIP
    // sketch (the Bloom-filter-index half of skipping; min/max ranges
    // answer range predicates, membership answers `col = v`). Lineitem
    // lands range-clustered on l_orderkey, the sketch indexes the
    // column, and a point lookup must read FEWER files than the table
    // holds while returning exactly the oracle's rows — the sketch is a
    // superset guarantee, never a correctness dependency.
    QueryDef(
      "m22_member_skipping",
      (s, d) => {
        val base = scratch("m22")
        val li = t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"), col("l_extendedprice"))
        li.repartitionByRange(16, col("l_orderkey"))
          .write.mode("overwrite").parquet(base)
        graft.tables.StatsIndex.buildMemberIndex(s, base, Seq("l_orderkey"))
        val probeKey = li.agg(min(col("l_orderkey"))).collect()(0).getLong(0)
        val (scan, read, totalF) =
          graft.tables.StatsIndex.scanPoint(s, base, "l_orderkey", probeKey)
        scan.agg(
            count(lit(1)).as("n"),
            dsum(col("l_extendedprice")).as("total"))
          .withColumn("files_skipped", lit(read < totalF))
      },
      Some(s"""SELECT COUNT(*) AS n,
               ${dsumSql("l_extendedprice")} AS total,
               TRUE AS files_skipped
               FROM lineitem
               WHERE l_orderkey = (SELECT MIN(l_orderkey) FROM lineitem)""")),

    // M23 — DESCRIBE HISTORY over the incremental table: every commit's
    // audit row (version, operation, timestamp, live-file count) parsed
    // from the immutable manifest headers — no side bookkeeping to
    // corrupt or vacuum. The gate drives one commit of each operation
    // kind and pins the exact (version, operation) chain plus
    // non-decreasing wall-clock timestamps.
    QueryDef(
      "m23_table_history",
      (s, d) => {
        val it = graft.tables.IncrementalTable
        val base = scratch("m23")
        val orders = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        it.commitFull(fragmentingOrders(s, d), base, Seq("o_orderpriority"))
        it.refreshPartitions(
          orders.filter(col("o_orderpriority") === "1-URGENT")
            .select(col("o_orderkey"), (col("o_totalprice") * 2).as("o_totalprice"),
              col("o_orderpriority")),
          base, Seq("o_orderpriority"))
        it.deleteWhere(s, base, Seq("o_orderpriority"),
          col("o_orderpriority") === "5-LOW")
        it.compact(s, base, Seq("o_orderpriority"))
        val h = it.history(base)
        val tsMono = h.nonEmpty && h.forall(_._2 > 0) &&
          h.sliding(2).forall {
            case Seq(a, b) => a._2 <= b._2
            case _         => true
          }
        import s.implicits._
        h.map(r => (r._1, r._3, r._4 > 0))
          .toDF("version", "operation", "has_files")
          .withColumn("ts_monotone", lit(tsMono))
          .orderBy(col("version"))
      },
      Some("""SELECT * FROM (VALUES
                (1, 'overwrite', TRUE, TRUE),
                (2, 'refresh', TRUE, TRUE),
                (3, 'delete', TRUE, TRUE),
                (4, 'compact', TRUE, TRUE))
              AS t(version, operation, has_files, ts_monotone)
              ORDER BY version""")),

    // M24 — RESTORE as a commit (Delta RESTORE): reverting to v1 mints
    // a NEW version whose content is exactly v1's — history stays
    // linear and audited, the bad version remains time-travelable, and
    // the revert cannot be superseded the way a rollback pin can. Pins:
    // the restored CURRENT equals the oracle's original table, the
    // version chain grew (restore is v3), the reverted-over v2 still
    // time-travels, and the restore is pure metadata (no new data
    // files: v3's file set == v1's).
    QueryDef(
      "m24_restore_commit",
      (s, d) => {
        val it = graft.tables.IncrementalTable
        val base = scratch("m24")
        val orders = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        it.commitFull(orders, base, Seq("o_orderpriority"))
        it.refreshPartitions(
          orders.filter(col("o_orderpriority") === "1-URGENT")
            .select(col("o_orderkey"), (col("o_totalprice") * 1000).as("o_totalprice"),
              col("o_orderpriority")),
          base, Seq("o_orderpriority"))
        val v3 = it.restore(base, 1)
        val (added, removed) = it.fileChanges(base, 1, v3)
        val pureMetadata = added.isEmpty && removed.isEmpty
        val v2StillTravels = it.read(s, base, Some(2))
          .filter(col("o_orderpriority") === "1-URGENT")
          .agg(max(col("o_totalprice"))).collect()(0).getDouble(0) >
          orders.agg(max(col("o_totalprice"))).collect()(0).getDouble(0)
        it.read(s, base)
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .withColumn("restore_is_v3", lit(v3 == 3))
          .withColumn("pure_metadata", lit(pureMetadata))
          .withColumn("bad_version_still_travels", lit(v2StillTravels))
          .orderBy(col("o_orderpriority"))
      },
      Some(s"""SELECT o_orderpriority, COUNT(*) AS n,
               ${dsumSql("o_totalprice")} AS total,
               TRUE AS restore_is_v3, TRUE AS pure_metadata,
               TRUE AS bad_version_still_travels
               FROM orders GROUP BY o_orderpriority
               ORDER BY o_orderpriority""")),

    // M25 — incremental view maintenance: a keyed SUM/COUNT rollup over
    // the incremental table advanced by SIGNED diff merging (insert = +1,
    // delete = -1) instead of recomputation — the reference's gold dbt
    // models, which `materialized: table` rebuilds wholesale every run
    // (gold/dbt_project.yml), maintained here at O(changed partitions). The gate drives a refresh AND
    // a delete through [[IncrementalView.maintain]], then pins (a) the
    // maintained state against a from-scratch recompute of the current
    // snapshot (multiset equality, exact decimal) and (b) the view
    // content against the DuckDB oracle's direct statement of the final
    // state.
    QueryDef(
      "m25_incremental_view",
      (s, d) => {
        val it = graft.tables.IncrementalTable
        val iv = graft.tables.IncrementalView
        val base = scratch("m25_t")
        val view = scratch("m25_v")
        val keys = Seq("o_orderpriority")
        val measures = Seq("o_totalprice")
        val orders = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        it.commitFull(orders, base, keys)
        iv.build(s, base, view, keys, measures)
        // v2: one-partition refresh with doubled prices; v3: cross-
        // partition delete — both must flow through maintain() as deltas.
        it.refreshPartitions(
          orders.filter(col("o_orderpriority") === "1-URGENT")
            .select(col("o_orderkey"), (col("o_totalprice") * 2).as("o_totalprice"),
              col("o_orderpriority")),
          base, keys)
        it.deleteWhere(s, base, keys, col("o_orderkey") % 7 === 0)
        val reflects = iv.maintain(s, base, view, keys, measures)
        val maintained = iv.read(s, view, keys, measures)
        // Exact-decimal comparison against a full recompute of the
        // current snapshot: the IVM contract is bit-equality, not
        // tolerance.
        val recomputed = it.read(s, base)
          .groupBy(col("o_orderpriority"))
          .agg(
            sum(col("o_totalprice").cast(DecimalType(28, 4)))
              .cast(DoubleType).as("o_totalprice_sum"),
            count(lit(1)).as("__rows"))
        // Signed-union multiset compare: one evaluation of each side and
        // one action, vs the exceptAll pair's two of each (round 11 —
        // the same rewrite the streaming identity pins got in round 9).
        val matches = QueryDef.multisetEqual(maintained, recomputed)
        maintained
          .withColumn("view_matches_recompute",
            lit(matches && reflects == it.currentVersion(base).get))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority,
               CAST(SUM(CAST(CASE WHEN o_orderpriority = '1-URGENT'
                   THEN o_totalprice * 2 ELSE o_totalprice END
                 AS DECIMAL(28,4))) AS DOUBLE) AS o_totalprice_sum,
               COUNT(*) AS __rows,
               TRUE AS view_matches_recompute
               FROM orders WHERE o_orderkey % 7 <> 0
               GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // M26 — bucketed co-located fact-fact join: both sides land
    // metastore-bucketed on the join key with the SAME bucket count
    // (Iceberg's bucket(N, col) transform, Spark-native form), so the
    // join AND the follow-up same-key aggregation plan with ZERO
    // Exchange — the write-once/join-many layout that at 100 TB removes
    // both fact shuffles from every run of the daily pipeline. Broadcast
    // is disabled for the probe so the exchange-free SortMergeJoin is
    // what the plan boolean actually certifies.
    QueryDef(
      "m26_bucketed_join",
      (s, d) => {
        val bt = graft.tables.BucketedTable
        val pO = scratch("m26_orders")
        val pC = scratch("m26_cust")
        bt.write(
          t(s, d, "orders").select(col("o_custkey"), col("o_totalprice")),
          "m26_orders_b", pO, buckets = 8, bucketCols = Seq("o_custkey"),
          sortCols = Seq("o_custkey"))
        bt.write(
          t(s, d, "customer").select(col("c_custkey"), col("c_acctbal")),
          "m26_cust_b", pC, buckets = 8, bucketCols = Seq("c_custkey"),
          sortCols = Seq("c_custkey"))
        val prevThresh = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try {
          val o = bt.table(s, "m26_orders_b")
          val c = bt.table(s, "m26_cust_b")
          val agg = c.join(o, c("c_custkey") === o("o_custkey"))
            .groupBy(col("c_custkey"))
            .agg(count(lit(1)).as("n_orders"),
              dsum(col("o_totalprice")).as("total"),
              max(col("c_acctbal")).as("acctbal"))
          val exchangeFree =
            !agg.queryExecution.executedPlan.toString.contains("Exchange")
          // Execute the certified plan NOW, while the threshold is still
          // forced: localCheckpoint materializes the exchange-free
          // sort-merge join before the finally block restores
          // autoBroadcastJoinThreshold, so the rows the harness hashes
          // are produced by the plan the boolean certifies — without it
          // the deferred execution would re-plan a BroadcastHashJoin
          // under the restored session conf.
          agg.localCheckpoint()
            .withColumn("exchange_free", lit(exchangeFree))
            .orderBy(col("c_custkey"))
        } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      },
      Some(s"""SELECT c_custkey, COUNT(*) AS n_orders,
               ${dsumSql("o_totalprice")} AS total,
               MAX(c_acctbal) AS acctbal,
               TRUE AS exchange_free
               FROM customer JOIN orders ON c_custkey = o_custkey
               GROUP BY c_custkey ORDER BY c_custkey""")),

    // M27 — SHALLOW CLONE (Delta `CREATE TABLE ... SHALLOW CLONE`):
    // the clone's first commit is PURE METADATA naming the source's
    // files by absolute path (`zero_copy` pins that not one data file
    // exists under the clone's root after cloning — at 100 TB the
    // clone costs one manifest write). The clone then diverges with a
    // DELETE WHERE: 1-URGENT vanishes wholesale (its foreign files
    // drop from the manifest), half of 2-HIGH rewrites into clone-LOCAL
    // files, and every other partition keeps reading the source's
    // objects — `divergence_local` pins exactly that file-level split
    // via the manifest diff. The source and the clone's v1 must still
    // read the full untouched table afterwards (isolation + time
    // travel across the clone boundary).
    QueryDef(
      "m27_shallow_clone",
      (s, d) => {
        val it = graft.tables.IncrementalTable
        val src = scratch("m27_src")
        val dst = scratch("m27_dst")
        val orders = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        it.commitFull(orders, src, Seq("o_orderpriority"))
        it.shallowClone(src, dst)
        val zeroCopy = graft.tables.FsUtil
          .parquetFiles(Paths.get(dst, "data")).isEmpty
        val doomed = col("o_orderpriority") === "1-URGENT" ||
          (col("o_orderpriority") === "2-HIGH" && col("o_orderkey") % 2 === 0)
        it.deleteWhere(s, dst, Seq("o_orderpriority"), doomed)
        // the divergence commit adds only clone-LOCAL (relative) files
        // and removes only SOURCE (absolute) files
        val (added, removed) = it.fileChanges(dst, 1, 2)
        val divergenceLocal = added.nonEmpty && removed.nonEmpty &&
          added.forall(f => !Paths.get(f).isAbsolute) &&
          removed.forall(f => Paths.get(f).isAbsolute)
        val nAll = orders.count()
        val cloneV1Full = it.read(s, dst, Some(1)).count() == nAll
        val srcIntact = it.read(s, src).count() == nAll
        it.read(s, dst)
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .withColumn("zero_copy", lit(zeroCopy))
          .withColumn("divergence_local", lit(divergenceLocal))
          .withColumn("clone_v1_full", lit(cloneV1Full))
          .withColumn("src_intact", lit(srcIntact))
          .orderBy(col("o_orderpriority"))
      },
      Some(s"""SELECT o_orderpriority, COUNT(*) AS n,
               ${dsumSql("o_totalprice")} AS total,
               TRUE AS zero_copy, TRUE AS divergence_local,
               TRUE AS clone_v1_full, TRUE AS src_intact
               FROM orders
               WHERE NOT (o_orderpriority = '1-URGENT'
                 OR (o_orderpriority = '2-HIGH' AND o_orderkey % 2 = 0))
               GROUP BY o_orderpriority ORDER BY o_orderpriority"""))
  ,

    // M28 — PARTITION EVOLUTION (Iceberg's spec-change, on hive layout):
    // the table commits coarse (priority), then two priorities refresh
    // at the REFINED layout (priority, year) in one versioned commit —
    // the prefix-conflict carry displaces exactly the pre-evolution
    // coarse files of the touched priorities, the widened schema
    // commits with the manifest, and the CURRENT version legitimately
    // mixes layouts: reads group files by partition signature, and
    // pre-evolution rows surface year = NULL (their dirs cannot supply
    // it) while evolved rows carry the real year. Time travel to v1
    // still reads the whole coarse table.
    QueryDef(
      "m28_partition_evolution",
      (s, d) => {
        val it = graft.tables.IncrementalTable
        val base = scratch("m28")
        val orders = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderpriority"), col("o_orderdate"))
        it.commitFull(orders.drop("o_orderdate"), base, Seq("o_orderpriority"))
        val evolved = orders
          .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
          .withColumn("o_year", year(col("o_orderdate")).cast(IntegerType))
          .drop("o_orderdate")
        it.refreshPartitions(evolved, base, Seq("o_orderpriority", "o_year"))
        val nAll = orders.count()
        val v1Intact = it.read(s, base, Some(1)).count() == nAll
        it.read(s, base)
          .groupBy(col("o_orderpriority"), col("o_year"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .withColumn("v1_intact", lit(v1Intact))
          .orderBy(asc("o_orderpriority"), asc_nulls_first("o_year"))
      },
      Some(s"""SELECT o_orderpriority,
               CAST(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN EXTRACT(year FROM o_orderdate) END AS INT) AS o_year,
               COUNT(*) AS n,
               ${dsumSql("o_totalprice")} AS total,
               TRUE AS v1_intact
               FROM orders GROUP BY 1, 2
               ORDER BY o_orderpriority ASC, o_year ASC NULLS FIRST"""))
  )
}
