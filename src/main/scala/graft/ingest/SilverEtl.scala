package graft.ingest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.immutable.ListMap
import scala.util.matching.Regex

/** The Silver ETL: raw round exports (nested JSON or flattened CSV) → one
  * long-format telemetry table, one row per GPS fix.
  *
  * Re-expression of the reference pipeline's semantics
  * (`pipeline/silver/etl.py`) as composable `DataFrame => DataFrame`
  * stages. Differences from the reference are architectural, not
  * semantic:
  *
  *   - CSV ingestion groups files by header signature and issues ONE scan
  *     per schema group (the reference reads every file separately and
  *     folds a union — etl.py:155-184; at 100 TB that is thousands of scan
  *     nodes in one plan). Alignment is still strictly by name.
  *   - Every stage is a pure function; the driver never collects fix-grain
  *     data.
  *   - The quarantine split computes the invalid-coordinate predicate once
  *     and reuses the flagged frame for both outputs (etl.py:590-608);
  *     `SilverJob` materialises that frame once per drop.
  *   - Format detection and each CSV group's header schema are resolved on
  *     the driver, so planning a drop starts no probe job.
  */
object SilverEtl {

  /** Coordinate bounds, env-overridable in the reference
    * (lib/tm_lakehouse/constants.py:78-83). */
  final case class CoordBounds(
      lonMin: Double = -180.0, lonMax: Double = 180.0,
      latMin: Double = -90.0, latMax: Double = 90.0)

  final case class SilverConfig(
      courseId: String,
      ingestDate: String,
      bounds: CoordBounds = CoordBounds(),
      topology: Option[DataFrame] = None)

  // ---------------------------------------------------------------- scans

  /** The files the landing readers scan: the paths matching `glob` that
    * Spark's own file listing would keep (hidden `_`/`.` names skipped),
    * in path order. Driver-side Hadoop `FileSystem` listing, so it runs no
    * Spark job on any Hadoop-compatible FS. */
  private def listLanding(spark: SparkSession, glob: String): Seq[String] = {
    val pattern = new Path(glob)
    val fs = pattern.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(pattern)).toSeq.flatten
      .filter { st =>
        val name = st.getPath.getName
        st.isFile && !name.startsWith("_") && !name.startsWith(".")
      }
      .map(_.getPath.toString).sorted
  }

  /** The JSON files of a landing directory; a path ending in `.json` is
    * read as given. */
  private def jsonFiles(spark: SparkSession, dir: String): Seq[String] =
    if (dir.endsWith(".json")) Seq(dir) else listLanding(spark, s"$dir/*.json")

  /** S1 — detect CSV vs JSON under a directory (etl.py:40-61). Globs
    * through the Hadoop `FileSystem`, so it works against any
    * Hadoop-compatible FS and starts no Spark job. CSV is also the
    * default: with no CSV file the read fails (etl.py:60-61). */
  def detectFileFormat(spark: SparkSession, dir: String): String =
    if (jsonFiles(spark, dir).nonEmpty) "json" else "csv"

  /** S2 — multiline JSON scan for MongoDB-style array exports
    * (etl.py:137-146). */
  def readJson(spark: SparkSession, paths: String*): DataFrame =
    spark.read.option("multiLine", true).json(paths: _*)

  private def csvReader(spark: SparkSession) =
    spark.read.option("header", true).option("escape", "\"").option("multiLine", false)

  /** S3 — heterogeneous CSV scan: files may carry different `locations[N]`
    * column sets and orders, so positional glob reads silently misalign
    * (the reference's own warning, etl.py:156-161). We sniff each header,
    * group files with identical headers, read each group in one scan, and
    * union the groups BY NAME with missing columns as NULL.
    *
    * Each group's all-string schema comes from Spark's own CSV header
    * handling run over the one header line as a local Dataset: the same
    * `_cN` names for empty headers and the same duplicate-name suffixes as
    * a `header=true` scan, without the scan's schema-inference job. */
  def readCsvUnion(spark: SparkSession, dir: String): DataFrame = {
    val files = listLanding(spark, if (dir.endsWith(".csv")) dir else s"$dir/*.csv")
    require(files.nonEmpty, s"No CSV files found at: $dir")
    val conf = spark.sparkContext.hadoopConfiguration

    def headerOf(file: String): String = {
      val p = new Path(file)
      val in = p.getFileSystem(conf).open(p)
      try {
        val reader = new java.io.BufferedReader(new java.io.InputStreamReader(in, "UTF-8"))
        Option(reader.readLine()).getOrElse("")
      } finally in.close()
    }

    val groups = files.groupBy(headerOf).toSeq.sortBy(_._1)
    val dfs = groups.map { case (header, paths) =>
      val schema = csvReader(spark)
        .csv(spark.createDataset(Seq(header))(Encoders.STRING)).schema
      csvReader(spark).schema(schema).csv(paths: _*)
    }
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  // ---------------------------------------------- projection helpers (P1/P2)

  /** P1 — bracket-safe column ref: `locations[0].startTime` contains `[`,
    * `]`, `.` and must be backtick-escaped (etl.py:35-37). */
  def bracketCol(name: String): Column = col(s"`$name`")

  /** P2 — Mongo-safe column ref (etl.py:217-243): JSON exports may wrap
    * scalars as {"$oid": …} / {"$date": …} structs, and a struct is not
    * guaranteed to carry both keys — referencing an absent subfield is an
    * AnalysisException, so presence is checked against the INFERRED SCHEMA,
    * never the data. */
  def safeCol(df: DataFrame, name: String): Column = {
    if (!df.columns.contains(name)) return lit(null)
    df.schema(name).dataType match {
      case st: StructType =>
        val sub = st.fieldNames.toSet
        val candidates =
          (if (sub.contains("$oid")) Seq(col(s"$name.$$oid")) else Nil) ++
            (if (sub.contains("$date")) Seq(col(s"$name.$$date")) else Nil)
        candidates match {
          case Nil      => lit(null)
          case Seq(one) => one
          case many     => coalesce(many: _*)
        }
      case _ => bracketCol(name)
    }
  }

  /** CSV index discovery: every `locations[N].startTime` column marks a
    * location slot (etl.py:64-72). Driver-side — operates on column names
    * only, never data. */
  private val idxPattern: Regex = """^locations\[(\d+)\]\.startTime$""".r
  def discoverLocationIndices(columns: Seq[String]): Seq[Int] =
    columns.flatMap {
      case idxPattern(i) => Some(i.toInt)
      case _             => None
    }.distinct.sorted

  // ------------------------------------------------------- round fields (P3)

  /** A timestamp-ish column that may be plain string/ISO or a Mongo
    * {"$date": …} struct (etl.py:247-255, 273-280). */
  private def timestampCol(df: DataFrame, name: String): Column =
    if (!df.columns.contains(name)) lit(null).cast(TimestampType)
    else df.schema(name).dataType match {
      case _: StructType => to_timestamp(col(s"$name.$$date"))
      case _             => to_timestamp(bracketCol(name))
    }

  /** P3 — project the ~20 round-level configuration fields with casts
    * (etl.py:282-308), plus round_id from `_id` (plain or {"$oid"}) and
    * round start/end timestamps. */
  def withRoundFields(df: DataFrame, cfg: SilverConfig): DataFrame = {
    val roundId: Column =
      if (df.columns.contains("round_id")) col("round_id")
      else if (df.columns.contains("_id")) df.schema("_id").dataType match {
        case _: StructType => col("_id.$oid")
        case _             => col("_id")
      }
      else lit(null).cast(StringType)

    df.withColumns(ListMap(
      "round_id" -> roundId,
      "course_id" -> lit(cfg.courseId),
      "ingest_date" -> lit(cfg.ingestDate),
      "round_start_time" -> timestampCol(df, "startTime"),
      "round_end_time" -> timestampCol(df, "endTime"),
      "start_hole" -> safeCol(df, "startHole").cast(IntegerType),
      "start_section" -> safeCol(df, "startSection").cast(IntegerType),
      "end_section" -> safeCol(df, "endSection").cast(IntegerType),
      "is_nine_hole" -> safeCol(df, "isNineHole").cast(BooleanType),
      "current_nine" -> safeCol(df, "currentNine").cast(IntegerType),
      "goal_time" -> safeCol(df, "goalTime").cast(IntegerType),
      "is_complete" -> safeCol(df, "complete").cast(BooleanType),
      "device" -> safeCol(df, "device").cast(StringType),
      "first_fix" -> safeCol(df, "firstFix").cast(StringType),
      "last_fix" -> safeCol(df, "lastFix").cast(StringType),
      "goal_name" -> safeCol(df, "goalName").cast(StringType),
      "goal_time_fraction" -> safeCol(df, "goalTimeFraction").cast(DoubleType),
      "is_incomplete" -> safeCol(df, "isIncomplete").cast(BooleanType),
      "is_secondary" -> safeCol(df, "isSecondary").cast(BooleanType),
      "is_auto_assigned" -> safeCol(df, "isAutoAssigned").cast(BooleanType),
      "last_section_start" -> safeCol(df, "lastSectionStart").cast(DoubleType),
      "current_section" -> safeCol(df, "currentSection").cast(IntegerType),
      "current_hole" -> safeCol(df, "currentHole").cast(IntegerType),
      "current_hole_section" -> safeCol(df, "currentHoleSection").cast(IntegerType)))
  }

  // ------------------------------------------------------- explode (P4 / P5)

  /** P4 — JSON path: posexplode the nested `locations` array and repack a
    * normalized location struct (etl.py:311-349). Pace fields are rounded
    * to 3 dp at ingest (etl.py:339-343). */
  def explodeJsonLocations(df: DataFrame): DataFrame = {
    def locField(name: String): Column = {
      val locType = df.schema("locations").dataType
        .asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
      if (locType.fieldNames.contains(name)) col(s"loc.$name") else lit(null)
    }
    df.select(col("*"), posexplode(col("locations")).as(Seq("location_index", "loc")))
      .drop("locations")
      .withColumn(
        "location",
        struct(
          col("location_index"),
          locField("hole").cast(IntegerType).as("hole_number"),
          locField("sectionNumber").cast(IntegerType).as("section_number"),
          locField("holeSection").cast(IntegerType).as("hole_section"),
          locField("startTime").cast(DoubleType).as("start_offset_seconds"),
          lit(null).cast(StringType).as("fix_time_iso"), // JSON has no per-fix ISO col (etl.py:327)
          locField("fixCoordinates").getItem(0).cast(DoubleType).as("longitude"),
          locField("fixCoordinates").getItem(1).cast(DoubleType).as("latitude"),
          locField("isProjected").cast(BooleanType).as("is_projected"),
          locField("isProblem").cast(BooleanType).as("is_problem"),
          locField("isCache").cast(BooleanType).as("is_cache"),
          round(locField("paceGap").cast(DoubleType), 3).as("pace_gap"),
          round(locField("positionalGap").cast(DoubleType), 3).as("positional_gap"),
          round(locField("pace").cast(DoubleType), 3).as("pace"),
          locField("batteryPercentage").cast(DoubleType).as("battery_percentage")))
      .drop("loc", "location_index")
  }

  /** P5 — CSV path: build array<struct> over every discovered index and
    * explode (etl.py:352-384). Rounds narrower than the widest file yield
    * all-NULL "padding" slots, which are PRESERVED and flagged later —
    * the reference's no-data-loss rule (etl.py:386-387). */
  def explodeCsvLocations(df: DataFrame, indices: Seq[Int]): DataFrame = {
    val cols = df.columns.toSet
    def getCol(i: Int, suffix: String): Column = {
      val name = s"locations[$i].$suffix"
      if (cols.contains(name)) bracketCol(name) else lit(null)
    }
    val locStructs = indices.map { i =>
      struct(
        lit(i).as("location_index"),
        getCol(i, "hole").cast(IntegerType).as("hole_number"),
        getCol(i, "sectionNumber").cast(IntegerType).as("section_number"),
        getCol(i, "holeSection").cast(IntegerType).as("hole_section"),
        getCol(i, "startTime").cast(DoubleType).as("start_offset_seconds"),
        getCol(i, "date").cast(StringType).as("fix_time_iso"), // CSV-only ISO fix time (etl.py:367)
        getCol(i, "fixCoordinates[0]").cast(DoubleType).as("longitude"),
        getCol(i, "fixCoordinates[1]").cast(DoubleType).as("latitude"),
        getCol(i, "isProjected").cast(BooleanType).as("is_projected"),
        getCol(i, "isProblem").cast(BooleanType).as("is_problem"),
        getCol(i, "isCache").cast(BooleanType).as("is_cache"),
        round(getCol(i, "paceGap").cast(DoubleType), 3).as("pace_gap"),
        round(getCol(i, "positionalGap").cast(DoubleType), 3).as("positional_gap"),
        round(getCol(i, "pace").cast(DoubleType), 3).as("pace"),
        getCol(i, "batteryPercentage").cast(DoubleType).as("battery_percentage"))
    }
    df.withColumn("location", explode(array(locStructs: _*)))
  }

  // ------------------------------------------------------ derivations (P6-P11)

  /** P6–P9 + P7/P8 flags: flatten the location struct and derive
    * fix_timestamp, padding flag, event date parts, round duration
    * (etl.py:389-474). */
  def deriveTelemetry(df: DataFrame): DataFrame = {
    // P6 — fix timestamp: ISO column if present, else round start + offset
    // seconds (etl.py:389-396).
    val fixTs = coalesce(
      to_timestamp(col("location.fix_time_iso")),
      from_unixtime(
        col("round_start_time").cast(DoubleType) +
          col("location.start_offset_seconds")).cast(TimestampType))

    df.select(
        col("round_id"), col("course_id"), col("ingest_date"),
        fixTs.as("fix_timestamp"),
        // P7 — padding flag: hole AND section both NULL (etl.py:404-408)
        (col("location.hole_number").isNull && col("location.section_number").isNull)
          .as("is_location_padding"),
        col("round_start_time"), col("round_end_time"),
        col("start_hole"), col("start_section"), col("end_section"),
        col("is_nine_hole"), col("current_nine"), col("goal_time"), col("is_complete"),
        col("device"), col("first_fix"), col("last_fix"),
        col("goal_name"), col("goal_time_fraction"),
        col("is_incomplete"), col("is_secondary"), col("is_auto_assigned"),
        col("last_section_start"), col("current_section"), col("current_hole"),
        col("current_hole_section"),
        col("location.location_index"),
        col("location.hole_number"), col("location.section_number"),
        col("location.hole_section"),
        col("location.longitude"), col("location.latitude"),
        col("location.is_cache"), col("location.is_projected"),
        col("location.is_problem"),
        col("location.pace_gap"), col("location.positional_gap"), col("location.pace"),
        col("location.battery_percentage"))
      .withColumns(ListMap(
        "event_date" -> to_date(col("fix_timestamp")),
        // P8 — round duration minutes, null-guarded, 2 dp (etl.py:451-464)
        "round_duration_minutes" -> when(
          col("round_start_time").isNotNull && col("round_end_time").isNotNull,
          round(
            (unix_timestamp(col("round_end_time")) -
              unix_timestamp(col("round_start_time"))) / 60.0, 2)),
        // P9 — date parts; Spark dayofweek is 1=Sun..7=Sat (etl.py:467-474)
        "event_year" -> year(col("fix_timestamp")),
        "event_month" -> month(col("fix_timestamp")),
        "event_day" -> dayofmonth(col("fix_timestamp")),
        "event_weekday" -> dayofweek(col("fix_timestamp"))))
  }

  /** P10 fallback ladder pieces (etl.py:491-503; thresholds from
    * lib/tm_lakehouse/constants.py:59-69). */
  private val nineFromHoleNumber: Column =
    when(col("hole_number") >= 10, lit(2))
      .when(col("hole_number").isNotNull, lit(1))

  private val nineFromSectionNumber: Column =
    when(col("section_number") <= 27, lit(1))
      .when(col("section_number") <= 54, lit(2))
      .when(col("section_number") <= 81, lit(3))
      .otherwise(lit(1))

  /** P10 + J1 — nine_number derivation. With a topology dim: broadcast
    * equi+range LEFT join then coalesce(topo, hole-ladder, section-ladder)
    * (etl.py:505-543). Without: coalesce(current_nine, hole-ladder,
    * section-ladder) (etl.py:544-551). The dim is tiny (≤ a few rows per
    * facility) so the broadcast non-equi join never shuffles the fact
    * side. */
  def withNineNumber(df: DataFrame, topology: Option[DataFrame]): DataFrame =
    topology match {
      case Some(topo) =>
        val dim = topo.select(
          col("facility_id"),
          col("section_start").cast(IntegerType),
          col("section_end").cast(IntegerType),
          col("nine_number").cast(IntegerType).as("nine_number_topo"))
        df.join(
            broadcast(dim),
            col("course_id") === col("facility_id") &&
              col("section_number") >= col("section_start") &&
              col("section_number") <= col("section_end"),
            "left")
          .drop("facility_id", "section_start", "section_end")
          .withColumn(
            "nine_number",
            coalesce(col("nine_number_topo"), nineFromHoleNumber, nineFromSectionNumber))
          .drop("nine_number_topo")
      case None =>
        df.withColumn(
          "nine_number",
          coalesce(col("current_nine"), nineFromHoleNumber, nineFromSectionNumber))
    }

  /** P11 — WKT point string + timestamp-missing flag (etl.py:554-569). */
  def withGeometry(df: DataFrame): DataFrame =
    df.withColumns(ListMap(
      "geometry_wkt" -> when(
        col("longitude").isNotNull && col("latitude").isNotNull,
        concat(
          lit("POINT("), col("longitude").cast(StringType),
          lit(" "), col("latitude").cast(StringType), lit(")"))),
      "is_timestamp_missing" -> col("fix_timestamp").isNull))

  // ----------------------------------------------------------- dedup (W1)

  /** W1 — dedup on (round_id, fix_timestamp, location_index) preferring
    * cached > non-projected > higher battery (etl.py:572-586).
    * location_index stays in the key so NULL-timestamp rows don't collapse
    * — load-bearing for counts (the reference's own warning). */
  def dedupFixes(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window
      .partitionBy(col("round_id"), col("fix_timestamp"), col("location_index"))
      .orderBy(
        col("is_cache").desc_nulls_last,
        col("is_projected").asc_nulls_last,
        col("battery_percentage").desc_nulls_last)
    df.withColumn("row_num", row_number().over(w))
      .filter(col("row_num") === 1)
      .drop("row_num")
  }

  // ------------------------------------------------- quarantine split (P12)

  /** P12 — the invalid-coordinate flag (etl.py:590-608): true where a
    * present longitude or latitude lies outside the bounds. */
  def flagInvalidCoords(df: DataFrame, b: CoordBounds): DataFrame =
    df.withColumn("is_invalid_coord",
      (col("longitude").isNotNull &&
        (col("longitude") < b.lonMin || col("longitude") > b.lonMax)) ||
        (col("latitude").isNotNull &&
          (col("latitude") < b.latMin || col("latitude") > b.latMax)))

  /** P12 — split a [[flagInvalidCoords]] frame into (valid, invalid),
    * dropping the flag. Both halves share the flagged lineage; a caller
    * that consumes both persists the flagged frame first. */
  def splitFlagged(flagged: DataFrame): (DataFrame, DataFrame) =
    (flagged.filter(!col("is_invalid_coord")).drop("is_invalid_coord"),
      flagged.filter(col("is_invalid_coord")).drop("is_invalid_coord"))

  /** P14 — empty-string → NULL normalization for seed text columns
    * (dimensions.py:346-353). */
  def emptyToNull(df: DataFrame, columns: Seq[String]): DataFrame =
    columns.foldLeft(df)((acc, c) =>
      acc.withColumn(c, when(col(c) === "", lit(null)).otherwise(col(c))))

  // ------------------------------------------------------------- pipeline

  /** The full Silver transformation from a raw landing DataFrame (either
    * shape) up to the quarantine split: one telemetry row per deduped fix,
    * carrying its `is_invalid_coord` flag. Mirrors etl.py:main's dataflow:
    * round fields → explode → derive → nine_number → geometry → dedup →
    * coordinate flag. [[transform]] splits this frame; [[SilverJob]]
    * persists it once and feeds both sinks from the cache. */
  def flagged(landing: DataFrame, cfg: SilverConfig): DataFrame = {
    val withRounds = withRoundFields(landing, cfg)
    val exploded =
      if (landing.columns.contains("locations"))
        explodeJsonLocations(withRounds)
      else {
        val idxs = discoverLocationIndices(landing.columns.toIndexedSeq)
        require(idxs.nonEmpty,
          "No locations[i].startTime columns found; cannot build Silver long table")
        explodeCsvLocations(withRounds, idxs)
      }
    val derived = withGeometry(withNineNumber(deriveTelemetry(exploded), cfg.topology))
    flagInvalidCoords(dedupFixes(derived), cfg.bounds)
  }

  /** The Silver transformation as (valid, quarantined) telemetry: the
    * [[flagged]] frame, split. */
  def transform(
      landing: DataFrame,
      cfg: SilverConfig): (DataFrame, DataFrame) =
    splitFlagged(flagged(landing, cfg))

  /** S1 → S2/S3: the raw landing frame of a directory, read from exactly
    * the landing files format detection lists. */
  def read(spark: SparkSession, landingDir: String): DataFrame =
    jsonFiles(spark, landingDir) match {
      case Seq() => readCsvUnion(spark, landingDir)
      case json  => readJson(spark, json: _*)
    }

  /** End-to-end read + transform from a landing directory (S1 → S2/S3 →
    * transform). */
  def run(spark: SparkSession, landingDir: String, cfg: SilverConfig)
      : (DataFrame, DataFrame) =
    transform(read(spark, landingDir), cfg)
}
