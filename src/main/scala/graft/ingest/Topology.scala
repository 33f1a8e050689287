package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Topology inference (SURVEY §2.10 M9 + §2.4 A1–A3): derive each course's
  * nine/unit structure from telemetry instead of configuration.
  * Re-expression of `pipeline/scripts/dimensions.py:45-292` and
  * `pipeline/scripts/generate_sections_per_hole.py:30-61`.
  *
  * Scale shape: the whole inference is THREE distributed aggregation
  * passes over the fix table (per-course stats, per-(course,band) section
  * bounds, per-(course,section) dominant hole), each collecting only
  * per-course AGGREGATES (≤ ~120 section rows per course, bounded by
  * physical course size — not data volume). The per-course decision logic
  * then runs driver-side on those tiny rows. The reference loops
  * per-course on the driver issuing queries (dimensions.py:241-292);
  * doing that in Spark means O(courses) jobs — at 650 courses that's
  * thousands of scans, so we fold the loop into the aggregations instead.
  */
object Topology {

  final case class Nine(nineNumber: Int, sectionStart: Int, sectionEnd: Int)
  final case class CourseTopology(courseId: String, courseType: String, nines: Seq[Nine])

  /** Course typing from observed maxima (dimensions.py:45-54). */
  def inferCourseType(maxHole: Int, maxSection: Int): String =
    if (maxHole >= 10) "18-hole"
    else if (maxSection > 54) "27-hole"
    else if (maxSection > 27) "18-hole-loop"
    else "9-hole"

  /** Valid fixes for inference: non-padding with hole AND section
    * (dimensions.py:249-253). */
  def validFixes(silver: DataFrame): DataFrame =
    silver.filter(
      col("is_location_padding") === false &&
        col("hole_number").isNotNull && col("section_number").isNotNull)
      .select(col("course_id"), col("hole_number"), col("section_number"))

  /** Strategy A — continuous hole numbers: nine = hole band, bounds from
    * min/max section within the band (dimensions.py:57-109). Pure
    * driver-side form: `bands` maps nine-number → observed (min,max)
    * section within that hole band. */
  def ninesFromHoleBands(bands: Map[Int, (Int, Int)], maxHole: Int): Seq[Nine] =
    Seq((1, 1, 9), (2, 10, 18), (3, 19, 27))
      .filter { case (n, lo, _) => n == 1 || maxHole >= lo }
      .flatMap { case (nine, _, _) =>
        bands.get(nine).map { case (s, e) => Nine(nine, s, e) }
      }

  /** Strategy B — hole numbers reset 1..9 per nine: given each section's
    * dominant hole (deterministic max_by, the survey's mode() rewrite,
    * already filtered to ≥ 5 fixes and sorted by section), detect resets
    * (prev ≥ 7 → cur ≤ 3) and convert boundaries to ranges
    * (dimensions.py:112-158). */
  def ninesFromSectionPairs(sections: Seq[(Int, Option[Int])], maxSection: Int): Seq[Nine] = {
    if (sections.isEmpty) return Seq(Nine(1, 1, maxSection))
    var boundaries = Vector(sections.head._1)
    var prevHole: Option[Int] = None
    sections.foreach { case (section, hole) =>
      (prevHole, hole) match {
        case (Some(p), Some(c)) if p >= 7 && c <= 3 => boundaries :+= section
        case _ =>
      }
      prevHole = hole
    }
    boundaries :+= sections.last._1 + 1
    val sorted = boundaries.distinct.sorted
    sorted.sliding(2).zipWithIndex.flatMap {
      case (Seq(start, next), i) if next - 1 >= start => Some(Nine(i + 1, start, next - 1))
      case _ => None
    }.toSeq.take(4) // max 4 nines (dimensions.py:158)
  }

  /** DataFrame adapters for the per-course strategies — used by specs and
    * single-course callers; `buildTopology` uses the batched passes. */
  def ninesFromHoles(courseDf: DataFrame, maxHole: Int): Seq[Nine] = {
    val bands = courseDf
      .withColumn("nine_band", holeBandCol)
      .filter(col("nine_band").isNotNull)
      .groupBy(col("nine_band"))
      .agg(min(col("section_number")).as("s"), max(col("section_number")).as("e"))
      .collect()
      .map(r => r.getInt(0) -> (r.getInt(1), r.getInt(2)))
      .toMap
    ninesFromHoleBands(bands, maxHole)
  }

  def ninesFromSections(courseDf: DataFrame, maxSection: Int): Seq[Nine] = {
    val sectionHoles = dominantHolePerSection(courseDf.withColumn("course_id", lit("_")))
      .orderBy(col("section_number"))
      .collect()
      .map(r => (r.getInt(1), if (r.isNullAt(2)) None else Some(r.getInt(2))))
    ninesFromSectionPairs(sectionHoles.toSeq, maxSection)
  }

  /** Full inference for one course (dimensions.py:161-187) — driver-side
    * on pre-collected aggregates. */
  private def assemble(
      courseId: String, maxHole: Int, maxSection: Int, minSection: Int,
      bands: Map[Int, (Int, Int)],
      sections: Seq[(Int, Option[Int])]): CourseTopology = {
    var courseType = inferCourseType(maxHole, maxSection)
    var nines = courseType match {
      case "18-hole" => ninesFromHoleBands(bands, maxHole)
      case "27-hole" | "18-hole-loop" =>
        val n = ninesFromSectionPairs(sections, maxSection)
        if (courseType == "18-hole-loop" && n.size == 1) courseType = "9-hole"
        n
      case _ => Seq(Nine(1, minSection, maxSection))
    }
    if (nines.isEmpty) nines = Seq(Nine(1, minSection, maxSection))
    CourseTopology(courseId, courseType, nines)
  }

  /** Single-course DataFrame form (spec surface; dimensions.py:161-187). */
  def inferForCourse(courseId: String, courseDf: DataFrame): CourseTopology = {
    val spark = courseDf.sparkSession
    buildTopologyTyped(spark, courseDf.withColumn("course_id", lit(courseId))
        .withColumn("is_location_padding", lit(false)), minFixes = 0)
      .find(_.courseId == courseId)
      .getOrElse(CourseTopology(courseId, "9-hole", Seq(Nine(1, 1, 1))))
  }

  /** Unit naming (dimensions.py:190-199). */
  def unitName(nineNumber: Int, totalNines: Int): String = totalNines match {
    case 1 => "Course"
    case 2 => if (nineNumber == 1) "Front Nine" else "Back Nine"
    case 3 => Map(1 -> "Front Nine", 2 -> "Middle Nine", 3 -> "Back Nine")
      .getOrElse(nineNumber, s"Nine $nineNumber")
    case _ => s"Nine $nineNumber"
  }

  private def holeBandCol =
    when(col("hole_number").between(1, 9), 1)
      .when(col("hole_number").between(10, 18), 2)
      .when(col("hole_number").between(19, 27), 3)

  /** Per-(course,section) dominant hole with ≥ 5 fixes (dimensions.py:
    * 117-125): two-level aggregation keeps the mode computation fully
    * distributed with map-side partials. */
  private def dominantHolePerSection(valid: DataFrame): DataFrame =
    valid
      .groupBy(col("course_id"), col("section_number"), col("hole_number"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("course_id"), col("section_number"))
      .agg(
        max_by(col("hole_number"), struct(col("c"), -col("hole_number")))
          .as("dominant_hole"),
        sum(col("c")).as("fix_count"))
      .filter(col("fix_count") >= 5)

  /** Batched inference: every course with ≥ minFixes valid fixes, three
    * distributed passes + driver assembly (dimensions.py:241-292). */
  def buildTopologyTyped(spark: SparkSession, silver: DataFrame, minFixes: Long = 100)
      : Seq[CourseTopology] = {
    val valid = validFixes(silver).repartition(col("course_id")).persist()
    try {
      // Pass 1 — per-course stats (count gate + typing maxima).
      val stats = valid.groupBy(col("course_id"))
        .agg(
          count(lit(1)).as("n"),
          max(col("hole_number")).as("max_hole"),
          max(col("section_number")).as("max_section"),
          min(col("section_number")).as("min_section"))
        .filter(col("n") >= minFixes)
        .collect()
        .map(r => (r.getString(0), (r.getInt(2), r.getInt(3), r.getInt(4))))
        .sortBy(_._1)

      // Pass 2 — strategy-A inputs: section bounds per (course, hole band).
      val bandRows = valid
        .withColumn("nine_band", holeBandCol)
        .filter(col("nine_band").isNotNull)
        .groupBy(col("course_id"), col("nine_band"))
        .agg(min(col("section_number")).as("s"), max(col("section_number")).as("e"))
        .collect()
        .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      val bandsByCourse: Map[String, Map[Int, (Int, Int)]] = bandRows
        .groupBy(_._1)
        .map { case (c, rs) => c -> rs.map(t => t._2 -> (t._3, t._4)).toMap }

      // Pass 3 — strategy-B inputs: dominant hole per (course, section).
      val sectionRows = dominantHolePerSection(valid)
        .collect()
        .map(r => (r.getString(0), r.getInt(1),
          if (r.isNullAt(2)) None else Some(r.getInt(2))))
      val sectionsByCourse: Map[String, Seq[(Int, Option[Int])]] = sectionRows
        .groupBy(_._1)
        .map { case (c, rs) => c -> rs.map(t => (t._2, t._3)).sortBy(_._1).toSeq }

      stats.map { case (courseId, (maxHole, maxSection, minSection)) =>
        assemble(
          courseId, maxHole, maxSection, minSection,
          bandsByCourse.getOrElse(courseId, Map.empty),
          sectionsByCourse.getOrElse(courseId, Seq.empty))
      }.toSeq
    } finally { valid.unpersist(); () }
  }

  /** Infer topology rows for every course with ≥ minFixes valid fixes
    * (dimensions.py:241-292). Returns the dim_facility_topology shape. */
  def buildTopology(spark: SparkSession, silver: DataFrame, minFixes: Long = 100)
      : DataFrame = {
    import spark.implicits._
    val rows = buildTopologyTyped(spark, silver, minFixes).flatMap { topo =>
      topo.nines.map { n =>
        (topo.courseId, n.nineNumber, unitName(n.nineNumber, topo.nines.size),
          n.nineNumber, n.sectionStart, n.sectionEnd)
      }
    }
    rows.toDF(
      "facility_id", "unit_id", "unit_name", "nine_number",
      "section_start", "section_end")
  }

  /** A1 — dim_sections_per_hole: per (course, hole) section ranges
    * (generate_sections_per_hole.py:30-61). */
  def sectionsPerHole(silver: DataFrame): DataFrame =
    silver.filter(
        col("is_location_padding") === false &&
          col("hole_number").isNotNull && col("section_number").isNotNull)
      .groupBy(col("course_id"), col("hole_number"))
      .agg(
        min(col("section_number")).as("section_start"),
        max(col("section_number")).as("section_end"),
        countDistinct(col("section_number")).as("sections_count"))
}
