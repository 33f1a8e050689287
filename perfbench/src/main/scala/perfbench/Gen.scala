package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.Instant

import scala.collection.mutable
import scala.util.Random

/** Seeded input generators. Each takes the workload seed, writes only the
  * inputs the engine reads, and returns the counts it planted so the
  * workload can check the engine's outputs against them. */
object BronzeGen {

  /** The pilot's shape is 5 courses, 27,551 rounds and ~1.36 M fixes;
    * runs use a scaled-down copy with the same per-round distribution. */
  final case class Shape(courses: Int, dropsPerCourse: Int, roundsPerDrop: Int,
      csvMaxFixes: Int)

  final case class Drop(
      course: String, ingestDate: String, format: String, files: Seq[Path],
      roundPrefix: String,
      rounds: Int,          // distinct rounds
      slotsIn: Long,        // location slots the explode produces, duplicates included
      validExpected: Long,  // unique slots with in-bounds (or null) coordinates
      invalidExpected: Long,
      dupSlots: Long) {     // slots of planted duplicate rounds
    def roundId(k: Int): String = f"$roundPrefix$k%05d"
  }

  final case class Bronze(drops: Seq[Drop], bytes: Long) {
    def slotsIn: Long = drops.map(_.slotsIn).sum
    def rounds: Long = drops.map(_.rounds.toLong).sum
  }

  private final case class Fix(
      hole: Option[Int], holeSection: Option[Int], section: Option[Int],
      offset: Double, lon: Double, lat: Double,
      projected: Boolean, problem: Boolean, cache: Boolean,
      paceGap: Option[Double], posGap: Option[Double], pace: Option[Double],
      battery: Option[Double])

  private final case class Round(
      id: String, start: Long, end: Option[Long], startHole: Int,
      goalTime: Int, complete: Boolean, device: Option[String], nine: Boolean,
      fixes: IndexedSeq[Fix])

  /** 18–117 fixes per round, about 40 on average: the k-th of n rounds
    * takes the (k + ½)/n quantile, so every seed has the same sizes. */
  private def fixCount(k: Int, n: Int): Int =
    math.min(117, 18 + math.floor(100 * math.pow((k + 0.5) / n, 3.5)).toInt)

  private def round2(d: Double) = math.round(d * 10000) / 10000.0

  private def genRound(r: Random, id: String, day: Long, courseIdx: Int, n: Int): Round = {
    val start = day + 7 * 3600 + r.nextInt(9 * 3600)
    val nine = r.nextDouble() < 0.2
    val holes = if (nine) 9 else 18
    val (lon0, lat0) = (-88.3 + courseIdx * 0.7, 43.2 - courseIdx * 0.4)
    var off = 0.0
    val fixes = (0 until n).map { i =>
      val hole = 1 + (i * holes / n)
      val section = hole * 3 - 2 + (i % 3)
      val invalid = r.nextDouble() < 0.004
      val gap = r.nextDouble()
      val f = Fix(
        hole = if (gap < 0.01) None else Some(hole),
        holeSection = Some(1 + i % 3),
        section = if (gap < 0.01) None else Some(section),
        offset = off,
        lon = if (invalid) 200.5 + r.nextInt(10) else round2(lon0 + r.nextGaussian() * 0.003),
        lat = round2(lat0 + r.nextGaussian() * 0.003),
        projected = r.nextDouble() < 0.1, problem = r.nextDouble() < 0.02,
        cache = r.nextDouble() < 0.05,
        paceGap = if (gap < 0.04) None else Some(round2(r.nextGaussian() * 60)),
        posGap = if (gap < 0.04) None else Some(round2(r.nextGaussian() * 30)),
        pace = if (gap < 0.03) None else Some(round2(r.nextGaussian() * 120)),
        battery = if (gap < 0.03) None else Some(math.max(1, 100 - i * 0.5).floor))
      off += 60 + r.nextInt(240)
      f
    }
    Round(id, start, if (r.nextDouble() < 0.9) Some(start + off.toLong + 300) else None,
      1 + (if (r.nextDouble() < 0.15) 9 else 0), if (nine) 7200 else 14400,
      r.nextDouble() < 0.85,
      if (r.nextDouble() < 0.95) Some(f"dev${r.nextInt(60)}%03d") else None, nine, fixes)
  }

  private def iso(epoch: Long): String = Instant.ofEpochSecond(epoch).toString
  private def opt[T](o: Option[T]): String = o.map(_.toString).getOrElse("")

  private val slotFields = Seq(
    "hole", "holeSection", "sectionNumber", "startTime", "date",
    "fixCoordinates[0]", "fixCoordinates[1]", "isProjected", "isProblem",
    "isCache", "paceGap", "positionalGap", "pace", "batteryPercentage")

  private def slotValue(rd: Round, f: Fix, field: String): String = field match {
    case "hole" => opt(f.hole)
    case "holeSection" => opt(f.holeSection)
    case "sectionNumber" => opt(f.section)
    case "startTime" => f.offset.toString
    case "date" => iso(rd.start + f.offset.toLong)
    case "fixCoordinates[0]" => f.lon.toString
    case "fixCoordinates[1]" => f.lat.toString
    case "isProjected" => f.projected.toString
    case "isProblem" => f.problem.toString
    case "isCache" => f.cache.toString
    case "paceGap" => opt(f.paceGap)
    case "positionalGap" => opt(f.posGap)
    case "pace" => opt(f.pace)
    case "batteryPercentage" => opt(f.battery)
  }

  /** Flattened CSV: each file has its own header — its own slot count,
    * round-field order and optional columns. */
  private def writeCsv(r: Random, path: Path, course: String, rounds: Seq[Round]): Unit = {
    val width = rounds.map(_.fixes.size).max
    val withDate = r.nextBoolean()
    val fields = if (withDate) slotFields else slotFields.filterNot(_ == "date")
    val roundCols = r.shuffle(Seq("_id", "course", "startTime", "endTime", "startHole",
      "goalTime", "complete", "device", "isNineHole"))
    val slotCols = (0 until width).flatMap(i => fields.map(f => (i, f)))
    val header = roundCols ++ slotCols.map { case (i, f) => s"locations[$i].$f" }
    val sb = new StringBuilder
    sb.append(header.mkString(",")).append('\n')
    rounds.foreach { rd =>
      val rc = roundCols.map {
        case "_id" => rd.id
        case "course" => course
        case "startTime" => iso(rd.start)
        case "endTime" => rd.end.map(iso).getOrElse("")
        case "startHole" => rd.startHole.toString
        case "goalTime" => rd.goalTime.toString
        case "complete" => rd.complete.toString
        case "device" => rd.device.getOrElse("")
        case "isNineHole" => rd.nine.toString
      }
      val sc = slotCols.map { case (i, f) =>
        if (i < rd.fixes.size) slotValue(rd, rd.fixes(i), f) else "" }
      sb.append((rc ++ sc).mkString(",")).append('\n')
    }
    Files.write(path, sb.toString.getBytes(UTF_8))
  }

  private def jnum(o: Option[Any]): String = o.map(_.toString).getOrElse("null")

  /** Mongo-extended JSON array: `_id` as {"$oid"}, start/end times as
    * {"$date"}, and some rounds missing `endTime` or `device`. */
  private def writeJson(path: Path, course: String, rounds: Seq[Round]): Unit = {
    val sb = new StringBuilder("[\n")
    rounds.zipWithIndex.foreach { case (rd, k) =>
      sb.append(s"""  {"_id": {"$$oid": "${rd.id}"}, "course": "$course", """)
      sb.append(s""""startTime": {"$$date": "${iso(rd.start)}"}, """)
      rd.end.foreach(e => sb.append(s""""endTime": {"$$date": "${iso(e)}"}, """))
      rd.device.foreach(d => sb.append(s""""device": {"$$oid": "$d"}, """))
      sb.append(s""""startHole": ${rd.startHole}, "goalTime": ${rd.goalTime}, """)
      sb.append(s""""isNineHole": ${rd.nine}, "complete": ${rd.complete},\n   "locations": [\n""")
      sb.append(rd.fixes.map { f =>
        s"""     {"hole": ${jnum(f.hole)}, "holeSection": ${jnum(f.holeSection)}, """ +
          s""""sectionNumber": ${jnum(f.section)}, "startTime": ${f.offset}, """ +
          s""""fixCoordinates": [${f.lon}, ${f.lat}], "isProjected": ${f.projected}, """ +
          s""""isProblem": ${f.problem}, "isCache": ${f.cache}, "paceGap": ${jnum(f.paceGap)}, """ +
          s""""positionalGap": ${jnum(f.posGap)}, "pace": ${jnum(f.pace)}, """ +
          s""""batteryPercentage": ${jnum(f.battery)}}"""
      }.mkString(",\n"))
      sb.append("\n   ]}").append(if (k < rounds.size - 1) ",\n" else "\n")
    }
    sb.append("]\n")
    Files.write(path, sb.toString.getBytes(UTF_8))
  }

  def generate(seed: Long, shape: Shape, dir: Path): Bronze = {
    val r = new Random(seed)
    val day0 = Instant.parse("2024-03-04T00:00:00Z").getEpochSecond
    val drops = for {
      c <- 0 until shape.courses
      d <- 0 until shape.dropsPerCourse
    } yield {
      val course = s"course$c"
      // Each drop owns one week of event dates, so no two drops of a course
      // refresh the same dated partition.
      val weekStart = day0 + (d * 7L) * 86400
      val ingestDate = iso(weekStart + 7 * 86400).take(10)
      val prefix = s"c$c-d$d-"
      // Formats alternate by drop position, JSON first, so every seed has
      // the same format mix in the same order.
      val format = if ((c * shape.dropsPerCourse + d) % 2 == 1) "csv" else "json"
      val sizes = r.shuffle((0 until shape.roundsPerDrop).map { k =>
        val n = fixCount(k, shape.roundsPerDrop)
        if (format == "csv") math.min(shape.csvMaxFixes, n) else n
      })
      val rounds = sizes.zipWithIndex.map { case (n, k) =>
        // Rounds start on the first six days, so even the longest ends
        // inside the drop's week.
        genRound(r, f"$prefix$k%05d", weekStart + r.nextInt(6) * 86400L, c, n)
      }
      val dupRounds = r.shuffle(rounds).take(2)
      val dropDir = dir.resolve(s"$course/$ingestDate")
      Files.createDirectories(dropDir)
      // Two or three files; duplicated rounds ride at the end of a file.
      val nFiles = 2 + r.nextInt(2)
      val parts = rounds.grouped(math.ceil(rounds.size.toDouble / nFiles).toInt).toSeq
      val withDups = parts.zipWithIndex.map { case (p, i) =>
        p ++ dupRounds.filter(d => (d.id.hashCode & 0x7fffffff) % parts.size == i)
      }
      val files = withDups.zipWithIndex.map { case (p, i) =>
        val f = dropDir.resolve(s"$course-$ingestDate-part$i.$format")
        if (format == "csv") writeCsv(r, f, course, p) else writeJson(f, course, p)
        f
      }
      // CSV rows are exploded over every slot index of the drop's widest
      // round (padding slots stay in silver); JSON explodes each array.
      def slots(rd: Round): Long =
        if (format == "csv") rounds.map(_.fixes.size).max.toLong else rd.fixes.size.toLong
      val invalid = rounds.map(_.fixes.count(_.lon > 180).toLong).sum
      val unique = rounds.map(slots).sum
      Drop(course, ingestDate, format, files, prefix, rounds.size,
        slotsIn = unique + dupRounds.map(slots).sum,
        validExpected = unique - invalid, invalidExpected = invalid,
        dupSlots = dupRounds.map(slots).sum)
    }
    Bronze(drops, Fs.bytes(drops.flatMap(_.files)))
  }
}

/** Fix files in `StreamingTelemetry`'s wire format. File `i` is one
  * complete landing partition (course, drop) and carries a few whole
  * rounds plus planted duplicate lines. */
object StreamGen {
  final case class FixFile(index: Int, course: String, dropId: String,
      body: String, rows: Int, dups: Int)

  val Courses = 5
  val FixesPerRound = 40
  private val t0 = Instant.parse("2024-06-01T08:00:00Z").getEpochSecond

  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX").withZone(java.time.ZoneOffset.UTC)

  def file(seed: Long, i: Int): FixFile = {
    val r = new Random(seed * 1000003L + i)
    val course = s"course${i % Courses}"
    val dropId = f"s$i%06d"
    val lines = mutable.ArrayBuffer.empty[String]
    var dups = 0
    // Event time advances two seconds per file, far inside the watermark.
    val base = (t0 + i * 2L) * 1000000L
    (0 until 2).foreach { k =>
      val roundId = s"$dropId-r$k"
      val dupAt = Set(r.nextInt(FixesPerRound))
      (0 until FixesPerRound).foreach { j =>
        val micros = base + j * 1500000L + r.nextInt(1000)
        val ts = tsFmt.format(Instant.ofEpochSecond(micros / 1000000L, (micros % 1000000L) * 1000L))
        val pace = if (r.nextDouble() < 0.05) "null" else f"${r.nextGaussian() * 100}%.3f"
        val line = s"""{"roundId":"$roundId","courseId":"$course","fixTimestamp":"$ts",""" +
          s""""locationIndex":$j,"holeNumber":${1 + j % 18},"pace":$pace,"isCache":${r.nextDouble() < 0.05}}"""
        lines += line
        if (dupAt(j)) { lines += line; dups += 1 }
      }
    }
    FixFile(i, course, dropId, lines.mkString("", "\n", "\n"), lines.size, dups)
  }
}

/** Document corpus with planted exact and near-duplicate clusters, short
  * low-quality documents, documents linking blocked domains, and training
  * documents that copy passages of a held-out eval set. Every document
  * carries a seeded embedding drawn around one of a few centres. */
object DocGen {
  final case class Corpus(
      docs: Path, eval: Path, n: Int, exactCopies: Int,
      nearPairs: Set[(Long, Long)], nearVariants: Int,
      lowQuality: Int, blocked: Int, contaminated: Int,
      blockedDomains: Seq[String], vectors: Map[Long, Array[Float]],
      queries: Seq[Array[Float]], bytes: Long)

  val Dim = 16
  private val stop = Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "was")

  private def vocab(r: Random): IndexedSeq[String] = {
    val syl = Seq("ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "pe", "da", "go", "fu", "ri", "ben", "tor", "mal")
    (0 until 3000).map(_ => (0 until 2 + r.nextInt(3)).map(_ => syl(r.nextInt(syl.size))).mkString)
      .distinct
  }

  def generate(seed: Long, n: Int, dir: Path): Corpus = {
    val r = new Random(seed)
    val words = vocab(r)
    def text(len: Int): IndexedSeq[String] = (0 until len).map { _ =>
      if (r.nextDouble() < 0.2) stop(r.nextInt(stop.size)) else words(r.nextInt(words.size))
    }
    val centres = Array.fill(12)(Array.fill(Dim)(r.nextGaussian().toFloat * 4))
    def vec(): Array[Float] = {
      val c = centres(r.nextInt(centres.length))
      c.map(x => x + r.nextGaussian().toFloat)
    }

    val evalDocs = (0 until 40).map(_ => text(60))
    val blockedDomains = (0 until 5).map(i => s"blocked$i.example")
    val docs = mutable.ArrayBuffer.empty[(Long, String)]
    val vectors = mutable.Map.empty[Long, Array[Float]]
    def add(t: String): Long = {
      val id = docs.size.toLong + 1; docs += id -> t; vectors(id) = vec(); id
    }
    var exactCopies, nearVariants, low, blocked, contaminated = 0
    val nearPairs = mutable.Set.empty[(Long, Long)]
    while (docs.size < n) {
      val u = r.nextDouble()
      if (u < 0.05) { // exact cluster: copies differ only in case and spacing
        val t = text(60 + r.nextInt(80))
        add(t.mkString(" "))
        (0 until 1 + r.nextInt(3)).foreach { _ =>
          add(t.map(w => if (r.nextDouble() < 0.2) w.toUpperCase else w).mkString("  ")); exactCopies += 1
        }
      } else if (u < 0.10) { // near cluster: one or two words substituted
        val t = text(80 + r.nextInt(60))
        val orig = add(t.mkString(" "))
        val ids = (0 until 1 + r.nextInt(2)).map { _ =>
          nearVariants += 1
          // One or two positions change, so no variant is an exact copy and
          // every variant stays above Jaccard 0.9 on word bigrams.
          val at = r.shuffle(t.indices.toList).take(1 + r.nextInt(2)).toSet
          add(t.indices.map { i =>
            if (at(i)) words.filterNot(_ == t(i))(r.nextInt(words.size - 1)) else t(i)
          }.mkString(" "))
        }
        ids.foreach(v => nearPairs += orig -> v)
      } else if (u < 0.13) { low += 1; add(text(10 + r.nextInt(30)).mkString(" ")) }
      else if (u < 0.16) {
        blocked += 1
        val t = text(60 + r.nextInt(60))
        add((t.take(20) ++ Seq(s"https://${blockedDomains(r.nextInt(5))}/p${r.nextInt(99)}") ++ t.drop(20)).mkString(" "))
      } else if (u < 0.19) {
        contaminated += 1
        val e = evalDocs(r.nextInt(evalDocs.size))
        val at = r.nextInt(20)
        add((text(20) ++ e.slice(at, at + 40) ++ text(20)).mkString(" "))
      } else {
        val t = text(60 + r.nextInt(90))
        add((if (r.nextDouble() < 0.1) t :+ s"https://ok${r.nextInt(9)}.example/x" else t).mkString(" "))
      }
    }
    Files.createDirectories(dir)
    val docsPath = dir.resolve("docs.jsonl")
    val evalPath = dir.resolve("eval.jsonl")
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    Files.write(docsPath, docs.map { case (id, t) =>
      s"""{"doc_id":$id,"text":"${esc(t)}","emb":[${vectors(id).mkString(",")}]}"""
    }.mkString("", "\n", "\n").getBytes(UTF_8))
    Files.write(evalPath, evalDocs.zipWithIndex.map { case (t, i) =>
      s"""{"doc_id":${i + 1},"text":"${t.mkString(" ")}"}"""
    }.mkString("", "\n", "\n").getBytes(UTF_8))
    Corpus(docsPath, evalPath, docs.size, exactCopies, nearPairs.toSet, nearVariants,
      low, blocked, contaminated, blockedDomains, vectors.toMap,
      (0 until 24).map(_ => vec()), Files.size(docsPath) + Files.size(evalPath))
  }
}
