package perfbench

import java.io.File
import java.sql.DriverManager

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.{JdbcCatalog, PartitionedSnapshotLake}
import graft.ingest.DicomLike
import graft.sources.FileScans

/** The seeded DICOM archive: one directory per acquisition day, written
  * with graft.DicomFixture. Each day delivers four new exams of three
  * five-instance series (the fourth exam a "doublon" copy of the third
  * under a new exam UID; in the first, one series misses an instance and
  * one holds a duplicate) plus, from day 1 on, one re-delivery of an
  * earlier exam, renamed half the time — a fifth of the day. Siemens and
  * GE headers, explicit, implicit and deflated transfer syntaxes, and two
  * non-DICOM files per day. Every day has the same shape and the same mix
  * of new files (one of the three distinct new exams from GE; of their
  * nine series five explicit, two implicit, two deflated), so days differ
  * little in size; the seed picks which exam and series get which
  * vendor and syntax, names and defects. The generator also keeps the
  * truth the checks compare against. */
final class DicomArchive(seed: Long) {
  final case class Serie(uid: String, number: Int, nInst: Int, syntax: Int,
      missing: Option[Int], dupInst: Option[Int], time: String)
  final case class Exam(uid: String, base: String, version: Int, ge: Boolean,
      date: String, studyTime: String, series: Seq[Serie]) {
    def name: String = if (version == 0) base else s"${base}_V$version"
  }
  /** `changedExam`: the re-delivered exam, when renamed; `examRowChanged`:
    * the rename also changed its files' total size, a column of the exam
    * row */
  final case class Day(dir: File, files: Int, bytes: Long, newExams: Int,
      newSeries: Int, changedExam: Option[Exam], examRowChanged: Boolean)

  private val exams = mutable.ArrayBuffer[Exam]()
  /** catalog truth: exam uid -> current exam state */
  val catalog = mutable.LinkedHashMap[String, Exam]()
  private val protocols = Seq("PROTO_MEMO", "VERIO_X", "BRAIN_PROTO",
    "SPINE_A", "CARDIO_B", "NEURO_C", "PEDIA_D", "MSK_E")
  private val seqs = Seq("epfid2d1_64", "tfl3d1_16ns", "ep_b1000#4", "spc3d1rs")
  private val SeriesPerExam = 3
  private val Instances = 5

  def expectedExams: Int = catalog.size
  def expectedSeries: Int = catalog.values.map(_.series.length).sum
  /** groups of (exam name, acquisition minute) holding more than one exam */
  def expectedDupGroups: Int = catalog.values.toSeq.flatMap { e =>
    e.series.map(s => (e.name, e.date + (if (e.ge) e.studyTime else s.time).take(4)) -> e.uid)
  }.groupMapReduce(_._1)(p => Set(p._2))(_ ++ _).count(_._2.size > 1)

  private def newExam(rng: scala.util.Random, id: Int, day: Int, slot: Int,
      ge: Boolean, syntaxes: Seq[Int]): Exam = {
    val date = java.time.LocalDate.of(2024, 1, 1).plusDays(day.toLong)
      .format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE)
    val hour = 8 + slot * 2
    val series = (1 to SeriesPerExam).map { s =>
      Serie(f"X$id%05d.$s", s, Instances, syntaxes(s - 1), None, None,
        f"$hour%02d${(s - 1) * 7}%02d00")
    }
    Exam(f"X$id%05d", protocols(rng.nextInt(protocols.length)), 0,
      ge, date, f"$hour%02d0000", series)
  }

  /** one series of the exam loses an instance, one gets a second copy of
    * an instance */
  private def withDefects(rng: scala.util.Random, e: Exam): Exam = {
    val (m, d) = (rng.nextInt(SeriesPerExam), rng.nextInt(SeriesPerExam))
    e.copy(series = e.series.zipWithIndex.map { case (s, k) =>
      s.copy(missing = if (k == m) Some(2 + rng.nextInt(Instances - 2)) else None,
        dupInst = if (k == d) Some(1 + rng.nextInt(Instances)) else None)
    })
  }

  private def instanceFile(e: Exam, s: Serie, inst: Int): Array[Byte] = {
    import graft.DicomFixture._
    val scalar: Seq[(Int, Int, String, String)] = Seq(
      (0x0008, 0x0060, "CS", "MR"),
      (0x0020, 0x000E, "UI", s.uid),
      (0x0020, 0x0013, "IS", inst.toString),
      (0x0018, 0x0086, "IS", "1"),
      (0x0020, 0x1002, "IS", s.nInst.toString),
      (0x0020, 0x0011, "IS", s.number.toString),
      (0x0010, 0x0010, "PN", s"SUBJ^${e.uid}"),
      (0x0008, 0x0020, "DA", e.date),
      (0x0008, 0x0030, "TM", e.studyTime),
      (0x0008, 0x1030, "LO", e.name),
      (0x0018, 0x0024, "SH", seqs(s.number % seqs.length)),
      (0x0018, 0x0080, "DS", (1000 + 100 * s.number).toString)) ++
      (if (e.ge) Seq((0x0008, 0x0070, "LO", "GE MEDICAL SYSTEMS"),
          (0x0008, 0x1090, "LO", "SIGNA"), (0x0018, 0x1030, "LO", e.name))
       else Seq((0x0008, 0x0070, "LO", "SIEMENS"), (0x0008, 0x1090, "LO", "Prisma"),
          (0x0008, 0x0022, "DA", e.date), (0x0008, 0x0032, "TM", s.time)))
    val pixel = Array.tabulate[Byte](512 + 64 * s.number)(k => ((k * 31 + inst) & 0x7F).toByte)
    s.syntax match {
      case 1 => file(scalar.map { case (g, el, _, v) => elI(g, el, v) }.reduce(_ ++ _),
        pixel, transferSyntax = "1.2.840.10008.1.2")
      case 2 => fileDeflated(scalar.map { case (g, el, vr, v) => elS(g, el, vr, v) }.reduce(_ ++ _), pixel)
      case _ =>
        val csa = if (e.ge) Array.emptyByteArray
          else el(0x0029, 0x1020, "OB", csaBlob(Seq("MrPhoenixProtocol" ->
            Seq(ascconv(Seq("lTotalScanTimeSec" -> (60 * s.number).toString))))))
        file(scalar.map { case (g, el, vr, v) => elS(g, el, vr, v) }.reduce(_ ++ _) ++ csa, pixel)
    }
  }

  private def examBytes(e: Exam): Long = e.series.map { s =>
    ((1 to s.nInst).filterNot(s.missing.contains) ++ s.dupInst)
      .map(i => instanceFile(e, s, i).length.toLong).sum
  }.sum

  /** Writes day `d` under `root` and advances the truth model. Days must
    * be generated in order. */
  def day(root: File, d: Int): Day = {
    val rng = new scala.util.Random(seed * 1000003L + d)
    val dir = new File(root, f"day$d%03d")
    dir.mkdirs()
    val geSlot = rng.nextInt(3)
    // 0 explicit, 1 implicit, 2 deflated, for the series of slots 0-2
    val syntaxes = rng.shuffle(Seq(0, 0, 0, 0, 0, 1, 1, 2, 2))
    def make(slot: Int, id: Int) =
      newExam(rng, id, d, slot, slot == geSlot, syntaxes.slice(3 * slot, 3 * slot + 3))
    val fresh = (0 until 4).map { slot =>
      val id = exams.length + 1
      val e =
        if (slot == 3) { val src = exams.last; src.copy(uid = f"X$id%05d",
          series = src.series.map(s => s.copy(uid = f"X$id%05d.${s.number}"))) }
        else if (slot == 0) withDefects(rng, make(slot, id))
        else make(slot, id)
      exams += e
      e
    }
    val redelivered =
      if (d == 0) None
      else {
        val prev = catalog.values.toIndexedSeq(rng.nextInt(catalog.size))
        Some(if (rng.nextBoolean()) prev.copy(version = prev.version + 1) else prev)
      }
    var files = 0
    var bytes = 0L
    def put(name: String, b: Array[Byte]): Unit = {
      java.nio.file.Files.write(new File(dir, name).toPath, b)
      files += 1; bytes += b.length
    }
    (fresh ++ redelivered).foreach { e =>
      e.series.foreach { s =>
        (1 to s.nInst).filterNot(s.missing.contains).foreach { i =>
          put(s"${s.uid}_i$i.dcm", instanceFile(e, s, i))
        }
        s.dupInst.foreach(i => put(s"${s.uid}_i${i}b.dcm", instanceFile(e, s, i)))
      }
    }
    put("README.txt", s"delivery $d\n".getBytes("UTF-8"))
    put("scanner.log", Array.tabulate[Byte](700)(k => ('a' + (k + d) % 26).toByte))
    val changed = redelivered.filter(r => catalog(r.uid).version != r.version)
    val rowChanged = changed.exists(r => examBytes(r) != examBytes(catalog(r.uid)))
    (fresh ++ redelivered).foreach(e => catalog(e.uid) = e)
    Day(dir, files, bytes, fresh.length, fresh.map(_.series.length).sum, changed, rowChanged)
  }
}

/** dicom_ingest: each op ingests one day of the archive — parse, upsert
  * the exam and serie tables into embedded Derby, merge the series rows
  * into the snapshot lake, then run the duplicate-exam check over the
  * lake's latest snapshot. */
final class DicomIngest(spark: SparkSession, o: Main.Opts, t: Tracer) extends Workload {
  private val root = new File(o.work, "dicom")
  private val archive = new DicomArchive(o.seed)
  private val url = s"jdbc:derby:${new File(root, "catalog").getAbsolutePath};create=true"
  private val lake = new File(root, "lake").getAbsolutePath
  private val days = mutable.ArrayBuffer[DicomArchive#Day]()
  private val upserts = mutable.Map[Int, (Long, Long)]()
  private val dupGroups = mutable.Map[Int, Long]()
  /** per op: lake files and bytes it added, catalog data bytes it added */
  private val lakeStats = mutable.Map[Int, (Long, Long)]()
  private val catalogAdded = mutable.Map[Int, Long]()
  private var lakeBefore = (0L, 0L)
  private var catalogBefore = 0L

  /** Day 0 as the initial load (it creates both tables and the lake),
    * then days 1 and 2 through the op's own path and checks: the engine
    * is warm, MERGE included, before the window opens. */
  def setup(): Unit = {
    val t0 = System.nanoTime
    betweenOps(); betweenOps()
    val (exam, serie, meta) = tables(days(0).dir)
    JdbcCatalog.write(exam, url, "EXAM", SaveMode.Overwrite)
    JdbcCatalog.write(serie, url, "SERIE", SaveMode.Overwrite)
    PartitionedSnapshotLake.commitMerge(spark, lake, serie, "series_uid", "acq_time")
    Seq(exam, serie, meta).foreach(_.unpersist())
    lakeBefore = lakeDirStats
    catalogBefore = catalogDataBytes
    System.err.println(f"perfbench setup: initial load ${(System.nanoTime - t0) / 1e9}%.3f s")
    (-WarmDays until 0).foreach { i =>
      val t1 = System.nanoTime
      op(i)
      System.err.println(f"perfbench setup: warm-up op $i ${(System.nanoTime - t1) / 1e9}%.3f s")
      val bad = check(i).filterNot(_._2)
      require(bad.isEmpty, s"warm-up day ${dayOf(i)}: ${bad.map(_._1).mkString(", ")}")
      betweenOps()
    }
  }

  private val WarmDays = 2
  /** op i ingests the day after the initial load and the warm-up days */
  private def dayOf(i: Int): Int = i + WarmDays + 1

  private def parse(dir: File): DataFrame = {
    val bin = t.span("sources.binaryContent") {
      FileScans.binaryContent(spark, dir.getAbsolutePath, "*") }
    t.span("ingest.parseMeta") {
      val m = DicomLike.parseMeta(bin).cache()
      m.count()
      m
    }
  }

  /** the exam and serie rows of one delivery (both cached) */
  private def tables(dir: File): (DataFrame, DataFrame, DataFrame) = {
    val meta = parse(dir)
    t.span("ingest.chain") {
      val info = DicomLike.seriesInfo(meta)
        .withColumn("exam_uid", substring(col("series_uid"), 1, 6))
      val serie = info.groupBy(col("series_uid"))
        .agg(max(col("exam_uid")).as("exam_uid"), max(col("exam_name")).as("exam_name"),
          max(col("machine_name")).as("machine_name"), max(col("seq_type")).as("seq_type"),
          max(col("tr")).as("tr"), min(col("acq_time")).as("acq_time"),
          max(col("duration_sec")).as("duration_sec"), count(lit(1)).as("n_files"))
        .cache()
      val exam = DicomLike.exams(DicomLike.stacks(DicomLike.headersOf(meta)))
        .select(col("exam_uid"), col("n_series"), col("n_files"), col("fsize"),
          col("any_corrupt"),
          expr("array_join(transform(series_order, x -> x.series_uid), ',')").as("series_csv"))
        .cache()
      serie.count(); exam.count()
      (exam, serie, meta)
    }
  }

  private def dupQuery(latest: DataFrame): Long =
    latest.groupBy(col("exam_name"), date_format(col("acq_time"), "yyyyMMddHHmm").as("minute"))
      .agg(countDistinct(col("exam_uid")).as("n_exams"))
      .filter(col("n_exams") > 1).count()

  def op(i: Int): Unit = {
    val day = days(dayOf(i))
    val (exam, serie, meta) = tables(day.dir)
    val affected = t.span("catalog.stagedUpsert") {
      (JdbcCatalog.stagedUpsert(spark, url, "EXAM", exam, "exam_uid"),
        JdbcCatalog.stagedUpsert(spark, url, "SERIE", serie, "series_uid"))
    }
    t.span("catalog.commitMerge") {
      PartitionedSnapshotLake.commitMerge(spark, lake, serie, "series_uid", "acq_time")
    }
    val latest = t.span("catalog.readLatest") { PartitionedSnapshotLake.readLatest(spark, lake) }
    dupGroups(i) = t.span("catalog.dup_query") { dupQuery(latest) }
    upserts(i) = affected
    Seq(exam, serie, meta).foreach(_.unpersist())
  }

  private def lakeDirStats: (Long, Long) = {
    val fs = Main.files(new File(lake))
    (fs.length.toLong, fs.map(_.length).sum)
  }

  /** Derby's data files (seg0); its write-ahead log is left out: it is
    * preallocated in 1 MB files and recycled at checkpoints, so its size
    * says nothing about what an op stores */
  private def catalogDataBytes: Long = Main.dirBytes(new File(new File(root, "catalog"), "seg0"))

  private def rowCount(table: String): Long = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
      rs.next(); rs.getLong(1)
    } finally c.close()
  }

  def check(i: Int): Seq[(String, Boolean)] = {
    val day = days(dayOf(i))
    val now = lakeDirStats
    lakeStats(i) = (now._1 - lakeBefore._1, now._2 - lakeBefore._2)
    lakeBefore = now
    val cat = catalogDataBytes
    catalogAdded(i) = cat - catalogBefore
    catalogBefore = cat
    System.err.println(s"perfbench op $i: day ${dayOf(i)} ${day.bytes} bytes in, " +
      s"lake +${lakeStats(i)._2} bytes, catalog data +${catalogAdded(i)} bytes")
    val changedSeries = day.changedExam.map(_.series.length).getOrElse(0)
    val (ue, us) = upserts.getOrElse(i, (-1L, -1L))
    val latestRows = PartitionedSnapshotLake.readLatest(spark, lake).count()
    Seq(
      "exam_rows_affected" -> (ue == day.newExams + (if (day.examRowChanged) 1 else 0)),
      "serie_rows_affected" -> (us == day.newSeries + changedSeries),
      "derby_exam_count" -> (rowCount("EXAM") == archive.expectedExams),
      "derby_serie_count" -> (rowCount("SERIE") == archive.expectedSeries),
      "lake_latest_rows" -> (latestRows == archive.expectedSeries),
      "dup_exam_groups" -> (dupGroups.getOrElse(i, -1L) == archive.expectedDupGroups))
  }

  /** the next delivery, written with the clock stopped; the truth model
    * then covers every day written so far */
  override def betweenOps(): Unit =
    days += archive.day(new File(root, "archive"), days.length)

  /** over the timed ops: the days they ingested, and the bytes they added
    * to the lake and to the catalog's data files. Counting what each op
    * adds leaves out the empty catalog's fixed size, so the ratio does
    * not depend on how many ops fit the window. */
  def inputBytes: Long = lakeStats.keys.toSeq.filter(_ >= 0).map(i => days(dayOf(i)).bytes).sum
  def storedBytes: Long =
    lakeStats.collect { case (i, (_, b)) if i >= 0 => b + catalogAdded(i) }.sum
  def opInput: String = {
    val d = days.drop(1)
    s"1 day of the archive (~${d.map(_.files).sum / math.max(1, d.length)} files, " +
      s"~${d.map(_.bytes).sum / math.max(1, d.length)} bytes)"
  }
  def inputDigest: String = Digest.ofDir(new File(root, "archive"))
  def tailPct: Int = 75

  def layers(tracer: Tracer, tracedOps: Int): Map[String, Double] = {
    val traced = tracer.spans.filter(_.name == "op").map(_.op).toSet
    val per = math.max(1, tracedOps).toDouble
    def mean(f: Int => Double): Double = traced.toSeq.map(f).sum / per
    Map(
      "ingest.files" -> mean(i => days(dayOf(i)).files),
      "ingest.bytes" -> mean(i => days(dayOf(i)).bytes.toDouble),
      "catalog.upsert_rows" -> mean(i => upserts.get(i).map(p => p._1 + p._2).getOrElse(0L).toDouble),
      "catalog.lake_files_written" -> mean(i => lakeStats.get(i).map(_._1).getOrElse(0L).toDouble),
      "catalog.lake_bytes_written" -> mean(i => lakeStats.get(i).map(_._2).getOrElse(0L).toDouble))
  }
}
