package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's §3.1 ingest lifecycle (Exam_info.py:41-118) as ONE
  * oracle-checked query: synthesize a deterministic DICOM corpus on
  * local disk, parse it with the real codec (`dicom_parse`), STAGE the
  * parse boundary as an exploded (path, length, key, value) parquet,
  * then run the genuine relational chain — parseHeaders → stacks →
  * exams + per-series duration — in Spark. The DuckDB oracle
  * re-derives the same exam report INDEPENDENTLY from the staged kv
  * table (pivot by key → stack aggregate → exam rollup), so the chain
  * downstream of the codec sits under the same hash gate as every
  * other operator; the codec itself stays golden-tested byte-level in
  * DicomCodecSpec (DuckDB cannot parse DICOM).
  *
  * Corpus shape (every §2.5 A10/A11 corrupt flag fires at least once):
  * clean series with ASCCONV scan duration, GAP+BAD_COUNT series,
  * DUP-instance series, a two-echo series (two stacks, one series),
  * an implicit-VR series, a deflated-transfer-syntax series, and one
  * non-DICOM junk file the sniff must drop. */
object IngestPipeline {

  /** Driver-local staging root for the corpus and the kv parquet the
    * oracle reads — the shared [[graft.util.Stage]] definition, so the
    * query side and the oracle SQL always point at the same place. */
  private val StageRoot = graft.util.Stage.root

  /** Corpus size scales with the benchmark's sf dir so the codec path
    * is exercised at bench scale, not just on the 31-file branch-
    * coverage corpus: sf0.001 → 1 family (the base corpus exactly),
    * sf0.01 → 10, sf0.1 → 100 (~1 000 files). The oracle re-derives
    * from the staged kv parquet, so the compare scales with the
    * corpus automatically. */
  private def familiesFor(dir: String): Int = {
    // parse the trailing sf<number> path SEGMENT explicitly — a dir
    // that doesn't carry one gets the base corpus (families = 1), not
    // a silent mid-size guess from whatever followed an embedded "sf"
    val sf = dir.split('/').filter(_.nonEmpty).lastOption
      .filter(_.startsWith("sf")).flatMap(_.drop(2).toDoubleOption)
    sf.map(x => math.max(1, math.min(100, (x * 1000).toInt))).getOrElse(1)
  }

  /** Deterministic corpus — same bytes every call (overwrite-stable
    * under Bench's warmup+3 timed runs). The directory is cleared
    * first: residue from an older corpus definition would otherwise
    * pollute the scan and fail the oracle confusingly. `families`
    * scale-out appends full-tag-surface exam families beyond the base
    * corpus — every added file runs the complete codec path (explicit
    * VR walk, CSA block flatten, ASCCONV parse). */
  private def writeCorpus(dir: java.io.File, families: Int): Unit = {
    import graft.DicomFixture._
    dir.mkdirs()
    dir.listFiles().foreach(f => f.delete(): Unit)
    def put(name: String, bytes: Array[Byte]): Unit =
      java.nio.file.Files.write(
        new java.io.File(dir, name).toPath, bytes)
    def seriesBlob(entries: (String, String)*): Array[Byte] =
      el(0x0029, 0x1020, "OB", csaBlob(Seq(
        "MrPhoenixProtocol" -> Seq(ascconv(entries)))))
    def imageBlob(tags: (String, Seq[String])*): Array[Byte] =
      el(0x0029, 0x1010, "OB", csaBlob(tags))
    def explicitDs(series: String, inst: Int, echo: Int, expected: Int,
        extra: Array[Byte] = Array.emptyByteArray): Array[Byte] =
      elS(0x0008, 0x0060, "CS", "MR") ++
        elS(0x0020, 0x000E, "UI", series) ++
        elS(0x0020, 0x0013, "IS", inst.toString) ++
        elS(0x0018, 0x0086, "IS", echo.toString) ++
        elS(0x0020, 0x1002, "IS", expected.toString) ++ extra

    // EXAM01.1 — clean EPI series, 10 instances, scan duration 300 s;
    // the FULL seriesInfo tag surface: acquisition timestamp, Siemens
    // sequence name, TR/TE/TI, CSA image geometry + coil + phase dir,
    // ASCCONV slice positions (exact-arithmetic values so the slice
    // gap is bit-identical across engines)
    val fullCsaImage = imageBlob(
      "PixelSpacing" -> Seq("0.9", "0.8"),
      "SliceThickness" -> Seq("1.5"),
      "ImaCoilString" -> Seq("HE1-4"),
      "PhaseEncodingDirection" -> Seq("COL"),
      "PhaseEncodingDirectionPositive" -> Seq("1"))
    val fullCsaSeries = seriesBlob(
      "lTotalScanTimeSec" -> "300",
      "tSequenceFileName" -> "%SiemensSeq%\\epfid",
      "sSliceArray.asSlice[0].sPosition.dTra" -> "0.0",
      "sSliceArray.asSlice[0].sPosition.dSag" -> "0.0",
      "sSliceArray.asSlice[0].sPosition.dCor" -> "0.0",
      "sSliceArray.asSlice[1].sPosition.dTra" -> "0.0",
      "sSliceArray.asSlice[1].sPosition.dSag" -> "0.0",
      "sSliceArray.asSlice[1].sPosition.dCor" -> "2.0")
    // PatientName carries a latin-1 accent + the PN caret so the
    // tri_dicom path build exercises the sanitizer AND the codec's
    // utf8→latin-1 decode fallback
    val patient1 = el(0x0010, 0x0010, "PN", "Dûpont^Jean"
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    val exam011Tags =
      patient1 ++
        elS(0x0020, 0x0011, "IS", "1") ++
        elS(0x0008, 0x0022, "DA", "20240501") ++
        elS(0x0008, 0x0032, "TM", "103000") ++
        elS(0x0008, 0x0020, "DA", "20240501") ++
        elS(0x0008, 0x0030, "TM", "090000") ++
        elS(0x0008, 0x0070, "LO", "SIEMENS") ++
        elS(0x0008, 0x1090, "LO", "Prisma") ++
        elS(0x0008, 0x1030, "LO", "BRAIN_PROTO") ++
        elS(0x0008, 0x103E, "LO", "func_run1") ++
        elS(0x0018, 0x0024, "SH", "epfid2d1_64") ++
        elS(0x0018, 0x0080, "DS", "2000") ++
        elS(0x0018, 0x0081, "DS", "30") ++
        elS(0x0018, 0x0082, "DS", "900") ++
        fullCsaImage ++ fullCsaSeries
    (1 to 10).foreach { i =>
      put(s"EXAM01.1_e1_i$i.dcm", file(
        explicitDs("EXAM01.1", i, 1, 10, exam011Tags),
        pixel = Array.fill[Byte](1024)(0x55)))
    }
    // EXAM01.2 — instance 5 missing, expected 8: BAD_COUNT + GAP.
    // The GE fallback surface: no acquisition date (study fallback),
    // GE private sequence name (0019,109c hex probe), offline-recon
    // machine alias, GE exam-name branch (ProtocolName preferred)
    val exam012Tags =
      patient1 ++
        elS(0x0020, 0x0011, "IS", "2") ++
        elS(0x0008, 0x1030, "LO", "BRAIN_PROTO") ++
        elS(0x0008, 0x0020, "DA", "20240502") ++
        elS(0x0008, 0x0030, "TM", "113000") ++
        elS(0x0008, 0x0070, "LO", "GE MEDICAL SYSTEMS") ++
        elS(0x0008, 0x1090, "LO", "Ox Offline Recon") ++
        elS(0x0018, 0x1030, "LO", "ge_proto") ++
        elS(0x0019, 0x109C, "LO", "ge_seq") ++
        elS(0x0018, 0x0080, "DS", "5000")
    Seq(1, 2, 3, 4, 6, 7, 8).foreach { i =>
      put(s"EXAM01.2_e1_i$i.dcm", file(
        explicitDs("EXAM01.2", i, 1, 8, exam012Tags),
        pixel = Array.fill[Byte](512)(0x22)))
    }
    // EXAM02.1 — two echoes, 6 instances each: two clean stacks of one
    // series; duration 120 s; the MP2RAGE classifier branch (tfl3d +
    // mp2rage protocol + UNI series name) and the ASCCONV coil
    // fallback (no CSA-image coil → asCoilSelectMeas tCoilID)
    val exam021Tags =
      elS(0x0010, 0x0010, "PN", "SUBJ02") ++
        elS(0x0020, 0x0011, "IS", "1") ++
        elS(0x0008, 0x1030, "LO", "PROTO B/2") ++
        elS(0x0008, 0x103E, "LO", "UNI_Images") ++
        elS(0x0018, 0x0024, "SH", "tfl3d1_16ns") ++
        elS(0x0018, 0x0080, "DS", "5") ++
        seriesBlob(
          "lTotalScanTimeSec" -> "120",
          "tSequenceFileName" -> "%SiemensSeq%\\mp2rage",
          "asCoilSelectMeas[0].asList[0].sCoilElementID.tCoilID" -> "32Ch")
    for (e <- 1 to 2; i <- 1 to 6)
      put(s"EXAM02.1_e${e}_i$i.dcm", file(
        explicitDs("EXAM02.1", i, e, 6, exam021Tags),
        pixel = Array.fill[Byte](256)(0x11)))
    // EXAM02.2 — duplicate instance 2 (files 1,2,2b,3), expected 4:
    // DUP but neither BAD_COUNT nor GAP — the n_distinct-vs-range
    // distinction A11 encodes
    Seq("i1" -> 1, "i2" -> 2, "i2b" -> 2, "i3" -> 3).foreach {
      case (tag, i) =>
        put(s"EXAM02.2_e1_$tag.dcm", file(
          explicitDs("EXAM02.2", i, 1, 4),
          pixel = Array.fill[Byte](128)(0x33)))
    }
    // EXAM03.1 — implicit VR little endian, 5 clean instances; the
    // DWI classifier branch via the dictionary-resolved SequenceName
    (1 to 5).foreach { i =>
      val ds = elI(0x0008, 0x0060, "MR") ++
        elI(0x0020, 0x000E, "EXAM03.1") ++
        elI(0x0020, 0x0013, i.toString) ++
        elI(0x0018, 0x0086, "1") ++
        elI(0x0020, 0x1002, "5") ++
        elI(0x0018, 0x0024, "ep_b1000#4") ++
        elI(0x0018, 0x0080, "8000") ++
        elI(0x0010, 0x0010, "SUBJ03") ++
        elI(0x0020, 0x0011, "1") ++
        elI(0x0008, 0x1030, "PROTO_C")
      put(s"EXAM03.1_e1_i$i.dcm",
        file(ds, transferSyntax = "1.2.840.10008.1.2"))
    }
    // EXAM03.2 — deflated transfer syntax, 3 clean instances,
    // duration 450 s; slice positions WITHOUT SliceThickness → the
    // slice-gap null branch
    (1 to 3).foreach { i =>
      put(s"EXAM03.2_e1_i$i.dcm", fileDeflated(
        explicitDs("EXAM03.2", i, 1, 3,
          elS(0x0010, 0x0010, "PN", "SUBJ03") ++
          elS(0x0020, 0x0011, "IS", "2") ++
          elS(0x0008, 0x1030, "LO", "PROTO_C") ++
          seriesBlob(
          "lTotalScanTimeSec" -> "450",
          "sSliceArray.asSlice[0].sPosition.dTra" -> "1.0",
          "sSliceArray.asSlice[1].sPosition.dTra" -> "4.0")),
        pixel = Array.fill[Byte](64)(0x44)))
    }
    // non-DICOM junk: the magic sniff (NULL contract) must drop it
    put("junk.bin", Array.fill[Byte](600)(0x7A))
    // scale-out families: EXAM01.1's full tag surface (CSA image +
    // series blobs, ASCCONV, accented PN) replicated under distinct
    // series UIDs — 10 full-codec parses per family, so bench-scale
    // corpora exercise the parser on ~1 000 files instead of 31. The
    // 6-char exam prefix ("EF02S1") keeps the substring-based exam
    // grouping exact and disjoint from the base EXAMnn families.
    for (f <- 2 to families) {
      val uid = f"EF$f%02dS1.1"
      (1 to 10).foreach { i =>
        put(s"${uid}_e1_i$i.dcm", file(
          explicitDs(uid, i, 1, 10, exam011Tags),
          pixel = Array.fill[Byte](1024)(0x55)))
      }
    }
  }

  /** Geometry-complete corpus for the NIfTI conversion manifest (i4):
    * every slice carries Rows/Columns/BitsAllocated/PixelSpacing/
    * orientation/position + real pixel bytes, so each (series, echo)
    * stack converts. One 8-bit 3-slice series, one two-echo 16-bit
    * signed series (two stacks from one series), one junk file the
    * sniff drops. */
  private def writeNiftiCorpus(dir: java.io.File): Unit = {
    import graft.DicomFixture._
    dir.mkdirs()
    dir.listFiles().foreach(f => f.delete(): Unit)
    def put(name: String, bytes: Array[Byte]): Unit =
      java.nio.file.Files.write(
        new java.io.File(dir, name).toPath, bytes): Unit
    def us(v: Int) = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
    def geo(series: String, inst: Int, echo: Int, bits: Int,
        signed: Int, rows: Int, cols: Int): Array[Byte] =
      elS(0x0008, 0x0060, "CS", "MR") ++
        elS(0x0018, 0x0050, "DS", "2") ++
        elS(0x0018, 0x0086, "IS", echo.toString) ++
        elS(0x0020, 0x000E, "UI", series) ++
        elS(0x0020, 0x0013, "IS", inst.toString) ++
        elS(0x0020, 0x0032, "DS", s"0\\0\\${2 * (inst - 1)}") ++
        elS(0x0020, 0x0037, "DS", "1\\0\\0\\0\\1\\0") ++
        el(0x0028, 0x0010, "US", us(rows)) ++
        el(0x0028, 0x0011, "US", us(cols)) ++
        elS(0x0028, 0x0030, "DS", "1.5\\1.5") ++
        el(0x0028, 0x0100, "US", us(bits)) ++
        el(0x0028, 0x0103, "US", us(signed))
    (1 to 3).foreach { i =>
      put(s"N1_i$i.dcm", file(geo("NIFTI01.1", i, 1, 8, 0, 3, 4),
        pixel = Array.fill[Byte](12)((i * 3).toByte)))
    }
    for (e <- 1 to 2; i <- 1 to 2)
      put(s"N2_e${e}_i$i.dcm", file(geo("NIFTI01.2", i, e, 16, 1, 2, 2),
        pixel = Array.fill[Byte](8)((e * 16 + i).toByte)))
    put("junk.bin", Array.fill[Byte](300)(0x5A))
  }

  /** The staging prologue of i1, i2, i3 and i5: write the corpus
    * (`families` families) into `<name>_src`, parse it ONCE and cache
    * the parse, and stage the parse boundary for the oracle as
    * `<name>_kv` — one row per (file, header key), scalar columns
    * DuckDB pivots back. The kv write and the query's own chain both
    * consume the cached parse (at 100 TB the parse pass IS the cost);
    * the cache holds only (path, length, header map), never the
    * binary content. Phase attribution: the driver-side corpus write
    * and the kv staging job (codec parse + FS write) are stage-artifact
    * work, tagged `corpus_stage` and `kv_stage_write`, so a
    * `graft.Bench` artifact splits them from the pure-Spark residual
    * and a cross-box FS-speed swing is attributable without an A/B. */
  private def stagedMeta(s: SparkSession, name: String, families: Int)
      : DataFrame = {
    val src = new java.io.File(StageRoot, s"${name}_src")
    graft.PhaseLog.timed("corpus_stage") { writeCorpus(src, families) }
    val meta = DicomLike.parseMeta(
      s.read.format("binaryFile").load(src.getAbsolutePath)).cache()
    graft.PhaseLog.timed("kv_stage_write") {
      meta.select(col("path"), col("length"),
          explode(col("meta")).as(Seq("key", "value")))
        .write.mode("overwrite").parquet(s"$StageRoot/${name}_kv")
    }
    meta
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "i1_ingest_pipeline" -> ((s, dir) => {
      val meta = stagedMeta(s, "i1", familiesFor(dir))
      val headers = DicomLike.headersOf(meta)
      val exams = DicomLike.exams(DicomLike.stacks(headers))
      val durPerExam = meta.select(
          element_at(col("meta"), "SeriesInstanceUID").as("series_uid"),
          DicomLike.seriesDurationSec(col("meta")).as("dur"))
        .filter(col("series_uid").isNotNull)
        .groupBy(col("series_uid")).agg(max(col("dur")).as("dur"))
        .withColumn("exam_uid", substring(col("series_uid"), 1, 6))
        .groupBy(col("exam_uid"))
        .agg(sum(col("dur")).cast("long").as("total_duration_sec"))
      exams.join(durPerExam, "exam_uid")
        .select(col("exam_uid"), col("n_series"), col("n_files"),
          col("fsize"),
          expr("array_join(transform(series_order, x -> x.series_uid), ',')")
            .as("series_csv"),
          col("any_corrupt"), col("total_duration_sec"))
        .orderBy(col("exam_uid"))
    }),

    // The FULL per-series field extraction (get_dicom_serie_info,
    // Exam_info.py:356-640) under the hash gate: the real
    // DicomLike.seriesInfo projection — acq-time fallback chain,
    // GE-private seq-name probe, the SeqType classifier when-chain,
    // TR/TE/TI casts, CSA pixel-spacing split, exact-arithmetic slice
    // gap, phase-dir sign suffix, the 3-key coil fallback, machine
    // alias, GE exam-name branch, ASCCONV duration — vs a DuckDB
    // re-derivation over the staged kv table. One row per file so the
    // compare covers every instance the codec parsed.
    "i2_series_info" -> ((s, dir) => {
      DicomLike.seriesInfo(stagedMeta(s, "i2", familiesFor(dir)))
        .select(col("path"), col("series_uid"), col("acq_time"),
          col("seq_name"), col("seq_type"), col("tr"), col("te"),
          col("ti"), col("size_x"), col("size_y"), col("size_z"),
          col("slice_gap"), col("phase_dir"), col("coil_name"),
          col("machine_name"), col("exam_name"), col("duration_sec"))
        .orderBy(col("path"))
    }),

    // tri_dicom (Exam_info.py:1545-1656) as a move MANIFEST: every
    // loose file's destination derived from its parsed header in one
    // projection (proto/subject/series path components through the
    // reference's alpha_num_str sanitizer, Exam_info.py:1059-1146);
    // files missing a path key surface as skip rows, never silently.
    // DuckDB re-derives path, action, and dest from the staged kv.
    "i3_tri_dicom" -> ((s, _) => {
      DicomLike.triDicomMoves(stagedMeta(s, "i3", 1)).orderBy(col("path"))
    }),

    // The NIfTI conversion manifest (convert_series, Exam_info.py:
    // 962-1057) under the hash gate: the voxel bytes stay golden-tested
    // in NiftiSinkSpec (DuckDB cannot decode NIfTI), but the stack
    // grouping, echo split, slice counting, target naming and
    // no-clobber outcome — the relational half of the conversion — are
    // re-derived by DuckDB from the staged header kv. The out dir is
    // cleared first so every run converts afresh (statuses pin to
    // 'written'; the no-clobber branches are NiftiSinkSpec's job).
    "i4_nifti_manifest" -> ((s, _) => {
      val src = new java.io.File(StageRoot, "i4_src")
      writeNiftiCorpus(src)
      val out = new java.io.File(StageRoot, "i4_out")
      out.mkdirs()
      out.listFiles().foreach(f => f.delete(): Unit)
      val binary = s.read.format("binaryFile").load(src.getAbsolutePath)
      DicomLike.parseMeta(binary)
        .select(col("path"), col("length"),
          explode(col("meta")).as(Seq("key", "value")))
        .write.mode("overwrite").parquet(s"$StageRoot/i4_kv")
      // NO orderBy here: a global sort's RangePartitioner SAMPLING
      // pass would execute writeStacks' side effects a first time
      // (files land as 'written') and the real pass a second time
      // (now 'skipped_identical') — the manifest must come from the
      // one and only conversion pass. The driver's compare is
      // order-insensitive.
      graft.sinks.NiftiSink.writeStacks(binary, out.getAbsolutePath)
        .toDF()
        .select(col("series_uid"), col("echo"), col("n_slices"),
          substring_index(col("file"), "/", -1).as("file_name"),
          col("status"))
    }),

    // De-identification manifest — the release step a DICOM catalog
    // runs before data leaves the site (the HIPAA safe-harbor shape;
    // the reference anonymizes implicitly by keying everything on rid/
    // sanitized names, Exam_info.py:1059-1146 — this makes the policy
    // a first-class audited operator):
    //  * pseudonym: PatientName → a deterministic anon_<bucket> id
    //    (same patient ⇒ same pseudonym across files and runs, so
    //    longitudinal joins still work after release);
    //  * date shift: study/acquisition dates move by a PER-PATIENT
    //    deterministic 1–28 day offset (intervals within a patient are
    //    preserved — the property de-id research datasets need —
    //    while absolute dates are destroyed);
    //  * UID re-map: SeriesInstanceUID → a 2.25.<hash> synthetic UID
    //    (DICOM's UUID-derived form), so cross-file series grouping
    //    survives but the original UIDs don't travel;
    //  * removal audit: private tags (group,elem keys) + vendor CSA
    //    payloads + the name itself counted as removed, everything
    //    else counted as kept — the manifest IS the audit trail.
    // One stateless projection over the parsed meta map (HOFs in the
    // projection, never a predicate); DuckDB re-derives every column
    // from the staged kv with the same md5 arithmetic. At 100 TB this
    // runs at scan speed and only the manifest crosses the shuffle.
    "i5_deidentify" -> ((s, _) => {
      val meta = stagedMeta(s, "i5", 1)
      import graft.functions.Fns.md5Bucket
      val pname = coalesce(element_at(col("meta"), "PatientName"),
        lit("UNKNOWN"))
      // try_to_date, not to_date: a malformed DA tag must degrade to a
      // null shifted date (the skip-malformed stance of parseHeaders),
      // not throw under ANSI and kill the release run
      def shifted(key: String) = date_format(
        date_add(expr(s"try_to_date(element_at(meta, '$key'), 'yyyyMMdd')"),
          (md5Bucket(pname, 28) + 1).cast("int")), "yyyyMMdd")
      meta.select(
          col("path"),
          concat(lit("anon_"), md5Bucket(pname, 1000000)).as("pseudo_id"),
          shifted("StudyDate").as("study_date_shifted"),
          shifted("AcquisitionDate").as("acq_date_shifted"),
          when(element_at(col("meta"), "SeriesInstanceUID").isNotNull,
            concat(lit("2.25."), conv(substring(
              md5(element_at(col("meta"), "SeriesInstanceUID")), 1, 15),
              16, 10))).as("series_uid_mapped"),
          expr("""size(filter(map_keys(meta), k ->
                 |  k like 'Csa%' or k = 'PatientName' or
                 |  k rlike '^[0-9a-f]{4},[0-9a-f]{4}$'))""".stripMargin)
            .as("n_removed"),
          expr("""size(filter(map_keys(meta), k ->
                 |  not (k like 'Csa%' or k = 'PatientName' or
                 |       k rlike '^[0-9a-f]{4},[0-9a-f]{4}$')))""".stripMargin)
            .as("n_kept"))
        .orderBy(col("path"))
    }))

  /** Independent DuckDB re-derivation from the staged kv parquet.
    * parseHeaders' try_cast/null-filter stance maps to TRY_CAST +
    * WHERE; the stack corrupt flags and the exam rollup mirror
    * DicomLike.stacks/exams column for column. */
  def oracle: Map[String, String] = Map(
    "i1_ingest_pipeline" ->
      s"""WITH kv AS (
         |  SELECT * FROM read_parquet('$StageRoot/i1_kv/*.parquet')),
         |hdr AS (
         |  SELECT path, MAX(length) AS length,
         |    MAX(CASE WHEN key='SeriesInstanceUID' THEN value END) AS series_uid,
         |    TRY_CAST(MAX(CASE WHEN key='InstanceNumber' THEN value END) AS INT) AS instance_number,
         |    COALESCE(MAX(CASE WHEN key='EchoNumbers' THEN value END), '1') AS echo,
         |    TRY_CAST(MAX(CASE WHEN key='ImagesInAcquisition' THEN value END) AS INT) AS expected_count,
         |    COALESCE(TRY_CAST(MAX(CASE WHEN key='CsaSeries.MrPhoenixProtocol.lTotalScanTimeSec' THEN value END) AS INT), 0) AS duration_sec
         |  FROM kv GROUP BY path),
         |h AS (
         |  SELECT * FROM hdr WHERE series_uid IS NOT NULL
         |    AND instance_number IS NOT NULL AND expected_count IS NOT NULL),
         |st AS (
         |  SELECT series_uid, echo, COUNT(*) AS n_files,
         |    COUNT(DISTINCT instance_number) AS n_distinct,
         |    MIN(instance_number) AS first_instance,
         |    MAX(instance_number) AS last_instance,
         |    MAX(expected_count) AS expected_count,
         |    CAST(SUM(length) AS BIGINT) AS fsize
         |  FROM h GROUP BY series_uid, echo),
         |stc AS (
         |  SELECT *,
         |    CONCAT(
         |      CASE WHEN n_files <> expected_count THEN 'BAD_COUNT ' ELSE '' END,
         |      CASE WHEN n_distinct <> n_files THEN 'DUP ' ELSE '' END,
         |      CASE WHEN last_instance - first_instance + 1 <> n_distinct THEN 'GAP' ELSE '' END
         |    ) AS corrupt
         |  FROM st),
         |ex AS (
         |  SELECT substr(series_uid, 1, 6) AS exam_uid,
         |    COUNT(*) AS n_series,
         |    CAST(SUM(n_files) AS BIGINT) AS n_files,
         |    CAST(SUM(fsize) AS BIGINT) AS fsize,
         |    string_agg(series_uid, ',' ORDER BY first_instance, series_uid) AS series_csv,
         |    bool_or(length(corrupt) > 0) AS any_corrupt
         |  FROM stc GROUP BY 1),
         |dur AS (
         |  SELECT substr(series_uid, 1, 6) AS exam_uid,
         |    CAST(SUM(duration_sec) AS BIGINT) AS total_duration_sec
         |  FROM (SELECT series_uid, MAX(duration_sec) AS duration_sec
         |        FROM h GROUP BY series_uid)
         |  GROUP BY 1)
         |SELECT ex.exam_uid, n_series, n_files, fsize, series_csv,
         |  any_corrupt, total_duration_sec
         |FROM ex JOIN dur USING (exam_uid)
         |ORDER BY exam_uid""".stripMargin,

    "i2_series_info" ->
      s"""WITH kv AS (
         |  SELECT * FROM read_parquet('$StageRoot/i2_kv/*.parquet')),
         |p AS (
         |  SELECT path,
         |    MAX(CASE WHEN key='SeriesInstanceUID' THEN value END) AS series_uid,
         |    MAX(CASE WHEN key='0019,109c' THEN value END) AS ge_seq,
         |    MAX(CASE WHEN key='SequenceName' THEN value END) AS std_seq,
         |    MAX(CASE WHEN key='RepetitionTime' THEN value END) AS v_tr,
         |    MAX(CASE WHEN key='EchoTime' THEN value END) AS v_te,
         |    MAX(CASE WHEN key='InversionTime' THEN value END) AS v_ti,
         |    MAX(CASE WHEN key='AcquisitionDate' THEN value END) AS acq_d,
         |    MAX(CASE WHEN key='AcquisitionTime' THEN value END) AS acq_t,
         |    MAX(CASE WHEN key='StudyDate' THEN value END) AS study_d,
         |    MAX(CASE WHEN key='StudyTime' THEN value END) AS study_t,
         |    MAX(CASE WHEN key='Manufacturer' THEN value END) AS manu,
         |    MAX(CASE WHEN key='ManufacturerModelName' THEN value END) AS model,
         |    MAX(CASE WHEN key='ProtocolName' THEN value END) AS proto,
         |    MAX(CASE WHEN key='StudyDescription' THEN value END) AS studydesc,
         |    MAX(CASE WHEN key='SeriesDescription' THEN value END) AS sname,
         |    MAX(CASE WHEN key='CsaImage.PixelSpacing' THEN value END) AS ps,
         |    MAX(CASE WHEN key='CsaImage.SliceThickness' THEN value END) AS thick,
         |    MAX(CASE WHEN key='CsaImage.ImaCoilString' THEN value END) AS coil1,
         |    MAX(CASE WHEN key='CsaImage.PhaseEncodingDirection' THEN value END) AS pdir,
         |    MAX(CASE WHEN key='CsaImage.PhaseEncodingDirectionPositive' THEN value END) AS ppos,
         |    MAX(CASE WHEN key='CsaSeries.MrPhoenixProtocol.tSequenceFileName' THEN value END) AS seq_file,
         |    MAX(CASE WHEN key='CsaSeries.MrPhoenixProtocol.lTotalScanTimeSec' THEN value END) AS scan_sec,
         |    MAX(CASE WHEN key='CsaSeries.MrPhoenixProtocol.asCoilSelectMeas[0].asList[0].sCoilElementID.tCoilID' THEN value END) AS coil2,
         |    MAX(CASE WHEN key='CsaSeries.MrPhoenixProtocol.sCoilSelectMeas.sCoilStringForConversion' THEN value END) AS coil3,
         |    MAX(CASE WHEN key='CsaSeries.MrPhoenixProtocol.sSliceArray.asSlice[0].sPosition.dTra' THEN value END) AS s0_tra,
         |    MAX(CASE WHEN key='CsaSeries.MrPhoenixProtocol.sSliceArray.asSlice[0].sPosition.dSag' THEN value END) AS s0_sag,
         |    MAX(CASE WHEN key='CsaSeries.MrPhoenixProtocol.sSliceArray.asSlice[0].sPosition.dCor' THEN value END) AS s0_cor,
         |    MAX(CASE WHEN key='CsaSeries.MrPhoenixProtocol.sSliceArray.asSlice[1].sPosition.dTra' THEN value END) AS s1_tra,
         |    MAX(CASE WHEN key='CsaSeries.MrPhoenixProtocol.sSliceArray.asSlice[1].sPosition.dSag' THEN value END) AS s1_sag,
         |    MAX(CASE WHEN key='CsaSeries.MrPhoenixProtocol.sSliceArray.asSlice[1].sPosition.dCor' THEN value END) AS s1_cor
         |  FROM kv GROUP BY path),
         |d AS (
         |  SELECT *,
         |    COALESCE(ge_seq, std_seq) AS seq_name,
         |    COALESCE(COALESCE(ge_seq, std_seq), '') AS sq,
         |    COALESCE(seq_file, COALESCE(ge_seq, std_seq), '') AS sq2,
         |    COALESCE(sname, '') AS sn,
         |    TRY_CAST(thick AS DOUBLE) AS size_z,
         |    SQRT(POWER(TRY_CAST(s1_tra AS DOUBLE) - TRY_CAST(s0_tra AS DOUBLE), 2)
         |       + POWER(TRY_CAST(s1_sag AS DOUBLE) - TRY_CAST(s0_sag AS DOUBLE), 2)
         |       + POWER(TRY_CAST(s1_cor AS DOUBLE) - TRY_CAST(s0_cor AS DOUBLE), 2))
         |      AS slice_dist
         |  FROM p)
         |SELECT path, series_uid,
         |  COALESCE(
         |    try_strptime(acq_d || substr(acq_t, 1, 6), '%Y%m%d%H%M%S'),
         |    try_strptime(study_d || substr(study_t, 1, 6), '%Y%m%d%H%M%S'))
         |    AS acq_time,
         |  seq_name,
         |  CASE
         |    WHEN contains(sq, 'ep_b') THEN 'DWI'
         |    WHEN contains(sq, 'epfid') THEN 'EPI'
         |    WHEN contains(sq, 'spc3d') THEN 'SPACE3D'
         |    WHEN contains(sq, 'tfl3d') THEN
         |      CASE WHEN contains(sq2, 'mp2rage') THEN
         |        'MP2RAGE_' ||
         |          CASE WHEN contains(sn, 'INV1') THEN 'INV1'
         |               WHEN contains(sn, 'INV2') THEN 'INV2'
         |               WHEN contains(sn, 'T1_Images') THEN 'T1MAP'
         |               WHEN contains(sn, 'UNI_Images') THEN 'UNI'
         |               ELSE 'SHOULD_NOT_HAPPEN' END
         |      ELSE 'MPRAGE' END
         |    WHEN contains(sq, 'fm2d2r') THEN 'GreFieldMap'
         |    WHEN contains(sq2, 'GR%SiemensSeq%gre_2D') THEN 'GRE_2D'
         |    WHEN contains(sq2, 'GR%SiemensSeq%gre_3D') THEN 'GRE_3D'
         |    WHEN contains(sq, 'eja_svs') THEN 'spectroSVS'
         |    ELSE 'to_be_defined' END AS seq_type,
         |  CASE WHEN seq_name IS NOT NULL
         |       THEN TRY_CAST(v_tr AS DOUBLE) END AS tr,
         |  COALESCE(TRY_CAST(v_te AS DOUBLE), 0.0) AS te,
         |  TRY_CAST(TRY_CAST(v_ti AS DOUBLE) AS INT) AS ti,
         |  TRY_CAST(string_split(ps, '\\')[1] AS DOUBLE) AS size_x,
         |  TRY_CAST(string_split(ps, '\\')[2] AS DOUBLE) AS size_y,
         |  size_z,
         |  CASE WHEN ABS(slice_dist - size_z) < 0.00001 THEN 0.0
         |       ELSE slice_dist - size_z END AS slice_gap,
         |  CASE WHEN ppos IS NOT NULL THEN
         |    pdir || (CASE WHEN TRY_CAST(ppos AS INT) > 0
         |                  THEN '+' ELSE '-' END)
         |  ELSE pdir END AS phase_dir,
         |  COALESCE(coil1, coil2, coil3, 'NULL') AS coil_name,
         |  CASE WHEN COALESCE(model, '') = 'Ox Offline Recon'
         |       THEN 'SIGNA PET/MR'
         |       ELSE COALESCE(model, manu) END AS machine_name,
         |  CASE WHEN contains(upper(COALESCE(manu, '')), 'GE')
         |       THEN COALESCE(proto, studydesc, 'Atrier')
         |       ELSE studydesc END AS exam_name,
         |  COALESCE(TRY_CAST(scan_sec AS INT), 0) AS duration_sec
         |FROM d ORDER BY path""".stripMargin,

    "i3_tri_dicom" ->
      s"""WITH kv AS (
         |  SELECT * FROM read_parquet('$StageRoot/i3_kv/*.parquet')),
         |p AS (
         |  SELECT path,
         |    MAX(CASE WHEN key='StudyDescription' THEN value END) AS v_proto,
         |    MAX(CASE WHEN key='PatientName' THEN value END) AS v_suj,
         |    MAX(CASE WHEN key='SeriesNumber' THEN value END) AS snum,
         |    MAX(CASE WHEN key='SeriesDescription' THEN value END) AS v_sdesc
         |  FROM kv GROUP BY path),
         |san AS (
         |  SELECT path, snum,
         |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |      regexp_replace(translate(v_proto,
         |        'éèêëàâäôöîïûüùçµ', 'eeeeaaaooiiuuucm'),
         |      '/', '_', 'g'), '[^\\x00-\\x7F]', '', 'g'),
         |      '[^A-Za-z0-9_]', '_', 'g'), '_+', '_', 'g'),
         |      '^_|_$$', '', 'g') AS proto,
         |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |      regexp_replace(translate(v_suj,
         |        'éèêëàâäôöîïûüùçµ', 'eeeeaaaooiiuuucm'),
         |      '/', '_', 'g'), '[^\\x00-\\x7F]', '', 'g'),
         |      '[^A-Za-z0-9_]', '_', 'g'), '_+', '_', 'g'),
         |      '^_|_$$', '', 'g') AS suj,
         |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |      regexp_replace(translate(COALESCE(v_sdesc, 'ser'),
         |        'éèêëàâäôöîïûüùçµ', 'eeeeaaaooiiuuucm'),
         |      '/', '_', 'g'), '[^\\x00-\\x7F]', '', 'g'),
         |      '[^A-Za-z0-9_]', '_', 'g'), '_+', '_', 'g'),
         |      '^_|_$$', '', 'g') AS sdesc
         |  FROM p)
         |SELECT path,
         |  CASE WHEN proto IS NULL OR suj IS NULL OR snum IS NULL
         |       THEN 'skip_missing_key' ELSE 'move' END AS action,
         |  CASE WHEN proto IS NOT NULL AND suj IS NOT NULL
         |        AND snum IS NOT NULL
         |       THEN proto || '/' || suj || '/S' || snum || '_' || sdesc
         |            || '/' || regexp_extract(path, '[^/]*$$')
         |  END AS dest
         |FROM san ORDER BY path""".stripMargin,

    "i4_nifti_manifest" ->
      s"""WITH kv AS (
         |  SELECT * FROM read_parquet('$StageRoot/i4_kv/*.parquet')),
         |h AS (
         |  SELECT path,
         |    MAX(CASE WHEN key='SeriesInstanceUID' THEN value END)
         |      AS series_uid,
         |    COALESCE(TRY_CAST(MAX(CASE WHEN key='EchoNumbers'
         |      THEN value END) AS INT), 1) AS echo,
         |    TRY_CAST(MAX(CASE WHEN key='InstanceNumber' THEN value END)
         |      AS INT) AS inst
         |  FROM kv GROUP BY path)
         |SELECT series_uid, echo, COUNT(*) AS n_slices,
         |  regexp_replace(series_uid, '[^A-Za-z0-9._-]', '_', 'g')
         |    || '_e' || echo || '.nii.gz' AS file_name,
         |  'written' AS status
         |FROM h WHERE series_uid IS NOT NULL AND inst IS NOT NULL
         |GROUP BY series_uid, echo
         |ORDER BY series_uid, echo""".stripMargin,

    "i5_deidentify" ->
      s"""WITH kv AS (
         |  SELECT * FROM read_parquet('$StageRoot/i5_kv/*.parquet')),
         |per AS (
         |  SELECT path,
         |    MAX(CASE WHEN key='PatientName' THEN value END) AS pname_raw,
         |    MAX(CASE WHEN key='StudyDate' THEN value END) AS sdate,
         |    MAX(CASE WHEN key='AcquisitionDate' THEN value END) AS adate,
         |    MAX(CASE WHEN key='SeriesInstanceUID' THEN value END) AS uid,
         |    CAST(SUM(CASE WHEN key LIKE 'Csa%' OR key='PatientName'
         |          OR regexp_matches(key,'^[0-9a-f]{4},[0-9a-f]{4}$$')
         |        THEN 1 ELSE 0 END) AS INT) AS n_removed,
         |    CAST(SUM(CASE WHEN key LIKE 'Csa%' OR key='PatientName'
         |          OR regexp_matches(key,'^[0-9a-f]{4},[0-9a-f]{4}$$')
         |        THEN 0 ELSE 1 END) AS INT) AS n_kept
         |  FROM kv GROUP BY path),
         |d AS (
         |  SELECT *, COALESCE(pname_raw, 'UNKNOWN') AS pname,
         |    ('0x' || substr(md5(COALESCE(pname_raw, 'UNKNOWN')),1,15))
         |      ::BIGINT % 28 + 1 AS days
         |  FROM per)
         |SELECT path,
         |  'anon_' || CAST(('0x' || substr(md5(pname),1,15))::BIGINT
         |    % 1000000 AS VARCHAR) AS pseudo_id,
         |  CASE WHEN sdate IS NOT NULL THEN
         |    strftime(CAST(strptime(sdate,'%Y%m%d') AS DATE)
         |      + to_days(CAST(days AS INT)), '%Y%m%d') END
         |    AS study_date_shifted,
         |  CASE WHEN adate IS NOT NULL THEN
         |    strftime(CAST(strptime(adate,'%Y%m%d') AS DATE)
         |      + to_days(CAST(days AS INT)), '%Y%m%d') END
         |    AS acq_date_shifted,
         |  CASE WHEN uid IS NOT NULL THEN
         |    '2.25.' || CAST(('0x' || substr(md5(uid),1,15))::BIGINT
         |      AS VARCHAR) END AS series_uid_mapped,
         |  n_removed, n_kept
         |FROM d ORDER BY path""".stripMargin)
}
