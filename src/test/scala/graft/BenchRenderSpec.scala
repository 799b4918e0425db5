package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver scrapes Bench's ONE stdout line out of the last ~2000
  * chars of captured output — a line that overflows or mis-quotes
  * silently drops the round's numbers (BENCH_r03/r04 did). Gate the
  * renderer: budget respected by dropping fastest-first, and the line
  * parses as strict JSON (hand-rolled validator — no JSON lib on the
  * classpath by design). */
class BenchRenderSpec extends AnyFunSuite {

  /** Minimal strict-JSON validator: returns the index after the value
    * or throws. Enough for objects/strings/numbers/bools, which is all
    * the bench line contains. */
  private def parseValue(s: String, i0: Int): Int = {
    var i = i0
    def ws(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    ws()
    require(i < s.length, "eof")
    s(i) match {
      case '{' =>
        i += 1; ws()
        if (s(i) == '}') return i + 1
        var done = false
        while (!done) {
          i = parseString(s, i); ws()
          require(s(i) == ':', s"expected ':' at $i"); i += 1
          i = parseValue(s, i); ws()
          if (s(i) == ',') { i += 1; ws() }
          else { require(s(i) == '}', s"expected '}}' at $i"); i += 1; done = true }
        }
        i
      case '"' => parseString(s, i)
      case 't' => require(s.startsWith("true", i)); i + 4
      case 'f' => require(s.startsWith("false", i)); i + 5
      case c if c == '-' || c.isDigit =>
        i += 1
        while (i < s.length &&
          (s(i).isDigit || "+-.eE".contains(s(i)))) i += 1
        i
      case c => fail(s"unexpected '$c' at $i")
    }
  }

  private def parseString(s: String, i0: Int): Int = decodeString(s, i0)._2

  /** The decoded value of the string literal at `i0` and the index
    * after it; a raw control char or an unknown escape throws. */
  private def decodeString(s: String, i0: Int): (String, Int) = {
    require(s(i0) == '"', s"expected '\"' at $i0")
    val out = new StringBuilder
    var i = i0 + 1
    while (s(i) != '"') {
      require(s(i) >= ' ', s"raw control char at $i")
      if (s(i) != '\\') { out += s(i); i += 1 }
      else if (s(i + 1) == 'u') {
        out += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar
        i += 6
      } else {
        out += (s(i + 1) match {
          case '"' => '"'
          case '\\' => '\\'
          case '/' => '/'
          case 'b' => '\b'
          case 'f' => '\f'
          case 'n' => '\n'
          case 'r' => '\r'
          case 't' => '\t'
          case c => fail(s"bad escape '\\$c' at $i")
        })
        i += 2
      }
    }
    (out.result(), i + 1)
  }

  private def assertStrictJsonObject(line: String): Unit = {
    val end = parseValue(line, 0)
    assert(line.substring(end).trim.isEmpty, "trailing garbage")
    assert(line.startsWith("{") && line.endsWith("}"))
  }

  private val manyTimes =
    (1 to 120).map(i => (f"q$i%03d_some_query_name", i * 0.137))

  test("full line is strict JSON with every query when it fits") {
    val line = Bench.stdoutLine(manyTimes.take(5),
      Seq("bad_q" -> "boom \"quoted\"\nsecond line"), "/root/testdata/sf0.1")
    assertStrictJsonObject(line)
    assert(line.contains("\"q001_some_query_name\":0.137"))
    assert(!line.contains("queries_omitted"))
    assert(!line.contains("\n"))
  }

  test("over-budget suites drop fastest queries, stay parseable, fit") {
    val line = Bench.stdoutLine(manyTimes, Nil, "/root/testdata/sf0.1")
    assertStrictJsonObject(line)
    assert(line.length <= 1700)
    assert(line.contains("queries_omitted"))
    // the SLOWEST query always survives the cut
    assert(line.contains("\"q120_some_query_name\":"))
    // the fastest is the first casualty
    assert(!line.contains("\"q001_some_query_name\":"))
    assert(line.contains("\"n_ok\":120"))
  }

  test("pathological error messages cannot break the JSON") {
    val tabbed = "col\tsep\rCR \u0001 \"q\" \\ end"
    val errs = ("e0" -> tabbed) +: (1 to 5).map(i =>
      (s"e$i", "x" * 500 + "\"\\\n tail"))
    val line = Bench.stdoutLine(manyTimes.take(3), errs, "/sf")
    assertStrictJsonObject(line)
    // only 3 error entries on stdout, each hard-truncated
    assert(!line.contains("e4"))
    // control chars are escaped, not flattened: the strictly parsed
    // message keeps its tab and CR
    val (msg, _) = decodeString(line, line.indexOf("\"e0\":") + 5)
    assert(msg.contains("\t"), s"tab lost: $msg")
    assert(msg == tabbed)
  }

  test("every artifact carries the timing-method tag and audit fields") {
    val line = Bench.stdoutLine(manyTimes.take(3), Nil, "/sf",
      bucketOverflows = 2, regressed = 1)
    assertStrictJsonObject(line)
    assert(line.contains(s""""timing":"${Bench.Timing}""""))
    assert(line.contains(""""bucket_overflows":2"""))
    assert(line.contains(""""regressed":1"""))
    val full = Bench.fullJson(manyTimes, Nil, "/sf", 0, 0)
    assertStrictJsonObject(full)
    assert(full.contains(s""""timing":"${Bench.Timing}""""))
    // the full artifact never drops queries, whatever the suite size
    assert(full.contains("\"q001_some_query_name\":"))
    assert(full.contains("\"q120_some_query_name\":"))
  }

  test("history line round-trips through the parser, sf included") {
    val full = Bench.fullJson(
      Seq("q1_a" -> 0.5, "d4_ngram" -> 6.964), Nil,
      "/root/testdata/sf0.1", 0, 0)
    val parsed = Bench.parseHistoryLine(full)
    assert(parsed.isDefined)
    val (timing, sf, qs) = parsed.get
    assert(timing == Bench.Timing)
    // sf rides along so the gate can refuse cross-scale comparisons —
    // a quick sf0.001 dev run in the history must never become the
    // baseline for the next sf0.1 round
    assert(sf == "/root/testdata/sf0.1")
    assert(qs.toMap == Map("q1_a" -> 0.5, "d4_ngram" -> 6.964))
    assert(Bench.parseHistoryLine("not json").isEmpty)
  }

  test("filtered (partial) runs are tagged in both artifacts so the " +
      "gate can refuse them as baselines") {
    val line = Bench.stdoutLine(manyTimes.take(2), Nil, "/sf",
      filtered = true)
    assertStrictJsonObject(line)
    assert(line.contains(""""filtered":true"""))
    val full = Bench.fullJson(manyTimes.take(2), Nil, "/sf", 0, 0,
      filtered = true)
    assertStrictJsonObject(full)
    assert(full.contains(""""filtered":true"""))
    // a FULL run stays untagged — history lines from earlier rounds
    // (no tag at all) must keep qualifying as baselines
    assert(!Bench.fullJson(manyTimes, Nil, "/sf", 0, 0)
      .contains("filtered"))
    // and the tagged line still round-trips through the history parser
    assert(Bench.parseHistoryLine(full).isDefined)
  }

  test("phase attribution lands in the full artifact with the Spark " +
      "residual, and the history parser still sees the queries map") {
    val full = Bench.fullJson(
      Seq("k1_jdbc_roundtrip" -> 2.5, "q1_a" -> 0.5), Nil, "/sf", 0, 0,
      phases = Map("k1_jdbc_roundtrip" ->
        Map("derby_load" -> 1.2, "derby_merge" -> 0.7)))
    assertStrictJsonObject(full)
    assert(full.contains(""""phases":{"k1_jdbc_roundtrip":{"""))
    assert(full.contains(""""derby_load":1.200"""))
    assert(full.contains(""""derby_merge":0.700"""))
    // residual = 2.5 - (1.2 + 0.7): the pure-Spark share the gate diffs
    assert(full.contains(""""spark_residual":0.600"""))
    // the queries map survives the extra field for the history parser
    val parsed = Bench.parseHistoryLine(full)
    assert(parsed.isDefined)
    assert(parsed.get._3.toMap ==
      Map("k1_jdbc_roundtrip" -> 2.5, "q1_a" -> 0.5))
    // no phases recorded -> no field at all (old lines stay identical)
    assert(!Bench.fullJson(Seq("q1_a" -> 0.5), Nil, "/sf", 0, 0)
      .contains("phases"))
    // the driver-scraped stdout line carries the split too (the round
    // artifact is built from it), stays strict JSON, and still
    // respects the budget by dropping fastest queries
    val line = Bench.stdoutLine(
      Seq("k1_jdbc_roundtrip" -> 2.5, "q1_a" -> 0.5), Nil, "/sf",
      phases = Map("k1_jdbc_roundtrip" ->
        Map("derby_load" -> 1.2, "derby_merge" -> 0.7)))
    assertStrictJsonObject(line)
    assert(line.contains(""""phases":{"k1_jdbc_roundtrip":{"""))
    assert(line.contains(""""spark_residual":0.600"""))
    val tight = Bench.stdoutLine(manyTimes, Nil, "/sf", budget = 900,
      phases = Map("q120_some_query_name" -> Map("ext" -> 1.0)))
    assertStrictJsonObject(tight)
    assert(tight.length <= 900)
    assert(tight.contains(""""phases":"""),
      "budget trimming must drop queries, not the phases field")
  }

  test("i1 and k15 record their staging/protocol phase splits when " +
      "armed (r13 ask #4): the artifact attributes FS-bound wall time " +
      "in-band") {
    val spark = SharedSpark.spark
    GraftFunctions.register(spark)
    val sfDir = "/root/testdata/sf0.001"
    def phasesOf(q: String): Map[String, Double] = {
      PhaseLog.armed = true
      try {
        PhaseLog.reset()
        Bench.consume(SparkEntry.queries(q)(spark, sfDir))
        PhaseLog.snapshot()
      } finally PhaseLog.armed = false
    }
    val i1 = phasesOf("i1_ingest_pipeline")
    assert(i1.keySet == Set("corpus_stage", "kv_stage_write"),
      s"i1 phases: $i1")
    assert(i1.values.forall(_ >= 0.0))
    val k15 = phasesOf("k15_time_travel")
    assert(k15.keySet == Set("lake_reset", "lake_commit"),
      s"k15 phases: $k15")
    // the commits are the protocol cost — they must be a REAL share,
    // not an empty stub (lake_reset may round to ~0 on a fresh root)
    assert(k15("lake_commit") > 0.0)
  }

  test("regression gate: flags real slowdowns, absorbs the measured " +
      "box-noise band, skips on tag mismatch") {
    val prev = Seq("qa" -> 1.0, "qb" -> 4.0, "qc" -> 0.2, "qd" -> 1.0,
                   "qe" -> 1.85)
    val cur  = Seq("qa" -> 1.1, "qb" -> 9.0, "qc" -> 0.6, "qd" -> 1.4,
                   "qe" -> 2.95, "qnew" -> 9.0)
    val r = Bench.regressions("v2", prev, "v2", cur)
    // qb: 2.25x and +5.0s -> flagged (the t22-class real regression).
    // qa: under factor. qc: 3x but under the 0.5s absolute floor (GC
    // jitter band). qd: +0.4s under floor AND under factor. qe is the
    // r11 d12 false alarm VERBATIM (1.85 -> 2.95, 1.59x on code whose
    // only change was a visibility modifier — driver-window writeback
    // noise, see BENCH_NOTES): inside the measured 1.8x band, must NOT
    // flag. qnew: no baseline.
    assert(r == Seq(("qb", 4.0, 9.0)))
    // a ruler change must suppress the diff entirely (round-7 lesson)
    assert(Bench.regressions("v1", prev, "v2", cur).isEmpty)
  }

  test("regression gate: split-carrying queries gate on spark_residual " +
      "— a doubled residual under a flat total FLAGS") {
    // k1-shaped: prev total 3.5 s = 2.7 s Derby + 0.8 s Spark. The
    // current run's Spark share doubles to 1.6 s while a Derby
    // speed-up keeps the WALL TOTAL FLAT — the total-diff gate is
    // blind to exactly this real plan regression.
    val prev = Seq("k1" -> 3.5)
    val cur = Seq("k1" -> 3.5)
    val prevPh = Map("k1" -> Map("derby_merge" -> 2.7,
      "spark_residual" -> 0.8))
    val curPh = Map("k1" -> Map("derby_merge" -> 1.9)) // live snapshot:
    // no residual entry — the gate computes 3.5 − 1.9 = 1.6
    val r = Bench.regressions("v2", prev, "v2", cur,
      prevPhases = prevPh, curPhases = curPh)
    assert(r == Seq(("k1", 0.8, 1.6)),
      s"a doubled spark_residual under a flat wall total must flag: $r")
  }

  test("regression gate: a Derby hiccup under a flat spark_residual " +
      "does NOT flag, and a split on only one side falls back to the " +
      "wall-total diff") {
    // prev 3.5 s (2.7 Derby + 0.8 Spark); cur 7.0 s — 2× on the wall —
    // but every added second is derby_merge; the Spark share is flat
    val prev = Seq("k1" -> 3.5, "plain" -> 1.0)
    val cur = Seq("k1" -> 7.0, "plain" -> 3.0)
    val prevPh = Map("k1" -> Map("derby_merge" -> 2.7,
      "spark_residual" -> 0.8))
    val curPh = Map("k1" -> Map("derby_merge" -> 6.2))
    val r = Bench.regressions("v2", prev, "v2", cur,
      prevPhases = prevPh, curPhases = curPh)
    // k1 absorbed (residual 0.8 -> 0.8); "plain" carries no split on
    // either side -> wall-total diff still applies (3x, +2.0 s)
    assert(r == Seq(("plain", 1.0, 3.0)),
      s"a Derby hiccup false-flagged (or a real total slip hid): $r")
    // split on ONE side only (a query that gained phases this round):
    // no comparable prior residual -> conservative total diff (7.0 vs
    // 3.5 = 2x, +3.5 s -> flags on the wall, by design)
    val oneSided = Bench.regressions("v2", prev, "v2", cur,
      prevPhases = Map.empty, curPhases = curPh)
    assert(oneSided.map(_._1).toSet == Set("k1", "plain"))
  }

  test("retest keep-rule follows the gate's compared quantity: a " +
      "wall-gated query keeps by wall even when both passes carry a " +
      "split; a residual-gated query keeps by residual") {
    // the query GAINED its split this round (prev history had no
    // phases) -> the gate compared wall totals -> the retest must keep
    // by wall too. First pass 7.0 s (residual 0.8) was a box-load
    // artifact; retest reads old-normal 3.6 s but a LARGER residual
    // 0.9 — keeping the first because 0.8 <= 0.9 would hand the final
    // gate the very 7.0 s wall the retest just disproved.
    val ph1 = Some(Map("derby_merge" -> 6.2)) // residual 7.0-6.2 = 0.8
    val ph2 = Some(Map("derby_merge" -> 2.7)) // residual 3.6-2.7 = 0.9
    assert(!Bench.keepFirstPass(7.0, ph1, Some(3.6), ph2,
      residualGated = false),
      "wall-gated retest kept a worse wall because its residual was " +
        "smaller")
    // residual-gated (prev history carried the split): Derby noise on
    // the retest's wall must NOT discard a first pass whose residual
    // is smaller
    assert(Bench.keepFirstPass(3.5, Some(Map("derby_merge" -> 3.1)),
      Some(3.2), Some(Map("derby_merge" -> 2.3)), residualGated = true),
      "residual-gated retest kept by wall") // 0.4 <= 0.9
    // retest errored: keep the first unconditionally
    assert(Bench.keepFirstPass(7.0, ph1, None, None,
      residualGated = false))
  }

  test("parseHistoryPhases round-trips the nested phases object out of " +
      "a fullJson history line") {
    val times = Seq("k1" -> 3.5, "q2" -> 1.0)
    val phases = Map("k1" -> Map("derby_load" -> 1.2, "derby_merge" -> 1.5))
    val line = Bench.fullJson(times, Seq.empty, "/sf", 0, 0,
      phases = phases)
    val back = Bench.parseHistoryPhases(line)
    assert(back.keySet == Set("k1"))
    assert(back("k1").get("derby_load").contains(1.2))
    assert(back("k1").get("derby_merge").contains(1.5))
    // the writer adds the residual (3.5 − 2.7, num3-rounded): the
    // stored value is what the next round's gate compares against
    assert(back("k1").get("spark_residual").exists(v =>
      math.abs(v - 0.8) < 1e-9))
    // a line with no phases object parses to empty, not a crash
    assert(Bench.parseHistoryPhases(
      Bench.fullJson(times, Seq.empty, "/sf", 0, 0)).isEmpty)
  }

  test("noise retry fires on a >2x spread, stays off sub-floor " +
      "queries, and caps at 5 runs") {
    // the r14 A/B shape: a host burst stalls one of three runs of a
    // multi-second query — retry
    assert(Bench.needsNoiseRetry(runs = 3, best = 10.0, worst = 25.0))
    // quiet box: spread inside 2x — no retry
    assert(!Bench.needsNoiseRetry(runs = 3, best = 10.0, worst = 19.9))
    // sub-floor query: a 0.1 s query tripling is JIT/GC texture, and
    // retry budget must stay off the 100+ cheap queries
    assert(!Bench.needsNoiseRetry(runs = 3, best = 0.1, worst = 0.4))
    // hard cap: two retries max, even if the spread persists
    assert(Bench.needsNoiseRetry(runs = 4, best = 10.0, worst = 25.0))
    assert(!Bench.needsNoiseRetry(runs = 5, best = 10.0, worst = 25.0))
    // boundary: exactly at the floor retries, exactly at 2x does not
    assert(Bench.needsNoiseRetry(runs = 3, best = 0.5, worst = 1.1))
    assert(!Bench.needsNoiseRetry(runs = 3, best = 10.0, worst = 20.0))
  }

  test("noise-retry counts land in both artifacts so a min-of-5 row is " +
      "self-describing (r14 advice); zero retries leaves no field") {
    val nr = Map("d2_minhash_lsh" -> 2, "q8_scan" -> 1)
    val full = Bench.fullJson(Seq("d2_minhash_lsh" -> 17.4), Nil,
      "/sf", 0, 0, noiseRetries = nr)
    assertStrictJsonObject(full)
    assert(full.contains(
      """"noise_retries":{"d2_minhash_lsh":2,"q8_scan":1}"""))
    val line = Bench.stdoutLine(Seq("d2_minhash_lsh" -> 17.4), Nil,
      "/sf", noiseRetries = nr)
    assertStrictJsonObject(line)
    assert(line.contains(""""noise_retries":"""))
    // no retries → no field (every pre-r15 history line stays the shape
    // its parsers expect)
    val bare = Bench.fullJson(Seq("q1_a" -> 0.5), Nil, "/sf", 0, 0)
    assert(!bare.contains("noise_retries"))
    // the flat queries parser must not trip over the extra nested map
    assert(Bench.parseHistoryLine(full).get._3.toMap ==
      Map("d2_minhash_lsh" -> 17.4))
  }

  test("baseline selection skips flagged lines: a contended or " +
      "indeterminate history line must not become the regression-gate " +
      "baseline while a clean one exists; all-flagged falls back to " +
      "the last so the gate still runs") {
    // the bench no longer writes these flags, but bench_history.jsonl
    // still holds lines stamped by the retired calibration: splice the
    // literal flags where that writer put them
    def line(q: Double, flag: String = "",
        filtered: Boolean = false): String =
      Bench.fullJson(Seq("d4_q" -> q), Nil, "/sf10", 0, 0,
        filtered = filtered)
        .replace(""""queries":""", flag + """"queries":""")
    val quiet = line(10.0)
    val contended = line(31.0, """"contended":true,""")
    val gap = line(19.0, """"cal_indeterminate":true,""")
    val subset = line(2.0, filtered = true)
    assert(contended.contains(""""contended":true,"queries":"""))
    // newest lines are flagged/filtered: the clean older line wins
    val picked = Bench.selectBaseline(
      Seq(quiet, contended, gap, subset), Bench.Timing, "/sf10")
    assert(picked.map(_._3.toMap) == Some(Map("d4_q" -> 10.0)))
    // a NEWER clean line supersedes an older one
    val quiet2 = line(11.0)
    assert(Bench.selectBaseline(Seq(quiet, contended, quiet2),
      Bench.Timing, "/sf10").map(_._3.toMap) ==
      Some(Map("d4_q" -> 11.0)))
    // every candidate flagged: fall back to the LAST (gate still runs,
    // conservatively under-flagging rather than not gating at all)
    assert(Bench.selectBaseline(Seq(contended, gap), Bench.Timing,
      "/sf10").map(_._3.toMap) == Some(Map("d4_q" -> 19.0)))
    // wrong sf / wrong tag / only-filtered still yield no baseline
    assert(Bench.selectBaseline(Seq(quiet), Bench.Timing, "/sf0.1").isEmpty)
    assert(Bench.selectBaseline(Seq(subset), Bench.Timing, "/sf10").isEmpty)
    // lines without any calibration (pre-r15, and every line written
    // since its retirement) remain eligible baselines
    val old = Bench.fullJson(Seq("d4_q" -> 9.0), Nil, "/sf10", 0, 0)
    assert(Bench.selectBaseline(Seq(contended, old), Bench.Timing,
      "/sf10").map(_._3.toMap) == Some(Map("d4_q" -> 9.0)))
  }
}
