package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

/** Phase-attribution side channel for bench queries whose wall time is
  * dominated by an EMBEDDED EXTERNAL ENGINE rather than Spark plans
  * (k1's in-memory Derby: ~13× at 10× data is the database, not the
  * plan — VERDICT r9 ask #6). A query wraps its external-engine work
  * in [[timed]]; [[Bench.measure]] resets before each timed run and
  * keeps the snapshot belonging to the minimum run, so the bench
  * artifact carries the split and a future regression gate can diff
  * the pure-Spark residual separately from the external share.
  * Driver-thread only (query construction runs on the bench main
  * thread), overhead two nanoTime calls per phase. */
object PhaseLog {
  private val current =
    new java.util.concurrent.atomic.AtomicReference[Map[String, Double]](Map.empty)
  /** Armed only around [[Bench]]'s timed runs (set on entry to the
    * measured loop, cleared in a finally): instrumented call sites
    * (e.g. JdbcCatalog's Derby phases) call [[timed]] unconditionally,
    * and a non-bench caller in the same JVM — or bench setup/warmup
    * work OUTSIDE the timed window — must neither pay the bookkeeping
    * nor attribute non-query time to a query's split. */
  @volatile private[graft] var armed: Boolean = false
  def reset(): Unit = current.set(Map.empty)
  def snapshot(): Map[String, Double] = current.get()
  def timed[A](phase: String)(f: => A): A =
    if (!armed) f
    else {
      val t0 = System.nanoTime()
      try f
      finally {
        val sec = (System.nanoTime() - t0) / 1e9
        current.updateAndGet(m => m + (phase -> (m.getOrElse(phase, 0.0) + sec)))
      }
    }
}

/** Benchmark main. Runs every SparkEntry query on SPARK_GRAFT_SF_DIR,
  * prints ONE JSON line on stdout, and also writes it to $BENCH_OUT
  * (default bench_out.json) so the driver never has to scrape sbt logs.
  *
  * Each query gets a warmup run (JIT + shuffle-file warm) before the
  * timed run; errors are recorded per query instead of silently timing a
  * failure (the round-1 bench swallowed them).
  */
object Bench {

  /** Timing-method version tag. Bump whenever the way a query is timed
    * changes (what is materialized, how many runs, min vs mean) so a
    * cross-round diff can tell "the code regressed" from "the ruler
    * changed". Round 7's switch from `.count()` to full materialization
    * made 40 queries look 2x slower; the tag plus [[regressions]]'
    * skip-on-tag-mismatch keeps that class of false alarm out of future
    * rounds. v2 = full-row toRdd materialization, min of 3 timed runs
    * after one warmup.
    */
  val Timing: String = "toRdd-min3-v2"

  /** Force FULL materialization of every output column. `.count()` lets
    * Catalyst prune unconsumed projections — round-6's t13 benched at
    * 0.33 s while its consumed cost was ~30× that. `toRdd.count()`
    * executes the plan whose output is the query's real select list
    * (UnsafeRows materialize each column), so projection-only queries
    * are billed what a consumer would actually pay. */
  def consume(df: org.apache.spark.sql.DataFrame): Long =
    df.queryExecution.toRdd.count()

  /** Max/min spread across one query's timed runs above which the
    * host is presumed to have stalled a run mid-measurement and up to
    * two noise retries fire (see `measure`): 2× sits above every
    * quiet-box spread observed in BENCH_NOTES history and below the
    * 2.7× same-binary swing the r14 A/B measured under host bursts. */
  private[graft] val NoiseRetrySpread: Double = 2.0

  /** Whether one more timed run should fire for a query whose runs so
    * far span [best, worst] (see `measure`'s noise-retry comment):
    * capped at 5 total runs, gated to queries at or above the
    * regression gate's 0.5 s absolute floor, triggered by a
    * [[NoiseRetrySpread]]× max/min spread. */
  private[graft] def needsNoiseRetry(runs: Int, best: Double,
      worst: Double): Boolean =
    runs < 5 && best >= 0.5 && worst > NoiseRetrySpread * best

  /** Locale-proof 3-decimal number for JSON: the `f"%.3f"`
    * interpolator formats with the JVM default locale, and a de_DE/
    * fr_FR JVM would emit `1,200` — invalid JSON — into the
    * machine-parsed artifacts. */
  private[graft] def num3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** JSON string literal: escapes the quote, the backslash and EVERY
    * control char (< 0x20) — shared by the bench artifacts and
    * Verify's oracle_sql.json, where a raw tab or CR would make a
    * strict parser reject the whole file. */
  private[graft] def jsonQ(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** `"phases":{...},` (trailing comma) or empty — per query, the
    * recorded external-engine seconds plus the pure-Spark residual vs
    * its total. Shared by [[stdoutLine]] and [[fullJson]]. */
  private def phasesJson(times: Seq[(String, Double)],
      phases: Map[String, Map[String, Double]]): String = {
    if (phases.isEmpty) return ""
    val timesMap = times.toMap
    phases.toSeq.sortBy(_._1).map { case (qn, m) =>
      val residual = timesMap.get(qn)
        .map(t => math.max(0.0, t - m.values.sum))
      val kv = (m.toSeq.sortBy(_._1) ++
        residual.map("spark_residual" -> _))
        .map { case (p, v) => s"${jsonQ(p)}:${num3(v)}" }
      s"${jsonQ(qn)}:${kv.mkString("{", ",", "}")}"
    }.mkString(""""phases":{""", ",", "},")
  }

  /** `"noise_retries":{...},` (per-query extra-run counts beyond the
    * base three) or empty — makes each row self-describing about its
    * sample count (min-of-3 vs min-of-5) instead of burying that in
    * stderr (r14 advice). */
  private def noiseRetriesJson(retries: Map[String, Int]): String =
    if (retries.isEmpty) ""
    else retries.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jsonQ(k)}:$v" }
      .mkString(""""noise_retries":{""", ",", "},")

  /** The scraped stdout line: full JSON if it fits, else drop
    * the FASTEST queries until ≤ `budget` chars (the slow ones are the
    * ones worth grading). Pure so BenchRenderSpec can gate it. */
  private[graft] def stdoutLine(
      times: Seq[(String, Double)], errors: Seq[(String, String)],
      sfDir: String, budget: Int = 1700,
      bucketOverflows: Int = 0, regressed: Int = 0,
      filtered: Boolean = false,
      phases: Map[String, Map[String, Double]] = Map.empty,
      noiseRetries: Map[String, Int] = Map.empty): String = {
    val es = errors.take(3)
      .map { case (k, v) => s"${jsonQ(k)}:${jsonQ(v.take(60))}" }
      .mkString("{", ",", "}")
    val total = times.map(_._2).sum
    val filt = if (filtered) s""""filtered":true,""" else ""
    // the phase split rides in the driver-scraped line too (round-10
    // ask: the round artifact carries k1's Derby-vs-Spark split, not
    // just bench_history) — ~100 chars for one query, and the budget
    // dropper accounts for it like everything else
    val ph = phasesJson(times, phases)
    val nr = noiseRetriesJson(noiseRetries)
    def render(qmap: Seq[(String, Double)], omitted: Int): String = {
      val qs = qmap.map { case (k, v) => s"${jsonQ(k)}:${num3(v)}" }
        .mkString("{", ",", "}")
      val omit = if (omitted > 0) s""","queries_omitted":$omitted""" else ""
      s"""{"metric":"total","value":${num3(total)},"unit":"sec","timing":${jsonQ(Timing)},$nr""" +
        s"""$filt"queries":$qs,$ph"errors":$es,"n_ok":${times.size},""" +
        s""""n_err":${errors.size},"bucket_overflows":$bucketOverflows,""" +
        s""""regressed":$regressed$omit,"sf":${jsonQ(sfDir)}}"""
    }
    val bySlowest = times.sortBy(-_._2)
    Iterator.range(0, times.size + 1)
      .map(drop => render(bySlowest.dropRight(drop).sortBy(_._1), drop))
      .find(_.length <= budget)
      .getOrElse(render(Seq.empty, times.size))
  }

  /** Full-precision JSON (no budget): what lands in $BENCH_OUT and,
    * for full-suite runs, is appended to $BENCH_HISTORY so per-query
    * numbers survive the round even when the stdout line had to drop
    * them. */
  private[graft] def fullJson(
      times: Seq[(String, Double)], errors: Seq[(String, String)],
      sfDir: String, bucketOverflows: Int, regressed: Int,
      filtered: Boolean = false,
      phases: Map[String, Map[String, Double]] = Map.empty,
      noiseRetries: Map[String, Int] = Map.empty): String = {
    val full = times.map { case (k, v) => s"${jsonQ(k)}:$v" }
      .mkString("{", ",", "}")
    val esFull = errors.map { case (k, v) => s"${jsonQ(k)}:${jsonQ(v)}" }
      .mkString("{", ",", "}")
    val total = times.map(_._2).sum
    val filt = if (filtered) s""""filtered":true,""" else ""
    // external-engine attribution (PhaseLog): per query, the recorded
    // phase seconds plus the pure-Spark residual vs its total — the
    // split future gates diff instead of the conflated wall time
    val ph = phasesJson(times, phases)
    val nr = noiseRetriesJson(noiseRetries)
    s"""{"metric":"total","value":$total,"unit":"sec","timing":${jsonQ(Timing)},$nr""" +
      s"""$filt"queries":$full,$ph"errors":$esFull,"n_ok":${times.size},""" +
      s""""n_err":${errors.size},"bucket_overflows":$bucketOverflows,""" +
      s""""regressed":$regressed,"sf":${jsonQ(sfDir)}}"""
  }

  /** Pull `"timing"`, `"sf"`, and the `"queries"` map back out of a
    * history line. Regex on our own writer's output (flat map, %-free
    * keys, plain numbers) — not a general JSON parser, and doesn't
    * need to be. */
  private[graft] def parseHistoryLine(
      line: String): Option[(String, String, Seq[(String, Double)])] = {
    val timing = """"timing":"([^"]*)"""".r
      .findFirstMatchIn(line).map(_.group(1))
    val sf = """"sf":"([^"]*)"""".r
      .findFirstMatchIn(line).map(_.group(1))
    val queries = """"queries":\{([^}]*)\}""".r
      .findFirstMatchIn(line).map(_.group(1))
    for (t <- timing; s <- sf; q <- queries) yield {
      val kv = """"([^"]+)":([-0-9.eE]+)""".r
      (t, s, kv.findAllMatchIn(q)
        .map(m => m.group(1) -> m.group(2).toDouble).toSeq)
    }
  }

  /** Pull the per-query phase splits back out of a history line — the
    * one NESTED object our writer emits, so the flat `"queries"` regex
    * can't reach it. Brace-walk to the matching close, then reuse the
    * flat k:v shape per query. Includes the stored `spark_residual`. */
  private[graft] def parseHistoryPhases(
      line: String): Map[String, Map[String, Double]] = {
    val tag = """"phases":"""
    val start = line.indexOf(tag + "{")
    if (start < 0) return Map.empty
    val open = start + tag.length
    var depth = 0; var end = -1; var j = open
    while (j < line.length && end < 0) {
      line.charAt(j) match {
        case '{' => depth += 1
        case '}' => depth -= 1; if (depth == 0) end = j
        case _ =>
      }
      j += 1
    }
    if (end < 0) return Map.empty
    val body = line.substring(open + 1, end)
    val q = """"([^"]+)":\{([^}]*)\}""".r
    val kv = """"([^"]+)":([-0-9.eE]+)""".r
    q.findAllMatchIn(body).map { m =>
      m.group(1) -> kv.findAllMatchIn(m.group(2))
        .map(x => x.group(1) -> x.group(2).toDouble).toMap
    }.toMap
  }

  /** Choose the regression-gate baseline from history lines: the LAST
    * line with the same timing tag and sf dir that is not filtered
    * (query-subset runs cover almost nothing) and not flagged
    * `"contended":true`/`"cal_indeterminate":true`. The bench no
    * longer writes those flags (its box calibration is retired, see
    * BENCH_NOTES), but bench_history.jsonl still holds lines stamped
    * by it, and a contaminated baseline inflates every per-query
    * budget by its own slowdown and masks real regressions in the
    * next run. When EVERY candidate is flagged, fall back
    * to the last one so the gate still runs: an inflated baseline
    * under-flags, but no baseline means no gate at all. Returns
    * (timing, sf, queries, rawLine). */
  private[graft] def selectBaseline(lines: Seq[String], timing: String,
      sfDir: String): Option[(String, String, Seq[(String, Double)],
      String)] = {
    val candidates = lines
      .filterNot(_.contains(""""filtered":true"""))
      .flatMap(l => parseHistoryLine(l)
        .map { case (t, s, q) => (t, s, q, l) })
      .filter { case (t, s, _, _) => t == timing && s == sfDir }
    candidates.filterNot { case (_, _, _, l) =>
      l.contains(""""contended":true""") ||
        l.contains(""""cal_indeterminate":true""")
    }.lastOption.orElse(candidates.lastOption)
  }

  /** The per-query regression gate: queries that got ≥ `factor`× slower
    * AND ≥ `floorSec` absolutely slower than the previous run. Returns
    * empty when the timing tags differ — numbers taken with different
    * rulers must not be diffed (the round-7 lesson). `floorSec` keeps
    * sub-second GC jitter (a 0.3 s query reading 0.5 s) from alarming.
    *
    * QUERIES CARRYING A PHASE SPLIT ON BOTH SIDES GATE ON THEIR
    * `spark_residual` (r12 verdict ask #3): k1's wall total is 97.6%
    * embedded Derby at sf10 — diffing totals lets a real Spark-plan
    * regression hide inside ±0.7 s/round Derby noise AND lets a Derby
    * hiccup false-flag a healthy plan. The stored residual (or
    * total − Σphases for a live run) is the Spark-attributed share;
    * both sides must carry a split or the query falls back to the
    * wall-total diff (conservative: a query that GAINED a split this
    * round has no comparable prior residual).
    *
    * `factor` is 1.8 — the MEASURED noise band of this box, not a
    * guess (r12, BENCH_NOTES "driver-vs-builder gap"): identical
    * code+data re-runs of one sf10 stage read 6.8 s and 37.7 s
    * minutes apart under kernel-writeback load (load avg 17 with zero
    * user-space CPU hogs), and three rounds of driver-run totals sat
    * 10–17% over builder same-HEAD runs with each round's `regressed`
    * flags re-measuring clean (r10 flagged d6/d12/d4, r11 flagged
    * d12 on a diff whose only change was a visibility modifier). At
    * 1.5× the gate cried wolf every round on ~2 s queries; 1.8×
    * absorbs the measured band while still catching the real
    * regressions the suite has actually had (t22's 4× round-9 slip,
    * the d9/d5 class — all ≥ 2×). The retest-before-flag pass below
    * remains the second belt. */
  private[graft] def regressions(
      prevTiming: String, prev: Seq[(String, Double)],
      curTiming: String, cur: Seq[(String, Double)],
      factor: Double = 1.8, floorSec: Double = 0.5,
      prevPhases: Map[String, Map[String, Double]] = Map.empty,
      curPhases: Map[String, Map[String, Double]] = Map.empty)
      : Seq[(String, Double, Double)] = {
    if (prevTiming != curTiming) return Seq.empty
    val p = prev.toMap
    // the Spark-attributed share: the stored residual if the artifact
    // carries one (history lines do), else total − Σ external phases
    // (a live PhaseLog snapshot has no residual entry)
    def sparkShare(total: Double, ph: Map[String, Double]): Double =
      ph.getOrElse("spark_residual", math.max(0.0,
        total - ph.iterator.collect {
          case (k, v) if k != "spark_residual" => v
        }.sum))
    cur.iterator.collect {
      case (name, t) if p.contains(name) =>
        val (was, now) =
          (prevPhases.get(name), curPhases.get(name)) match {
            case (Some(pp), Some(cp)) =>
              (sparkShare(p(name), pp), sparkShare(t, cp))
            case _ => (p(name), t)
          }
        (name, was, now)
    }.collect {
      case (name, was, now) if now > was * factor && now - was > floorSec =>
        (name, was, now)
    }.toSeq.sortBy { case (_, was, now) => was - now }
  }

  /** The retest keep-rule: keep the FIRST (flagged) pass only when it
    * is better on the SAME quantity the gate compared for this query —
    * `residualGated` = the gate diffed spark_residuals (prev history
    * AND the flagged pass both carried a phase split); otherwise the
    * wall total, including for a query that GAINED its split this
    * round (it was wall-gated, and keeping a worse wall because its
    * residual looked smaller would re-confirm at the final gate the
    * very number the retest just beat). A retest that errored keeps
    * the first pass unconditionally. */
  private[graft] def keepFirstPass(firstTime: Double,
      firstPhases: Option[Map[String, Double]],
      retestTime: Option[Double],
      retestPhases: Option[Map[String, Double]],
      residualGated: Boolean): Boolean = {
    def residualOf(t: Double, ph: Option[Map[String, Double]]) =
      ph.map(p => math.max(0.0, t - p.values.sum))
    (retestTime, residualOf(firstTime, firstPhases),
        retestTime.flatMap(t => residualOf(t, retestPhases))) match {
      case (None, _, _) => true // retest errored: keep the first
      case (Some(_), Some(r1), Some(r2)) if residualGated => r1 <= r2
      case (Some(t2), _, _) => firstTime <= t2
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()

    // optional args = query-name filter, for iterating on one operator
    // without paying for the whole suite
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => args.isEmpty || args.contains(n))
    val times = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // per-query PhaseLog splits (external-engine attribution), from
    // the same run that produced the recorded min
    val phases =
      scala.collection.mutable.LinkedHashMap[String, Map[String, Double]]()
    // queries whose bucketPairs cap actually bound this run (silent-
    // truncation audit as a per-round artifact, not just a log line)
    var bucketOverflows = 0
    // extra timed runs the noise retry added, per query, ACCUMULATED
    // across retest passes — the artifact-borne record that a row is
    // min-of-more-than-3 (r14 advice: stderr alone isn't self-
    // describing)
    val noiseRetries = scala.collection.mutable.LinkedHashMap[String, Int]()

    // one measurement = warmup + min of three timed runs: GC/JIT noise
    // at this scale is on the order of the measurement itself (round-2's
    // w4 read 6.5 s for a 0.5 s query because BOTH timed runs caught a
    // GC pause)
    def measure(name: String): Unit = {
      val fn = SparkEntry.queries(name)
      // operators that materialize internally (lshVerifiedPairs'
      // eager checkpoint) report cap hits through BucketAudit's
      // synchronous side channel, not the returned plan's metrics
      val eagerBefore = graft.operators.BucketAudit.eagerOverflowed
      try {
        consume(fn(spark, sfDir)) // warmup: JIT, codegen, file listing
        var lastDf: org.apache.spark.sql.DataFrame = null
        var best = Double.MaxValue
        var worst = 0.0
        var runs = 0
        // phase attribution is live ONLY for the timed runs below —
        // warmup and setup/load timed() calls (e.g. a Derby seed before
        // the loop) must not leak into any query's split
        PhaseLog.armed = true
        def timedRun(): Unit = {
          runs += 1
          // t0 BEFORE fn: some queries do real work at plan-construction
          // time (iterative loops with per-round actions, staging
          // writes, a fit) — excluding fn from the window would bill
          // them near-zero and silently change the ruler (same timing
          // boundary as r07, so the v2 tag stays comparable)
          PhaseLog.reset()
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          consume(df)
          lastDf = df
          val sec = (System.nanoTime() - t0) / 1e9
          if (sec > worst) worst = sec
          if (sec < best) {
            best = sec
            // the split must belong to the SAME run as the recorded
            // min — a faster run with no phases clears any stale
            // snapshot from a slower one, or the residual would be
            // computed against another run's phase sum
            val snap = PhaseLog.snapshot()
            if (snap.nonEmpty) phases(name) = snap
            else phases.remove(name): Unit
          }
        }
        try {
          (1 to 3).foreach(_ => timedRun())
          // noise retries: a >2× spread across three runs of one
          // deterministic job is a host-side load burst (the r14
          // same-box A/B measured 2.7× run-to-run on ONE binary —
          // BENCH_NOTES "settled by a same-box A/B"), not the query.
          // Up to two extra runs tighten the min toward the quiet-box
          // cost. Upward-compatible with the min3 ruler: every run is
          // the same timed quantity and extra samples can only LOWER
          // a minimum, so cross-round gates see fewer false flags
          // while a real regression (all runs slower) still fires.
          // Only queries over the gate's 0.5 s absolute floor retry —
          // sub-second spreads are JIT/GC texture, and the floor
          // keeps the retry budget off the 100+ cheap queries.
          while (needsNoiseRetry(runs, best, worst)) {
            // visible in the stderr log, so a retry-heavy round reads
            // as "host was bursty" from the artifacts alone
            System.err.println(f"BENCH noise retry $name (run ${runs + 1}):" +
              f" spread ${worst}%.2f s / ${best}%.2f s")
            noiseRetries(name) = noiseRetries.getOrElse(name, 0) + 1
            timedRun()
          }
        } finally PhaseLog.armed = false
        times(name) = best
        // read the observe() metrics off the executed plan directly —
        // synchronous, unlike the async listener-bus path BucketAudit
        // uses for production logging
        val overflowed =
          lastDf.queryExecution.observedMetrics.exists {
            case (metric, row) => metric.startsWith("bucket_overflow_") &&
              !row.isNullAt(0) && row.getLong(0) > 0
          } ||
          graft.operators.BucketAudit.eagerOverflowed > eagerBefore
        if (overflowed) bucketOverflows += 1
        // dedup pipelines cache small feature tables; clear between
        // queries so storage memory never accumulates across the
        // suite, and drain the garbage NOW so the previous query's
        // heap doesn't bill a GC pause to the next one
        spark.catalog.clearCache()
        System.gc()
      } catch {
        case e: Throwable =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
            .linesIterator.take(1).mkString.take(200)
          phases.remove(name): Unit // no time row -> no split row
      }
    }
    names.foreach(measure)

    // regression gate vs the last CLEAN history entry with the same
    // timing tag AND the same sf dir — see [[selectBaseline]] for the
    // exclusions (filtered subset runs, other tags/sf, and lines
    // flagged contended/indeterminate, which fall back to last-any);
    // detail to stderr, count into the JSON artifacts
    val histPath = Paths.get(
      sys.env.getOrElse("BENCH_HISTORY", "bench_history.jsonl"))
    val prevSame =
      if (!Files.exists(histPath)) None
      else selectBaseline(
        Files.readAllLines(histPath).toArray.toSeq.map(_.toString),
        Timing, sfDir)
    val prevPhases = prevSame
      .map { case (_, _, _, line) => parseHistoryPhases(line) }
      .getOrElse(Map.empty)
    def gate(): Seq[(String, Double, Double)] = prevSame match {
      case Some((prevTiming, _, prev, _)) =>
        regressions(prevTiming, prev, Timing, times.toSeq,
          prevPhases = prevPhases,
          curPhases = phases.toMap)
      case None => Seq.empty
    }
    // retest-before-flag: a true regression survives an immediate
    // re-measurement; a box-load artifact (another process stealing
    // the cores during that query's 4-run window) usually does not.
    // Round 8's three driver-flagged regressions all read old-normal
    // on a same-HEAD rerun — this pass makes the gate absorb that
    // class of false alarm instead of crying wolf.
    val firstPass = gate()
    if (firstPass.nonEmpty) {
      System.err.println(s"BENCH retesting ${firstPass.size} suspected " +
        s"regressions: ${firstPass.map(_._1).mkString(", ")}")
      firstPass.foreach { case (n, _, _) =>
        // keep the better of the two passes — TIME AND SPLIT TOGETHER
        // (if a pass's time is kept, its phase snapshot must be kept
        // with it, or the residual is computed against the other
        // run's phase sum) — where "better" means the smaller of the
        // SAME QUANTITY THE GATE COMPARED for this query: the
        // spark_residual only when the gate itself gated on residuals
        // (prev history AND the flagged pass both carry a split —
        // keeping by wall there would let Derby noise discard a
        // retest that showed an old-normal residual), the wall total
        // otherwise. A query that gained its split THIS round was
        // wall-gated, so its retest must keep by wall too: keeping a
        // worse wall because its residual looked smaller would
        // re-confirm at the final gate() the very number the retest
        // just beat.
        val firstTime = times(n)
        val firstPhases = phases.get(n)
        // the retry counter follows the KEPT pass (r15 advice): the
        // field's contract is "extra samples behind the kept min",
        // so a retest pass that replaces the time carries ONLY its
        // own retries, and a discarded retest's retries are dropped
        // with its time
        val firstRetries = noiseRetries.remove(n)
        val residualGated =
          prevPhases.contains(n) && firstPhases.nonEmpty
        measure(n) // min-of-3 again
        val keepFirst = keepFirstPass(firstTime, firstPhases,
          times.get(n), phases.get(n), residualGated)
        if (keepFirst) {
          times(n) = firstTime
          firstPhases match {
            case Some(p) => phases(n) = p
            case None => phases.remove(n): Unit
          }
          noiseRetries.remove(n)
          firstRetries.foreach(noiseRetries(n) = _)
        }
      }
    }
    val confirmed = gate()
    confirmed.foreach { case (n, was, now) =>
      System.err.println(f"BENCH REGRESSION $n: $was%.2f s -> $now%.2f s")
    }
    val regressed = confirmed.size

    // The driver captures only the LAST ~2000 chars of stdout and parses
    // the JSON line out of that window; sbt appends its own ~90-char
    // "[success] Total time" trailer. A full-precision map of 67+ queries
    // is ~2400 chars and silently fails to parse (BENCH_r03/r04). Keep
    // the stdout line under 1700 chars by dropping the FASTEST queries
    // first (the slow ones are the ones worth grading); the full-precision
    // map always lands in $BENCH_OUT (and full-suite runs append it to
    // $BENCH_HISTORY).
    println(stdoutLine(times.toSeq, errors.toSeq, sfDir,
      bucketOverflows = bucketOverflows, regressed = regressed,
      filtered = args.nonEmpty, phases = phases.toMap,
      noiseRetries = noiseRetries.toMap))
    val json = fullJson(times.toSeq, errors.toSeq, sfDir,
      bucketOverflows, regressed, filtered = args.nonEmpty,
      phases = phases.toMap, noiseRetries = noiseRetries.toMap)
    val out = sys.env.getOrElse("BENCH_OUT", "bench_out.json")
    Files.writeString(Paths.get(out), json + "\n")
    // append-only archive of FULL-suite runs: bench_out.json is
    // overwritten every round, which already cost us round 6's full
    // per-query data. Filtered (query-subset) runs stay out of it —
    // selectBaseline skips their lines anyway
    if (args.isEmpty)
      Files.writeString(histPath, json + "\n",
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    // per-ROUND full artifact (r16 verdict ask #5): the driver's
    // durable BENCH_r<N>.json is the char-budgeted stdout scrape,
    // which dropped 106 of 151 queries in r16 — cross-round per-query
    // forensics (exactly what rounds 13–16 kept needing) could not
    // see 70% of the suite. Full-suite runs also land the complete
    // map + phases in bench_full_r<N>.json, N = GRAFT_ROUND if set,
    // else inferred as max existing BENCH_r*.json + 1 (the driver
    // writes BENCH_r<N> only at round END, so during round N the max
    // on disk is N-1; re-runs within a round overwrite the same
    // file, which is the intent — latest full map wins). Filtered
    // (query-subset) runs skip it: a 1-entry map must never clobber
    // the round's full record.
    if (args.isEmpty) {
      val roundRe = """BENCH_r(\d+)\.json""".r
      val round = sys.env.get("GRAFT_ROUND").orElse {
        Option(new java.io.File(".").list()).map(_.toSeq.collect {
          case roundRe(n) => n.toInt
        }).filter(_.nonEmpty).map(ns => (ns.max + 1).toString)
      }
      round.foreach { r =>
        try Files.writeString(Paths.get(s"bench_full_r$r.json"),
          json + "\n")
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println("BENCH could not write bench_full_" +
              s"r$r.json (${e.getClass.getSimpleName}: ${e.getMessage})")
        }
      }
    }
    spark.stop()
  }
}
