package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** Scale guard for LSH pair generation: a degenerate hot bucket (one
  * band key shared by a huge doc population — the "boilerplate band" at
  * corpus scale) must be dropped under the cap with bounded memory, and
  * the truncation must be visible via bucketOverflow, never silent.
  */
class DedupScaleSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def banded = {
    // bucket 999: 10k members (hot); buckets 1/2: a close pair each
    val hot = (1L to 10000L).map(i => (999L, i))
    val smallA = Seq((1L, 20001L), (1L, 20002L))
    val smallB = Seq((2L, 20003L), (2L, 20004L), (2L, 20005L))
    (hot ++ smallA ++ smallB).toDF("band_key", "doc_id")
  }

  test("hot bucket is dropped under the cap; small buckets still pair") {
    val pairs = DedupOps.bucketPairs(banded, Seq("band_key"), maxBucket = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // no pair from the 10k-member bucket (all ids <= 20000)
    assert(pairs.forall { case (a, b) => a > 20000 && b > 20000 })
    assert(pairs == Set((20001L, 20002L), (20003L, 20004L),
      (20003L, 20005L), (20004L, 20005L)))
  }

  test("overflowed buckets are reported, not silently truncated") {
    val ov = DedupOps.bucketOverflow(banded, Seq("band_key"), maxBucket = 50)
      .collect()
    assert(ov.length == 1)
    assert(ov.head.getLong(0) == 999L)
    assert(ov.head.getLong(1) == 10000L)
  }

  test("bucketPairs plans observe cap truncation (BucketAudit fires)") {
    val before = BucketAudit.totalOverflowed.get()
    DedupOps.bucketPairs(banded, Seq("band_key"), maxBucket = 50).collect()
    // QueryExecutionListener delivery is async — poll briefly
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (BucketAudit.totalOverflowed.get() == before &&
        System.nanoTime() < deadline) Thread.sleep(50)
    assert(BucketAudit.totalOverflowed.get() > before,
      "the observe() metric for the dropped hot bucket never reached " +
        "the BucketAudit listener")
  }

  test("the bench's synchronous overflow read sees the observe() metric") {
    // Bench counts bucket_overflows by reading observedMetrics off the
    // executed plan directly (no listener, no async window) — the
    // per-round audit artifact must detect a bound cap deterministically
    val df = DedupOps.bucketPairs(banded, Seq("band_key"), maxBucket = 50)
    graft.Bench.consume(df)
    val hit = df.queryExecution.observedMetrics.exists {
      case (name, row) => name.startsWith("bucket_overflow_") &&
        !row.isNullAt(0) && row.getLong(0) > 0
    }
    assert(hit, "bench bucket_overflows would miss this bound cap")
  }

  test("connected components: chains, isolated pairs, convergence") {
    // one 5-node chain (diameter 4), one pair, one triangle
    val edges = Seq(
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), // chain
      (20L, 21L),                                      // pair
      (30L, 31L), (31L, 32L), (30L, 32L))              // triangle
      .toDF("src", "dst")
    spark.catalog.clearCache()
    // delta-scoped lifecycle assertion (r13 advice): only meaningful
    // when the shared session's cache is empty GOING IN — build.sbt
    // pins Test/parallelExecution := false, so after the clearCache
    // above that is always true today; if parallel suites ever arrive,
    // the guard degrades this check to a no-op instead of failing the
    // test for another suite's live cache.
    val emptyBefore = spark.sharedState.cacheManager.isEmpty
    val labels = DedupOps.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // r13 lifecycle rule: every returning API closes its own caches —
    // the FINAL round's label persist must not outlive the call
    assert(!emptyBefore || spark.sharedState.cacheManager.isEmpty,
      "connectedComponents left catalog cache registrations behind")
    assert((10L to 14L).forall(labels(_) == 10L))
    assert(labels(20L) == 20L && labels(21L) == 20L)
    assert((30L to 32L).forall(labels(_) == 30L))
  }

  test("hub-skew graph: power-law degree, O(log diameter) rounds") {
    // Power-law shape at spec scale: node 0 is a hub carrying ~30% of
    // all edges (the boilerplate-cluster pattern in real near-dup
    // graphs), the rest is long chains — the worst case for plain
    // label propagation AND for per-key balance. The per-round
    // neighbor join concentrates the hub's fan-out in one partition;
    // that stays safe because the map-side partial min-agg collapses
    // the hub partition to one row per node before the shuffle, so no
    // salting is needed — asserted here by the fact that the run
    // completes in log-bounded rounds, and cross-checked for
    // correctness against a driver-side union-find.
    val rnd = new scala.util.Random(7)
    val n = 3000
    val hubEdges = (1 to 900).map(_ => (0L, (rnd.nextInt(n) + 1).toLong))
    // chains of 100: 1-2-...-100, 101-..., each SEPARATE unless the
    // hub happened to touch it — long diameters guaranteed
    val chainEdges = (1 until n).collect {
      case i if i % 100 != 0 => (i.toLong, (i + 1).toLong)
    }
    val edges = (hubEdges ++ chainEdges).toDF("src", "dst")
    val t0 = System.nanoTime()
    val (labelsDf, rounds) =
      DedupOps.connectedComponentsWithRounds(edges, maxIter = 20)
    val labels = labelsDf.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val secs = (System.nanoTime() - t0) / 1e9
    // correctness vs a driver-side union-find over the same edges
    val parent = Array.tabulate(n + 1)(identity)
    def find(x: Int): Int = {
      var r = x; while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    (hubEdges ++ chainEdges).foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = (0 to n).map(i => i.toLong -> find(i).toLong).toMap
    assert(labels == want.filterKeys(labels.contains).toMap)
    assert(labels.keySet == want.keySet)
    // pointer jumping: diameter ≈ 100+ via chains, log2(100) ≈ 7 —
    // a plain propagation would need 50+ rounds and hit the cap
    assert(rounds <= 12, s"took $rounds rounds — jumping not effective")
    assert(secs < 120, f"hub graph took $secs%.1f s")
  }

  test("signature store lifecycle: persist bands, probe a batch, merge") {
    graft.GraftFunctions.register(spark)
    val store = java.nio.file.Files
      .createTempDirectory("sig_store").resolve("bands").toString
    def shingled(docs: Seq[(Long, String)]) =
      docs.toDF("doc_id", "text")
        .filter(length(col("text")) >= 8)
        .withColumn("shingles", expr("md5_shingle60(text)"))
        .select(col("doc_id"), col("shingles"))
    // corpus: two docs; persist their band table ONCE
    val corpus = Seq(1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "an entirely different document about spark engines")
    DedupOps.minhashBanded(shingled(corpus))
      .write.parquet(store)
    // batch 1: a near-copy of doc 1 + a novel doc; probe = band join
    // against the STORE, no corpus re-scan
    val batch = Seq(10L -> "the quick brown fox jumps over the lazy dog",
      11L -> "completely novel text that matches nothing else here")
    val hits = DedupOps.minhashBanded(shingled(batch))
      .join(spark.read.parquet(store)
          .withColumnRenamed("doc_id", "corpus_id"),
        Seq("band", "band_key"))
      .select(col("doc_id"), col("corpus_id")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits.contains((10L, 1L)), "exact copy must collide in bands")
    assert(!hits.exists(_._1 == 11L), "novel doc must not collide")
    // merge: admitted (non-dup) batch docs extend the store for the
    // NEXT batch — the incremental index maintenance step
    DedupOps.minhashBanded(shingled(Seq(batch(1))))
      .write.mode("append").parquet(store)
    val storedDocs = spark.read.parquet(store)
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(storedDocs == Set(1L, 2L, 11L))
  }

  test("adversarial: a bucket past MaxBucketDefault truncates loudly " +
      "at the DEFAULT cap; uncapped buckets are byte-identical") {
    // one band key with MaxBucketDefault+1 members — the first fixture
    // to exceed the cap nobody overrides
    val hot = (1L to (DedupOps.MaxBucketDefault + 1).toLong)
      .map(i => (999L, i))
    val small = Seq((1L, 50001L), (1L, 50002L), (1L, 50003L))
    val df = (hot ++ small).toDF("band_key", "doc_id")
    val before = BucketAudit.totalOverflowed.get()
    val pairs = DedupOps.bucketPairs(df, Seq("band_key"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the small bucket's answer is exactly what it would be alone
    assert(pairs == Set((50001L, 50002L), (50001L, 50003L),
      (50002L, 50003L)))
    // the audit metric reaches the listener (async delivery)
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (BucketAudit.totalOverflowed.get() == before &&
        System.nanoTime() < deadline) Thread.sleep(50)
    assert(BucketAudit.totalOverflowed.get() > before)
    // and bucketOverflow names the key
    val ov = DedupOps.bucketOverflow(df, Seq("band_key")).collect()
    assert(ov.map(_.getLong(0)).toSeq == Seq(999L))
  }

  test("semanticDedup: hot cluster truncates loudly, cold cluster " +
      "still deduplicates") {
    graft.GraftFunctions.register(spark)
    // cluster A: 51 identical vectors (a degenerate hot cluster);
    // cluster B: 4 identical vectors, well separated. ids 0 and 1 seed
    // the deterministic init with one vector from each cluster.
    val a = Seq(1.0, 0.0, 0.0, 0.0)
    val b = Seq(0.0, 1.0, 0.0, 0.0)
    val docs = (Seq((0L, a), (1L, b)) ++
      (2L to 51L).map(i => (i, a)) ++
      (52L to 54L).map(i => (i, b))).toDF("doc_id", "embedding")
    val before = BucketAudit.totalOverflowed.get()
    spark.catalog.clearCache()
    val res = SimilarityOps.semanticDedup(docs, "doc_id", "embedding",
        simThreshold = 0.999, targetClusterSize = 28, maxCluster = 10)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    // r12 ask #1: the API materializes its verdicts and closes its own
    // assignment/capped caches — nothing left for a global clearCache
    assert(spark.sharedState.cacheManager.isEmpty,
      "semanticDedup left catalog cache registrations behind")
    // every doc is present in the output (keep/drop verdict per doc)
    assert(res.size == 55)
    // cold cluster B: all but the min id dropped
    assert(Seq(52L, 53L, 54L).forall(res(_)))
    assert(!res(1L))
    // hot cluster A: truncated under the cap → no pairs → nothing
    // dropped, but LOUDLY: the audit fired
    assert((2L to 51L).forall(i => !res(i)))
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (BucketAudit.totalOverflowed.get() == before &&
        System.nanoTime() < deadline) Thread.sleep(50)
    assert(BucketAudit.totalOverflowed.get() > before,
      "hot semantic cluster was truncated silently")
  }

  test("streaming incremental dedup: probeAndExtend verdicts + store " +
      "growth across micro-batches, driven by foreachBatch") {
    import org.apache.spark.sql.streaming.Trigger
    graft.GraftFunctions.register(spark)
    val root = java.nio.file.Files.createTempDirectory("graft_sdedup")
    val in = root.resolve("in"); val ckpt = root.resolve("ckpt")
    val store = root.resolve("bands").toString
    val out = root.resolve("verdicts").toString
    java.nio.file.Files.createDirectories(in)

    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema("doc_id long, text string")
        .parquet(in.toString + "/*")
      val q = stream.writeStream
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], _: Long) =>
            DedupOps.probeAndExtend(store, b.toDF())
              .write.mode("append").parquet(out)
            ()
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    // batch 1: two novel docs
    Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "an entirely different document about spark engines"))
      .toDF("doc_id", "text").write.parquet(in.resolve("b1").toString)
    runOnce()
    val v1 = spark.read.parquet(out)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toMap
    assert(v1 == Map(1L -> false, 2L -> false))

    // batch 2: one exact copy of doc 1, one novel doc — the copy is
    // flagged against the STORE (doc 1's bands persisted by batch 1)
    Seq((10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "completely novel text that matches nothing else here"))
      .toDF("doc_id", "text").write.parquet(in.resolve("b2").toString)
    runOnce()
    val v2 = spark.read.parquet(out)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toMap
    assert(v2 == Map(1L -> false, 2L -> false, 10L -> true,
      11L -> false))
    // only the novel doc extended the store
    val stored = DedupOps.readStore(spark, store)
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(stored == Set(1L, 2L, 11L))
  }

  test("a pre-hash-layout store fails loudly on probe and on compaction " +
      "(round-10 store format)") {
    graft.GraftFunctions.register(spark)
    val store = java.nio.file.Files
      .createTempDirectory("graft_oldstore").resolve("bands").toString
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "an entirely different document about spark engines"))
      .toDF("doc_id", "text")
    // fabricate an OLD-layout store: the banded rows as persisted
    // before round 10
    val sh = docs.withColumn("shingles",
      org.apache.spark.sql.functions.expr("md5_shingle60(text)"))
      .select($"doc_id", $"shingles")
    DedupOps.minhashBanded(sh).write.parquet(store)
    // a flat (pre-version) store is refused by name, never reseeded
    val e = intercept[IllegalStateException] {
      DedupOps.probeAndExtend(store,
        Seq((3L, "the quick brown fox jumps over the lazy dog"))
          .toDF("doc_id", "text")).collect()
    }
    assert(e.getMessage.contains(store) &&
      e.getMessage.contains("flat pre-version layout"), e.getMessage)
    val c = intercept[IllegalStateException] {
      DedupOps.compactStore(spark, store)
    }
    assert(c.getMessage.contains(store) &&
      c.getMessage.contains("flat pre-version layout"), c.getMessage)
    // neither refusal touched the store
    assert(spark.read.parquet(store).columns.sorted.toSeq ==
      Seq("band", "band_key", "doc_id"))
  }

  test("compactStore collapses per-batch append files and dedupes " +
      "replayed rows without changing verdicts") {
    graft.GraftFunctions.register(spark)
    val store = java.nio.file.Files
      .createTempDirectory("graft_compact").resolve("bands").toString
    // four unrelated docs: each batch admits its doc as one version
    def text(i: Long) = new scala.util.Random(i).alphanumeric
      .filter(_.isLetter).take(80).mkString
    def batch(i: Long) = Seq((i, text(i))).toDF("doc_id", "text")
    (1L to 4L).foreach(i =>
      DedupOps.probeAndExtend(store, batch(i)).collect())
    val fs = graft.util.Fs.forPath(spark, store)
    def pin = graft.catalog.StoreLake.pin(fs, store).get
    assert(pin.versions.size == 4)
    // an all-dup batch (a copy of stored doc 2) commits no version
    val dup = DedupOps.probeAndExtend(store,
      Seq((5L, text(2L))).toDF("doc_id", "text")).collect()
    assert(dup.map(_.getBoolean(1)).toSeq == Seq(true))
    assert(pin.versions.size == 4, "an all-dup batch committed a version")
    // simulate an at-least-once replay: re-commit batch 1's bands as
    // one more version
    val sh = batch(1L).withColumn("shingles",
      org.apache.spark.sql.functions.expr("md5_shingle60(text)"))
      .select($"doc_id", $"shingles")
    val base = pin.base
    graft.catalog.StoreLake.commit(fs, store, _ => Map("base" -> base)) {
      d => DedupOps.bandHashes(sh).write.parquet(d.toString)
    }
    // the parquet files of the versions the newest commit reads
    def files = pin.versions.map(v =>
      new java.io.File(s"$store/v=$v").listFiles()
        .count(f => f.getName.endsWith(".parquet"))).sum
    assert(files >= 5, s"expected >=5 append files, got $files")
    val before = DedupOps.readStore(spark, store).count()
    DedupOps.compactStore(spark, store, targetFiles = 1)
    assert(files == 1, s"compaction left $files files")
    val after = DedupOps.readStore(spark, store).count()
    assert(after == before - 16, // doc 1's 16 replayed bands deduped
      s"expected dedupe of 16 replayed rows: $before -> $after")
    // verdicts unchanged: copy of stored doc 2 hits, novel doc misses
    val v = DedupOps.probeAndExtend(store,
      Seq((20L, text(2L)),
        (21L, "nothing like anything stored before in any way at all"))
        .toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toMap
    assert(v == Map(20L -> true, 21L -> false))

    // a killed compaction (its rewrite written, no commit marker) is
    // invisible: plant an EMPTY uncommitted version above the newest —
    // were it read as a base, the corpus would be forgotten — and the
    // next probe must still see stored doc 3
    DedupOps.readStore(spark, store).limit(0)
      .write.parquet(s"$store/v=${pin.version + 1}")
    val v2 = DedupOps.probeAndExtend(store,
      Seq((30L, text(3L))).toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toMap
    assert(v2 == Map(30L -> true),
      "an uncommitted rewrite hid the store: a copy of stored doc 3 " +
        "read as novel")
  }

  test("a store version's fields live in its own dir: a garbled newest " +
      "marker and a killed writer's version with no fields file leave " +
      "readers and writers working") {
    graft.GraftFunctions.register(spark)
    val store = java.nio.file.Files
      .createTempDirectory("graft_fields").resolve("bands").toString
    def text(i: Long) = new scala.util.Random(i).alphanumeric
      .filter(_.isLetter).take(80).mkString
    def docs(ids: Long*) = ids.map(i => (i, text(i))).toDF("doc_id", "text")
    def verdicts(ids: Long*) = DedupOps.probeAndExtend(store, docs(ids: _*))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    def storedDocs = DedupOps.readStore(spark, store)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    verdicts(1L)
    val fs = graft.util.Fs.forPath(spark, store)
    // markers carry no content a reader needs: garble the newest one
    val marker = new org.apache.hadoop.fs.Path(store, "_commits/1")
    val out = fs.create(marker, true)
    try out.write("base=".getBytes("UTF-8")) finally out.close()
    // a writer killed inside its commit, after its rows and before its
    // fields file: version 2 holds doc 9's bands and nothing else
    val sh = docs(9L).withColumn("shingles", expr("md5_shingle60(text)"))
      .select($"doc_id", $"shingles")
    DedupOps.bandHashes(sh).write.parquet(s"$store/v=2")
    assert(storedDocs == Set(1L))
    assert(verdicts(1L, 9L) == Map(1L -> true, 9L -> false))
    // that append claimed version 2 over the orphan and committed it
    assert(graft.catalog.StoreLake.pin(fs, store).get.version == 2L)
    assert(storedDocs == Set(1L, 9L))
    DedupOps.compactStore(spark, store)
    assert(storedDocs == Set(1L, 9L))
    assert(verdicts(9L, 10L) == Map(9L -> true, 10L -> false))
  }

  test("lshVerifiedPairs' large-stratum join evaluates the intersect " +
      "ONCE in the join condition (the Catalyst filter-inlining " +
      "regression class)") {
    // One bucket above PairFormBucketMax so the rows-form stratum
    // engages. The r12 landing measured that writing the threshold as
    // a post-join filter on a computed jacc column gets pushed into
    // the join condition with the alias INLINED — the intersect
    // evaluated twice in the condition plus once in the projection
    // (3× the verify arithmetic at sf10). This pins the landed form:
    // any join line carrying sorted_intersect_count carries it once.
    graft.GraftFunctions.register(spark)
    val docs = (1L to (DedupOps.PairFormBucketMax + 8L))
    val banded = docs.map(i => (99L, i)).toDF("band_key", "doc_id")
    val sh = docs.map(i =>
        (i, Seq(i, i + 100L, i + 200L, 1000L, 1001L).sorted))
      .toDF("doc_id", "shingles")
    // materialize=false: the default eager form returns a checkpoint
    // scan whose plan no longer shows the join — the pin needs the
    // lazy strata plan (and owns the cache cleanup contract that
    // comes with it)
    val v = DedupOps.lshVerifiedPairs(banded, Seq("band_key"), sh, 0.8,
      ordered = false, materialize = false)
    v.collect()
    val plan = v.queryExecution.executedPlan.toString
    spark.catalog.clearCache()
    val joinLines = plan.linesIterator.filter(l =>
      l.contains("Join") && l.contains("sorted_intersect_count")).toSeq
    assert(joinLines.nonEmpty,
      s"expected the intersect inside a join condition — did the " +
        s"large stratum not engage?\n$plan")
    joinLines.foreach { l =>
      val n = "sorted_intersect_count".r.findAllIn(l).size
      assert(n == 1,
        s"a join condition evaluates sorted_intersect_count $n times " +
          s"(the inlined-filter regression):\n$l")
    }
  }

  test("lshVerifiedPairs (default, materializing) leaves no catalog " +
      "cache registrations — strata and bypass paths alike") {
    graft.GraftFunctions.register(spark)
    // bucket 99: 40 docs (> PairFormBucketMax -> large stratum), docs
    // 1 and 2 identical; bucket 5: an identical pair (small stratum)
    val big = (1L to (DedupOps.PairFormBucketMax + 8L))
    val banded = (big.map(i => (99L, i)) ++ Seq((5L, 41L), (5L, 42L)))
      .toDF("band_key", "doc_id")
    val sh = (big.map { i =>
        val base = if (i <= 2) 0L else i // docs 1,2 share a set
        (i, Seq(base, base + 100L, base + 200L, 1000L, 1001L).sorted)
      } ++ Seq(41L, 42L).map(i => (i, Seq(7L, 8L, 9L, 10L, 11L))))
      .toDF("doc_id", "shingles")
    spark.catalog.clearCache()
    def run(bypass: Long): Set[(Long, Long)] =
      DedupOps.lshVerifiedPairs(banded, Seq("band_key"), sh, 0.8,
          ordered = false, bypassMaxBandedRows = bypass)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val strata = run(0L) // nBanded > 0 -> the two-strata path
    assert(spark.sharedState.cacheManager.isEmpty,
      "the strata path left catalog cache registrations behind")
    val bypassed = run(Long.MaxValue) // the pairs-form bypass
    assert(spark.sharedState.cacheManager.isEmpty,
      "the bypass path left catalog cache registrations behind")
    assert(strata == bypassed, "the bypass changed the verified pair set")
    assert(strata == Set((1L, 2L), (41L, 42L)),
      s"expected one pair per stratum, got $strata")
    // a CALLER-OWNED banded cache survives the call (unpersisting it
    // would drop the caller's registration — CacheManager keys by
    // plan, not handle) and the result is unchanged
    val mine = banded.cache()
    mine.count()
    val warm = DedupOps.lshVerifiedPairs(mine, Seq("band_key"), sh, 0.8,
        ordered = false, bypassMaxBandedRows = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(warm == strata)
    assert(spark.sharedState.cacheManager
        .lookupCachedData(
          mine.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
        .isDefined,
      "lshVerifiedPairs unpersisted a cache the CALLER owned")
    mine.unpersist(true)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("empty shingle arrays never verify (the 0 >= 0 rearrangement " +
      "escape, both verify forms)") {
    graft.GraftFunctions.register(spark)
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val shE2 = Seq((1L, Seq.empty[Long]), (2L, Seq.empty[Long]))
      .toDF("doc_id", "shingles")
    // per-pair form: integral (0.8) and non-integral (0.75) thresholds
    assert(DedupOps.verifyJaccard(pairs, shE2, 0.8).count() == 0)
    assert(DedupOps.verifyJaccard(pairs, shE2, 0.75).count() == 0)
    // rows form: a bucket of empty-shingle docs collides in EVERY
    // band — each pair must be rejected inside the join condition
    // before a null-jacc row can surface
    val docs = (1L to (DedupOps.PairFormBucketMax + 8L))
    val banded = docs.map(i => (7L, i)).toDF("band_key", "doc_id")
    val shE = docs.map(i => (i, Seq.empty[Long])).toDF("doc_id", "shingles")
    assert(DedupOps.lshVerifiedPairs(banded, Seq("band_key"), shE, 0.8,
      ordered = false, bypassMaxBandedRows = 0L).count() == 0)
  }

  test("non-default banding: pairFormBucketMax(bands) and any forced " +
      "stratification verify the same pair set (8 bands of 16)") {
    graft.GraftFunctions.register(spark)
    // 60 distinct docs; 10 isolated identical pairs (small buckets);
    // one 20-doc identical cluster (bucket size 20 > pairFormBucketMax
    // (8 bands) = 16 -> the large stratum genuinely engages)
    val loner = (0L until 60L).map { i =>
      (i, (0 until 40).map(w => s"w${(i * 7 + w * 3) % 9973}q$w")
        .mkString(" "))
    }
    val pairsFix = (0L until 10L).flatMap { i =>
      val t = (0 until 40).map(w => s"p${i}x${(w * 5) % 83}y$w")
        .mkString(" ")
      Seq((3000L + i, t), (4000L + i, t))
    }
    val clusterText = (0 until 40).map(w => s"cl${(w * 11) % 71}z$w")
      .mkString(" ")
    val cluster = (0L until 20L).map(i => (5000L + i, clusterText))
    val df = (loner ++ pairsFix ++ cluster).toDF("doc_id", "text")
    val sh = df.filter(length(col("text")) >= 8)
      .withColumn("shingles", expr("md5_shingle60(text)"))
      .select(col("doc_id"), col("shingles"))
    val sig = sh.select(col("doc_id"),
      expr("minhash_sig(transform(shingles, x -> shiftright(x, 32)))")
        .as("sig"))
    val banded8 = DedupOps.bandedFromSig(sig, bands = 8, rowsPerBand = 16)
    def pairsAt(pfm: Int): Set[(Long, Long)] =
      DedupOps.lshVerifiedPairs(banded8, Seq("band", "band_key"), sh,
          0.8, ordered = false, pairFormMax = pfm,
          bypassMaxBandedRows = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // ground truth: the classic single-stratum distinct-pairs form
    val truth = DedupOps.verifyJaccard(
        DedupOps.bucketPairs(banded8, Seq("band", "band_key")), sh, 0.8,
        ordered = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.size >= 10 + 190, // the identical pairs + C(20,2)
      s"fixture produced only ${truth.size} verified pairs — vacuous")
    assert(pairsAt(DedupOps.pairFormBucketMax(8)) == truth)
    assert(pairsAt(Int.MaxValue) == truth) // everything small-stratum
    assert(pairsAt(1) == truth)            // everything large-stratum
    assert(DedupOps.pairFormBucketMax(8) == 16 &&
      DedupOps.PairFormBucketMax == DedupOps.pairFormBucketMax(16))
  }

  test("cap exactly at bucket size keeps the bucket") {
    val df = Seq((7L, 1L), (7L, 2L), (7L, 3L)).toDF("band_key", "doc_id")
    val pairs = DedupOps.bucketPairs(df, Seq("band_key"), maxBucket = 3)
      .collect()
    assert(pairs.length == 3)
    assert(DedupOps.bucketOverflow(df, Seq("band_key"), maxBucket = 3)
      .count() == 0)
  }

  // ------------------------------------------------------------------
  // Two-level coarse quantizer (VERDICT r10 ask #1): on a planted
  // corpus of SEPARATED direction-clusters, the √k-super probe must
  // agree with the flat argmax/argmin row for row — for the d9 cosine
  // form AND semanticDedup's L2 form. k = 100 > TwoLevelMinK so the
  // hierarchical path genuinely engages; centroid ids interleave the
  // 10 families (cid % 10 = family) so the deterministic grouping init
  // seeds one super per family and each family becomes one group.
  // ------------------------------------------------------------------

  private def plantedCentroids: Array[(Int, Array[Double])] = {
    val d = 16; val fams = 10; val perFam = 10
    (0 until fams * perFam).map { i =>
      val f = i % fams; val j = i / fams
      val v = Array.fill(d)(0.0)
      v(f) = 1.0
      v(10 + (j % 6)) = 0.03 * (j + 1) // distinct within the family
      (i, v)
    }.toArray
  }

  private def plantedRows: Seq[(Long, Array[Double])] = {
    val cents = plantedCentroids
    (0 until 400).map { r =>
      val (_, cv) = cents(r % cents.length)
      val v = cv.clone()
      v(r % v.length) += 0.0005 // tiny unique tilt, never argmax-flipping
      (r.toLong, v)
    }
  }

  test("two-level cosine argmax (d9 shape) ≡ flat argmax on a planted " +
      "separated-cluster corpus at k=100") {
    assert(plantedCentroids.length > KMeans.TwoLevelMinK)
    val rows = plantedRows
    val df = rows.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "v")
    val cids = plantedCentroids.map(_._1)
    val cvs: Array[Seq[Double]] = plantedCentroids.map(_._2.toSeq)
    val got = SimilarityOps.withCosArgmaxCid(df, cids, cvs)
      .select("vec_id", "cid")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // flat reference: max round(cos, 6), ties to the lowest cid
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      BigDecimal(dot / (na * nb))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val disagree = rows.flatMap { case (id, v) =>
      val flat = plantedCentroids
        .map { case (c, cv) => (c, cos(v, cv)) }
        .sortBy { case (c, r) => (-r, c) }.head._1
      if (got(id) != flat) Some((id, got(id), flat)) else None
    }
    assert(disagree.isEmpty,
      s"two-level cosine argmax diverged from flat on " +
        s"${disagree.size}/400 planted rows, e.g. ${disagree.take(5)}")
    // the r12 nprobe1=2 knob runs a DIFFERENT code path (ranked
    // supers, union-of-children argmax) — pin it to the same flat
    // semantics on the separated corpus
    val got2 = SimilarityOps.withCosArgmaxCid(df, cids, cvs, nprobe1 = 2)
      .select("vec_id", "cid")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got2 == got,
      "nprobe1=2 cosine argmax diverged from nprobe1=1 on the " +
        "planted separated corpus (both must equal flat)")
  }

  test("two-level L2 assignment (semanticDedup shape) ≡ flat " +
      "KMeans.assign on the planted corpus at k=100") {
    val cents = plantedCentroids.map(_._2)
    val df = plantedRows.map { case (id, v) => (id, v.toSeq) }
      .toDF("doc_id", "vec")
    val flat = KMeans.assign(df, "vec", cents)
      .select("doc_id", "cid")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val two = KMeans.assignHierarchical(df, "vec", cents)
      .select("doc_id", "cid")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val disagree = flat.keys.filter(id => flat(id) != two(id))
    assert(disagree.isEmpty,
      s"two-level L2 assignment diverged from flat on " +
        s"${disagree.size}/400 planted rows")
    // and the hierarchical path genuinely engaged (k > TwoLevelMinK)
    assert(cents.length > KMeans.TwoLevelMinK)
    // the r12 nprobe1=2 knob (ranked supers, union-of-children argmin)
    val two2 = KMeans.assignHierarchical(df, "vec", cents, nprobe1 = 2)
      .select("doc_id", "cid")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(two2 == flat,
      "nprobe1=2 L2 assignment diverged from flat on the planted corpus")
  }
}
