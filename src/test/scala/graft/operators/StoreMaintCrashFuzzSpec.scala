package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.catalog.FaultInjectingFs

/** Randomized kill-point fuzz for the vector-store MAINTENANCE pair
  * ([[SimilarityOps.splitHotCells]] / [[SimilarityOps.mergeColdCells]])
  * — the store-side twin of LakeCrashFuzzSpec, reusing its
  * fault-injecting filesystem (every mutating FS call counts toward an
  * armed kill point; from the kill on, all further mutations fail, so
  * on-disk state is exactly what a process death leaves).
  *
  * The claim under test is the store protocol's
  * ([[graft.catalog.StoreLake]]): each maintenance call commits ONE
  * version holding its moved rows and its centroid table, so at EVERY
  * point in a run a restarted plain probe pins either the previous
  * version or the new one — never a mix — and gets EXACTLY the global
  * brute-force answer over the original corpus. A kill leaves at most
  * an uncommitted `v=` dir and a claim lock, which no reader sees.
  *
  * After the crashed run, the fuzz also proves LIVENESS: a re-run of
  * the same maintenance call completes over the debris, reaches the
  * maintenance goal (no hot cell / no cold cell), preserves the corpus
  * row set, and fresh ingest + probe still work. */
class StoreMaintCrashFuzzSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def tmp(): String = {
    val d = java.nio.file.Files.createTempDirectory("maintfuzz").toFile
    d.delete(); d.getAbsolutePath
  }

  // ---- corpus (the VectorStoreSpec split shape: deterministic refit) —
  // hot cell 0 = two separable sub-clusters inside the axis-0 halfspace
  // (even ids tilt +0.3, odd ids -0.3), cells 1-3 one vector each
  private def hotVec(id: Long): (Long, Seq[Double]) = {
    val tilt = if (id % 2 == 0) 0.3 + 0.001 * (id % 7)
      else -0.3 - 0.001 * (id % 7)
    (id, Seq(1.0 + 0.01 * (id % 11), tilt, 0.02, 0.02))
  }
  private def axisVec(id: Long): (Long, Seq[Double]) = {
    val axis = (id % 4).toInt
    val base = Array.fill(4)(0.05 + 0.001 * (id % 7))
    base(axis) = 1.0 + 0.01 * (id % 11)
    (id, base.toSeq)
  }
  private def splitCorpus: Seq[(Long, Seq[Double])] =
    (0L until 40L).map(hotVec) ++ Seq(101L, 102L, 103L).map(axisVec)
  // merge shape: cell 0 heavy (stays), cells 1-3 carry 1-2 vectors
  // each → cold under threshold 3, folding into the survivor
  private def mergeCorpus: Seq[(Long, Seq[Double])] =
    (0L until 12L).map(hotVec) ++ Seq(101L, 102L, 103L, 105L).map(axisVec)

  private def centroids: DataFrame = Seq(
    (0, Seq(1.0, 0.0, 0.0, 0.0)), (1, Seq(0.0, 1.0, 0.0, 0.0)),
    (2, Seq(0.0, 0.0, 1.0, 0.0)), (3, Seq(0.0, 0.0, 0.0, 1.0)))
    .toDF("cid", "cv")

  /** A fresh store on failfs, seeded with `table` and `corpus`. */
  private def freshStore(corpus: Seq[(Long, Seq[Double])],
      table: DataFrame = centroids): String = {
    FaultInjectingFs.disarm()
    val store = s"failfs://${tmp()}/store"
    SimilarityOps.extendVectorStore(store, table, corpus.toDF("vec_id", "v"))
    store
  }

  /** Global brute-force top-k for `qv` over `corpus`, the store's
    * determinism contract (cosine rounded half-up to 6, id tiebreak). */
  private def brute(corpus: Seq[(Long, Seq[Double])], qv: Seq[Double],
      k: Int): Seq[(Int, Long)] = {
    def cos6(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      BigDecimal(dot / (na * nb))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    corpus.map { case (id, v) => (id, cos6(qv, v)) }
      .sortBy { case (id, r) => (-r, id) }
      .take(k).zipWithIndex.map { case ((id, _), i) => (i + 1, id) }
  }

  /** What a RESTARTED reader does: a plain probe of every live cell —
    * nothing to heal. */
  private def restartProbe(store: String,
      q: (Long, Seq[Double]), k: Int): Seq[(Int, Long)] =
    SimilarityOps.probeVectorStore(store,
        Seq(q).toDF("vec_id", "v"), k = k, nprobe = liveCids(store).size,
        excludeSelf = false)
      .collect().map(r => (r.getInt(1), r.getLong(2))).toSeq

  private def liveCids(store: String): Set[Int] =
    SimilarityOps.readVectorStore(spark, store)._1
      .select("cid").collect().map(_.getInt(0)).toSet

  private def storedIds(store: String): Set[Long] =
    SimilarityOps.readVectorStore(spark, store)._2
      .select("vec_id").distinct().collect().map(_.getLong(0)).toSet

  /** Kill points: a fixed-seed sample of a clean run's mutation count,
    * always including the first mutation and the protocol-dense tail
    * (the table write, the commit marker, the claim release). */
  private def killPoints(total: Long, seed: Long): Seq[Long] = {
    val rnd = new scala.util.Random(seed)
    (Seq.fill(8)(1L + rnd.nextLong(total)) ++
      Seq(1L, total, total - 1, total - 2, total - 4))
      .distinct.filter(p => p >= 1 && p <= total).sorted
  }

  private def withFailFs[A](body: => A): A = {
    graft.GraftFunctions.register(spark)
    spark.sparkContext.hadoopConfiguration
      .set("fs.failfs.impl", classOf[FaultInjectingFs].getName)
    try body finally FaultInjectingFs.disarm()
  }

  test("sampled crash points through splitHotCells: a restarted probe " +
      "always equals global brute force, the re-run completes over the " +
      "debris, ingest keeps working", graft.SlowTest) {
    withFailFs {
      def split(store: String) =
        SimilarityOps.splitHotCells(spark, store,
          hotCellThreshold = 30L, maxSplitK = 2)
      // query in the even (+0.3) sub-cluster; its top-5 spans the split
      val q = (500L, Seq(1.0, 0.31, 0.02, 0.02))
      val expect = brute(splitCorpus, q._2, 5)

      // clean probe run: mutation count of a full split on this shape
      val pStore = freshStore(splitCorpus)
      FaultInjectingFs.arm(Long.MaxValue)
      assert(split(pStore) == Map(0 -> Seq(4, 5)))
      val total = FaultInjectingFs.ops.get()
      FaultInjectingFs.disarm()
      assert(total > 10, s"split probe saw only $total mutations")
      val points = killPoints(total, 0x5117AB1L)
      info(s"clean split = $total mutations; kill points: " +
        points.mkString(", "))

      points.foreach { k =>
        val store = freshStore(splitCorpus)
        FaultInjectingFs.arm(k)
        val crashed =
          try { split(store); false }
          catch { case scala.util.control.NonFatal(_) => true }
        FaultInjectingFs.disarm()
        val clue = s"split kill@$k (crashed=$crashed)"

        // invariant 1: the restarted reader sees the exact brute-force
        // answer whatever the crash left (the parent's version, or the
        // children's)
        assert(restartProbe(store, q, 5) == expect,
          s"$clue: restarted probe diverged from brute force")

        // invariant 2 (liveness): the re-run rides over the debris and
        // reaches the goal state
        split(store): Unit
        val cids = liveCids(store)
        assert(!cids.contains(0) && cids.size == 5,
          s"$clue: re-run did not reach the split state, table $cids")
        assert(restartProbe(store, q, 5) == expect,
          s"$clue: post-recovery probe diverged")
        assert(storedIds(store) == splitCorpus.map(_._1).toSet,
          s"$clue: corpus rows lost or invented")

        // invariant 3: fresh ingest lands correctly post-recovery
        val extra = Seq(axisVec(201L), axisVec(202L))
        SimilarityOps.extendVectorStore(store, centroids,
          extra.toDF("vec_id", "v"))
        assert(storedIds(store) ==
          splitCorpus.map(_._1).toSet ++ extra.map(_._1),
          s"$clue: post-recovery ingest rows missing")
        assert(
          restartProbe(store, q, 5) ==
            brute(splitCorpus ++ extra, q._2, 5),
          s"$clue: probe after post-recovery ingest diverged")
      }
    }
  }

  test("sampled crash points through a single-commit merge of 68 " +
      "cold cells: every kill point restarts to brute-force parity and " +
      "the re-run retires every cold cell", graft.SlowTest) {
    withFailFs {
      // one unique axis per cell; survivor cell 0 carries few rows,
      // cells 1..nCold one row each — more cold cells than
      // TwoLevelMinK, all retired by ONE commit
      val nCold = 68
      val d = nCold + 1
      def axis(c: Int, id: Long): (Long, Seq[Double]) = {
        val a = Array.fill(d)(0.01)
        a(c) = 1.0 + 0.001 * (id % 7)
        (id, a.toSeq)
      }
      // survivor cell 0 carries SIX rows (just over the cold line) so
      // a k=10 probe MUST fill four slots with moved cold rows — a
      // kill that loses or duplicates one of those rows changes the
      // probe answer, not just the later row-count audit (a 12-row
      // survivor cell would fill all of top-5 by itself and make the
      // parity assertion vacuous for moved rows)
      val corpus = (0L until 6L).map(i => axis(0, i)) ++
        (1 to nCold).map(c => axis(c, 1000L + c))
      val table = (0 to nCold).map(c =>
          (c, Seq.tabulate(d)(i => if (i == c) 1.0 else 0.0)))
        .toDF("cid", "cv")
      def freshChunkStore(): String = freshStore(corpus, table)
      def merge(store: String) =
        SimilarityOps.mergeColdCells(spark, store, coldCellThreshold = 5L)
      // query leaning the survivor axis with a tilt toward axis 7 (a
      // retired cold cell): top-10 = the 6 survivor rows +
      // the axis-7 moved row + 3 more moved rows — moved rows are
      // load-bearing in the parity check at every kill point
      val q = (900L, {
        val a = Array.fill(d)(0.01); a(0) = 1.0; a(7) = 0.6; a.toSeq
      })
      val topK = 10
      val expect = brute(corpus, q._2, topK)
      // the corpus must actually put moved rows inside top-k, or the
      // parity assertions silently stop covering the merge
      assert(expect.count { case (_, id) => id >= 1000L } >= 4,
        s"fuzz corpus no longer places moved rows in top-$topK: $expect")

      val pStore = freshChunkStore()
      FaultInjectingFs.arm(Long.MaxValue)
      val cleanMoved = merge(pStore)
      val total = FaultInjectingFs.ops.get()
      FaultInjectingFs.disarm()
      assert(cleanMoved.keySet == (1 to nCold).toSet,
        s"clean merge must retire all $nCold cold cells, " +
          s"got ${cleanMoved.keySet.size}")
      assert(total > 20, s"merge probe saw only $total mutations")
      val points = killPoints(total, 0xc4a5b2L)
      info(s"clean $nCold-cell merge = $total mutations; " +
        s"kill points: ${points.mkString(", ")}")

      points.foreach { k =>
        val store = freshChunkStore()
        FaultInjectingFs.arm(k)
        val crashed =
          try { merge(store); false }
          catch { case scala.util.control.NonFatal(_) => true }
        FaultInjectingFs.disarm()
        val clue = s"$nCold-cell merge kill@$k (crashed=$crashed)"

        assert(restartProbe(store, q, topK) == expect,
          s"$clue: restarted probe diverged from brute force")

        merge(store) // liveness: completes over the debris
        assert(liveCids(store) == Set(0),
          s"$clue: re-run left cold cids in the table: " +
            liveCids(store))
        assert(restartProbe(store, q, topK) == expect,
          s"$clue: post-recovery probe diverged")
        assert(storedIds(store) == corpus.map(_._1).toSet,
          s"$clue: corpus rows lost or invented")
      }
    }
  }

  test("sampled crash points through mergeColdCells: duplicates stay " +
      "top-k-neutral at every point, the re-run folds the cold cells, " +
      "rows are conserved", graft.SlowTest) {
    withFailFs {
      def merge(store: String) =
        SimilarityOps.mergeColdCells(spark, store, coldCellThreshold = 3L)
      // query leaning axis 1 — its neighborhood crosses the cold cells
      // (101 in cell 1, the axis-1-ish tilts of the hot vectors), so a
      // dup-filled slot or a lost cold row changes the answer
      val q = (600L, Seq(0.1, 1.0, 0.1, 0.1))
      val expect = brute(mergeCorpus, q._2, 5)

      val pStore = freshStore(mergeCorpus)
      FaultInjectingFs.arm(Long.MaxValue)
      val cleanMoved = merge(pStore)
      val total = FaultInjectingFs.ops.get()
      FaultInjectingFs.disarm()
      assert(cleanMoved.nonEmpty, "merge shape produced no cold cells")
      assert(total > 5, s"merge probe saw only $total mutations")
      val points = killPoints(total, 0xc01dce11L)
      info(s"clean merge = $total mutations (moved $cleanMoved); " +
        s"kill points: ${points.mkString(", ")}")

      points.foreach { k =>
        val store = freshStore(mergeCorpus)
        FaultInjectingFs.arm(k)
        val crashed =
          try { merge(store); false }
          catch { case scala.util.control.NonFatal(_) => true }
        FaultInjectingFs.disarm()
        val clue = s"merge kill@$k (crashed=$crashed)"

        assert(restartProbe(store, q, 5) == expect,
          s"$clue: restarted probe diverged from brute force")

        merge(store) // liveness: completes over the debris
        val cids = liveCids(store)
        val counts = SimilarityOps.readVectorStore(spark, store)._2
          .groupBy("cid").count().collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        assert(cids.forall(c => counts.getOrElse(c, 0L) >= 3L),
          s"$clue: a live cell is still cold after the re-run: " +
            s"table $cids, counts $counts")
        // the pinned range still holds the retired cells' rows in the
        // versions below the merge; the rows served are the live cells'
        // only, so a retired row or a re-issued cid serves a vector twice
        val servedTwice = SimilarityOps.pinned(spark, store).get.live
          .groupBy("vec_id").count()
          .filter(org.apache.spark.sql.functions.col("count") > 1).count()
        assert(servedTwice == 0L,
          s"$clue: $servedTwice vectors are served from two cells")
        assert(restartProbe(store, q, 5) == expect,
          s"$clue: post-recovery probe diverged")
        assert(storedIds(store) == mergeCorpus.map(_._1).toSet,
          s"$clue: corpus rows lost or invented")
      }
    }
  }
}
