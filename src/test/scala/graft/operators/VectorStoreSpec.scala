package graft.operators

import java.net.URI
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** A local filesystem that records every file OPEN — the probe for
  * partition pruning: hive partition discovery LISTS every cell dir,
  * but only selected (unpruned) partitions' files are ever opened. */
class OpenCountingFs extends RawLocalFileSystem {
  override def getScheme: String = "openfs"
  override def getUri: URI = URI.create("openfs:///")
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    OpenCountingFs.opened.add(f.toUri.getPath)
    super.open(f, bufferSize)
  }
}
object OpenCountingFs {
  val opened = new ConcurrentLinkedQueue[String]()
  def reset(): Unit = opened.clear()
}

/** The streaming IVF vector store: cell-partitioned postings, probe
  * reads ONLY probed cells (pruning proven by file opens), results
  * match an independent brute-force over the probed cells, replayed
  * appends are rank-neutral. */
class VectorStoreSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  // 4 orthogonal centroids in R^4
  private def centroids: DataFrame = Seq(
    (0, Seq(1.0, 0.0, 0.0, 0.0)), (1, Seq(0.0, 1.0, 0.0, 0.0)),
    (2, Seq(0.0, 0.0, 1.0, 0.0)), (3, Seq(0.0, 0.0, 0.0, 1.0)))
    .toDF("cid", "cv")

  /** The store's centroid table and live rows as of its newest
    * commit. */
  private def tableOf(store: String): DataFrame =
    SimilarityOps.readVectorStore(spark, store)._1
  private def rowsOf(store: String): DataFrame =
    SimilarityOps.readVectorStore(spark, store)._2
  private def liveCids(store: String): Set[Int] =
    tableOf(store).select("cid").collect().map(_.getInt(0)).toSet
  private def pinOf(store: String): graft.catalog.StoreLake.Pin =
    SimilarityOps.pinned(spark, store).get.pin

  /** id's vector leans toward axis (id % 4) with a small unique tilt,
    * so nearest-centroid assignment is unambiguous and cosines are
    * distinct. */
  private def vecs(ids: Seq[Long]): DataFrame =
    ids.map { id =>
      val axis = (id % 4).toInt
      val base = Array.fill(4)(0.05 + 0.001 * (id % 7))
      base(axis) = 1.0 + 0.01 * (id % 11)
      (id, base.toSeq)
    }.toDF("vec_id", "v")

  test("extend→probe lifecycle: probed-cell brute-force parity, " +
      "partition-pruned opens, replay-neutral ranking") {
    graft.GraftFunctions.register(spark)
    spark.sparkContext.hadoopConfiguration
      .set("fs.openfs.impl", classOf[OpenCountingFs].getName)
    val dir = java.nio.file.Files.createTempDirectory("vecstore")
    val store = s"openfs://$dir/store"

    // two ingest batches, all four cells populated
    SimilarityOps.extendVectorStore(store, centroids, vecs(0L to 15L))
    SimilarityOps.extendVectorStore(store, centroids, vecs(16L to 31L))

    // two queries, both leaning to axis 0 → with nprobe=1 only cell 0
    // is probed
    val queries = vecs(Seq(100L, 104L)) // 100 % 4 == 0, 104 % 4 == 0
    OpenCountingFs.reset()
    val got = SimilarityOps.probeVectorStore(store, queries,
      k = 3, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))

    // pruning: every opened STORE file lives under cid=0
    val storeOpens = OpenCountingFs.opened.toArray(Array.empty[String])
      .filter(p => p.contains("/store/") && p.contains("cid="))
    assert(storeOpens.nonEmpty, "probe opened no store files")
    assert(storeOpens.forall(_.contains("cid=0")),
      s"probe opened files outside the probed cell: " +
        storeOpens.filterNot(_.contains("cid=0")).mkString(", "))

    // parity: brute-force top-3 over cell-0 members, same rounding
    val cell0 = (0L to 31L).filter(_ % 4 == 0)
    val expected = queries.as[(Long, Seq[Double])].collect().flatMap {
      case (qId, qv) =>
        def cos(a: Seq[Double], b: Seq[Double]): Double = {
          val dot = a.zip(b).map { case (x, y) => x * y }.sum
          val na = math.sqrt(a.map(x => x * x).sum)
          val nb = math.sqrt(b.map(x => x * x).sum)
          BigDecimal(dot / (na * nb))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        }
        val members = vecs(cell0).as[(Long, Seq[Double])].collect()
        members.filter(_._1 != qId)
          .map { case (nId, nv) => (nId, cos(qv, nv)) }
          .sortBy { case (nId, r) => (-r, nId) }
          .take(3).zipWithIndex
          .map { case ((nId, _), i) => (qId, i + 1, nId) }
    }.toSet
    assert(got.toSet == expected,
      s"probe diverged from brute force over the probed cell:\n" +
        s"got      ${got.sortBy(r => (r._1, r._2)).mkString(", ")}\n" +
        s"expected ${expected.toSeq.sortBy(r => (r._1, r._2)).mkString(", ")}")

    // replay: re-append batch 2 verbatim; ranking must not change
    SimilarityOps.extendVectorStore(store, centroids, vecs(16L to 31L))
    val replay = SimilarityOps.probeVectorStore(store,
      queries, k = 3, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(replay.toSet == got.toSet,
      "a replayed append changed probe rankings")

    // nprobe widening reaches more cells (the recall/latency knob)
    OpenCountingFs.reset()
    SimilarityOps.probeVectorStore(store, queries,
      k = 3, nprobe = 2).collect()
    val cells2 = OpenCountingFs.opened.toArray(Array.empty[String])
      .filter(p => p.contains("/store/") && p.contains("cid="))
      .flatMap(p => "cid=(\\d+)".r.findFirstMatchIn(p).map(_.group(1)))
      .toSet
    assert(cells2.size == 2, s"nprobe=2 should open exactly the two " +
      s"probed cells, opened: $cells2")
  }

  test("cell assignment and probe-cell ranking plans are EXCHANGE-FREE " +
      "(typed-literal argmax — the round-10 crossJoin+window shape " +
      "shuffled n×nlist rows per batch)") {
    graft.GraftFunctions.register(spark)
    val assignPlan = SimilarityOps.assignToCells(centroids, vecs(0L to 63L))
      .queryExecution.executedPlan.toString
    assert(!assignPlan.contains("Exchange"),
      s"assignToCells plans a shuffle/broadcast exchange:\n$assignPlan")
    val probePlan = SimilarityOps
      .probeCells(centroids, vecs(Seq(100L, 101L)), nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(!probePlan.contains("Exchange"),
      s"probeCells plans a shuffle/broadcast exchange:\n$probePlan")
  }

  test("probeVectorStore plans exactly ONE shuffle — the q_id exchange " +
      "shared by the dup-collapse agg and the rank window; payload " +
      "rows never cross an exchange") {
    graft.GraftFunctions.register(spark)
    val dir = java.nio.file.Files.createTempDirectory("vecplan")
    val store = s"$dir/store"
    SimilarityOps.extendVectorStore(store, centroids, vecs(0L to 15L))
    val probe = SimilarityOps.probeVectorStore(store,
      vecs(Seq(100L)), k = 3, nprobe = 2)
    val plan = probe.queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r
      .findAllMatchIn(plan).size
    // 1 = the explicit q_id repartition of slim (q_id, n_id, r) rows;
    // HashPartitioning(q_id) satisfies BOTH the (q_id, n_id) agg's
    // clustered distribution (subset keys) and the window's. A second
    // exchange means either a postings-side shuffle returned (payload
    // bytes on the wire — replays must collapse in the late max-agg,
    // not an early distinct) or the agg/window stopped sharing.
    assert(shuffles == 1,
      s"probe plans $shuffles shuffles (want 1):\n${plan.take(4000)}")
  }

  test("the compaction rewrite plans ONE payload shuffle: cid " +
      "repartition first, replay dedup in place behind it") {
    graft.GraftFunctions.register(spark)
    val dir = java.nio.file.Files.createTempDirectory("veccompactplan")
    val store = s"$dir/store"
    SimilarityOps.extendVectorStore(store, centroids, vecs(0L to 15L))
    val plan = SimilarityOps.compactedCorpusFrame(
        SimilarityOps.pinned(spark, store).get)
      .queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r
      .findAllMatchIn(plan).size
    assert(shuffles == 1,
      s"compaction rewrite plans $shuffles payload shuffles (want 1 — " +
        s"dedup must run in place behind the cid exchange):\n" +
        plan.take(4000))
  }

  test("the maintenance counts pass is parquet-METADATA-bound: zero " +
      "data columns in the scan's ReadSchema, raw-row semantics " +
      "(replays counted, like the scan it replaces)") {
    graft.GraftFunctions.register(spark)
    val dir = java.nio.file.Files.createTempDirectory("veccounts")
    val store = s"$dir/store"
    SimilarityOps.extendVectorStore(store, centroids, vecs(0L to 15L))
    SimilarityOps.extendVectorStore(store, centroids, vecs(Seq(4L, 8L)))
    val counts = SimilarityOps.cellCountsFrame(
      SimilarityOps.pinned(spark, store).get.live)
    // the scale pin: grouping on the PARTITION column must prune the
    // read schema to struct<> — footers + partition paths only, the
    // vector bytes never decoded, O(files) at any store size. If a
    // future store schema change makes cid a data column, this fails
    // and the maintenance entry is suddenly O(rows).
    val scan = counts.queryExecution.executedPlan.toString
    assert(scan.contains("ReadSchema: struct<>"),
      s"maintenance counts read data columns — entry cost is no " +
        s"longer metadata-bound:\n${scan.take(3000)}")
    // raw-row semantics: the replayed appends (4, 8) count twice —
    // same numbers the full groupBy scan produced, and what the
    // hot/cold thresholds are calibrated against (a replayed row costs
    // a probe the same as a distinct one)
    val got = counts.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == Map(0 -> 6L, 1 -> 4L, 2 -> 4L, 3 -> 4L),
      s"per-cell counts wrong: $got")
  }

  test("compactVectorStore collapses per-cell small files, preserves " +
      "probe results byte-for-byte, and flags a planted hot cell") {
    graft.GraftFunctions.register(spark)
    val dir = java.nio.file.Files.createTempDirectory("vecstorec")
    val store = s"$dir/store"
    // plant: cell 0 gets 16 vectors across 4 separate appends (4+
    // files); cells 1–3 get 1 vector each — threshold 12 makes ONLY
    // cell 0 hot
    val hotIds = (0L to 60L by 4) // all ≡ 0 (mod 4) → cell 0
    hotIds.grouped(4).foreach { chunk =>
      SimilarityOps.extendVectorStore(store, centroids, vecs(chunk.toSeq))
    }
    SimilarityOps.extendVectorStore(store, centroids, vecs(Seq(1L, 2L, 3L)))
    // the cell's files across the versions the newest commit reads
    def cellFiles(c: Int): Int = pinOf(store).versions.map { v =>
      Option(new java.io.File(s"$store/v=$v/cid=$c").listFiles())
        .fold(0)(_.count(_.getName.endsWith(".parquet")))
    }.sum
    assert(cellFiles(0) >= 4,
      s"setup should leave ≥4 small files in cell 0, saw ${cellFiles(0)}")
    val queries = vecs(Seq(100L, 102L)) // cells 0 and 2
    val before = SimilarityOps.probeVectorStore(store,
      queries, k = 5, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    val hot = SimilarityOps.compactVectorStore(spark, store,
      hotCellThreshold = 12L)
    assert(hot == Map(0 -> hotIds.size.toLong),
      s"hot-cell audit should flag exactly cell 0 at ${hotIds.size} " +
        s"rows, got $hot")
    assert(cellFiles(0) == 1,
      s"compaction left ${cellFiles(0)} files in cell 0 — not collapsed")
    val after = SimilarityOps.probeVectorStore(store,
      queries, k = 5, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(after == before,
      "compaction changed probe results")
    // the compaction is its own base: the newest commit reads it alone
    val pin = pinOf(store)
    assert(pin.versions == Seq(pin.version) && pin.base == pin.version,
      s"compaction did not commit its own base: $pin")
  }

  test("splitHotCells: a planted hot cell splits into children, probe " +
      "results are unchanged while the probed row count drops, the " +
      "centroid table swaps crash-safely, debris never lingers") {
    graft.GraftFunctions.register(spark)
    spark.sparkContext.hadoopConfiguration
      .set("fs.openfs.impl", classOf[OpenCountingFs].getName)
    val dir = java.nio.file.Files.createTempDirectory("vecsplit")
    val store = s"openfs://$dir/store"

    // hot cell 0 = TWO separable sub-clusters inside the axis-0
    // halfspace: even ids lean (1, +0.3, …), odd ids (1, -0.3, …) —
    // all assign to centroid 0 among the four axes, and a k'=2 refit
    // (init = ids 0 and 1, one per sub-cluster) recovers the split
    val hotVecs = (0L until 40L).map { id =>
      val tilt = if (id % 2 == 0) 0.3 + 0.001 * (id % 7)
        else -0.3 - 0.001 * (id % 7)
      (id, Seq(1.0 + 0.01 * (id % 11), tilt, 0.02, 0.02))
    }.toDF("vec_id", "v")
    SimilarityOps.extendVectorStore(store, centroids, hotVecs)
    SimilarityOps.extendVectorStore(store, centroids,
      vecs(Seq(101L, 102L, 103L))) // cells 1–3, one vector each
    // external query in the even (+0.3) sub-cluster: its true top-5
    // all live there, so a post-split nprobe=1 probe of the matching
    // child returns the SAME answer from half the rows
    val q = Seq((500L, Seq(1.0, 0.31, 0.02, 0.02))).toDF("vec_id", "v")
    val before = SimilarityOps.probeVectorStore(store, q,
      k = 5, nprobe = 1, excludeSelf = false)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet

    val versionsBefore = pinOf(store).versions
    val mapping = SimilarityOps.splitHotCells(spark, store,
      hotCellThreshold = 30L, maxSplitK = 2)
    assert(mapping == Map(0 -> Seq(4, 5)),
      s"expected cell 0 → children (4, 5), got $mapping")
    // ONE commit carries the children and the new table
    val split = pinOf(store)
    assert(split.versions == versionsBefore :+ split.version &&
      split.fields("centroids") == split.version,
      s"the split did not commit one version with its table: $split")
    assert(rowsOf(store).filter(col("cid") === 0).count() == 0L,
      "the split parent's rows are still served")
    val newCids = liveCids(store)
    assert(newCids == Set(1, 2, 3, 4, 5),
      s"centroid table after split should be children + untouched, " +
        s"got $newCids")

    OpenCountingFs.reset()
    val after = SimilarityOps.probeVectorStore(store, q,
      k = 5, nprobe = 1, excludeSelf = false)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(after == before,
      s"splitting the hot cell changed probe results:\n" +
        s"before $before\nafter  $after")
    // scan drop: the probe now opens exactly ONE child cell holding
    // half the parent's rows
    val openedCells = OpenCountingFs.opened.toArray(Array.empty[String])
      .filter(p => p.contains("/store/") && p.contains("cid="))
      .flatMap(p => "cid=(\\d+)".r.findFirstMatchIn(p).map(_.group(1)))
      .toSet
    // the pruning claims: exactly one CHILD is read (the sibling is
    // pruned — the scan halved) and the retired parent, whose rows stay
    // in the pinned range until the next compaction, is never touched
    val probedChild = openedCells.intersect(Set("4", "5"))
    assert(probedChild.size == 1,
      s"post-split probe should read exactly one child cell, " +
        s"opened: $openedCells")
    assert(!openedCells.contains("0"),
      s"post-split probe touched the dead parent cell: $openedCells")
    val childRows = rowsOf(store)
      .filter(col("cid").isin(probedChild.map(_.toInt).toSeq: _*))
      .count()
    assert(childRows == 20L,
      s"the probed child should hold half the parent's 40 rows, " +
        s"has $childRows")
    // untouched cells still probeable; total rows conserved
    assert(rowsOf(store).count() == 43L)
    // a second pass over the now-cool store is a no-op
    assert(SimilarityOps.splitHotCells(spark, store,
      hotCellThreshold = 30L, maxSplitK = 2).isEmpty)
    // a killed split's debris (children written, no commit marker) is
    // invisible: plant an uncommitted version holding a cell 99, and
    // neither the served rows nor the next split see it
    val orphan = s"$dir/store/v=${split.version + 1}"
    vecs(Seq(777L)).withColumn("cid", lit(99))
      .select(col("cid"), col("vec_id"), col("v"))
      .write.partitionBy("cid").parquet(orphan)
    assert(rowsOf(store).filter(col("vec_id") === 777L).count() == 0L,
      "an uncommitted version's rows are served")
    assert(SimilarityOps.splitHotCells(spark, store,
      hotCellThreshold = 30L, maxSplitK = 2).isEmpty)
    assert(pinOf(store) == split, "a no-op split committed a version")
  }

  test("a vector served from TWO probed cells (a replay assigned " +
      "after the table changed) fills ONE top-k slot") {
    graft.GraftFunctions.register(spark)
    val dir = java.nio.file.Files.createTempDirectory("vecdup")
    val store = s"$dir/store"
    SimilarityOps.extendVectorStore(store, centroids, vecs(0L to 15L))
    // plant the state: a committed version holding vec 0 (cell 0) in
    // LIVE cell 1 too — a replay routed by a later table lands so
    val base = pinOf(store)
    graft.catalog.StoreLake.commit(graft.util.Fs.forPath(spark, store),
        store, _ => base.fields) { d =>
      vecs(Seq(0L)).withColumn("cid", lit(1))
        .select(col("cid"), col("vec_id"), col("v"))
        .write.partitionBy("cid").parquet(d.toString)
    }
    // query leans axis 0; its second-ranked cell ties to cid 1 — both
    // copies of vec 0 are probe candidates
    val q = vecs(Seq(100L))
    val got = SimilarityOps.probeVectorStore(store, q,
        k = 3, nprobe = 2, excludeSelf = false)
      .collect().map(r => (r.getInt(1), r.getLong(2))).toSeq
    assert(got.map(_._2).distinct.length == got.length,
      s"a cross-cell duplicate filled multiple top-k slots: $got")
    assert(got.map(_._2).contains(0L),
      s"the duplicated vector must still be served once: $got")
  }

  test("an append stays O(batch): it opens no posting file of an " +
      "existing version, only the newest version's fields file and the " +
      "centroid table") {
    graft.GraftFunctions.register(spark)
    spark.sparkContext.hadoopConfiguration
      .set("fs.openfs.impl", classOf[OpenCountingFs].getName)
    val dir = java.nio.file.Files.createTempDirectory("vecappend")
    val store = s"openfs://$dir/store"
    SimilarityOps.extendVectorStore(store, centroids, vecs(0L to 15L))
    SimilarityOps.extendVectorStore(store, centroids, vecs(16L to 31L))
    OpenCountingFs.reset()
    SimilarityOps.extendVectorStore(store, centroids, vecs(32L to 47L))
    val opened = OpenCountingFs.opened.toArray(Array.empty[String])
      .filter(_.contains("/store/"))
    assert(opened.nonEmpty, "the append read neither fields file nor table")
    assert(opened.forall(p => p.endsWith("/v=2/_store") ||
        p.contains("/_centroids/")),
      s"an append opened existing store data: ${opened.mkString(", ")}")
    assert(rowsOf(store).count() == 48L)
  }

  test("a cid a merge retired is never issued again while its rows " +
      "sit in the pinned range") {
    graft.GraftFunctions.register(spark)
    val dir = java.nio.file.Files.createTempDirectory("vecretired")
    val store = s"$dir/store"
    // cell 0 hot (the split shape's two sub-clusters); cells 1 and 2
    // two rows each; cell 3 — the HIGHEST cid — one row, cold at 2
    val hotVecs = (0L until 40L).map { id =>
      val tilt = if (id % 2 == 0) 0.3 + 0.001 * (id % 7)
        else -0.3 - 0.001 * (id % 7)
      (id, Seq(1.0 + 0.01 * (id % 11), tilt, 0.02, 0.02))
    }
    val corpus = hotVecs ++
      vecs(Seq(101L, 105L, 102L, 106L, 103L)).as[(Long, Seq[Double])]
        .collect().toSeq
    SimilarityOps.extendVectorStore(store, centroids,
      corpus.toDF("vec_id", "v"))
    assert(SimilarityOps.mergeColdCells(spark, store,
      coldCellThreshold = 2L).keySet == Set(3))
    // cell 3's row still sits in the range (no compaction ran): the
    // split's children must skip cid 3, or it would serve that row
    val mapping = SimilarityOps.splitHotCells(spark, store,
      hotCellThreshold = 30L, maxSplitK = 2)
    assert(mapping == Map(0 -> Seq(4, 5)),
      s"a child re-issued the retired cid: $mapping")
    assert(liveCids(store) == Set(1, 2, 4, 5))
    val served = rowsOf(store).select("vec_id").collect()
      .map(_.getLong(0)).toSeq
    assert(served.sorted == corpus.map(_._1).sorted,
      s"rows lost or served twice: ${served.sorted}")
  }

  // SlowTest tier since r14 (~19 s in-suite — the heaviest vector
  // case; suite-budget ask #7). Runs every round in the bench window.
  test("TwoLevelMinK boundary crossing (r12 ask #2): a 64-cell store " +
      "splits past the boundary (sparse cids, two-level assignment " +
      "engages) with flat-exact assignment, probe parity, and live " +
      "ingest; mergeColdCells crosses back under", graft.SlowTest) {
    graft.GraftFunctions.register(spark)
    val dir = java.nio.file.Files.createTempDirectory("vecboundary")
    val store = s"$dir/store"
    val d = 66
    def axisVec(axis: Int, lead: Double): Seq[Double] = {
      val a = Array.fill(d)(0.01); a(axis) = lead; a.toSeq
    }
    // 64 exact one-hot centroids, cids 0..63 = axes 0..63 — AT the
    // TwoLevelMinK boundary (flat assignment)
    val cents64 = (0 until 64).map(c =>
      (c, Array.tabulate(d)(i => if (i == c) 1.0 else 0.0).toSeq))
    def cents: DataFrame = tableOf(store)

    // postings: hot cell 0 = 40 vectors in two separable sub-clusters
    // (±0.3 on dim 64); cells 1–3 one vector each (cold later); cells
    // 4–63 two vectors each (warm)
    val hotVecs = (0L until 40L).map { id =>
      val a = Array.fill(d)(0.0); a(0) = 1.0 + 0.001 * (id % 7)
      a(64) = if (id % 2 == 0) 0.3 else -0.3
      (id, a.toSeq)
    }
    val coldVecs = (1 to 3).map(ax => (100L + ax, axisVec(ax, 1.0)))
    val warmVecs = (4 to 63).flatMap(ax => Seq(
      (200L + ax, axisVec(ax, 1.0)), (300L + ax, axisVec(ax, 1.1))))
    val all = hotVecs ++ coldVecs ++ warmVecs // 163 vectors
    SimilarityOps.extendVectorStore(store, cents64.toDF("cid", "cv"),
      all.toDF("vec_id", "v"))

    def cos6(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val r = dot / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
      BigDecimal(r).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    // the FLAT control: argmax round-6 cosine, ties to lowest cid —
    // the exact rule the ≤64 path implements
    def flatCid(tbl: Seq[(Int, Seq[Double])], v: Seq[Double]): Int =
      tbl.map { case (c, cv) => (c, cos6(v, cv)) }
        .minBy { case (c, r) => (-r, c) }._1

    // ---- cross UP: split the hot cell → 65 live cids, cid 0 GONE
    // (sparse, non-contiguous id space — the judged worry)
    val mapping = SimilarityOps.splitHotCells(spark, store,
      hotCellThreshold = 30L, maxSplitK = 2)
    assert(mapping.keySet == Set(0) && mapping(0).toSet == Set(64, 65))
    val tbl65 = cents.collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq).toSeq
      .sortBy(_._1)
    assert(tbl65.map(_._1) == ((1 to 65): Range),
      s"expected sparse cids 1..65, got ${tbl65.map(_._1)}")

    // two-level assignment (65 > TwoLevelMinK = 64) must agree with
    // the flat rule ROW FOR ROW on the sparse table
    val reassigned = SimilarityOps.assignToCells(cents,
        all.toDF("vec_id", "v"))
      .collect().map(r => r.getLong(r.fieldIndex("vec_id")) ->
        r.getInt(r.fieldIndex("cid"))).toMap
    all.foreach { case (id, v) =>
      assert(reassigned(id) == flatCid(tbl65, v),
        s"two-level assignment diverged from flat for vec $id: " +
          s"${reassigned(id)} vs ${flatCid(tbl65, v)}")
    }

    // ingest ACROSS the boundary: a new even-sub-cluster vector lands
    // in the matching CHILD cell's directory
    val nv = { val a = Array.fill(d)(0.0); a(0) = 1.0; a(64) = 0.31
      (900L, a.toSeq) }
    SimilarityOps.extendVectorStore(store, cents,
      Seq(nv).toDF("vec_id", "v"))
    val exp900 = flatCid(tbl65, nv._2)
    assert(Set(64, 65).contains(exp900))
    assert(rowsOf(store).filter(col("vec_id") === 900L)
      .select("cid").collect().map(_.getInt(0)).toSeq == Seq(exp900),
      "post-boundary ingest landed in the wrong cell")

    // probe parity at 65 cells: nprobe = all ⇒ the probe must equal a
    // global brute-force top-5 (rank by r desc, id asc)
    val corpus65 = all :+ nv
    val q = { val a = Array.fill(d)(0.0); a(0) = 1.0; a(64) = 0.29
      (500L, a.toSeq) }
    def brute(corpus: Seq[(Long, Seq[Double])], qv: Seq[Double],
        k: Int): Seq[(Int, Long)] =
      corpus.map { case (id, v) => (id, cos6(qv, v)) }
        .sortBy { case (id, r) => (-r, id) }.take(k).zipWithIndex
        .map { case ((id, _), i) => (i + 1, id) }
    val got65 = SimilarityOps.probeVectorStore(store,
        Seq(q).toDF("vec_id", "v"), k = 5, nprobe = 65,
        excludeSelf = false)
      .collect().map(r => (r.getInt(1), r.getLong(2))).toSeq.sorted
    assert(got65 == brute(corpus65, q._2, 5),
      s"probe diverged from brute force above the boundary: $got65")

    // ---- cross DOWN (r12 ask: \"compact/split back under it\"):
    // merge the 1-vector cold cells → 62 live cids ≤ TwoLevelMinK,
    // rows conserved, moved vectors still served
    val merged = SimilarityOps.mergeColdCells(spark, store,
      coldCellThreshold = 2L)
    assert(merged.keySet == Set(1, 2, 3),
      s"expected exactly the 1-vector cells to merge, got $merged")
    val tbl62 = cents.collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq).toSeq
      .sortBy(_._1)
    assert(tbl62.map(_._1) == ((4 to 65): Range),
      s"expected sparse cids 4..65 after the merge, got " +
        s"${tbl62.map(_._1)}")
    assert(rowsOf(store).filter(col("cid").isin(1, 2, 3)).count() == 0L,
      "merged cold cells are still served")
    val rows = rowsOf(store)
    assert(rows.count() == corpus65.size.toLong &&
      rows.select("vec_id").distinct().count() == corpus65.size.toLong,
      "the merge lost or duplicated rows")
    // a moved vector is still served: the axis-1 query's global best
    // IS the moved axis-1 vector, found through its NEW cell
    val q1 = (501L, axisVec(1, 1.0))
    val got62 = SimilarityOps.probeVectorStore(store,
        Seq(q1).toDF("vec_id", "v"), k = 1, nprobe = 62,
        excludeSelf = false)
      .collect().map(r => (r.getInt(1), r.getLong(2))).toSeq
    assert(got62 == Seq((1, 101L)),
      s"the merged axis-1 vector is no longer served: $got62")
    // ingest BACK under the boundary (62 ≤ 64 ⇒ flat path): an axis-5
    // vector lands in cid=5
    SimilarityOps.extendVectorStore(store, cents,
      Seq((901L, axisVec(5, 1.2))).toDF("vec_id", "v"))
    assert(rowsOf(store).filter(col("vec_id") === 901L)
      .select("cid").collect().map(_.getInt(0)).toSeq == Seq(5),
      "post-merge ingest landed in the wrong cell")
    // a second merge pass is a no-op (warm cells all hold ≥2 rows)
    assert(SimilarityOps.mergeColdCells(spark, store,
      coldCellThreshold = 2L).isEmpty)
  }

  test("maintainVectorStore runs one compact→split→merge cycle: " +
      "replays dropped, the hot cell split, cold cells folded, probe " +
      "parity with global brute force before and after") {
    graft.GraftFunctions.register(spark)
    val dir = java.nio.file.Files.createTempDirectory("vecmaint")
    val store = s"$dir/store"
    // hot cell 0: the split test's two-sub-cluster shape (40 rows);
    // cells 1-3 one vector each (cold at threshold 3); plus a replayed
    // append the compact must drop before the thresholds judge counts
    val hotVecs = (0L until 40L).map { id =>
      val tilt = if (id % 2 == 0) 0.3 + 0.001 * (id % 7)
        else -0.3 - 0.001 * (id % 7)
      (id, Seq(1.0 + 0.01 * (id % 11), tilt, 0.02, 0.02))
    }
    val singles = Seq(101L, 102L, 103L).map { id =>
      val axis = (id % 4).toInt
      val base = Array.fill(4)(0.05 + 0.001 * (id % 7))
      base(axis) = 1.0 + 0.01 * (id % 11)
      (id, base.toSeq)
    }
    val corpus = hotVecs ++ singles
    SimilarityOps.extendVectorStore(store, centroids,
      corpus.toDF("vec_id", "v"))
    SimilarityOps.extendVectorStore(store, centroids,
      hotVecs.take(8).toDF("vec_id", "v")) // replay tail

    def cos6(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      BigDecimal(dot / (math.sqrt(a.map(x => x * x).sum) *
          math.sqrt(b.map(x => x * x).sum)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    def brute(qv: Seq[Double], k: Int): Seq[(Int, Long)] =
      corpus.map { case (id, v) => (id, cos6(qv, v)) }
        .sortBy { case (id, r) => (-r, id) }
        .take(k).zipWithIndex.map { case ((id, _), i) => (i + 1, id) }
    def probeAll(qv: Seq[Double], k: Int): Seq[(Int, Long)] = {
      val n = liveCids(store).size
      SimilarityOps.probeVectorStore(store,
          Seq((9000L, qv)).toDF("vec_id", "v"), k = k, nprobe = n,
          excludeSelf = false)
        .collect().map(r => (r.getInt(1), r.getLong(2))).toSeq
    }
    // q0: the even sub-cluster (split coverage); q1: axis 1 — its
    // top-1 is the MERGED vector 101, so the fold is load-bearing
    val q0 = Seq(1.0, 0.31, 0.02, 0.02)
    val q1 = Seq(0.1, 1.0, 0.1, 0.1)
    assert(probeAll(q0, 5) == brute(q0, 5) &&
      probeAll(q1, 3) == brute(q1, 3), "pre-maintenance parity broken")

    val report = SimilarityOps.maintainVectorStore(spark, store,
      hotCellThreshold = 30L, coldCellThreshold = 3L, maxSplitK = 2)
    // compact judged DISTINCT rows (48 raw appends, 40 distinct) and
    // flagged the hot cell at its deduped count
    assert(report.hot == Map(0 -> 40L),
      s"audit should flag cell 0 at 40 distinct rows: ${report.hot}")
    assert(report.split == Map(0 -> Seq(4, 5)),
      s"split should produce children (4, 5): ${report.split}")
    assert(report.merged.keySet == Set(1, 2, 3) &&
      report.merged.values.forall(t => t.nonEmpty &&
        t.toSet.subsetOf(Set(4, 5))),
      s"cold cells must fold into the children: ${report.merged}")
    // post-state: only the children live, every threshold satisfied,
    // rows conserved (replays gone), parity holds on both queries
    val live = liveCids(store)
    assert(live == Set(4, 5), s"post-cycle table: $live")
    val counts = rowsOf(store).groupBy("cid").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set(4, 5) &&
      counts.values.forall(n => n >= 3L && n <= 30L),
      s"post-cycle cells violate the thresholds: $counts")
    assert(rowsOf(store).count() == corpus.size.toLong,
      "replays survived the cycle or rows were lost")
    assert(probeAll(q0, 5) == brute(q0, 5) &&
      probeAll(q1, 3) == brute(q1, 3), "post-maintenance parity broken")
    // a second cycle on the settled store is a no-op
    val again = SimilarityOps.maintainVectorStore(spark, store,
      hotCellThreshold = 30L, coldCellThreshold = 3L, maxSplitK = 2)
    assert(again.hot.isEmpty && again.split.isEmpty &&
      again.merged.isEmpty, s"settled store re-maintained: $again")
  }

  // SlowTest tier (~9 s: two stores through full cycles; the cycle
  // semantics themselves stay default-gated by the test above)
  test("maintainVectorStore cold-leg default: unset derives " +
      "hotCellThreshold/100 (floor 1) and the merge leg RUNS; " +
      "explicit 0 disables it", graft.SlowTest) {
    graft.GraftFunctions.register(spark)
    // derived case: hot=300 → derived cold = max(1, 3) = 3; cells 1-3
    // hold one vector each (under 3 → cold), cell 0 holds 5 (safe)
    val dir = java.nio.file.Files.createTempDirectory("vecmaintdflt")
    val store = s"$dir/store"
    val corpus = vecs(Seq(0L, 4L, 8L, 12L, 16L, // cell 0: 5 rows
      101L, 102L, 103L)) // cells 1, 2, 3: one row each
    SimilarityOps.extendVectorStore(store, centroids, corpus)
    val report = SimilarityOps.maintainVectorStore(spark, store,
      hotCellThreshold = 300L) // coldCellThreshold UNSET
    assert(report.merged.keySet == Set(1, 2, 3),
      s"derived default should fold the 1-row cells: ${report.merged}")
    assert(liveCids(store) == Set(0),
      "only the populated cell should survive")
    assert(rowsOf(store).count() == corpus.count(),
      "rows lost in the default-derived merge")

    // explicit-0 case: same shape, merge leg must NOT run
    val dir2 = java.nio.file.Files.createTempDirectory("vecmaintoff")
    val store2 = s"$dir2/store"
    SimilarityOps.extendVectorStore(store2, centroids, corpus)
    val off = SimilarityOps.maintainVectorStore(spark, store2,
      hotCellThreshold = 300L, coldCellThreshold = 0L)
    assert(off.merged.isEmpty, s"explicit 0 still merged: ${off.merged}")
    assert(liveCids(store2) == Set(0, 1, 2, 3),
      "explicit 0 must leave the table untouched")
  }

  test("mergeColdCells retires 71 cold cells in ONE commit: rows go " +
      "straight to the survivor, the table ends minimal") {
    graft.GraftFunctions.register(spark)
    val dir = java.nio.file.Files.createTempDirectory("vecchunk")
    val store = s"$dir/store"
    val nCells = 72 // more cold cells than TwoLevelMinK
    val d = nCells
    def axisVec(axis: Int, lead: Double): Seq[Double] = {
      val a = Array.fill(d)(0.01); a(axis) = lead; a.toSeq
    }
    val cents = (0 until nCells).map(c =>
      (c, Seq.tabulate(d)(i => if (i == c) 1.0 else 0.0)))
      .toDF("cid", "cv")
    // cell 0: 10 rows (the only survivor at threshold 5); cells
    // 1..71: one row each — 71 cold cells
    val rows = (0L until 10L).map(i => (i, axisVec(0, 1.0 + 0.01 * i))) ++
      (1 until nCells).map(c => (100L + c, axisVec(c, 1.0)))
    SimilarityOps.extendVectorStore(store, cents, rows.toDF("vec_id", "v"))
    val before = pinOf(store)
    val merged = SimilarityOps.mergeColdCells(spark, store,
      coldCellThreshold = 5L)
    // every cold cell retired by one commit, each mapped to the single
    // true survivor
    assert(pinOf(store).versions == before.versions :+ (before.version + 1),
      "the merge did not commit exactly one version")
    assert(merged.keySet == (1 until nCells).toSet,
      s"merge missed cold cells: ${merged.keySet.size} of " +
        s"${nCells - 1}")
    assert(merged.values.forall(_ == Seq(0)),
      s"a cold row was routed through a non-survivor: " +
        s"${merged.filterNot(_._2 == Seq(0))}")
    assert(liveCids(store) == Set(0),
      s"table should end at the survivor: ${liveCids(store)}")
    val served = rowsOf(store)
    assert(served.count() == rows.size.toLong &&
      served.select("vec_id").distinct().count() == rows.size.toLong,
      "the merge lost or duplicated rows")
    assert(served.select("cid").distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(0),
      "rows remain outside the survivor cell")
  }

  // SlowTest tier (~30-60 s: a store big enough that one maintenance
  // cycle spans many probe iterations). READERS-NEVER-LOCK is the
  // design claim; BEFORE/AFTER-cycle parity is pinned above — this
  // pins DURING (r14 verdict ask #3): a probe loop racing a live
  // maintainVectorStore, every result equal to global brute force
  // over the distinct corpus (which every mid-cycle snapshot serves:
  // compact only drops replays, split/merge only move rows), through
  // the plain probe: each probe reads one pinned snapshot, with no
  // retry.
  test("concurrent probes DURING a maintenance cycle: every result " +
      "equals global brute force; the live writer is never disturbed " +
      "by lock-free readers", graft.SlowTest) {
    graft.GraftFunctions.register(spark)
    // hot cell 0: 12k rows in two sub-clusters (split work, and big
    // enough that compact+fit+remap spans many probe iterations);
    // cells 1-3: two rows each (cold at the derived hot/100 = 80
    // threshold — merge work); plus a 2k replay tail (compact work)
    val hotVecs = (0L until 12000L).map { id =>
      val tilt = if (id % 2 == 0) 0.3 + 0.0001 * (id % 701)
        else -0.3 - 0.0001 * (id % 701)
      (id, Seq(1.0 + 0.001 * (id % 997), tilt, 0.02, 0.02))
    }
    val singles = Seq(20001L, 20002L, 20003L, 20005L, 20006L, 20007L)
      .map { id =>
        val axis = (id % 4).toInt
        val base = Array.fill(4)(0.05 + 0.001 * (id % 7))
        base(axis) = 1.0 + 0.01 * (id % 11)
        (id, base.toSeq)
      }
    val corpus = hotVecs ++ singles

    def cos6(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      BigDecimal(dot / (math.sqrt(a.map(x => x * x).sum) *
          math.sqrt(b.map(x => x * x).sum)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    // q0 leans into the even sub-cluster (lives through the split);
    // q1's top-1 is cold-cell vector 20001 (lives through the merge)
    val queries = Seq((90000L, Seq(1.0, 0.31, 0.02, 0.02)),
      (90001L, Seq(0.1, 1.0, 0.1, 0.1)))
    val brute: Map[Long, Seq[(Int, Long)]] = queries.map { case (q, qv) =>
      q -> corpus.map { case (id, v) => (id, cos6(qv, v)) }
        .sortBy { case (id, r) => (-r, id) }
        .take(5).zipWithIndex.map { case ((id, _), i) => (i + 1, id) }
    }.toMap

    // One full race: fresh store, probe loop vs a live cycle. EVERY
    // probe asserts brute-force parity (a correctness bug fails on
    // the first attempt, retried or not) — only the OVERLAP COUNT is
    // timing-sensitive, so only it is allowed to send the race around
    // again: under a host burst the probe iterations can slow past
    // the cycle's own slowed legs and fewer than 3 land inside the
    // window (seen once in r16 on a contended tier run; the property
    // itself never failed).
    def raceOnce(attempt: Int): Int = {
      val dir = java.nio.file.Files.createTempDirectory(s"vecconc$attempt")
      val store = s"$dir/store"
      SimilarityOps.extendVectorStore(store, centroids,
        corpus.toDF("vec_id", "v"))
      SimilarityOps.extendVectorStore(store, centroids,
        hotVecs.take(2000).toDF("vec_id", "v")) // replay tail

      val maintFailure = new java.util.concurrent.atomic.AtomicReference[
        Throwable](null)
      val report = new java.util.concurrent.atomic.AtomicReference[
        SimilarityOps.StoreMaintenanceReport](null)
      val maint = new Thread(() =>
        try report.set(SimilarityOps.maintainVectorStore(spark, store,
          hotCellThreshold = 8000L, maxSplitK = 2))
        catch { case e: Throwable => maintFailure.set(e) })

      def probeOnce(): Unit =
        queries.foreach { case (q, qv) =>
          val got = SimilarityOps.probeVectorStore(store,
              Seq((q, qv)).toDF("vec_id", "v"), k = 5,
              nprobe = 64, excludeSelf = false)
            .collect().map(r => (r.getInt(1), r.getLong(2))).toSeq
          assert(got == brute(q),
            s"mid-cycle probe for $q diverged from brute force: $got " +
              s"vs ${brute(q)}")
        }
      probeOnce() // pre-cycle parity (and JIT/codegen warm-up)
      maint.start()
      var overlapped = 0
      while (maint.isAlive) { probeOnce(); overlapped += 1 }
      maint.join(120000)
      assert(maintFailure.get() == null,
        s"a lock-free reader disturbed the writer: ${maintFailure.get()}")
      // the cycle genuinely mutated what the probes read: split AND
      // merge both ran
      val r = report.get()
      assert(r != null && r.split.keySet == Set(0) &&
        r.merged.keySet == Set(1, 2, 3),
        s"cycle did not exercise split+merge under the probes: $r")
      probeOnce() // post-cycle parity
      overlapped
    }

    var overlapped = 0
    var attempt = 0
    while (overlapped < 3 && attempt < 3) {
      attempt += 1
      if (attempt > 1)
        System.err.println(s"vecconc race attempt $attempt: previous " +
          s"attempt overlapped only $overlapped probe iterations " +
          "(host burst) — re-racing on a fresh store")
      overlapped = raceOnce(attempt)
    }
    // the probes genuinely raced the cycle
    assert(overlapped >= 3,
      s"only $overlapped probe iterations overlapped the cycle after " +
        s"$attempt attempts — store too small (or box too stalled) " +
        "to pin the DURING property")
  }
}
