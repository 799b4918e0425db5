package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Plan-shape contract for the streaming store probe (the scale claim
  * behind StreamDedupProbe's numbers): the batch side of
  * `probeAndExtend`'s store join must BROADCAST, so the (arbitrarily
  * large) signature store is scanned in place and its rows never cross
  * an exchange. A sort-merge join here would shuffle the whole store
  * per micro-batch — the regression this spec exists to catch. */
class StoreProbePlanSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("probeAndExtend joins batch→store as a broadcast probe; " +
      "store rows never shuffle") {
    graft.GraftFunctions.register(spark)
    val store = java.nio.file.Files
      .createTempDirectory("graft_planstore").resolve("bands").toString
    // seed the store through the operator itself (batch 1)
    DedupOps.probeAndExtend(store,
      Seq((1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "an entirely different document about spark engines"))
        .toDF("doc_id", "text")).collect()

    // materialize = false: the default eagerly checkpoints the verdict
    // and the returned plan is a checkpoint scan — this spec needs the
    // LIVE join shape
    val verdict = DedupOps.probeAndExtendImpl(store,
      Seq((3L, "the quick brown fox jumps over the lazy dog"),
        (4L, "fresh novel content matching nothing at all"))
        .toDF("doc_id", "text"),
      DedupOps.MaxBroadcastBandRows, materialize = false)
    verdict.collect() // finalize the adaptive plan
    val plan = verdict.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"store probe is not a broadcast join:\n${plan.take(3000)}")
    assert(!plan.contains("SortMergeJoin"),
      "the store side shuffled through a sort-merge join — the probe " +
        s"must stream the store in place:\n${plan.take(3000)}")
  }

  test("an over-cap batch falls back to a non-broadcast store join " +
      "instead of collecting it to the driver") {
    graft.GraftFunctions.register(spark)
    // shrink the ceiling so a 3-doc batch (48 band rows) exceeds it
    val docs = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (11L, "one two three four five six seven eight nine ten"),
      (12L, "red orange yellow green blue indigo violet white black"))
      .toDF("doc_id", "text")
    val store = java.nio.file.Files
      .createTempDirectory("graft_planstore2").resolve("bands").toString
    DedupOps.probeAndExtend(store, docs).collect() // seed
    val verdict = DedupOps.probeAndExtendImpl(store,
      docs.withColumn("doc_id", col("doc_id") + 100),
      maxBroadcastBandRows = 1L, materialize = false)
    // the CONTRACT: over the ceiling, OUR broadcast hint must be
    // absent from the plan (Spark may still pick broadcast from size
    // stats — that's fine, it isn't a forced driver collect). The
    // hint is inspectable as ResolvedHint in the analyzed plan.
    val hints = verdict.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.isEmpty,
      s"over-cap batch still carries a broadcast hint: $hints")
    val v = verdict.collect().map(r => (r.getLong(0), r.getBoolean(1)))
      .toMap
    assert(v == Map(110L -> true, 111L -> true, 112L -> true))
  }

  test("materialize=false neither appends to the store nor flips " +
      "novel docs to dups when consumed after the call") {
    graft.GraftFunctions.register(spark)
    val store = java.nio.file.Files
      .createTempDirectory("graft_planstore4").resolve("bands").toString
    DedupOps.probeAndExtend(store,
      Seq((40L, "the quick brown fox jumps over the lazy dog"))
        .toDF("doc_id", "text")).collect() // seed
    val fs = new org.apache.hadoop.fs.Path(store).getFileSystem(
      spark.sessionState.newHadoopConf())
    def storeDocs: Set[Long] = DedupOps.readStore(spark, store)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(storeDocs == Set(40L))
    val verdict = DedupOps.probeAndExtendImpl(store,
      Seq((41L, "the quick brown fox jumps over the lazy dog"),
        (42L, "a wholly novel sentence about nothing stored before"))
        .toDF("doc_id", "text"),
      DedupOps.MaxBroadcastBandRows, materialize = false)
    // the lazy frame is a PLAN-AUDIT escape hatch: it must not mutate
    // store state as a side effect, and consuming it post-call must
    // give the same values the materialized form would have — the old
    // append made doc 42 join its own just-appended rows and read
    // is_dup=true on a frame claiming it was novel
    val v = verdict.collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).toMap
    assert(v == Map(41L -> true, 42L -> false),
      s"lazy verdict values wrong: $v")
    assert(storeDocs == Set(40L),
      "materialize=false appended to the store")
    fs.delete(new org.apache.hadoop.fs.Path(store), true): Unit
  }

  test("an in-cap batch DOES carry the broadcast hint (the contract " +
      "the over-cap test suppresses)") {
    graft.GraftFunctions.register(spark)
    val store = java.nio.file.Files
      .createTempDirectory("graft_planstore3").resolve("bands").toString
    val docs = Seq((30L, "some words repeated here for shingling fine"))
      .toDF("doc_id", "text")
    DedupOps.probeAndExtend(store, docs).collect() // seed
    val verdict = DedupOps.probeAndExtendImpl(store,
      docs.withColumn("doc_id", col("doc_id") + 1),
      DedupOps.MaxBroadcastBandRows, materialize = false)
    val hints = verdict.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.nonEmpty, "in-cap batch lost its broadcast hint")
  }
}
