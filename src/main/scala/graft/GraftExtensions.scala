package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.expressions.{BloomContains, ChunkAsciiStats, CosineSim, DicomParse, DicomVoxelHash, L2SqAt, LaneMatchCount, Md5Shingle60, MinHashSig, ShingleHash64, SimHash60, SortedIntersectCount, TextQualityGate, WordTrigramHash64}
import org.apache.spark.sql.catalyst.expressions.Literal

/** Session extension registering graft's native Catalyst expressions.
  *
  * Two entry points:
  *  - `--conf spark.sql.extensions=graft.GraftExtensions` for users
  *    launching their own session;
  *  - [[GraftFunctions.register]] for an already-running session (the
  *    driver hands us its session — queries call this lazily).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => graft.plans.TimeBucketPruneRule)
  }
}

object GraftFunctions {
  val all: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (es: Seq[Expression]) => CosineSim(es.head, es(1))),
    (FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (es: Seq[Expression]) => MinHashSig(es.head)),
    (FunctionIdentifier("simhash60"),
      new ExpressionInfo(classOf[SimHash60].getName, "simhash60"),
      (es: Seq[Expression]) => SimHash60(es.head)),
    (FunctionIdentifier("shingle_hash64"),
      new ExpressionInfo(classOf[ShingleHash64].getName, "shingle_hash64"),
      (es: Seq[Expression]) => ShingleHash64(es.head)),
    (FunctionIdentifier("word_trigram_hash64"),
      new ExpressionInfo(classOf[WordTrigramHash64].getName,
        "word_trigram_hash64"),
      (es: Seq[Expression]) => WordTrigramHash64(es.head)),
    (FunctionIdentifier("md5_shingle60"),
      new ExpressionInfo(classOf[Md5Shingle60].getName, "md5_shingle60"),
      (es: Seq[Expression]) => Md5Shingle60(es.head)),
    (FunctionIdentifier("lane_matches"),
      new ExpressionInfo(classOf[LaneMatchCount].getName, "lane_matches"),
      (es: Seq[Expression]) => LaneMatchCount(es.head, es(1))),
    (FunctionIdentifier("l2sq_at"),
      new ExpressionInfo(classOf[L2SqAt].getName, "l2sq_at"),
      // 2-arg form = whole-array distance (offset 0)
      (es: Seq[Expression]) => L2SqAt(es.head, es(1),
        if (es.length > 2) es(2) else Literal(0))),
    (FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName,
        "sorted_intersect_count"),
      (es: Seq[Expression]) => SortedIntersectCount(es.head, es(1))),
    (FunctionIdentifier("bloom_contains"),
      new ExpressionInfo(classOf[BloomContains].getName, "bloom_contains"),
      (es: Seq[Expression]) => BloomContains(es.head, es(1))),
    (FunctionIdentifier("dicom_parse"),
      new ExpressionInfo(classOf[DicomParse].getName, "dicom_parse"),
      (es: Seq[Expression]) => DicomParse(es.head)),
    (FunctionIdentifier("dicom_voxel_hash"),
      new ExpressionInfo(classOf[DicomVoxelHash].getName,
        "dicom_voxel_hash"),
      (es: Seq[Expression]) => DicomVoxelHash(es.head)),
    (FunctionIdentifier("text_quality_gate"),
      new ExpressionInfo(classOf[TextQualityGate].getName,
        "text_quality_gate"),
      (es: Seq[Expression]) => TextQualityGate(es.head)),
    (FunctionIdentifier("chunk_ascii_stats"),
      new ExpressionInfo(classOf[ChunkAsciiStats].getName,
        "chunk_ascii_stats"),
      (es: Seq[Expression]) => ChunkAsciiStats(es.head)))

  /** Idempotent per-session registration (functions + the bucket-prune
    * optimizer rule — extraOptimizations is the live-session analog of
    * injectOptimizerRule). A function whose registered builder is
    * already graft's own is left alone — re-registering it would log a
    * "replaced a previously registered function" WARN on every call —
    * while a user's function of the same name is still replaced. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (id, _, builder) =>
      if (!registry.lookupFunctionBuilder(id).exists(_ eq builder))
        registry.createOrReplaceTempFunction(id.funcName, builder, "built-in")
    }
    val rule = graft.plans.TimeBucketPruneRule
    if (!spark.experimental.extraOptimizations.contains(rule)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ rule
    }
  }
}
