package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.load

/** Multimodal-column plumbing: opaque binary payloads + typed metadata.
  *
  * The real decode step (image/audio libs) is STUBBED — this container
  * ships no codecs — but the Spark-side plumbing is real: BinaryType
  * columns, per-payload metadata extraction (byte length, content hash,
  * deterministic fake "header decode"), and a base64 frame-sample. The
  * reference's analog is the DICOM byte-sniff + header-only read
  * (Exam_info.py:1673-1679, stop_before_pixels Exam_info.py:130).
  *
  * At 100 TB the payload column never moves through a shuffle here:
  * everything is a projection over the scan, and only the small derived
  * metadata survives into downstream plans.
  */
object MultimodalOps {

  /** Batch-shaped decode over binary payloads: `mapPartitions` with a
    * per-partition decoder instance (the JVM analog of a pandas-batch
    * UDF — decoder init amortized across the partition, rows streamed).
    * The decoder itself is a deterministic STUB (no codecs in this
    * container): "dimensions" from the first payload bytes. Swapping in
    * a real image/audio library changes only `decodeOne`.
    */
  def decodeBatch(payloads: org.apache.spark.sql.Dataset[(Long, Array[Byte])])
      : org.apache.spark.sql.Dataset[(Long, Int, Int, Long)] = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.mapPartitions { it =>
      // per-partition "decoder" setup happens once, here
      val decodeOne: Array[Byte] => (Int, Int) = bytes =>
        (if (bytes.length > 0) (bytes(0) & 0x3F) + 1 else 0,
          if (bytes.length > 1) (bytes(1) & 0x3F) + 1 else 0)
      it.map { case (id, bytes) =>
        val (w, h) = decodeOne(bytes)
        (id, w, h, bytes.length.toLong)
      }
    }
  }

  /** Shared chunk geometry for m2/m3 — every 4th 64-byte chunk as
    * (doc_id, n_chunks, chunk_idx, c); one definition so the sampling
    * contract cannot drift between the sampler and the featurizer. */
  private def sampledChunks(df: DataFrame): DataFrame =
    df.withColumn("n_chunks",
        ceil(length(col("text")) / lit(64.0)).cast("int"))
      .filter(col("n_chunks") > 0)
      .withColumn("chunk_idx",
        explode(expr("filter(sequence(0, n_chunks - 1), i -> i % 4 = 0)")))
      .withColumn("c", expr("substring(text, chunk_idx * 64 + 1, 64)"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Binary metadata extraction over a BinaryType payload column.
    // "width"/"height" are the deterministic fake decode: two bytes of
    // the payload interpreted as dimensions (stands in for an image
    // header parse; see the STUB note above).
    "m1_binary_meta" -> ((s, dir) => {
      load(s, dir, "documents")
        .withColumn("payload", col("text").cast("binary"))
        .select(
          col("doc_id"),
          length(col("payload")).as("n_bytes"),
          md5(col("payload")).as("content_hash"),
          // pad: Spark ascii('') = 0 but DuckDB ord('') = -1, so both
          // sides read from a string guaranteed to have 2 chars
          expr("ascii(substring(concat(text, '  '), 1, 1)) % 64 + 1")
            .as("fake_width"),
          expr("ascii(substring(concat(text, '  '), 2, 1)) % 64 + 1")
            .as("fake_height"),
          base64(substring(col("text"), 1, 12).cast("binary"))
            .as("head_b64"))
        .orderBy(col("doc_id"))
    }),

    // Chunk sampling: split each payload into fixed 64-byte chunks and
    // keep every 4th — the frame-sampling batch shape (video: every
    // k-th frame; audio: every k-th window) expressed relationally.
    // The chunk list is generated per row and exploded; only sampled
    // chunk hashes flow downstream, the payload never crosses a
    // shuffle. Payload here is the ASCII text column standing in for
    // opaque bytes (no codecs in this container — see the STUB note).
    "m2_chunk_sample" -> ((s, dir) => {
      sampledChunks(load(s, dir, "documents"))
        .select(col("doc_id"), col("n_chunks"), col("chunk_idx"),
          md5(col("c")).as("chunk_hash"),
          length(col("c")).as("chunk_len"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // Per-chunk feature extraction — the decode→sample→FEATURES stage
    // of a multimodal pipeline (image brightness/edge stats, audio
    // window energy), expressed as integer aggregates over the sampled
    // chunk bytes so the fake "decoder" stays deterministic and
    // oracle-checkable. Features are all-integer (no float
    // discipline needed) and only (doc_id, chunk_idx, 3 ints) flows
    // downstream — the payload never crosses a shuffle, the same
    // contract as m1/m2.
    "m3_chunk_features" -> ((s, dir) =>
      chunkFeatures(s, dir).orderBy(col("doc_id"), col("chunk_idx"))),

    // Feature-space quantization — the "assign every decoded chunk to
    // its nearest prototype" step a multimodal curriculum runs after
    // feature extraction (m3): k=4 centroids are deterministic group
    // means (a stand-in for a fitted codebook — the real pipeline
    // plugs operators/KMeans.fit in unchanged), each chunk takes the
    // argmin squared-L2 centroid. Seed groups come from the chunk's
    // POSITION RANK (chunk_idx div 4 — sampledChunks emits only
    // multiples of 4, so a plain %4 would collapse to one group), and
    // the assignment is free to disagree with the seed — the argmin is
    // real. All arithmetic is subtraction/multiplication/addition of
    // exact-int-derived doubles in fixed order; the argmin is a
    // row_number over exactly k=4 rows per chunk. Centroids
    // broadcast — the corpus-side cost is one scan plus a 4-way
    // fan-out, never a shuffle of the chunks.
    "m4_chunk_quantize" -> ((s, dir) => {
      // cache the slim feature table: it feeds the centroid aggregate
      // (the broadcast build) AND the scoring fan-out — uncached, the
      // whole decode+featurize subtree executed twice per run (r17).
      // Lifecycle (r17 advice): nothing here unpersists — like
      // d10/d13/d14's in-query caches this relies on the CALLER's
      // spark.catalog.clearCache() between queries (Bench and RunOne
      // both do); it is never a cross-run result cache.
      val feats = chunkFeatures(s, dir).cache()
      val cent = feats.groupBy(
          expr("(chunk_idx div 4) % 4").as("cid"))
        .agg(avg(col("sum_bytes")).as("c1"), avg(col("n_space")).as("c2"),
          avg(col("n_upper")).as("c3"))
      val sc = feats.crossJoin(broadcast(cent))
        .withColumn("d2",
          (col("sum_bytes") - col("c1")) * (col("sum_bytes") - col("c1")) +
          (col("n_space") - col("c2")) * (col("n_space") - col("c2")) +
          (col("n_upper") - col("c3")) * (col("n_upper") - col("c3")))
      val byChunk = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"), col("chunk_idx"))
        .orderBy(col("d2"), col("cid"))
      sc.withColumn("rn", row_number().over(byChunk))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("chunk_idx"), col("cid"),
          round(col("d2"), 6).as("d2"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    })
  )

  /** m3's per-chunk integer feature frame (doc_id, chunk_idx,
    * sum_bytes, n_space, n_upper) — shared with the quantize step
    * (m4). Byte-sum restricted to printable ASCII: Spark's ascii()
    * and DuckDB's ord() agree only there (multibyte chars return the
    * signed lead byte vs the code point) — the guard keeps the oracle
    * exact on any corpus, not just the ASCII fixture. Since r18 the
    * three stats come from ONE native fused byte loop
    * (chunk_ascii_stats — the l2sq_at treatment, guide §4): the old
    * form ran four string traversals per chunk, two of them regex and
    * one an interpreted per-character HOF fold. Value parity with
    * that chain is pinned by ChunkAsciiStatsSpec. */
  private def chunkFeatures(s: SparkSession, dir: String): DataFrame = {
    // spread the per-chunk feature math (~20k chunks, Tables.spread)
    graft.GraftFunctions.register(s)
    val docs = graft.Tables.spread(load(s, dir, "documents"), dir,
      "documents", "doc_id")
    sampledChunks(docs)
      .withColumn("st", expr("chunk_ascii_stats(c)"))
      .select(col("doc_id"), col("chunk_idx"),
        col("st.sum_bytes").as("sum_bytes"),
        col("st.n_space").as("n_space"),
        col("st.n_upper").as("n_upper"))
  }

  val oracle: Map[String, String] = Map(
    "m3_chunk_features" ->
      """WITH d AS (SELECT doc_id, text,
        |    CAST(ceil(length(text) / 64.0) AS INT) AS n_chunks
        |  FROM documents WHERE length(text) > 0),
        |ch AS (SELECT doc_id,
        |    unnest([i for i in range(0, n_chunks) if i % 4 = 0])
        |      AS chunk_idx, text
        |  FROM d),
        |c0 AS (SELECT doc_id, chunk_idx,
        |    substring(text, chunk_idx * 64 + 1, 64) AS c FROM ch),
        |c AS (SELECT doc_id, chunk_idx, c,
        |    regexp_replace(c, '[^ -~]', '', 'g') AS ca FROM c0)
        |SELECT doc_id, chunk_idx,
        |  CAST(COALESCE(list_sum([ord(substring(ca, i, 1))
        |                 for i in range(1, length(ca)+1)]), 0) AS INT)
        |    AS sum_bytes,
        |  CAST(length(c) - length(replace(c, ' ', '')) AS INT)
        |    AS n_space,
        |  CAST(length(regexp_replace(c, '[^A-Z]', '', 'g')) AS INT)
        |    AS n_upper
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    "m4_chunk_quantize" ->
      """WITH d AS (SELECT doc_id, text,
        |    CAST(ceil(length(text) / 64.0) AS INT) AS n_chunks
        |  FROM documents WHERE length(text) > 0),
        |ch AS (SELECT doc_id,
        |    unnest([i for i in range(0, n_chunks) if i % 4 = 0])
        |      AS chunk_idx, text
        |  FROM d),
        |c0 AS (SELECT doc_id, chunk_idx,
        |    substring(text, chunk_idx * 64 + 1, 64) AS c FROM ch),
        |c AS (SELECT doc_id, chunk_idx, c,
        |    regexp_replace(c, '[^ -~]', '', 'g') AS ca FROM c0),
        |feats AS (SELECT doc_id, chunk_idx,
        |  CAST(COALESCE(list_sum([ord(substring(ca, i, 1))
        |                 for i in range(1, length(ca)+1)]), 0) AS INT)
        |    AS sum_bytes,
        |  CAST(length(c) - length(replace(c, ' ', '')) AS INT)
        |    AS n_space,
        |  CAST(length(regexp_replace(c, '[^A-Z]', '', 'g')) AS INT)
        |    AS n_upper
        |  FROM c),
        |cent AS (SELECT (chunk_idx // 4) % 4 AS cid,
        |    AVG(sum_bytes) AS c1, AVG(n_space) AS c2, AVG(n_upper) AS c3
        |  FROM feats GROUP BY 1),
        |sc AS (SELECT doc_id, chunk_idx, cid,
        |    (sum_bytes - c1) * (sum_bytes - c1)
        |    + (n_space - c2) * (n_space - c2)
        |    + (n_upper - c3) * (n_upper - c3) AS d2
        |  FROM feats CROSS JOIN cent)
        |SELECT doc_id, chunk_idx, cid, ROUND(d2, 6) AS d2 FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id, chunk_idx
        |                               ORDER BY d2, cid) AS rn
        |  FROM sc) r
        |WHERE rn = 1 ORDER BY doc_id, chunk_idx""".stripMargin,
    "m2_chunk_sample" ->
      """WITH d AS (SELECT doc_id, text,
        |    CAST(ceil(length(text) / 64.0) AS INT) AS n_chunks
        |  FROM documents WHERE length(text) > 0),
        |c AS (SELECT doc_id, text, n_chunks,
        |    unnest([i for i in range(0, n_chunks) if i % 4 = 0])
        |      AS chunk_idx
        |  FROM d)
        |SELECT doc_id, n_chunks, chunk_idx,
        |  md5(substring(text, chunk_idx * 64 + 1, 64)) AS chunk_hash,
        |  CAST(length(substring(text, chunk_idx * 64 + 1, 64)) AS INT)
        |    AS chunk_len
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    "m1_binary_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |  md5(text) AS content_hash,
        |  ord(substr(text || '  ', 1, 1)) % 64 + 1 AS fake_width,
        |  ord(substr(text || '  ', 2, 1)) % 64 + 1 AS fake_height,
        |  to_base64(encode(substr(text, 1, 12))) AS head_b64
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
