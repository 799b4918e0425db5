package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructType}
import graft.Tables.load

/** MERGE upsert — the reference's main sink (K3/K5/J4):
  * insert-if-new, compare-and-update-if-changed, keep otherwise
  * (update_exam_sql_db, Cenir_DB.py:62-135), with an exclude-list for
  * the change comparison (Cenir_DB.py:97) and tolerant float equality
  * via round(x*1e5) (Cenir_DB.py:938).
  *
  * Spark-first shape: ONE full-outer join of incoming batch vs existing
  * rows on the identity key, then a columnar when() branch per field —
  * the reference's per-row probe loop (N+1 SELECTs) becomes a single
  * shuffle on the key. Idempotence (merge(merge(db,b),b) == merge(db,b))
  * is property-tested in MergeSpec.
  */
object MergeOps {

  /** Generic MERGE: returns db upserted with batch.
    *
    * @param exclude columns ignored by the change comparison (still
    *                taken from the batch side when a row is updated)
    */
  def merge(db: DataFrame, batch: DataFrame, key: String,
      exclude: Seq[String] = Nil): DataFrame = {
    val cols = db.columns.toSeq
    val cmpCols = cols.filterNot(c => c == key || exclude.contains(c))
    val d = db.select(cols.map(c => col(c).as(s"d_$c")): _*)
    val b = batch.select(cols.map(c => col(c).as(s"b_$c")): _*)

    def cmp(c: String): Column = {
      val (l, r) = (col(s"d_$c"), col(s"b_$c"))
      db.schema(c).dataType match {
        // reference float equality: round(x*1e5) (Cenir_DB.py:938)
        case DoubleType => round(l * 1e5) <=> round(r * 1e5)
        case _          => l <=> r
      }
    }
    // foldLeft: an empty comparison set (key-only schema or full
    // exclude list) means "row unchanged", not an empty.reduce crash
    val unchanged = cmpCols.map(cmp).foldLeft(lit(true))(_ && _)

    val joined = d.join(b, col(s"d_$key") === col(s"b_$key"), "full_outer")
    val status = when(col(s"d_$key").isNull, lit("inserted"))
      .when(col(s"b_$key").isNull, lit("kept"))
      .when(unchanged, lit("kept"))
      .otherwise(lit("updated"))
    val takeBatch = col(s"d_$key").isNull ||
      (col(s"b_$key").isNotNull && !unchanged)
    val out = cols.map { c =>
      when(takeBatch, col(s"b_$c")).otherwise(col(s"d_$c")).as(c)
    } :+ status.as("merge_status")
    joined.select(out: _*)
  }

  /** Refuses a batch whose columns differ from the live table's:
    * [[merge]] canonicalizes on the live columns, so a column the batch
    * ADDS would be silently dropped, one it LACKS would fail deep in the
    * plan, and a retyped one would be cast into history. Compares
    * name → type, ignoring nullability (`catalogString` omits it at
    * every nesting level), and names every offending column. */
  def requireSameSchema(live: StructType, batch: StructType): Unit = {
    def types(s: StructType) =
      s.fields.map(f => f.name -> f.dataType.catalogString).toMap
    val (l, b) = (types(live), types(batch))
    val drift = Seq(
      "adds" -> b.keySet.diff(l.keySet).toSeq.sorted,
      "lacks" -> l.keySet.diff(b.keySet).toSeq.sorted,
      "retypes" -> l.keySet.intersect(b.keySet).filter(c => l(c) != b(c))
        .toSeq.sorted.map(c => s"$c ${l(c)} -> ${b(c)}"))
      .collect { case (what, cs) if cs.nonEmpty =>
        s"$what ${cs.mkString(", ")}" }
    require(drift.isEmpty,
      s"batch schema differs from the live table: ${drift.mkString("; ")}")
  }

  /** Runs `write` over `merged` minus its `merge_status` column and
    * returns the write's result together with the per-status counts,
    * observed on that same pass (one CollectMetrics: no cache and no
    * separate count job re-running the merge join). The status set is
    * closed (inserted/kept/updated) and zero counts are dropped, so the
    * map is exactly what `groupBy("merge_status").count()` would give.
    * `write` must execute the plan, or the counts never arrive. */
  def writeCounted[T](merged: DataFrame)(write: DataFrame => T)
      : (T, Map[String, Long]) = {
    val obs = new Observation()
    val aggs = Seq("inserted", "kept", "updated").map(st =>
      coalesce(sum(when(col("merge_status") === st, 1L).otherwise(0L)),
        lit(0L)).as(st))
    val out = write(
      merged.observe(obs, aggs.head, aggs.tail: _*).drop("merge_status"))
    (out, obs.get.collect { case (st, n: Long) if n > 0 => st -> n }.toMap)
  }

  /** SCD Type-2 history apply (beyond ref — the dimension-history form
    * of K2's compare-and-update): `dim` is the current history slice
    * (batch data columns + a `valid_from` string), `batch` the incoming
    * snapshot. Unchanged/untouched rows stay open; a changed row's
    * current version CLOSES at `ts` and a new open version appends;
    * unseen keys insert open at `ts`. ONE full-outer shuffle on the
    * key, then each joined row explodes into its 1-or-2 output
    * versions — no second join, no window. The change comparison is
    * null-safe equality on every non-key batch column (merge()'s
    * semantics minus the float rounding: SCD attributes are
    * categorical). */
  def scd2(dim: DataFrame, batch: DataFrame, key: String, ts: String)
      : DataFrame = {
    val cols = batch.columns.toSeq
    val d = dim.select(cols.map(c => col(c).as(s"d_$c")) :+
      col("valid_from").as("d_from"): _*)
    val b = batch.select(cols.map(c => col(c).as(s"b_$c")): _*)
    val unchanged = cols.filterNot(_ == key)
      .map(c => col(s"d_$c") <=> col(s"b_$c"))
      .foldLeft(lit(true))(_ && _)
    val noTo = lit(null).cast("string")
    def ver(p: String, from: Column, to: Column, current: Boolean) =
      struct(cols.map(c => col(s"${p}_$c").as(c)) :+
        from.as("valid_from") :+ to.as("valid_to") :+
        lit(current).as("is_current"): _*)
    d.join(b, col(s"d_$key") === col(s"b_$key"), "full_outer")
      .select(explode(
        when(col(s"d_$key").isNull, array(ver("b", lit(ts), noTo, true)))
          .when(col(s"b_$key").isNull || unchanged,
            array(ver("d", col("d_from"), noTo, true)))
          .otherwise(array(ver("d", col("d_from"), lit(ts), false),
            ver("b", lit(ts), noTo, true)))).as("r"))
      .select(col("r.*"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // K3/K5 — MERGE over orders: batch = modified rows (price bump),
    // untouched rows, and brand-new keys; o_orderdate is on the
    // exclude-list (the reference excludes AcqTime-like fields).
    "k3_merge_upsert" -> ((s, dir) => {
      val db = load(s, dir, "orders")
      val changed = db.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1.0)
      val same = db.filter(col("o_orderkey") % 10 === 1)
      val fresh = db.filter(col("o_orderkey") % 10 === 2)
        .withColumn("o_orderkey", col("o_orderkey") + 1000000)
      val batch = changed.union(same).union(fresh)
      merge(db, batch, "o_orderkey", exclude = Seq("o_orderdate"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority"), col("merge_status"))
        .orderBy(col("o_orderkey"))
    }),

    // SCD2 over the customer dimension: every 10th customer moves
    // segment (a change → close + reopen), every (10k+3)th key arrives
    // re-keyed (an insert), the rest stay open untouched. The history
    // before the batch is the snapshot opened at 2020-01-01.
    "k13_scd2_history" -> ((s, dir) => {
      val cust = load(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      val dim = cust.withColumn("valid_from", lit("2020-01-01"))
      val batch = cust.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_mktsegment", lit("MOVED"))
        .union(cust.filter(col("c_custkey") % 10 === 3)
          .select((col("c_custkey") + 1000000).as("c_custkey"),
            col("c_name"), col("c_mktsegment")))
      scd2(dim, batch, "c_custkey", "2024-06-01")
        .orderBy(col("c_custkey"), col("valid_from"))
    }),

    // k15 — lakehouse TIME TRAVEL under the oracle gate: two merge
    // batches committed to a PartitionedSnapshotLake (per-partition
    // versioned dirs + lock-CAS markers + global snapshot files), then
    // snapshot 1 and the latest read back and unioned. The Spark side
    // reads the ACTUAL versioned parquet the commits produced, while
    // DuckDB re-derives both states from the base tables — so the hash
    // compare gates the whole commit → partition version → snapshot →
    // time-travel read path, not just the merge arithmetic. Partition
    // dates are synthesized from the key (stable per key, the
    // commitMerge contract: 3 date partitions); the lake root is
    // cleared first so version numbers stay deterministic under the
    // bench's repeated runs.
    "k15_time_travel" -> ((s, dir) => {
      val root = new java.io.File(graft.util.Stage.root, "k15_lake")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(): Unit
      }
      // phase attribution (r13 verdict ask #4): k15's wall time is
      // lake PROTOCOL cost (versioned commit writes, lock-CAS,
      // snapshot publish — FS round-trips), not the read plan; splitting the
      // reset and the two commits out lets the gate diff the
      // time-travel READ as the spark_residual
      graft.PhaseLog.timed("lake_reset") {
        if (root.exists()) rm(root)
      }
      val o = load(s, dir, "orders")
        .select(col("o_orderkey"),
          to_timestamp(concat(lit("2026-03-0"),
            (col("o_orderkey") % 3 + 1).cast("string"))).as("ts"),
          col("o_totalprice").as("price"))
      val b1 = o.filter(col("o_orderkey") % 500 === 0)
      val b2 = o.filter(col("o_orderkey") % 1000 === 0)
          .withColumn("price", col("price") + 10.0)
        .unionByName(o.filter(col("o_orderkey") % 500 === 250))
      val lake = graft.catalog.PartitionedSnapshotLake
      val (s1, _) = graft.PhaseLog.timed("lake_commit") {
        val first = lake.commitMerge(
          s, root.getAbsolutePath, b1, "o_orderkey", "ts")
        lake.commitMerge(s, root.getAbsolutePath, b2, "o_orderkey", "ts")
        first
      }
      val v1 = lake.readVersion(s, root.getAbsolutePath, s1)
        .withColumn("tag", lit("v1"))
      val v2 = lake.readLatest(s, root.getAbsolutePath)
        .withColumn("tag", lit("v2"))
      v1.unionByName(v2)
        // string form: DuckDB DATE reaches the compare as midnight
        // datetime via pandas, so both sides emit yyyy-MM-dd text
        .select(col("tag"), col("o_orderkey"),
          date_format(col("part_date"), "yyyy-MM-dd").as("part_date"),
          col("price"))
        .orderBy(col("tag"), col("o_orderkey"))
    }),

    // CDC changelog apply — the third lakehouse write pattern next to
    // MERGE (k3, latest-wins upsert) and SCD2 (k13, full history):
    // replay an ordered change stream (op ∈ {U, D}, monotone seq) onto
    // a base snapshot and emit the FINAL state — last op per key wins,
    // a trailing delete removes the key entirely, and a base key with
    // NO ops passes through untouched (the semantics of a
    // Debezium-style feed or a Delta CDF batch). The events table is
    // the changelog ('error' = delete, event_id = the sequence); the
    // snapshot seeds every user at value 0 with seq −1 PLUS a planted
    // set of re-keyed users that never appear in the changelog, so the
    // pass-through branch is genuinely exercised and oracle-pinned
    // (every natural user has ops — without the plant, base rows could
    // never win the rank). n_ops counts true changelog ops (seq ≥ 0),
    // not the seed row. Scale shape: ONE shuffle on the key serves
    // both the keep-latest rank and the op count (two windows, same
    // partitioning); no joins — the changelog streams through a
    // single exchange.
    "k14_cdc_apply" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
      val ev = load(s, dir, "events")
      val changelog = ev.select(col("user_id").as("k"),
        col("event_id").as("seq"),
        when(col("event_type") === "error", lit("D"))
          .otherwise(lit("U")).as("op"),
        col("value").as("v"))
      val ids = ev.select(col("user_id").as("k")).distinct()
      val base = ids
        .unionByName(ids.filter(col("k") % 10 === 0)
          .select((col("k") + 1000000).as("k")))
        .select(col("k"), lit(-1L).as("seq"), lit("U").as("op"),
          lit(0.0).as("v"))
      val byKey = w.partitionBy(col("k"))
      base.unionByName(changelog)
        .withColumn("rk",
          row_number().over(byKey.orderBy(col("seq").desc)))
        .withColumn("n_ops",
          sum(when(col("seq") >= 0, 1L).otherwise(0L)).over(byKey))
        .filter(col("rk") === 1 && col("op") =!= "D")
        .select(col("k").as("user_id"), col("seq").as("last_seq"),
          col("v").as("last_value"), col("n_ops"))
        .orderBy(col("user_id"))
    })
  )

  val oracle: Map[String, String] = Map(
    "k15_time_travel" ->
      """WITH o AS (
        |  SELECT o_orderkey,
        |    '2026-03-0' || CAST(o_orderkey % 3 + 1 AS VARCHAR)
        |      AS part_date,
        |    o_totalprice AS price
        |  FROM orders),
        |b1 AS (SELECT * FROM o WHERE o_orderkey % 500 = 0),
        |b2 AS (SELECT o_orderkey, part_date, price + 10.0 AS price
        |       FROM o WHERE o_orderkey % 1000 = 0
        |       UNION ALL
        |       SELECT * FROM o WHERE o_orderkey % 500 = 250),
        |v2 AS (SELECT COALESCE(b2.o_orderkey, b1.o_orderkey) AS o_orderkey,
        |              COALESCE(b2.part_date, b1.part_date) AS part_date,
        |              COALESCE(b2.price, b1.price) AS price
        |       FROM b1 FULL OUTER JOIN b2
        |         ON b1.o_orderkey = b2.o_orderkey)
        |SELECT 'v1' AS tag, o_orderkey, part_date, price FROM b1
        |UNION ALL
        |SELECT 'v2', o_orderkey, part_date, price FROM v2
        |ORDER BY tag, o_orderkey""".stripMargin,

    "k3_merge_upsert" ->
      """WITH b AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |         o_totalprice + 1.0 AS o_totalprice, o_orderdate,
        |         o_orderpriority
        |  FROM orders WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |         o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 10 = 1
        |  UNION ALL
        |  SELECT o_orderkey + 1000000, o_custkey, o_orderstatus,
        |         o_totalprice, o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 10 = 2),
        |j AS (
        |  SELECT d.o_orderkey AS dk, b.o_orderkey AS bk,
        |    d.o_custkey AS dc, b.o_custkey AS bc,
        |    d.o_orderstatus AS ds, b.o_orderstatus AS bs,
        |    d.o_totalprice AS dp, b.o_totalprice AS bp,
        |    d.o_orderpriority AS dpr, b.o_orderpriority AS bpr,
        |    (d.o_custkey IS NOT DISTINCT FROM b.o_custkey
        |     AND d.o_orderstatus IS NOT DISTINCT FROM b.o_orderstatus
        |     AND round(d.o_totalprice*100000) IS NOT DISTINCT FROM round(b.o_totalprice*100000)
        |     AND d.o_orderpriority IS NOT DISTINCT FROM b.o_orderpriority)
        |      AS unchanged
        |  FROM orders d FULL OUTER JOIN b ON d.o_orderkey = b.o_orderkey)
        |SELECT
        |  COALESCE(CASE WHEN dk IS NULL OR (bk IS NOT NULL AND NOT unchanged)
        |                THEN bk ELSE dk END, dk, bk) AS o_orderkey,
        |  CASE WHEN dk IS NULL OR (bk IS NOT NULL AND NOT unchanged)
        |       THEN bc ELSE dc END AS o_custkey,
        |  CASE WHEN dk IS NULL OR (bk IS NOT NULL AND NOT unchanged)
        |       THEN bp ELSE dp END AS o_totalprice,
        |  CASE WHEN dk IS NULL OR (bk IS NOT NULL AND NOT unchanged)
        |       THEN bpr ELSE dpr END AS o_orderpriority,
        |  CASE WHEN dk IS NULL THEN 'inserted'
        |       WHEN bk IS NULL THEN 'kept'
        |       WHEN unchanged THEN 'kept'
        |       ELSE 'updated' END AS merge_status
        |FROM j ORDER BY o_orderkey""".stripMargin,

    "k13_scd2_history" ->
      """WITH dim AS (SELECT c_custkey, c_name, c_mktsegment
        |             FROM customer),
        |b AS (SELECT c_custkey, c_name, 'MOVED' AS c_mktsegment
        |      FROM customer WHERE c_custkey % 10 = 0
        |      UNION ALL
        |      SELECT c_custkey + 1000000, c_name, c_mktsegment
        |      FROM customer WHERE c_custkey % 10 = 3),
        |j AS (SELECT d.c_custkey AS dk, b.c_custkey AS bk,
        |             d.c_name AS dn, b.c_name AS bn,
        |             d.c_mktsegment AS ds, b.c_mktsegment AS bs,
        |             (d.c_name IS NOT DISTINCT FROM b.c_name AND
        |              d.c_mktsegment IS NOT DISTINCT FROM b.c_mktsegment)
        |               AS unchanged
        |      FROM dim d FULL OUTER JOIN b ON d.c_custkey = b.c_custkey)
        |SELECT dk AS c_custkey, dn AS c_name, ds AS c_mktsegment,
        |       '2020-01-01' AS valid_from,
        |       CAST(NULL AS VARCHAR) AS valid_to, TRUE AS is_current
        |FROM j WHERE dk IS NOT NULL AND (bk IS NULL OR unchanged)
        |UNION ALL
        |SELECT dk, dn, ds, '2020-01-01', '2024-06-01', FALSE
        |FROM j WHERE dk IS NOT NULL AND bk IS NOT NULL AND NOT unchanged
        |UNION ALL
        |SELECT bk, bn, bs, '2024-06-01', CAST(NULL AS VARCHAR), TRUE
        |FROM j WHERE bk IS NOT NULL AND (dk IS NULL OR NOT unchanged)
        |ORDER BY c_custkey, valid_from""".stripMargin,

    "k14_cdc_apply" ->
      """WITH changelog AS (
        |  SELECT user_id AS k, event_id AS seq,
        |         CASE WHEN event_type = 'error' THEN 'D'
        |              ELSE 'U' END AS op,
        |         value AS v
        |  FROM events),
        |ids AS (SELECT DISTINCT user_id AS k FROM events),
        |base AS (SELECT k, CAST(-1 AS BIGINT) AS seq, 'U' AS op,
        |                CAST(0.0 AS DOUBLE) AS v
        |         FROM (SELECT k FROM ids
        |               UNION ALL
        |               SELECT k + 1000000 FROM ids WHERE k % 10 = 0) t),
        |allops AS (SELECT * FROM base UNION ALL
        |           SELECT * FROM changelog),
        |ranked AS (
        |  SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) AS rk,
        |    CAST(SUM(CASE WHEN seq >= 0 THEN 1 ELSE 0 END)
        |         OVER (PARTITION BY k) AS BIGINT) AS n_ops
        |  FROM allops)
        |SELECT k AS user_id, seq AS last_seq, v AS last_value, n_ops
        |FROM ranked WHERE rk = 1 AND op <> 'D'
        |ORDER BY user_id""".stripMargin
  )
}
