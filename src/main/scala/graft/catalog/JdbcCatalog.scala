package graft.catalog

import java.sql.DriverManager

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.jdbc.JdbcUtils
import org.apache.spark.sql.jdbc.JdbcDialects
import org.apache.spark.sql.types.{DoubleType, StructType}
import graft.Tables.load

/** JDBC catalog path — the declared architecture ("Spark with JDBC sink
  * to MySQL"). The reference keeps its whole catalog behind a SQL
  * connection (Cenir_DB.py:50-60) and maintains it with a per-row
  * probe/insert/update loop (update_exam_sql_db, Cenir_DB.py:62-135,
  * 956-1024). Spark-first restatement:
  *
  *  - '''S8 scan''': `spark.read.jdbc` with column-range partitioning —
  *    N executors each pull a key range concurrently instead of one
  *    cursor streaming the whole table through the driver.
  *  - '''K1 append''': `df.write.jdbc` (batched inserts per partition).
  *  - '''K2/K3 upsert''': the batch is staged into a side table via the
  *    same partition-parallel JDBC write, then ONE database-side
  *    `MERGE INTO` statement applies insert-if-new /
  *    update-if-changed-outside-exclude-list. JDBC traffic is
  *    batch-sized; the (much larger) target table never crosses the
  *    wire — the opposite of read-merge-rewrite, and the shape that
  *    survives a 100 TB catalog.
  *
  * Change detection mirrors MergeOps: null-aware inequality per
  * compared column, doubles via the reference's round(x*1e5) tolerance
  * (Cenir_DB.py:938) — rendered as FLOOR(x*1e5 + 0.5), which agrees
  * with half-up rounding for the non-negative values the reference
  * compares. Tested against embedded Derby (in-memory) in JdbcSpec;
  * the DDL is ANSI MERGE, so the same statement runs on MySQL 8 /
  * Postgres 15+ with only the identifier-quoting character changing.
  */
object JdbcCatalog {

  /** Spark's built-in DerbyDialect maps StringType to CLOB — Derby
    * forbids CLOB in comparison predicates (so the MERGE's change
    * detection would fail) and rejects setNull(CLOB) on a VARCHAR
    * column. This dialect maps strings to VARCHAR instead; registered
    * first, it wins over the built-in for jdbc:derby URLs. */
  private object DerbyVarcharDialect
      extends org.apache.spark.sql.jdbc.JdbcDialect {
    override def canHandle(url: String): Boolean =
      url.startsWith("jdbc:derby")
    override def getJDBCType(dt: org.apache.spark.sql.types.DataType)
        : Option[org.apache.spark.sql.jdbc.JdbcType] = dt match {
      case org.apache.spark.sql.types.StringType =>
        Some(org.apache.spark.sql.jdbc.JdbcType("VARCHAR(4000)",
          java.sql.Types.VARCHAR))
      case _ => None
    }
  }

  @volatile private var dialectRegistered = false

  /** Derby's embedded driver lives in derbytools; loading it eagerly
    * keeps DriverManager happy on executor threads too. */
  private def ensureDriver(url: String): Unit =
    if (url.startsWith("jdbc:derby")) {
      Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
      if (!dialectRegistered) synchronized {
        if (!dialectRegistered) {
          org.apache.spark.sql.jdbc.JdbcDialects
            .registerDialect(DerbyVarcharDialect)
          dialectRegistered = true
        }
      }
    }

  private def q(id: String) = "\"" + id + "\""

  /** S8: JDBC table scan. With `partition` set, Spark issues
    * `numPartitions` range-predicate queries in parallel — the
    * multi-executor scan shape for a big catalog table. */
  def scan(spark: SparkSession, url: String, table: String,
      partition: Option[(String, Long, Long, Int)] = None): DataFrame = {
    ensureDriver(url)
    val r = spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
    (partition match {
      case Some((c, lo, hi, n)) => r.option("partitionColumn", c)
        .option("lowerBound", lo).option("upperBound", hi)
        .option("numPartitions", n)
      case None => r
    }).load()
  }

  /** K1 (append) / table (re)create. `colTypes` overrides the dialect's
    * default DDL types — Derby maps StringType to CLOB, which cannot sit
    * in a comparison predicate, so string columns get VARCHAR here. */
  def write(df: DataFrame, url: String, table: String, mode: SaveMode,
      colTypes: Map[String, String] = Map.empty): Unit = {
    ensureDriver(url)
    val w = df.write.format("jdbc").option("url", url)
      .option("dbtable", table).mode(mode)
    val ct = colTypes.map { case (c, t) => s"$c $t" }.mkString(", ")
    (if (ct.nonEmpty) w.option("createTableColumnTypes", ct) else w).save()
  }

  /** The upsert statement(s) for a staged batch — dialect-branched:
    *  - ANSI `MERGE INTO` (Derby-tested; runs on MySQL 8 HeatWave /
    *    Postgres 15+ with only the quoting character changing): one
    *    statement;
    *  - MySQL for `jdbc:mysql:` URLs — the reference's sink semantics
    *    (Cenir_DB.py:956-1024) as TWO deterministic statements:
    *    `UPDATE … JOIN stage … SET … WHERE <changed>` (the WHERE is
    *    evaluated against pre-update row values, per the SQL standard)
    *    followed by `INSERT … SELECT … WHERE NOT EXISTS`. The earlier
    *    single-statement `ON DUPLICATE KEY UPDATE` form latched the
    *    change predicate into a `@graft_chg` session variable, but
    *    MySQL documents both ODKU assignment order and in-statement
    *    user-variable evaluation order as undefined (and deprecates
    *    the latter in 8.0) — on a real server later columns could read
    *    a stale latch. Two statements sidestep the hazard; the stage
    *    table is static between them, so the split is only non-atomic
    *    with respect to concurrent writers, which the reference's
    *    single-writer ETL never has.
    * Both dialects share the null-aware per-column change predicate
    * and the reference's round(x*1e5) double tolerance. */
  private[graft] def upsertSqls(url: String, table: String,
      stage: String, schema: org.apache.spark.sql.types.StructType,
      key: String, exclude: Seq[String]): Seq[String] = {
    val mysql = url.startsWith("jdbc:mysql")
    def qi(id: String) = if (mysql) s"`$id`" else q(id)
    val cols = schema.fieldNames.toSeq
    val nonKey = cols.filterNot(_ == key)
    val cmpCols = nonKey.filterNot(exclude.contains)
    // old-row vs new-row reference per dialect: MERGE sees aliases
    // t/s; the MySQL UPDATE..JOIN sees both by table name
    def oldRef(c: String) = if (mysql) s"$table.${qi(c)}" else s"t.${qi(c)}"
    def newRef(c: String) = if (mysql) s"$stage.${qi(c)}" else s"s.${qi(c)}"
    def changedCol(c: String): String = {
      val (t, s2) = (oldRef(c), newRef(c))
      val neq = schema(c).dataType match {
        case DoubleType =>
          s"FLOOR($t * 100000 + 0.5) <> FLOOR($s2 * 100000 + 0.5)"
        case _ => s"$t <> $s2"
      }
      s"(($t IS NULL AND $s2 IS NOT NULL)" +
        s" OR ($t IS NOT NULL AND $s2 IS NULL) OR $neq)"
    }
    val insCols = cols.map(qi).mkString(", ")
    // key-only schema or all-excluded: nothing can ever count as
    // changed, so the update arm is omitted entirely (MySQL: a
    // no-op self-assignment of the key, the idiomatic "do nothing")
    val haveUpdate = cmpCols.nonEmpty && nonKey.nonEmpty
    if (mysql) {
      val sel = cols.map(c => s"$stage.${qi(c)}").mkString(", ")
      val insert =
        s"""INSERT INTO $table ($insCols)
           |SELECT $sel FROM $stage
           |WHERE NOT EXISTS (SELECT 1 FROM $table
           |  WHERE $table.${qi(key)} = $stage.${qi(key)})""".stripMargin
      if (!haveUpdate) Seq(insert)
      else {
        val cond = cmpCols.map(changedCol).mkString("(", " OR ", ")")
        val sets = nonKey.map(c => s"${oldRef(c)} = ${newRef(c)}")
          .mkString(",\n  ")
        val update =
          s"""UPDATE $table JOIN $stage
             |  ON $table.${qi(key)} = $stage.${qi(key)}
             |SET $sets
             |WHERE $cond""".stripMargin
        Seq(update, insert)
      }
    } else {
      val insVals = cols.map(c => s"s.${qi(c)}").mkString(", ")
      val updateArm =
        if (!haveUpdate) ""
        else {
          val cond = cmpCols.map(changedCol).mkString("(", " OR ", ")")
          val sets = nonKey.map(c => s"${qi(c)} = s.${qi(c)}")
            .mkString(", ")
          s"\nWHEN MATCHED AND $cond THEN UPDATE SET $sets"
        }
      Seq(
        s"""MERGE INTO $table t USING $stage s ON t.${qi(key)} = s.${qi(key)}$updateArm
           |WHEN NOT MATCHED THEN INSERT ($insCols) VALUES ($insVals)""".stripMargin)
    }
  }

  /** K2/K3: staged MERGE upsert. Returns rows affected by the upsert
    * (inserted + updated; 0 on an idempotent re-run).
    *
    * The staging table `<table>_STAGE` persists between calls. When it
    * already has the batch's columns ([[stageFits]]) it is cleared with
    * `DELETE` and the batch appended, so a stream of same-shape
    * deliveries runs no DDL: Derby gives every re-created table and
    * index a new container file in `seg0`, which grew the catalog by
    * 64 KiB per call. A missing or drifted stage is re-created from the
    * batch. The stage has no index — the MERGE scans it and probes the
    * target's key index, created here on first use. Concurrent upserts
    * into one table share its stage and are not supported. */
  def stagedUpsert(spark: SparkSession, url: String, table: String,
      batch: DataFrame, key: String, exclude: Seq[String] = Nil,
      colTypes: Map[String, String] = Map.empty): Long = {
    val stage = table + "_STAGE"
    ensureDriver(url)
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try {
        if (stageFits(conn, url, stage, batch.schema, colTypes)) {
          st.executeUpdate(s"DELETE FROM $stage")
          write(batch, url, stage, SaveMode.Append)
        } else write(batch, url, stage, SaveMode.Overwrite, colTypes)
        // without the target's key index Derby runs the MERGE as a
        // nested loop of full scans (minutes for 150k × 45k); it may
        // already exist — a duplicate-name error is the fine outcome
        try st.executeUpdate(
          s"CREATE INDEX ${table}_KEYIDX ON $table (${q(key)})")
        catch { case _: java.sql.SQLException => }
        upsertSqls(url, table, stage, batch.schema, key, exclude)
          .map(st.executeUpdate(_).toLong).sum
      } finally st.close()
    } finally conn.close()
  }

  /** Whether `stage` exists with exactly the columns creating it from
    * `schema` would give: names in order, DDL type (`colTypes` or the
    * dialect's) and nullability, as the database reports them. A type
    * the database renders differently from its DDL reads as drift,
    * which costs only a re-create. */
  private def stageFits(conn: java.sql.Connection, url: String,
      stage: String, schema: StructType,
      colTypes: Map[String, String]): Boolean = {
    def norm(t: String) = t.toUpperCase(java.util.Locale.ROOT)
      .replaceAll("\\s+", "").replace("DOUBLEPRECISION", "DOUBLE")
    val dialect = JdbcDialects.get(url)
    val want = schema.fields.toSeq.map { f =>
      (f.name, norm(colTypes.getOrElse(f.name,
        JdbcUtils.getJdbcType(f.dataType, dialect).databaseTypeDefinition)),
        f.nullable)
    }
    val st = conn.createStatement()
    try {
      val md = st.executeQuery(s"SELECT * FROM $stage WHERE 1 = 0")
        .getMetaData
      val have = (1 to md.getColumnCount).map { i =>
        val name = norm(md.getColumnTypeName(i))
        val ddl = name match {
          case "CHAR" | "VARCHAR" => s"$name(${md.getPrecision(i)})"
          case "DECIMAL" | "NUMERIC" =>
            s"$name(${md.getPrecision(i)},${md.getScale(i)})"
          case _ => name
        }
        (md.getColumnName(i), ddl,
          md.isNullable(i) != java.sql.ResultSetMetaData.columnNoNulls)
      }
      have == want
    } catch { case _: java.sql.SQLException => false } // no stage yet
    finally st.close()
  }

  // ------------------------------------------------------------------
  // Oracle-checked round trip: parquet → JDBC table → staged MERGE →
  // partitioned JDBC scan back into Spark. The oracle computes the same
  // final table state directly over the parquet (prefer-batch full
  // outer join — equivalent here because "kept" rows are bitwise equal
  // to their batch copies; the sub-tolerance keep path is unit-tested
  // with handpicked values in JdbcSpec).
  // ------------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "k1_jdbc_roundtrip" -> ((s, dir) => {
      val base = load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderpriority"))
      val changed = base.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1.0)
      val same = base.filter(col("o_orderkey") % 10 === 1)
      val fresh = base.filter(col("o_orderkey") % 10 === 2)
        .withColumn("o_orderkey", col("o_orderkey") + 1000000)
      val batch = changed.union(same).union(fresh)
      // one in-memory Derby db per sf-dir: Verify's 4-way-concurrent
      // queries and Bench's 3 sequential runs each see a private,
      // drop-and-recreate-idempotent database
      val url = s"jdbc:derby:memory:graft${math.abs(dir.hashCode)};create=true"
      val colTypes = Map("o_orderpriority" -> "VARCHAR(32)")
      // PhaseLog: the embedded single-JVM database is the scale-bound
      // share of this query (13× at 10× data is Derby, not the plan —
      // BENCH_NOTES "Round-9 k1 cost attribution"); tag it so the
      // bench artifact carries the split and regression gates can
      // diff the Spark residual alone
      graft.PhaseLog.timed("derby_load") {
        write(base, url, "GRAFT_ORDERS", SaveMode.Overwrite, colTypes)
      }
      graft.PhaseLog.timed("derby_merge") {
        stagedUpsert(s, url, "GRAFT_ORDERS", batch, "o_orderkey",
          colTypes = colTypes): Unit
      }
      // the read back OUT of Derby is the third external-engine phase
      // (the sweep's one >100× row must be fully attributed) — persist + count executes the partitioned JDBC
      // scan HERE, once, inside the timed block, so the sort below is
      // the genuinely-Spark residual. Same rows, same single read of
      // Derby as the lazy plan had. persist (not localCheckpoint):
      // Dataset caches are released by spark.catalog.clearCache() —
      // which the bench calls between queries — while checkpoint
      // blocks linger until a post-GC ContextCleaner pass and would
      // stack up to four table copies inside the measured window.
      val read = graft.PhaseLog.timed("jdbc_readback") {
        val df = scan(s, url, "GRAFT_ORDERS",
          partition = Some(("o_orderkey", 0L, 2000000L, 8)))
          .persist()
        df.count()
        df
      }
      read.orderBy(col("o_orderkey"))
    })
  )

  val oracle: Map[String, String] = Map(
    "k1_jdbc_roundtrip" ->
      """WITH b AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice + 1.0 AS o_totalprice,
        |         o_orderpriority
        |  FROM orders WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |  FROM orders WHERE o_orderkey % 10 = 1
        |  UNION ALL
        |  SELECT o_orderkey + 1000000, o_custkey, o_totalprice,
        |         o_orderpriority
        |  FROM orders WHERE o_orderkey % 10 = 2)
        |SELECT COALESCE(b.o_orderkey, d.o_orderkey) AS o_orderkey,
        |  CASE WHEN b.o_orderkey IS NOT NULL THEN b.o_custkey
        |       ELSE d.o_custkey END AS o_custkey,
        |  CASE WHEN b.o_orderkey IS NOT NULL THEN b.o_totalprice
        |       ELSE d.o_totalprice END AS o_totalprice,
        |  CASE WHEN b.o_orderkey IS NOT NULL THEN b.o_orderpriority
        |       ELSE d.o_orderpriority END AS o_orderpriority
        |FROM orders d FULL OUTER JOIN b ON d.o_orderkey = b.o_orderkey
        |ORDER BY o_orderkey""".stripMargin
  )
}
