package graft

import java.sql.DriverManager

import org.apache.spark.sql.{Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.JdbcCatalog

/** JDBC catalog path (S8/K1/K2/K3) against embedded in-memory Derby:
  * partitioned scan, append, and the staged MERGE upsert — including
  * the float-tolerance keep, the exclude-list, and the idempotence
  * property (re-merging the same batch affects 0 rows).
  */
class JdbcSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private val url = "jdbc:derby:memory:graft_spec;create=true"
  private val types = Map("name" -> "VARCHAR(64)")

  private def seed(table: String): Unit = {
    val db = Seq(
      (1L, "alice", 2.0000001, "2024-01-01"),
      (2L, "bob", 10.0, "2024-01-02"),
      (3L, "carol", 30.0, "2024-01-03")
    ).toDF("id", "name", "price", "day")
    JdbcCatalog.write(db, url, table, SaveMode.Overwrite, types)
  }

  test("round trip: write then scan returns the same rows") {
    seed("RT")
    val back = JdbcCatalog.scan(spark, url, "RT")
    assert(back.columns.sorted.toSeq == Seq("day", "id", "name", "price"))
    assert(back.orderBy("id").collect().map(r => (r.getLong(0),
      r.getString(1))).toSeq == Seq(1L -> "alice", 2L -> "bob", 3L -> "carol"))
  }

  test("filters push into the JDBC source query (not evaluated in Spark)") {
    seed("t_push")
    val df = JdbcCatalog.scan(spark, url, "t_push").filter(col("id") > 1L)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters:") &&
      "(?i)GreaterThan\\(\"?id\"?,1\\)".r.findFirstIn(p).nonEmpty,
      s"id > 1 not pushed to the JDBC scan:\n${p.take(1500)}")
    assert(df.count() == 2)
  }

  test("partitioned scan splits the key range across N partitions") {
    seed("PART")
    val scanned = JdbcCatalog.scan(spark, url, "PART",
      partition = Some(("id", 0L, 4L, 4)))
    assert(scanned.rdd.getNumPartitions == 4)
    assert(scanned.count() == 3)
  }

  test("append adds rows without touching existing ones") {
    seed("APP")
    val more = Seq((4L, "dave", 40.0, "2024-01-04"))
      .toDF("id", "name", "price", "day")
    JdbcCatalog.write(more, url, "APP", SaveMode.Append)
    assert(JdbcCatalog.scan(spark, url, "APP").count() == 4)
  }

  test("staged upsert: insert-new, update-changed, keep within float tolerance") {
    seed("UP")
    val batch = Seq(
      (1L, "alice", 2.0000002, "2024-01-01"), // round(x*1e5) equal -> kept
      (2L, "bob", 11.5, "2024-01-02"),        // price changed -> updated
      (3L, "carol", 30.0, "2024-01-03"),      // identical -> kept
      (9L, "zoe", 90.0, "2024-01-09")         // new key -> inserted
    ).toDF("id", "name", "price", "day")
    val affected = JdbcCatalog.stagedUpsert(spark, url, "UP", batch, "id",
      colTypes = types)
    assert(affected == 2) // one update + one insert
    val out = JdbcCatalog.scan(spark, url, "UP").orderBy("id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 9L))
    // the sub-tolerance row kept the DB value, not the batch's
    assert(out(0).getDouble(2) == 2.0000001)
    assert(out(1).getDouble(2) == 11.5)
    // idempotence: the same batch again touches nothing
    assert(JdbcCatalog.stagedUpsert(spark, url, "UP", batch, "id",
      colTypes = types) == 0)
  }

  test("exclude-list: a change only in an excluded column is kept") {
    seed("EXC")
    val batch = Seq((2L, "bob", 10.0, "2099-12-31"))
      .toDF("id", "name", "price", "day")
    val affected = JdbcCatalog.stagedUpsert(spark, url, "EXC", batch, "id",
      exclude = Seq("day"), colTypes = types)
    assert(affected == 0)
    val day = JdbcCatalog.scan(spark, url, "EXC")
      .filter(col("id") === 2).select("day").as[String].head()
    assert(day == "2024-01-02") // DB value survives
  }

  test("null-aware change detection updates null->value and value->null") {
    val schema = StructType(Seq(StructField("id", LongType, false),
      StructField("name", StringType, true)))
    val db = spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, null), Row(2L, "kept")), schema)
    JdbcCatalog.write(db, url, "NULLS", SaveMode.Overwrite, types)
    val batch = spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, "filled"), Row(2L, null)), schema)
    assert(JdbcCatalog.stagedUpsert(spark, url, "NULLS", batch, "id",
      colTypes = types) == 2)
    val out = JdbcCatalog.scan(spark, url, "NULLS").orderBy("id")
      .collect().map(r => Option(r.getString(1)))
    assert(out.toSeq == Seq(Some("filled"), None))
  }

  /** (name, type, precision, nullable) of each column of `table`, as
    * the database reports them. */
  private def columns(url: String, table: String)
      : Seq[(String, String, Int, Boolean)] = {
    val c = DriverManager.getConnection(url)
    try {
      val md = c.createStatement()
        .executeQuery(s"SELECT * FROM $table WHERE 1 = 0").getMetaData
      (1 to md.getColumnCount).map(i => (md.getColumnName(i),
        md.getColumnTypeName(i), md.getPrecision(i),
        md.isNullable(i) != java.sql.ResultSetMetaData.columnNoNulls))
    } finally c.close()
  }

  /** The `seg0` container files (heap and indexes) of `table`. */
  private def containers(url: String, table: String): Set[String] = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(
        "SELECT c.CONGLOMERATENUMBER FROM SYS.SYSCONGLOMERATES c " +
          "JOIN SYS.SYSTABLES t ON c.TABLEID = t.TABLEID " +
          s"WHERE t.TABLENAME = '$table'")
      Iterator.continually(rs).takeWhile(_.next())
        .map(r => s"c${java.lang.Long.toHexString(r.getLong(1))}.dat").toSet
    } finally c.close()
  }

  test("stagedUpsert reuses its staging table: same-shape upserts run " +
      "no DDL and grow no file but the target's") {
    val dir = java.nio.file.Files.createTempDirectory("graft_derby")
      .resolve("db")
    val disk = s"jdbc:derby:$dir;create=true"
    def seg0(): Map[String, Long] =
      dir.resolve("seg0").toFile.listFiles().toSeq
        .map(f => f.getName -> f.length).toMap
    JdbcCatalog.write(Seq(
      (1L, "alice", 2.0, "2024-01-01"), (2L, "bob", 10.0, "2024-01-02"))
      .toDF("id", "name", "price", "day"), disk, "TGT", SaveMode.Overwrite,
      types)
    // each batch updates one row, keeps one, inserts one
    def batch(k: Int) = Seq((1L, "alice", 3.0 + k, "2024-01-01"),
      (2L, "bob", 10.0, "2024-01-02"), (100L + k, s"new$k", 1.0, "2024-02-01"))
      .toDF("id", "name", "price", "day")
    def upsert(k: Int) = JdbcCatalog.stagedUpsert(spark, disk, "TGT",
      batch(k), "id", colTypes = types)
    assert(upsert(0) == 2) // creates the stage and the target's index
    val before = seg0()
    (1 to 5).foreach(k => assert(upsert(k) == 2))
    val after = seg0()
    assert(after.keySet == before.keySet,
      s"upserts created containers ${after.keySet -- before.keySet}")
    val grew = after.keySet.filter(f => after(f) != before(f))
    assert((grew -- containers(disk, "TGT")).isEmpty,
      s"files other than the target's grew: $grew")
    val out = JdbcCatalog.scan(spark, disk, "TGT").orderBy("id")
      .select("id", "price").as[(Long, Double)].collect().toSeq
    assert(out == Seq((1L, 8.0), (2L, 10.0)) ++
      (0 to 5).map(k => (100L + k, 1.0)))
    assert(columns(disk, "TGT_STAGE") == Seq(("id", "BIGINT", 19, false),
      ("name", "VARCHAR", 64, true), ("price", "DOUBLE", 15, false),
      ("day", "VARCHAR", 4000, true)))
  }

  test("stagedUpsert re-creates a stage whose columns or types drifted " +
      "and merges the new shape correctly") {
    seed("DRIFT")
    def upsert(df: org.apache.spark.sql.DataFrame,
        ct: Map[String, String] = types) =
      JdbcCatalog.stagedUpsert(spark, url, "DRIFT", df, "id", colTypes = ct)
    assert(upsert(Seq((1L, "alice", 2.5, "2024-01-01"))
      .toDF("id", "name", "price", "day")) == 1)
    // a column fewer: the stage follows, `day` keeps the target's value
    assert(upsert(Seq((2L, "bob", 12.0)).toDF("id", "name", "price")) == 1)
    assert(columns(url, "DRIFT_STAGE").map(_._1) == Seq("id", "name", "price"))
    // a retyped key (INTEGER stage against the BIGINT target)
    assert(upsert(Seq((3, "carol", 31.0)).toDF("id", "name", "price")) == 1)
    assert(columns(url, "DRIFT_STAGE").head._2 == "INTEGER")
    // a narrower string DDL type
    assert(upsert(Seq((4L, "dan", 4.0)).toDF("id", "name", "price"),
      Map("name" -> "VARCHAR(8)")) == 1)
    assert(columns(url, "DRIFT_STAGE")(1) == (("name", "VARCHAR", 8, true)))
    // nullability: a nullable key after a NOT NULL one
    val nullable = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, "alice", 3.5)), StructType(Seq(
        StructField("id", LongType), StructField("name", StringType),
        StructField("price", DoubleType, false))))
    assert(upsert(nullable) == 1)
    assert(columns(url, "DRIFT_STAGE").head == (("id", "BIGINT", 19, true)))
    val out = JdbcCatalog.scan(spark, url, "DRIFT").orderBy("id")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("name"),
        Option(r.getAs[java.lang.Double]("price")).map(_.doubleValue),
        r.getAs[String]("day"))).toSeq
    assert(out == Seq((1L, "alice", Some(3.5), "2024-01-01"),
      (2L, "bob", Some(12.0), "2024-01-02"),
      (3L, "carol", Some(31.0), "2024-01-03"), (4L, "dan", Some(4.0), null)))
  }

  test("mysql dialect emits UPDATE..JOIN + INSERT..NOT EXISTS with " +
      "change guards (Cenir_DB.py:956-1024 semantics)") {
    val schema = StructType(Seq(
      StructField("id", LongType, false),
      StructField("name", StringType, true),
      StructField("price", DoubleType, true),
      StructField("day", StringType, true)))
    val sqls = JdbcCatalog.upsertSqls("jdbc:mysql://host/db", "EXAMS",
      "EXAMS_STAGE", schema, "id", exclude = Seq("day"))
    // two deterministic statements — no ODKU, no session-variable
    // latch (MySQL documents ODKU assignment order and in-statement
    // user-variable evaluation order as undefined)
    assert(sqls.size == 2)
    val Seq(update, insert) = sqls
    assert(!update.contains("@graft_chg") && !insert.contains("@graft_chg"))
    assert(!insert.contains("ON DUPLICATE KEY UPDATE"))
    // update arm: pre-update WHERE over target vs stage, all non-key
    // columns SET (excluded ones too — MERGE-arm parity)
    assert(update.startsWith("UPDATE EXAMS JOIN EXAMS_STAGE"))
    assert(update.contains("ON EXAMS.`id` = EXAMS_STAGE.`id`"))
    assert(update.contains("EXAMS.`name` = EXAMS_STAGE.`name`"))
    assert(update.contains("EXAMS.`day` = EXAMS_STAGE.`day`"))
    // the double column compares under the reference's 1e5 tolerance
    assert(update.contains("FLOOR(EXAMS.`price` * 100000 + 0.5) <> " +
      "FLOOR(EXAMS_STAGE.`price` * 100000 + 0.5)"))
    // excluded column: never part of the change predicate, still SET
    assert(!update.contains("EXAMS_STAGE.`day` IS NOT NULL"))
    // null-aware inequality present for the compared string column
    assert(update.contains(
      "(EXAMS.`name` IS NULL AND EXAMS_STAGE.`name` IS NOT NULL)"))
    // insert arm: only rows whose key is absent from the target
    assert(insert.startsWith(
      "INSERT INTO EXAMS (`id`, `name`, `price`, `day`)"))
    assert(insert.contains("WHERE NOT EXISTS (SELECT 1 FROM EXAMS"))
    assert(insert.contains("EXAMS.`id` = EXAMS_STAGE.`id`"))
  }

  test("mysql dialect with nothing comparable degrades to insert-only") {
    val schema = StructType(Seq(StructField("id", LongType, false)))
    val sqls = JdbcCatalog.upsertSqls("jdbc:mysql://host/db", "T",
      "T_STAGE", schema, "id", Nil)
    assert(sqls.size == 1) // no update arm at all — the "do nothing"
    assert(sqls.head.startsWith("INSERT INTO T (`id`)"))
    assert(sqls.head.contains("WHERE NOT EXISTS"))
  }

  test("ansi dialect emission is unchanged by the dialect branch") {
    val schema = StructType(Seq(
      StructField("id", LongType, false),
      StructField("name", StringType, true)))
    val Seq(sql) = JdbcCatalog.upsertSqls("jdbc:derby:memory:x", "T",
      "T_STAGE", schema, "id", Nil)
    assert(sql.startsWith("MERGE INTO T t USING T_STAGE s"))
    assert(sql.contains("WHEN MATCHED AND") &&
      sql.contains("WHEN NOT MATCHED THEN INSERT"))
    assert(sql.contains("\"name\" = s.\"name\""))
  }
}
