package graft.sql

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.lake.MergeTable

/** The SQL front-end: every statement drives the SAME MergeTable call
  * its Scala API form does, so each test runs both forms on twin
  * tables and asserts identical final state. The parser is injected
  * via `spark.sql.extensions=graft.functions.GraftExtensions`
  * (TestSpark builds the shared session that way — the externally-
  * built-session path, not a private hook). */
class GraftSqlSpec extends SparkSpec {
  import spark.implicits._

  private def orders(rows: (String, String, Double)*): DataFrame =
    rows.toDF("order_id", "date", "amount")

  private def contents(df: DataFrame): Set[(String, String, Double)] =
    df.select("order_id", "date", "amount")
      .as[(String, String, Double)].collect().toSet

  private def freshPair(tag: String): (MergeTable, MergeTable) = {
    val viaSql = MergeTable(spark, tmpDir(s"sql_$tag").toString, Some("date"))
    val viaApi = MergeTable(spark, tmpDir(s"api_$tag").toString, Some("date"))
    Seq(viaSql, viaApi).foreach(
      _.overwrite(orders(("o1", "2024-01-01", 10.0), ("o2", "2024-01-02", 20.0))))
    GraftSql.register(s"t_$tag", viaSql)
    (viaSql, viaApi)
  }

  test("MERGE INTO via SQL == merge() via API (view and subquery sources)") {
    val (viaSql, viaApi) = freshPair("merge")
    orders(("o2", "2024-01-02", 99.0), ("o3", "2024-01-03", 30.0))
      .createOrReplaceTempView("merge_src")
    val r = spark.sql("MERGE INTO t_merge USING merge_src ON order_id")
    viaApi.merge(spark.table("merge_src"), "order_id")
    assert(contents(viaSql.read()) === contents(viaApi.read()))
    assert(r.columns.toSeq === Seq("version"))
    assert(r.as[Long].head() === viaSql.latestVersion(),
      "the statement returns the committed version")
    // subquery source, second wave
    spark.sql(
      "MERGE INTO t_merge USING (SELECT 'o4' AS order_id, " +
        "'2024-01-04' AS date, 40.0 AS amount) ON order_id")
    viaApi.merge(Seq(("o4", "2024-01-04", 40.0))
      .toDF("order_id", "date", "amount"), "order_id")
    assert(contents(viaSql.read()) === contents(viaApi.read()))
    assert(contents(viaSql.read()).map(_._1) === Set("o1", "o2", "o3", "o4"))
  }

  test("UPDATE / DELETE via SQL == update() / delete() via API") {
    val (viaSql, viaApi) = freshPair("ud")
    // SET with a function call carrying a top-level-looking comma, plus
    // a WHERE touching a second column
    spark.sql(
      "UPDATE t_ud SET amount = round(amount * 1.1, 2) " +
        "WHERE order_id = 'o1'")
    viaApi.update(col("order_id") === "o1",
      Map("amount" -> round(col("amount") * 1.1, 2)))
    assert(contents(viaSql.read()) === contents(viaApi.read()))
    spark.sql("DELETE FROM t_ud WHERE amount > 15.0")
    viaApi.delete(col("amount") > 15.0)
    assert(contents(viaSql.read()) === contents(viaApi.read()))
    assert(contents(viaSql.read()).map(_._1) === Set("o1"))
  }

  test("OPTIMIZE, RESTORE, VACUUM via SQL == compact/restore/vacuum via API") {
    val (viaSql, viaApi) = freshPair("orv")
    Seq(viaSql, viaApi).foreach(
      _.merge(orders(("o3", "2024-01-01", 30.0)), "order_id"))
    val vPre = viaSql.latestVersion()
    spark.sql("OPTIMIZE t_orv")
    viaApi.compact()
    assert(contents(viaSql.read()) === contents(viaApi.read()))
    // RESTORE back past the compact+merge, then VACUUM
    spark.sql(s"RESTORE t_orv TO VERSION AS OF 1")
    viaApi.restore(1L)
    assert(contents(viaSql.read()) === contents(viaApi.read()))
    assert(contents(viaSql.read()).map(_._1) === Set("o1", "o2"))
    spark.sql("VACUUM t_orv")
    viaApi.vacuum()
    assert(contents(viaSql.read()) === contents(viaApi.read()))
    assert(vPre > 1L) // the restore actually rewound something
  }

  test("OPTIMIZE ... ZORDER BY routes to zorder()") {
    val t = MergeTable(spark, tmpDir("sql_z").toString, None,
      Seq("a", "b"))
    t.overwrite((1 to 64).map(i => (i.toLong % 8, i.toLong / 8, s"r$i"))
      .toDF("a", "b", "payload"))
    GraftSql.register("t_z", t)
    spark.sql("OPTIMIZE t_z ZORDER BY (a, b)")
    // zorder committed a new version and the data survived intact
    assert(t.read().count() === 64)
    assert(t.latestVersion() >= 2L)
  }

  test("OPTIMIZE ... WHERE via SQL == compactWhere via API") {
    val (viaSql, viaApi) = freshPair("optw")
    Seq(viaSql, viaApi).foreach(_.merge(orders(
      ("o3", "2024-01-01", 30.0), ("o4", "2024-01-01", 40.0)), "order_id"))
    val want = contents(viaSql.read())
    spark.sql("OPTIMIZE t_optw WHERE date = '2024-01-01'")
    viaApi.compactWhere(col("date") === "2024-01-01")
    assert(contents(viaSql.read()) === contents(viaApi.read()))
    // file layout agrees partition-for-partition (DESCRIBE DETAIL is
    // the public num_files surface)
    def nf(t: MergeTable) = t.detail().select("num_files").as[Long].head()
    assert(nf(viaSql) === nf(viaApi))
    // a string literal containing the ZORDER keyword stays inside the
    // predicate (quote-aware boundary scan, not a bare-keyword regex):
    // the statement reaches EXECUTION with the literal intact — the
    // ANSI date-cast error carries it verbatim (a mis-split would have
    // died at parse time with an "expected ZORDER BY" error instead)
    val qe = intercept[Exception](
      spark.sql("OPTIMIZE t_optw WHERE date = 'x ZORDER BY (y)'"))
    assert(qe.getMessage.contains("x ZORDER BY (y)"))
    assert(contents(viaSql.read()) === want)
    // WHERE + ZORDER BY compose: the scoped Z-cluster path
    spark.sql("OPTIMIZE t_optw WHERE date = '2024-01-01' ZORDER BY (amount)")
    viaApi.compactWhere(col("date") === "2024-01-01",
      zorderCols = Seq("amount"))
    assert(contents(viaSql.read()) === contents(viaApi.read()))
    // junk between name and clauses is rejected, not silently ignored
    intercept[Exception](spark.sql("OPTIMIZE t_optw BOGUS 42"))
  }

  test("REGISTER ... WITH AUTO COMPACT pays small-file debt back via SQL") {
    val root = tmpDir("sql_ac").toString
    MergeTable(spark, root, Some("date"))
      .overwrite(orders(("o1", "2024-01-01", 1.0)))
    spark.sql(s"REGISTER GRAFT TABLE t_ac AT '$root' " +
      "PARTITIONED BY (date) WITH AUTO COMPACT (67108864, 3)")
    spark.sql("INSERT INTO t_ac VALUES ('o2', 2.0, '2024-01-01')")
    def nFiles: Long = spark.sql("DESCRIBE DETAIL t_ac")
      .select("num_files").as[Long].head()
    assert(nFiles === 2L) // under the 3-file trigger
    spark.sql("INSERT INTO t_ac VALUES ('o3', 3.0, '2024-01-01')")
    assert(nFiles === 1L) // trigger crossed -> auto bin-pack
    assert(spark.sql("SELECT count(*) c FROM graft_table('t_ac')")
      .as[Long].head() === 3L)
  }

  test("INSERT INTO with a column list: reordered, omitted-null, and " +
      "engine-populated columns") {
    val t = MergeTable(spark, tmpDir("sql_il").toString, None)
    t.addIdentityColumn("rid")
    t.overwrite(orders(("o1", "d1", 1.0)))
    GraftSql.register("t_il", t)
    // reversed order + omitted amount (NULL) + omitted identity
    spark.sql("INSERT INTO t_il (date, order_id) VALUES ('d2', 'o2')")
    val r = spark.sql("SELECT order_id, date, amount, rid FROM t_il " +
      "WHERE order_id = 'o2'").collect().head
    assert(r.getString(1) === "d2" && r.isNullAt(2) && r.getLong(3) === 2L)
    // unknown and duplicate list entries fail loudly
    intercept[Exception](spark.sql(
      "INSERT INTO t_il (nope) VALUES ('x')"))
    intercept[Exception](spark.sql(
      "INSERT INTO t_il (date, date) VALUES ('a', 'b')"))
    // arity mismatch against the list fails
    intercept[Exception](spark.sql(
      "INSERT INTO t_il (date, order_id) VALUES ('a')"))
    // a parenthesized QUERY is not a column list
    spark.sql("INSERT INTO t_il (SELECT order_id, 'd3', 3.0, 30 " +
      "FROM graft_table('t_il') WHERE order_id = 'o1')")
    assert(spark.sql("SELECT count(*) c FROM graft_table('t_il')")
      .as[Long].head() === 3L)
  }

  test("unregistered names and ordinary SQL delegate to Spark untouched") {
    // ordinary SQL still parses and runs through the injected parser
    assert(spark.sql("SELECT 1 + 1 AS x").as[Int].head() === 2)
    // graft-SHAPED DML against an unregistered name falls through to
    // Spark's parser — whose own analysis then rejects the unknown
    // table, proving we did not swallow the statement
    val e = intercept[Exception] {
      spark.sql("DELETE FROM not_registered WHERE x = 1").collect()
    }
    assert(!e.isInstanceOf[scala.MatchError])
    // a temp view named like a registered table receives the DELETE
    // (Spark refuses DML on a view); the graft table is untouched
    val (viaSql, _) = freshPair("dlg")
    orders(("v1", "2024-01-01", 1.0)).createOrReplaceTempView("t_dlg")
    try intercept[Exception](
      spark.sql("DELETE FROM t_dlg WHERE order_id = 'o1'").collect())
    finally spark.catalog.dropTempView("t_dlg")
    assert(contents(viaSql.read()).map(_._1) === Set("o1", "o2"))
  }

  test("graft_table TVF: SQL snapshot and time-travel reads == API reads") {
    val t = MergeTable(spark, tmpDir("sql_tvf").toString, Some("date"))
    t.overwrite(orders(("o1", "2024-01-01", 10.0)))
    val v1 = t.latestVersion()
    t.merge(orders(("o2", "2024-01-02", 20.0)), "order_id")
    GraftSql.register("t_tvf", t)
    // live snapshot — through a full SELECT with a predicate (the TVF
    // expands to the same logical plan as the API, so pushdown applies)
    assert(spark.sql(
      "SELECT order_id FROM graft_table('t_tvf') WHERE amount > 15 " +
        "ORDER BY order_id").as[String].collect().toSeq === Seq("o2"))
    // version travel
    assert(spark.sql(s"SELECT count(*) AS n FROM graft_table('t_tvf', $v1)")
      .as[Long].head() === 1L)
    assert(contents(spark.sql(s"SELECT * FROM graft_table('t_tvf', $v1)"))
      === contents(t.readVersion(v1)))
    // joins against ordinary relations compose
    Seq(("o1", "alpha"), ("o2", "beta")).toDF("order_id", "label")
      .createOrReplaceTempView("labels")
    assert(spark.sql(
      "SELECT l.label FROM graft_table('t_tvf') g JOIN labels l " +
        "USING (order_id) ORDER BY l.label").as[String].collect().toSeq
      === Seq("alpha", "beta"))
    // unregistered name fails with OUR message, at analysis time
    val e = intercept[Exception](spark.sql("SELECT * FROM graft_table('nope')"))
    assert(e.getMessage.contains("no table registered"))
  }

  test("graft_changes TVF: SQL change feed == changes() via API") {
    val t = MergeTable(spark, tmpDir("sql_cdf").toString, None)
    t.overwrite(orders(("o1", "2024-01-01", 10.0), ("o2", "2024-01-02", 20.0)))
    val v1 = t.latestVersion()
    t.merge(orders(("o2", "2024-01-02", 99.0), ("o3", "2024-01-03", 30.0)),
      "order_id")
    t.delete(col("order_id") === "o1")
    val v3 = t.latestVersion()
    GraftSql.register("t_cdf", t)
    val viaSql = spark.sql(
      s"SELECT order_id, _change_type FROM " +
        s"graft_changes('t_cdf', 'order_id', $v1, $v3) " +
        "ORDER BY order_id, _change_type")
      .as[(String, String)].collect().toSeq
    val viaApi = t.changes(v1, v3, "order_id")
      .select(col("order_id"), col("_change_type"))
      .orderBy("order_id", "_change_type")
      .as[(String, String)].collect().toSeq
    assert(viaSql === viaApi)
    assert(viaSql === Seq(("o1", "delete"), ("o2", "update"),
      ("o3", "insert")))
    // aggregations over the feed compose like any relation
    assert(spark.sql(
      s"SELECT count(*) AS n FROM graft_changes('t_cdf', 'order_id', $v1, $v3) " +
        "WHERE _change_type = 'insert'").as[Long].head() === 1L)
  }

  test("DESCRIBE HISTORY via SQL == history() via API") {
    val t = MergeTable(spark, tmpDir("sql_hist").toString, None)
    t.overwrite(orders(("o1", "2024-01-01", 10.0)))
    t.merge(orders(("o2", "2024-01-02", 20.0)), "order_id")
    GraftSql.register("t_hist", t)
    val viaSql = spark.sql("DESCRIBE HISTORY t_hist")
    assert(viaSql.columns.toSeq ===
      Seq("version", "committed_at", "operation", "operation_parameters",
        "n_added", "n_removed", "has_checkpoint", "operation_metrics"))
    assert(viaSql.select("version", "operation", "n_added")
      .as[(Long, String, Long)].collect().toSeq ===
      t.history().select("version", "operation", "n_added")
        .as[(Long, String, Long)].collect().toSeq)
    assert(viaSql.select("operation").as[String].collect().toSet ===
      Set("WRITE", "MERGE"))
    assert(viaSql.count() === 2L)
    // the MERGE records its source-row count; the WRITE records none
    assert(viaSql.select("operation", "operation_metrics")
      .as[(String, String)].collect().toMap ===
      Map("WRITE" -> null, "MERGE" -> "numSourceRows=1"))
  }

  test("REGISTER/UNREGISTER GRAFT TABLE: a zero-Scala SQL-only path") {
    val dir = tmpDir("sql_reg").toString
    MergeTable(spark, dir, Some("date"))
      .overwrite(orders(("o1", "2024-01-01", 10.0), ("o2", "2024-01-02", 20.0)))
    spark.sql(
      s"REGISTER GRAFT TABLE t_reg AT '$dir' PARTITIONED BY (date) " +
        "STATS (amount)")
    // the registered handle carries the layout contract
    assert(GraftSql.table("t_reg").exists(_.partitionCol === Some("date")))
    assert(GraftSql.table("t_reg").exists(_.statsCols === Seq("amount")))
    // DML + TVF work purely via SQL from here
    spark.sql("DELETE FROM t_reg WHERE order_id = 'o1'")
    assert(spark.sql("SELECT order_id FROM graft_table('t_reg')")
      .as[String].collect().toSeq === Seq("o2"))
    spark.sql("UNREGISTER GRAFT TABLE t_reg")
    assert(GraftSql.table("t_reg").isEmpty)
    // after unregistration the TVF fails and DML delegates to Spark
    intercept[Exception](spark.sql("SELECT * FROM graft_table('t_reg')"))
    intercept[Exception](
      spark.sql("DELETE FROM t_reg WHERE order_id = 'o2'").collect())
  }

  test("REGISTER ... GENERATED (c AS expr) declares the rule SQL-only; " +
      "DESCRIBE DETAIL reports table metadata without a data scan") {
    val dir = tmpDir("sql_gen").toString
    spark.sql(s"REGISTER GRAFT TABLE t_genreg AT '$dir' " +
      "PARTITIONED BY (day) GENERATED (day AS to_date(ts))")
    val t = GraftSql.table("t_genreg").get
    assert(t.generatedColumns === Map("day" -> "to_date(ts)"))
    // a write missing `day` gets it populated — pure-SQL consumers
    // never compute the partition column themselves
    t.overwrite(Seq((1L, "2024-01-05 09:00:00"), (2L, "2024-01-06 09:00:00"))
      .toDF("id", "ts_str")
      .withColumn("ts", col("ts_str").cast("timestamp")).drop("ts_str"))
    assert(t.read().select("day").as[java.sql.Date].collect().toSet ===
      Set(java.sql.Date.valueOf("2024-01-05"),
        java.sql.Date.valueOf("2024-01-06")))
    // idempotent re-register keeps the identical rule...
    spark.sql(s"REGISTER GRAFT TABLE t_genreg AT '$dir' " +
      "PARTITIONED BY (day) GENERATED (day AS to_date(ts))")
    assert(GraftSql.table("t_genreg").get.generatedColumns.size === 1)
    // ...a conflicting rule fails
    intercept[Exception](spark.sql(s"REGISTER GRAFT TABLE t_genreg AT " +
      s"'$dir' PARTITIONED BY (day) GENERATED (day AS to_date(null))")
      .collect())

    val d = spark.sql("DESCRIBE DETAIL t_genreg").collect().head
    assert(d.getAs[String]("format") === "graft")
    assert(d.getAs[String]("partition_column") === "day")
    assert(d.getAs[Long]("version") === t.latestVersion())
    assert(d.getAs[Long]("num_files") === t.detail()
      .select("num_files").as[Long].head())
    assert(d.getAs[Long]("num_files") >= 2L)
    assert(d.getAs[Long]("size_bytes") > 0L)
    assert(d.getAs[Long]("num_generated_columns") === 1L)
    assert(d.getAs[Long]("num_check_constraints") === 0L)
    spark.sql("UNREGISTER GRAFT TABLE t_genreg")
  }

  test("VACUUM ... DRY RUN lists reap paths without deleting; RESTORE " +
      "TO TIMESTAMP AS OF restores the as-of snapshot") {
    val (viaSql, _) = freshPair("vdry")
    viaSql.merge(orders(("o1", "2024-01-01", 99.0)), "order_id")
    val planned = spark.sql("VACUUM t_vdry RETAIN 0 HOURS DRY RUN")
      .as[String].collect().toSeq
    assert(planned.nonEmpty)
    planned.foreach(rel => assert(java.nio.file.Files.exists(
      viaSql.root.resolve(rel)), rel))
    // dry run committed nothing and deleted nothing
    assert(contents(viaSql.read()) ===
      Set(("o1", "2024-01-01", 99.0), ("o2", "2024-01-02", 20.0)))

    val restored = spark.sql(
      "RESTORE t_vdry TO TIMESTAMP AS OF '2999-01-01 00:00:00'")
      .as[Long].head()
    assert(restored === viaSql.latestVersion())
    assert(contents(viaSql.read()) ===
      Set(("o1", "2024-01-01", 99.0), ("o2", "2024-01-02", 20.0)))
    intercept[Exception](spark.sql(
      "RESTORE t_vdry TO TIMESTAMP AS OF '1999-01-01'").collect())
  }

  test("FSCK REPAIR TABLE via SQL: DRY RUN lists missing entries " +
      "without repairing; the repair commits and reads recover") {
    val (viaSql, _) = freshPair("fsck")
    // storage eats the 2024-01-02 partition's file behind the log
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(
      java.nio.file.Files.walk(viaSql.root)) { st =>
      st.iterator().asScala.toSeq
        .filter(p => p.toString.contains("date=2024-01-02") &&
          p.toString.endsWith(".parquet"))
        .foreach(java.nio.file.Files.delete)
    }
    val dry = spark.sql("FSCK REPAIR TABLE t_fsck DRY RUN")
      .as[String].collect().toSeq
    assert(dry.size === 1 && dry.head.contains("date=2024-01-02"))
    // the dry run repaired nothing
    assert(viaSql.fsckDryRun().size === 1)
    val v = spark.sql("FSCK REPAIR TABLE t_fsck").as[Long].head()
    assert(v === viaSql.latestVersion())
    assert(viaSql.fsckDryRun().isEmpty)
    assert(contents(viaSql.read()) === Set(("o1", "2024-01-01", 10.0)))
  }

  test("ALTER TABLE family: constraints enforce via SQL, column mapping " +
      "renames/drops, generated-column rules add/drop; unsupported " +
      "actions and unregistered names route correctly") {
    val (viaSql, viaApi) = freshPair("alter")
    spark.sql("ALTER TABLE t_alter ADD CONSTRAINT amt_pos CHECK (amount > 0)")
    viaApi.addConstraint("amt_pos", "amount > 0")
    assert(viaSql.constraints("amt_pos") === viaApi.constraints("amt_pos"))
    // the SQL-registered constraint rejects a violating SQL write
    val e1 = intercept[Exception](spark.sql(
      "MERGE INTO t_alter USING (SELECT 'oX' AS order_id, " +
        "'2024-01-05' AS date, -5.0 AS amount) ON order_id"))
    assert(e1.getMessage.contains("amt_pos"))
    spark.sql("ALTER TABLE t_alter DROP CONSTRAINT amt_pos")
    assert(!viaSql.constraints.contains("amt_pos"))

    spark.sql("ALTER TABLE t_alter RENAME COLUMN amount TO total")
    assert(viaSql.read().columns.toSet === Set("order_id", "date", "total"))
    spark.sql("ALTER TABLE t_alter DROP COLUMN total")
    assert(viaSql.read().columns.toSet === Set("order_id", "date"))

    // generated rules on a fresh (empty) registered table
    spark.sql(s"REGISTER GRAFT TABLE t_altg AT " +
      s"'${tmpDir("alter_gen")}' PARTITIONED BY (day)")
    spark.sql("ALTER TABLE t_altg ADD GENERATED COLUMN day AS (to_date(ts))")
    assert(GraftSql.table("t_altg").get.generatedColumns ===
      Map("day" -> "to_date(ts)"))
    spark.sql("ALTER TABLE t_altg DROP GENERATED COLUMN day")
    assert(GraftSql.table("t_altg").get.generatedColumns.isEmpty)

    // unsupported action on a REGISTERED name: OUR loud message
    val e2 = intercept[Exception](spark.sql(
      "ALTER TABLE t_altg SET TBLPROPERTIES ('a'='b')"))
    assert(e2.getMessage.contains("unsupported action"))
    // unregistered names delegate to Spark untouched
    val e3 = intercept[Exception](spark.sql(
      "ALTER TABLE not_reg_alter ADD CONSTRAINT c CHECK (x > 0)").collect())
    assert(!e3.isInstanceOf[scala.MatchError])
    assert(!e3.getMessage.contains("unsupported action"))
    spark.sql("UNREGISTER GRAFT TABLE t_altg")
  }

  test("SHOW GRAFT TABLES lists the registry; CLONE GRAFT TABLE makes a " +
      "zero-copy clone and optionally registers it") {
    val (viaSql, _) = freshPair("showclone")
    val shown = spark.sql("SHOW GRAFT TABLES").collect()
      .map(r => (r.getAs[String]("name"), r.getAs[String]("location")))
    assert(shown.exists { case (n, loc) =>
      n == "t_showclone" &&
        loc == viaSql.root.toAbsolutePath.normalize.toString })

    val dest = tmpDir("clone_dst").toString + "/c1"
    spark.sql(s"CLONE GRAFT TABLE t_showclone TO '$dest' AS t_showclone_c")
    val c = GraftSql.table("t_showclone_c").get
    assert(contents(c.read()) === contents(viaSql.read()))
    // the clone diverges copy-on-write, the source is untouched
    spark.sql("DELETE FROM t_showclone_c WHERE order_id = 'o1'")
    assert(contents(c.read()).map(_._1) === Set("o2"))
    assert(contents(viaSql.read()).map(_._1) === Set("o1", "o2"))
    spark.sql("UNREGISTER GRAFT TABLE t_showclone_c")
    // the clone carries the source handle's whole layout contract
    val laid = viaSql.withOptimizeWrite.withAutoCompact(1L << 20, 3)
      .withCheckpointRetention(5, 1000L)
      .withParquetCheckpointThreshold(7L).withChecksumVerification
    GraftSql.register("t_showclone_lay", laid)
    val dest2 = tmpDir("clone_dst").toString + "/c2"
    spark.sql(
      s"CLONE GRAFT TABLE t_showclone_lay TO '$dest2' AS t_showclone_lc")
    def layout(t: MergeTable): List[String] = GraftSql.contractOf(t)
      .linesIterator.filterNot(_.startsWith("path=")).toList
    assert(layout(GraftSql.table("t_showclone_lc").get) === layout(laid))
    spark.sql("UNREGISTER GRAFT TABLE t_showclone_lc")
    spark.sql("UNREGISTER GRAFT TABLE t_showclone_lay")
  }

  test("string literals containing keywords parse (quote-aware grammar)") {
    val (viaSql, viaApi) = freshPair("quo")
    // ' WHERE ' inside the SET literal must not split the statement
    spark.sql(
      "UPDATE t_quo SET order_id = 'a WHERE b' WHERE order_id = 'o1'")
    viaApi.update(col("order_id") === "o1",
      Map("order_id" -> lit("a WHERE b")))
    assert(contents(viaSql.read()) === contents(viaApi.read()))
    assert(contents(viaSql.read()).map(_._1) === Set("a WHERE b", "o2"))
    // ' WHERE '/' ON ' inside a DELETE predicate literal
    spark.sql("DELETE FROM t_quo WHERE order_id = 'a WHERE b'")
    viaApi.delete(col("order_id") === "a WHERE b")
    assert(contents(viaSql.read()) === contents(viaApi.read()))
    // a MERGE source subquery carrying ' ON ' in a literal: the
    // top-level ON after the parens is the real key clause
    spark.sql(
      "MERGE INTO t_quo USING (SELECT 'x ON y' AS order_id, " +
        "'2024-01-05' AS date, 5.0 AS amount) ON order_id")
    viaApi.merge(Seq(("x ON y", "2024-01-05", 5.0))
      .toDF("order_id", "date", "amount"), "order_id")
    assert(contents(viaSql.read()) === contents(viaApi.read()))
    assert(contents(viaSql.read()).map(_._1) === Set("o2", "x ON y"))
  }

  test("INSERT OVERWRITE ... WHERE replaces only the selected " +
      "partitions; without WHERE it is a full overwrite") {
    val dir = tmpDir("sql_iow").toString
    val t = MergeTable(spark, dir, Some("date"))
    t.overwrite(Seq(("o1", "d1", 1.0), ("o2", "d2", 2.0))
      .toDF("order_id", "date", "amount"))
    GraftSql.register("t_iow", t)
    // positional alignment follows the TABLE's column order — the
    // partition column reads LAST on a footer-schema table
    spark.sql("INSERT OVERWRITE t_iow WHERE date = 'd1' " +
      "SELECT 'o9', 9.0, 'd1'")
    assert(contents(t.read()) ===
      Set(("o9", "d1", 9.0), ("o2", "d2", 2.0)))
    // VALUES form
    spark.sql("INSERT OVERWRITE t_iow WHERE date = 'd2' " +
      "VALUES ('o8', 8.0, 'd2'), ('o7', 7.0, 'd2')")
    assert(contents(t.read()) ===
      Set(("o9", "d1", 9.0), ("o8", "d2", 8.0), ("o7", "d2", 7.0)))
    // leaking row refused
    intercept[Exception](spark.sql(
      "INSERT OVERWRITE t_iow WHERE date = 'd1' SELECT 'oX', 1.0, 'd2'"))
    // no WHERE: full overwrite
    spark.sql("INSERT OVERWRITE t_iow VALUES ('z', 0.5, 'd3')")
    assert(contents(t.read()) === Set(("z", "d3", 0.5)))
    // a freshly registered EMPTY table without a declared schema can
    // be seeded by INSERT OVERWRITE (the first write defines the
    // schema — no internal no-data error)
    val fresh = MergeTable(spark, tmpDir("sql_iow2").toString, None)
    GraftSql.register("t_iow2", fresh)
    spark.sql(
      "INSERT OVERWRITE t_iow2 SELECT 'a' AS order_id, 1.0 AS amount")
    assert(spark.sql("SELECT count(*) c FROM t_iow2")
      .as[Long].head() === 1L)
  }

  test("backslash-escaped quotes inside literals do not close them " +
      "(scanner escape discipline)") {
    val (viaSql, viaApi) = freshPair("bsl")
    // the \' must NOT end the literal: a naive toggle scan would split
    // at the literal's inner ' WHERE ' and mis-parse the statement
    spark.sql(
      """UPDATE t_bsl SET order_id = 'a\' WHERE b' WHERE order_id = 'o1'""")
    viaApi.update(col("order_id") === "o1",
      Map("order_id" -> expr("""'a\' WHERE b'""")))
    assert(contents(viaSql.read()) === contents(viaApi.read()))
    // escaped backslash before the closing quote: \\' DOES close
    spark.sql(
      """DELETE FROM t_bsl WHERE order_id = concat('o2', '\\') OR false""")
    assert(contents(viaSql.read()).map(_._1).contains("o2"),
      "predicate with escaped backslash parsed and matched nothing")
  }

  test("MERGE with composite keys and conditional clauses via SQL == API") {
    import graft.lake.MatchClause
    val mk = (dir: String) => {
      val t = MergeTable(spark, tmpDir(dir).toString, Some("date"))
      t.overwrite(Seq(
        ("o1", "2024-01-01", 1L, 10.0), ("o1", "2024-01-02", 1L, 20.0),
        ("o2", "2024-01-01", 1L, 30.0))
        .toDF("order_id", "date", "seq", "amount"))
      t
    }
    val viaSql = mk("sql_mc"); val viaApi = mk("api_mc")
    GraftSql.register("t_mc", viaSql)
    Seq(("o1", "2024-01-01", 2L, 0.0),   // matched, amount 0 → DELETE
      ("o1", "2024-01-02", 2L, 25.0),    // matched → UPDATE
      ("o3", "2024-01-03", 1L, 40.0))    // unmatched → INSERT
      .toDF("order_id", "date", "seq", "amount")
      .createOrReplaceTempView("mc_src")
    spark.sql(
      "MERGE INTO t_mc USING mc_src ON (order_id, date) " +
        "WHEN MATCHED AND s.amount = 0 THEN DELETE " +
        "WHEN MATCHED THEN UPDATE " +
        "WHEN NOT MATCHED THEN INSERT")
    viaApi.merge(spark.table("mc_src"), Seq("order_id", "date"),
      Seq(MatchClause.delete(col("s.amount") === 0),
        MatchClause.update()))
    def st(t: MergeTable) = t.read()
      .select("order_id", "date", "seq", "amount")
      .as[(String, String, Long, Double)].collect().toSet
    assert(st(viaSql) === st(viaApi))
    assert(st(viaSql) === Set(
      ("o1", "2024-01-02", 2L, 25.0),
      ("o2", "2024-01-01", 1L, 30.0),
      ("o3", "2024-01-03", 1L, 40.0)))
  }

  test("VACUUM RETAIN n HOURS routes the retention window") {
    val (viaSql, viaApi) = freshPair("ret")
    val v1 = 1L
    Seq(viaSql, viaApi).foreach(
      _.merge(orders(("o1", "2024-01-01", 99.0)), "order_id"))
    // RETAIN 24 HOURS: seconds-old history survives on both sides
    spark.sql("VACUUM t_ret RETAIN 24 HOURS")
    viaApi.vacuum(24L * 3600000L)
    assert(contents(viaSql.readVersion(v1)) === contents(viaApi.readVersion(v1)))
    // RETAIN 0 HOURS: explicit immediate reap, history gone
    spark.sql("VACUUM t_ret RETAIN 0 HOURS")
    viaApi.vacuum(0L)
    intercept[Exception](viaSql.readVersion(v1).collect())
    intercept[Exception](viaApi.readVersion(v1).collect())
    assert(contents(viaSql.read()) === contents(viaApi.read()))
  }

  test("bare-name SELECT resolves registered tables; the catalog wins " +
      "on collision") {
    val t = MergeTable(spark, tmpDir("sql_bare").toString, Some("date"))
    t.overwrite(orders(("o1", "2024-01-01", 10.0), ("o2", "2024-01-02", 20.0)))
    GraftSql.register("t_bare", t)
    // plain FROM t == the TVF == the API
    assert(contents(spark.sql("SELECT * FROM t_bare"))
      === contents(spark.sql("SELECT * FROM graft_table('t_bare')")))
    assert(contents(spark.sql("SELECT * FROM t_bare")) === contents(t.read()))
    // qualified references and joins compose
    assert(spark.sql(
      "SELECT t_bare.order_id FROM t_bare WHERE t_bare.amount > 15")
      .as[String].collect().toSeq === Seq("o2"))
    Seq(("o1", "alpha")).toDF("order_id", "label")
      .createOrReplaceTempView("bare_labels")
    assert(spark.sql(
      "SELECT l.label FROM t_bare b JOIN bare_labels l USING (order_id)")
      .as[String].collect().toSeq === Seq("alpha"))
    // a temp view with the same name SHADOWS the graft table (catalog
    // precedence — the resolution rule defers to the session catalog)
    Seq(("shadow", "x", 0.0)).toDF("order_id", "date", "amount")
      .createOrReplaceTempView("t_bare")
    assert(contents(spark.sql("SELECT * FROM t_bare"))
      === Set(("shadow", "x", 0.0)))
    spark.catalog.dropTempView("t_bare")
    assert(contents(spark.sql("SELECT * FROM t_bare")) === contents(t.read()))
    GraftSql.unregister("t_bare")
    intercept[Exception](spark.sql("SELECT * FROM t_bare").collect())
  }

  test("INSERT INTO via SQL == append() via API (SELECT and VALUES, " +
      "positional)") {
    val (viaSql, viaApi) = freshPair("ins")
    // positional contract = the table's READ-schema order, which puts
    // the partition column last: (order_id, amount, date)
    assert(viaSql.read().columns.toSeq === Seq("order_id", "amount", "date"))
    // the hive-inferred partition column reads back as DATE, and append
    // requires exact types — the API caller casts; the SQL path's
    // store-assignment cast does it automatically
    def wave(id: String, d: String, amt: Double) =
      orders((id, d, amt)).withColumn("date", col("date").cast("date"))
    spark.sql("INSERT INTO t_ins SELECT 'o7', 70.0, '2024-01-07'")
    viaApi.append(wave("o7", "2024-01-07", 70.0))
    assert(contents(viaSql.read()) === contents(viaApi.read()))
    spark.sql("INSERT INTO t_ins VALUES ('o8', 80.0, '2024-01-08')")
    viaApi.append(wave("o8", "2024-01-08", 80.0))
    assert(contents(viaSql.read()) === contents(viaApi.read()))
    // arity mismatch fails fast
    intercept[Exception] {
      spark.sql("INSERT INTO t_ins VALUES ('o9', 90.0)")
    }
    // type drift fails fast instead of writing mixed-type files
    intercept[Exception] {
      spark.sql("INSERT INTO t_ins VALUES ('o9', 'not-a-price', '2024-01-09')")
    }
  }

  test("WHEN NOT MATCHED BY SOURCE THEN DELETE via SQL: full sync; " +
      "clause merges without an INSERT clause do not insert") {
    import graft.lake.MatchClause
    val (viaSql, viaApi) = freshPair("sync")
    orders(("o2", "2024-01-02", 99.0), ("o5", "2024-01-05", 50.0))
      .createOrReplaceTempView("sync_src")
    spark.sql(
      "MERGE INTO t_sync USING sync_src ON (order_id) " +
        "WHEN MATCHED THEN UPDATE " +
        "WHEN NOT MATCHED THEN INSERT " +
        "WHEN NOT MATCHED BY SOURCE THEN DELETE")
    viaApi.merge(spark.table("sync_src"), Seq("order_id"),
      Seq(MatchClause.update()), insertUnmatched = true,
      evolveSchema = false,
      notMatchedBySourceDelete = Some(lit(true)))
    assert(contents(viaSql.read()) === contents(viaApi.read()))
    assert(contents(viaSql.read()) ===
      Set(("o2", "2024-01-02", 99.0), ("o5", "2024-01-05", 50.0)))
    // Delta's insert rule: clauses present but NO not-matched clause →
    // the unmatched source row is NOT inserted
    orders(("o2", "2024-01-02", 11.0), ("o9", "2024-01-09", 90.0))
      .createOrReplaceTempView("sync_src2")
    spark.sql(
      "MERGE INTO t_sync USING sync_src2 ON (order_id) " +
        "WHEN MATCHED THEN UPDATE")
    assert(contents(viaSql.read()).map(_._1) === Set("o2", "o5"),
      "no WHEN NOT MATCHED clause → no inserts")
    assert(contents(viaSql.read()).contains(("o2", "2024-01-02", 11.0)))
  }

  test("VERSION AS OF / TIMESTAMP AS OF on a bare name == readVersion") {
    val t = MergeTable(spark, tmpDir("sql_tt").toString, Some("date"))
    t.overwrite(orders(("o1", "2024-01-01", 10.0)))
    val v1 = t.latestVersion()
    Thread.sleep(20) // the next commit's stamp must be a later millisecond
    t.merge(orders(("o2", "2024-01-02", 20.0)), "order_id")
    GraftSql.register("t_tt", t)
    assert(contents(spark.sql(s"SELECT * FROM t_tt VERSION AS OF $v1"))
      === contents(t.readVersion(v1)))
    assert(contents(spark.sql("SELECT * FROM t_tt"))
      === contents(t.read()))
    // a version beyond history fails loudly, not silently-latest
    intercept[Exception](
      spark.sql("SELECT * FROM t_tt VERSION AS OF 99").collect())
    // TIMESTAMP AS OF v1's commit stamp (rendered in the session time
    // zone) as a string, a CAST and a function, bare and qualified: the
    // hint-batch rule sees the latter two unresolved
    GraftSql.register("graft.t_tt", t)
    val ts = t.history().filter(col("version") === v1)
      .select(date_format(col("committed_at"), "yyyy-MM-dd HH:mm:ss.SSS"))
      .as[String].head()
    for (name <- Seq("t_tt", "graft.t_tt");
         e <- Seq(s"'$ts'", s"CAST('$ts' AS TIMESTAMP)",
           s"to_timestamp('$ts')"))
      assert(contents(spark.sql(s"SELECT * FROM $name TIMESTAMP AS OF $e"))
        === contents(t.readVersion(v1)), s"$name TIMESTAMP AS OF $e")
    // an expression that is not a constant fails; it never reads live
    for (name <- Seq("t_tt", "graft.t_tt"))
      intercept[Exception](spark.sql(
        s"SELECT * FROM $name TIMESTAMP AS OF rand()").collect())
    GraftSql.unregister("graft.t_tt")
  }

  test("MERGE WITH SCHEMA EVOLUTION routes evolveSchema=true") {
    val t = MergeTable(spark, tmpDir("sql_ev").toString, None)
    t.overwrite(orders(("o1", "2024-01-01", 10.0)))
    GraftSql.register("t_ev", t)
    spark.sql(
      "MERGE INTO t_ev USING (SELECT 'o2' AS order_id, '2024-01-02' AS " +
        "date, 20.0 AS amount, 'web' AS channel) ON order_id " +
        "WITH SCHEMA EVOLUTION")
    assert(t.read().columns.contains("channel"))
    // without the clause the same widening merge fails fast
    intercept[Exception] {
      spark.sql(
        "MERGE INTO t_ev USING (SELECT 'o3' AS order_id, '2024-01-03' AS " +
          "date, 30.0 AS amount, 1 AS extra_two) ON order_id")
    }
  }
}
