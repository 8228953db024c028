package graft.etl

import graft.SparkSpec
import graft.lake.MergeTable

class CatalogSpec extends SparkSpec {
  import spark.implicits._

  test("register creates a persistent external table visible to new sessions") {
    val root = tmpDir("cat").toString
    val t = MergeTable(spark, root, Some("date"))
    t.overwrite(Seq(
      ("o1", "2024-01-01", 10.0),
      ("o2", "2024-01-02", 20.0)).toDF("order_id", "date", "amount"))
    Ingestion.register(spark, t, "orders_cat")

    assert(spark.sql("SELECT count(*) AS n FROM graft.orders_cat")
      .head().getLong(0) === 2L)
    // A FRESH session (shared external catalog, own temp-view/state scope)
    // must still resolve it — temp views would not survive this.
    val fresh = spark.newSession()
    assert(fresh.sql("SELECT count(*) AS n FROM graft.orders_cat")
      .head().getLong(0) === 2L)
    // Partition column must be usable for pruning predicates.
    assert(fresh.sql(
      "SELECT order_id FROM graft.orders_cat WHERE date = '2024-01-02'")
      .head().getString(0) === "o2")
  }

  test("re-register refreshes the location after a merge (crawler analog)") {
    val root = tmpDir("cat").toString
    val t = MergeTable(spark, root, Some("date"))
    t.overwrite(Seq(("o1", "2024-01-01", 10.0)).toDF("order_id", "date", "amount"))
    Ingestion.register(spark, t, "orders_cat2")
    t.merge(Seq(("o2", "2024-01-02", 20.0)).toDF("order_id", "date", "amount"),
      "order_id")
    Ingestion.register(spark, t, "orders_cat2")
    assert(spark.sql("SELECT count(*) FROM graft.orders_cat2")
      .head().getLong(0) === 2L)
  }

  private def bytesUnder(root: String): Long =
    scala.util.Using.resource(java.nio.file.Files.walk(
        java.nio.file.Paths.get(root))) { st =>
      import scala.jdk.CollectionConverters._
      st.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
    }

  test("register after a merge that left partitions untouched adds no " +
      "commit and no bytes") {
    val root = tmpDir("cat").toString
    val t = MergeTable(spark, root, Some("date"))
    t.overwrite(Seq(("o1", "2024-01-01", 10.0), ("o2", "2024-01-02", 20.0))
      .toDF("order_id", "date", "amount"))
    // touches only 2024-01-03: the live files now span two commit dirs
    t.merge(Seq(("o3", "2024-01-03", 30.0)).toDF("order_id", "date", "amount"),
      "order_id")
    val (v, bytes) = (t.latestVersion(), bytesUnder(root))
    Ingestion.register(spark, t, "orders_cat3")
    assert(t.latestVersion() === v)
    assert(bytesUnder(root) === bytes)
    assert(spark.sql("SELECT count(*) FROM graft.orders_cat3")
      .head().getLong(0) === 3L)
  }

  test("FROM graft.<name> VERSION AS OF n reads that version") {
    val t = MergeTable(spark, tmpDir("cat").toString, Some("date"))
    val v1 = t.overwrite(
      Seq(("o1", "2024-01-01", 10.0)).toDF("order_id", "date", "amount"))
    Ingestion.register(spark, t, "orders_cat4")
    t.merge(Seq(("o2", "2024-01-02", 20.0)).toDF("order_id", "date", "amount"),
      "order_id")
    assert(spark.sql(
      s"SELECT order_id FROM graft.orders_cat4 VERSION AS OF $v1")
      .as[String].collect().toSeq === Seq("o1"))
    assert(spark.sql("SELECT count(*) FROM graft.orders_cat4")
      .head().getLong(0) === 2L)
  }

  test("a session-catalog table with the same qualified name wins") {
    val t = MergeTable(spark, tmpDir("cat").toString, Some("date"))
    t.overwrite(Seq(("o1", "2024-01-01", 10.0), ("o2", "2024-01-02", 20.0))
      .toDF("order_id", "date", "amount"))
    val loc = tmpDir("cat_prec").resolve("data")
    Seq(("c1", "2024-01-01", 1.0)).toDF("order_id", "date", "amount")
      .write.parquet(loc.toString)
    spark.sql("CREATE DATABASE IF NOT EXISTS graft")
    spark.sql(
      s"CREATE TABLE graft.orders_prec USING PARQUET LOCATION '${loc.toUri}'")
    try {
      Ingestion.register(spark, t, "orders_prec")
      assert(spark.sql("SELECT order_id FROM graft.orders_prec")
        .as[String].collect().toSeq === Seq("c1"))
      // DML on the name reaches Spark's catalog table too (a v1 parquet
      // table takes no DELETE), never the graft table
      intercept[org.apache.spark.sql.AnalysisException](
        spark.sql("DELETE FROM graft.orders_prec WHERE order_id = 'o1'"))
    } finally spark.sql("DROP TABLE IF EXISTS graft.orders_prec")
    // with the catalog table gone, the name reads the registered table
    assert(spark.sql("SELECT count(*) FROM graft.orders_prec")
      .head().getLong(0) === 2L)
  }

  test("SQL on graft.<name>: DML, MERGE, OPTIMIZE and DESCRIBE HISTORY " +
      "reach the registered table with the jobs' optimized writes") {
    val t = MergeTable(spark, tmpDir("cat").toString, Some("date"))
    // four input tasks: the partition lands as several files
    t.overwrite((1 to 8).map(i => (s"o$i", "2024-01-01", i.toDouble))
      .toDF("order_id", "date", "amount").repartition(4))
    Ingestion.register(spark, t, "orders_sql")
    assert(graft.sql.GraftSql.table("graft.orders_sql").get.optimizeWrite)
    val v = t.latestVersion()
    spark.sql("UPDATE graft.orders_sql SET amount = amount + 1 " +
      "WHERE date = '2024-01-01'")
    def lastAdded() = spark.sql("DESCRIBE HISTORY graft.orders_sql")
      .orderBy($"version".desc).select("version", "n_added")
      .as[(Long, Long)].head()
    assert(lastAdded() === ((v + 1, 1L)), "one file for the partition")
    assert(spark.sql("SELECT sum(amount) FROM graft.orders_sql")
      .head().getDouble(0) === 44.0)
    spark.sql("DELETE FROM graft.orders_sql WHERE order_id = 'o8'")
    spark.sql("INSERT INTO graft.orders_sql VALUES ('o9', 9.0, '2024-01-02')")
    Seq(("o1", "2024-01-01", 0.5)).toDF("order_id", "date", "amount")
      .createOrReplaceTempView("orders_sql_src")
    spark.sql("MERGE INTO graft.orders_sql USING orders_sql_src ON order_id")
    spark.sql("OPTIMIZE graft.orders_sql")
    assert(spark.sql("SELECT order_id, amount FROM graft.orders_sql")
      .as[(String, Double)].collect().toMap ===
      ((2 to 7).map(i => s"o$i" -> (i + 1.0)).toMap +
        ("o1" -> 0.5) + ("o9" -> 9.0)))
    assert(lastAdded()._1 === t.latestVersion())
  }
}
