package graft.lake

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

class IdentityColumnSpec extends SparkSpec {
  import spark.implicits._

  private def orders(rows: (String, String, Double)*): DataFrame =
    rows.toDF("order_id", "date", "amount")

  private def ids(t: MergeTable): Seq[Long] =
    t.read().select("row_seq").as[Long].collect().toSeq.sorted

  test("append assigns unique contiguous values across waves and " +
      "partitions") {
    // non-date partition values: hive inference keeps the string type
    // append's exact-schema contract requires
    val t = MergeTable(spark, tmpDir("idn").toString, Some("date"))
    t.addIdentityColumn("row_seq")
    t.append(orders(
      ("o1", "d1", 1.0), ("o2", "d2", 2.0),
      ("o3", "d1", 3.0)).repartition(3))
    assert(ids(t) === Seq(1L, 2L, 3L))
    t.append(orders(("o4", "d2", 4.0), ("o5", "d3", 5.0)))
    assert(ids(t) === (1L to 5L))
    assert(t.identityColumns === Map("row_seq" -> (1L, 1L)))
  }

  test("values are never reused: overwrite and delete advance past " +
      "the high water") {
    val t = MergeTable(spark, tmpDir("idn").toString, Some("date"))
    t.addIdentityColumn("row_seq")
    t.append(orders(("o1", "d1", 1.0), ("o2", "d2", 2.0)))
    t.delete(col("order_id") === "o1")
    // overwrite assigns FRESH values above everything ever allocated
    t.overwrite(orders(("o9", "d9", 9.0)))
    assert(ids(t) === Seq(3L))
    t.append(orders(("oA", "dA", 10.0)))
    assert(ids(t) === Seq(3L, 4L))
  }

  test("custom start/step, including a negative step") {
    val t = MergeTable(spark, tmpDir("idn").toString, None)
    t.addIdentityColumn("row_seq", start = 100L, step = -10L)
    t.append(orders(("o1", "2024-01-01", 1.0), ("o2", "2024-01-02", 2.0)))
    assert(ids(t) === Seq(90L, 100L))
    t.append(orders(("o3", "2024-01-03", 3.0)))
    assert(ids(t) === Seq(80L, 90L, 100L))
    intercept[IllegalArgumentException](
      t.addIdentityColumn("other", step = 0L))
  }

  test("a frame CARRYING the column keeps its values, which the " +
      "constraint verifies (GENERATED BY DEFAULT semantics)") {
    val t = MergeTable(spark, tmpDir("idn").toString, None)
    t.addIdentityColumn("row_seq", start = 0L, step = 2L)
    t.append(orders(("o1", "2024-01-01", 1.0)))
    // explicit aligned value: accepted verbatim
    t.append(orders(("o2", "2024-01-02", 2.0))
      .withColumn("row_seq", lit(500L)))
    assert(ids(t) === Seq(0L, 500L))
    // misaligned (odd) value: refused by the identity invariant
    intercept[IllegalArgumentException](
      t.append(orders(("o3", "2024-01-03", 3.0))
        .withColumn("row_seq", lit(7L))))
    // null value: refused too
    intercept[IllegalArgumentException](
      t.append(orders(("o4", "2024-01-04", 4.0))
        .withColumn("row_seq", lit(null).cast("long"))))
  }

  test("MERGE refuses a source missing the identity column, loudly") {
    val t = MergeTable(spark, tmpDir("idn").toString, Some("date"))
    t.addIdentityColumn("row_seq")
    t.append(orders(("o1", "d1", 1.0)))
    val e = intercept[IllegalArgumentException](
      t.merge(orders(("o2", "d2", 2.0)), "order_id"))
    assert(e.getMessage.contains("identity column"))
    // carrying it explicitly works (and round-trips through the check)
    t.merge(orders(("o2", "d2", 2.0))
      .withColumn("row_seq", lit(42L)), "order_id")
    assert(ids(t) === Seq(1L, 42L))
  }

  test("the watermark survives vacuum's checkpoint fold") {
    val t = MergeTable(spark, tmpDir("idn").toString, None)
    t.addIdentityColumn("row_seq")
    t.append(orders(("o1", "2024-01-01", 1.0), ("o2", "2024-01-02", 2.0)))
    t.vacuum(0L)
    t.append(orders(("o3", "2024-01-03", 3.0)))
    assert(ids(t) === Seq(1L, 2L, 3L))
  }

  test("dropIdentityColumn lifts population and enforcement; " +
      "declaring on a non-empty table without the column fails fast") {
    val t = MergeTable(spark, tmpDir("idn").toString, None)
    t.addIdentityColumn("row_seq")
    t.append(orders(("o1", "2024-01-01", 1.0)))
    t.dropIdentityColumn("row_seq")
    assert(t.identityColumns.isEmpty)
    // the column is now an ordinary one: arbitrary values pass
    t.append(orders(("o2", "2024-01-02", 2.0))
      .withColumn("row_seq", lit(7L)))
    assert(ids(t) === Seq(1L, 7L))
    // declaring identity on a table whose rows lack the column is the
    // same fail-fast as any CHECK constraint over a missing column
    val u = MergeTable(spark, tmpDir("idn").toString, None)
    u.overwrite(orders(("o1", "2024-01-01", 1.0)))
    intercept[Exception](u.addIdentityColumn("row_seq"))
  }

  test("a clone carries the allocation watermark: its appends continue " +
      "past the source's values") {
    val t = MergeTable(spark, tmpDir("idn").toString, None)
    t.addIdentityColumn("row_seq")
    t.append(orders(("o1", "2024-01-01", 1.0), ("o2", "2024-01-02", 2.0)))
    val c = t.cloneTo(tmpDir("idn_clone").toString)
    c.append(orders(("o3", "2024-01-03", 3.0)))
    assert(ids(c) === Seq(1L, 2L, 3L))
  }

  test("SQL: ALTER TABLE ADD IDENTITY COLUMN + INSERT INTO assign " +
      "through the statement surface") {
    val root = tmpDir("idn_sql").toString
    val t = MergeTable(spark, root, None)
    graft.sql.GraftSql.register("t_idn", t)
    spark.sql(
      "ALTER TABLE t_idn ADD IDENTITY COLUMN row_seq START WITH 10 STEP 5")
    assert(t.identityColumns === Map("row_seq" -> (10L, 5L)))
    t.append(orders(("o1", "2024-01-01", 1.0)))
    spark.sql("INSERT INTO t_idn VALUES ('o2', '2024-01-02', 2.0)")
    assert(ids(t) === Seq(10L, 15L))
    spark.sql("ALTER TABLE t_idn DROP IDENTITY COLUMN row_seq")
    assert(t.identityColumns.isEmpty)
  }
}
