package graft.lake

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Composite-key + conditional MERGE (Delta's `whenMatched` clause
  * surface): equality on every key column, first-match-wins
  * UPDATE/DELETE clauses with conditions over the `t`/`s` aliases,
  * optional unmatched-insert. A single-key unconditional clause merge
  * delegates to the single-pk overload (spec-pinned below). */
class MergeClauseSpec extends SparkSpec {
  import spark.implicits._

  // (store, sku) is the composite key; qty/price the payload
  private def inv(rows: (String, String, Long, Double)*): DataFrame =
    rows.toDF("store", "sku", "qty", "price")

  private def state(t: MergeTable): Set[(String, String, Long, Double)] =
    t.read().select("store", "sku", "qty", "price")
      .as[(String, String, Long, Double)].collect().toSet

  private def fresh(tag: String): MergeTable = {
    val t = MergeTable(spark, tmpDir(s"mc_$tag").toString, Some("store"))
    t.overwrite(inv(
      ("s1", "a", 5L, 1.0), ("s1", "b", 2L, 2.0),
      ("s2", "a", 7L, 3.0), ("s2", "c", 1L, 4.0)))
    t
  }

  test("composite keys: only the full key tuple matches") {
    val t = fresh("keys")
    // ("s1","a") matches — updates; ("s2","b") does not (s1 has b, s2
    // doesn't) — inserts, even though each key PART matches some row
    t.merge(inv(("s1", "a", 50L, 1.5), ("s2", "b", 9L, 9.0)),
      Seq("store", "sku"), Seq(MatchClause.update()))
    assert(state(t) === Set(
      ("s1", "a", 50L, 1.5), ("s1", "b", 2L, 2.0),
      ("s2", "a", 7L, 3.0), ("s2", "c", 1L, 4.0), ("s2", "b", 9L, 9.0)))
  }

  test("WHEN MATCHED AND <cond> THEN UPDATE: unmet condition keeps the row") {
    val t = fresh("cond")
    // update only when the source's qty exceeds the target's
    t.merge(inv(("s1", "a", 50L, 1.5), ("s1", "b", 1L, 0.5)),
      Seq("store", "sku"),
      Seq(MatchClause.update(col("s.qty") > col("t.qty"))))
    assert(state(t) === Set(
      ("s1", "a", 50L, 1.5),           // 50 > 5 → updated
      ("s1", "b", 2L, 2.0),            // 1 < 2 → kept
      ("s2", "a", 7L, 3.0), ("s2", "c", 1L, 4.0)))
  }

  test("WHEN MATCHED THEN DELETE and first-match-wins clause ordering") {
    val t = fresh("del")
    // zero-qty events delete; the rest update — the DELETE clause must
    // win for the row satisfying both
    t.merge(inv(("s1", "a", 0L, 0.0), ("s2", "a", 70L, 3.5)),
      Seq("store", "sku"),
      Seq(MatchClause.delete(col("s.qty") === 0),
        MatchClause.update()))
    assert(state(t) === Set(
      ("s1", "b", 2L, 2.0),
      ("s2", "a", 70L, 3.5), ("s2", "c", 1L, 4.0)))
  }

  test("delete-only merge without inserts leaves unmatched source untouched") {
    val t = fresh("delonly")
    t.merge(inv(("s1", "b", 0L, 0.0), ("s9", "z", 0L, 0.0)),
      Seq("store", "sku"), Seq(MatchClause.delete()),
      insertUnmatched = false)
    assert(state(t) === Set(
      ("s1", "a", 5L, 1.0), ("s2", "a", 7L, 3.0), ("s2", "c", 1L, 4.0)))
    // no s9 partition was created
    assert(!t.liveEntries().exists(_.partitionValue.contains("s9")))
  }

  test("delete-only merge takes a key-only source") {
    val t = fresh("delkeys")
    t.merge(Seq(("s1", "b"), ("s2", "c"), ("s9", "z")).toDF("store", "sku"),
      Seq("store", "sku"), Seq(MatchClause.delete()),
      insertUnmatched = false)
    assert(state(t) === Set(("s1", "a", 5L, 1.0), ("s2", "a", 7L, 3.0)))
    // the keys must still exist on both sides
    intercept[IllegalArgumentException] {
      t.merge(Seq("a").toDF("sku"), Seq("store", "sku"),
        Seq(MatchClause.delete()), insertUnmatched = false)
    }
    intercept[IllegalArgumentException] {
      t.merge(Seq(("s1", "a")).toDF("store", "code"), Seq("store", "code"),
        Seq(MatchClause.delete()), insertUnmatched = false)
    }
  }

  test("matched row satisfying NO clause is kept; unmatched source inserts") {
    val t = fresh("keep")
    t.merge(inv(("s1", "a", 4L, 9.9), ("s3", "d", 3L, 3.0)),
      Seq("store", "sku"),
      Seq(MatchClause.update(col("s.qty") > col("t.qty"))))
    assert(state(t) === Set(
      ("s1", "a", 5L, 1.0),            // 4 < 5 → no clause fired → kept
      ("s1", "b", 2L, 2.0),
      ("s2", "a", 7L, 3.0), ("s2", "c", 1L, 4.0),
      ("s3", "d", 3L, 3.0)))           // unmatched → inserted
  }

  test("a key-duplicate source fails fast (Delta's multi-match guard)") {
    val t = fresh("dup")
    val e = intercept[IllegalArgumentException] {
      t.merge(inv(("s1", "a", 1L, 1.0), ("s1", "a", 2L, 2.0)),
        Seq("store", "sku"), Seq(MatchClause.update()))
    }
    assert(e.getMessage.contains("key-unique"))
  }

  test("single-key unconditional clause merge == the degenerate pk merge") {
    val a = MergeTable(spark, tmpDir("mc_deg_a").toString, Some("store"))
    val b = MergeTable(spark, tmpDir("mc_deg_b").toString, Some("store"))
    val init = inv(("s1", "a", 5L, 1.0), ("s2", "b", 2L, 2.0))
    val wave = Seq(("s1", 50L), ("s3", 3L)).toDF("store", "qty")
      .withColumn("sku", lit("a")).withColumn("price", lit(0.5))
      .select("store", "sku", "qty", "price")
    a.overwrite(init); b.overwrite(init)
    a.merge(wave, "store")
    b.merge(wave, Seq("store"), Seq(MatchClause.update()))
    assert(state(a) === state(b))
  }

  test("strict clause merge fails fast on schema drift; evolveSchema widens") {
    val t = fresh("ev")
    val widened = Seq(("s1", "a", 9L, 1.0, "web"))
      .toDF("store", "sku", "qty", "price", "channel")
    intercept[IllegalArgumentException] {
      t.merge(widened, Seq("store", "sku"), Seq(MatchClause.update()))
    }
    // the single-key MERGE and the CDC apply share the same check
    intercept[IllegalArgumentException](t.merge(widened, "sku"))
    intercept[IllegalArgumentException](t.mergeCdc(
      widened.withColumn(MergeTable.ChangeType, lit("insert")), "sku"))
    // an empty table with a declared schema enforces it on every entry
    // point, and evolves it only when asked
    import org.apache.spark.sql.types._
    val d = MergeTable(spark, tmpDir("mc_ev_decl").toString, Some("p"))
    d.declareSchema(StructType(Seq(
      StructField("id", LongType), StructField("p", StringType))))
    val drift = Seq((1L, "x", "e")).toDF("id", "p", "extra")
    intercept[IllegalArgumentException](d.merge(drift, "id"))
    intercept[IllegalArgumentException](
      d.merge(drift, Seq("id", "p"), Seq(MatchClause.update())))
    intercept[IllegalArgumentException](d.mergeCdc(
      drift.withColumn(MergeTable.ChangeType, lit("insert")), "id"))
    assert(d.declaredSchema.get.fieldNames.toSeq === Seq("id", "p"))
    assert(d.liveEntries().isEmpty)
    d.merge(drift, Seq("id", "p"), Seq(MatchClause.update()),
      evolveSchema = true)
    assert(d.read().select("extra").as[String].collect().toSeq ===
      Seq("e"))
    t.merge(widened, Seq("store", "sku"), Seq(MatchClause.update()),
      insertUnmatched = true, evolveSchema = true)
    val r = t.read()
    assert(r.columns.contains("channel"))
    assert(r.filter(col("sku") === "a" && col("store") === "s1")
      .select("qty").as[Long].head() === 9L)
    // untouched rows read NULL for the evolved column
    assert(r.filter(col("channel").isNull).count() === 3L)
  }

  test("WHEN NOT MATCHED BY SOURCE THEN DELETE: unconditional = full sync") {
    val t = fresh("nmbs")
    val src = inv(("s1", "a", 9L, 9.0), ("s3", "z", 1L, 1.0))
    t.merge(src, Seq("store", "sku"), Seq(MatchClause.update()),
      insertUnmatched = true, evolveSchema = false,
      notMatchedBySourceDelete = Some(lit(true)))
    // the table IS the source now: matched updated, unmatched target
    // deleted, unmatched source inserted
    assert(state(t) === Set(("s1", "a", 9L, 9.0), ("s3", "z", 1L, 1.0)))
  }

  test("WHEN NOT MATCHED BY SOURCE AND <cond>: only matching rows delete") {
    val t = fresh("nmbsc")
    // delete unmatched-by-source rows only where qty < 2 (t alias)
    t.merge(inv(("s1", "a", 50L, 1.5)), Seq("store", "sku"),
      Seq(MatchClause.update()),
      notMatchedBySourceDelete = Some(col("t.qty") < 2))
    assert(state(t) === Set(
      ("s1", "a", 50L, 1.5),           // matched → updated
      ("s1", "b", 2L, 2.0),            // unmatched, qty 2 → kept
      ("s2", "a", 7L, 3.0)))           // unmatched, qty 1 ("s2","c") deleted
  }

  test("conditional insert: WHEN NOT MATCHED AND <cond> THEN INSERT") {
    val t = fresh("condins")
    t.merge(inv(("s3", "d", 3L, 3.0), ("s4", "e", 0L, 4.0)),
      Seq("store", "sku"), Seq(MatchClause.update()),
      insertUnmatched = true, evolveSchema = false,
      insertCondition = Some(col("s.qty") > 0))
    val st = state(t)
    assert(st.contains(("s3", "d", 3L, 3.0)), "qty>0 row must insert")
    assert(!st.exists(_._1 == "s4"), "qty=0 row must be filtered out")
    assert(st.size === 5)
  }

  test("append adds a commit without touching existing files; schema " +
      "drift fails fast") {
    val t = fresh("app")
    val before = t.liveEntries().map(_.relPath).toSet
    val v = t.append(inv(("s9", "x", 1L, 1.0), ("s9", "y", 2L, 2.0)))
    assert(v === t.latestVersion())
    assert(before.subsetOf(t.liveEntries().map(_.relPath).toSet),
      "append must not remove or rewrite any existing file")
    assert(state(t).size === 6)
    assert(state(t).contains(("s9", "x", 1L, 1.0)))
    intercept[IllegalArgumentException] {
      t.append(Seq(("s9", "z", 1L)).toDF("store", "sku", "qty"))
    }
  }

  test("only touched partitions rewrite (file-level delta check)") {
    val t = fresh("files")
    val untouched = t.liveEntries()
      .filter(_.partitionValue.contains("s2")).map(_.relPath).toSet
    t.merge(inv(("s1", "a", 99L, 9.0)), Seq("store", "sku"),
      Seq(MatchClause.update()))
    val after = t.liveEntries()
      .filter(_.partitionValue.contains("s2")).map(_.relPath).toSet
    assert(after === untouched,
      "a merge matching only s1 must not rewrite s2's files")
  }
}
