package graft.lake

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** ROW TRACKING (Delta's row-ID table feature): every data commit
  * allots fresh, never-reused 64-bit row ids from a log-carried
  * high-water mark; `readWithRowIds` surfaces them with each row's
  * last-write commit version; the OPTIMIZE family materializes ids
  * physically so reorganizations never change a row's identity. */
class RowTrackingSpec extends SparkSpec {
  import spark.implicits._

  private def ids(t: MergeTable): Map[String, (Long, Long)] =
    t.readWithRowIds().collect()
      .map(r => r.getAs[String]("id") ->
        (r.getAs[Long]("row_id"), r.getAs[Long]("row_commit")))
      .toMap

  test("appends mint unique contiguous-per-commit ids with the adding " +
      "version; the table auto-stamps the reader feature") {
    val t = MergeTable(spark, tmpDir("rt").toString, Some("p"))
      .withRowTracking
    t.append(Seq(("a", "x"), ("b", "x"), ("c", "y")).toDF("id", "p"))
    assert(t.readWithRowIds().columns.takeRight(2).toSeq ===
      Seq("row_id", "row_commit"))
    t.append(Seq(("d", "y"), ("e", "z")).toDF("id", "p"))
    val m = ids(t)
    assert(m.values.map(_._1).toSeq.sorted === Seq(0L, 1L, 2L, 3L, 4L),
      "ids are dense from zero across commits, no collisions")
    assert(Set("a", "b", "c").map(m(_)._2) === Set(1L))
    assert(Set("d", "e").map(m(_)._2) === Set(2L))
    assert(t.protocol._1.contains("rowTracking"),
      "first tracked commit stamps the READER feature")
    // the hidden columns never leak into a plain read
    assert(!t.read().columns.exists(_.startsWith("_graft_r")))
  }

  test("changesByRowId: the physical lineage feed — DV deletes by id, " +
      "COW rewrites as old-id delete + fresh-id insert, pure " +
      "compaction emits NOTHING") {
    val t = MergeTable(spark, tmpDir("rt").toString, Some("p"),
      Seq("n"), deletionVectors = true)
      .withRowTracking
    val v1 = t.append(
      Seq(("a", "x", 1), ("b", "x", 2), ("c", "y", 3))
        .toDF("id", "p", "n").coalesce(1))
    val idsAtV1 = ids(t)
    // DV delete: same file, id 'b' vanishes from the feed's post side
    val v2 = t.delete(col("id") === "b")
    val dels = t.changesByRowId(v1, v2).collect()
    assert(dels.map(r => (r.getAs[String]("id"),
      r.getAs[String]("_change_type"))).toSeq === Seq(("b", "delete")))
    assert(dels.head.getAs[Long]("row_id") === idsAtV1("b")._1,
      "the delete is keyed by the row's STABLE id")
    // COW update (plain merge rewrite): old id deleted, fresh id inserted
    val v3 = t.merge(Seq(("a", "x", 9)).toDF("id", "p", "n"), "id")
    val cow = t.changesByRowId(v2, v3)
      .select("id", "_change_type", "row_id").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val aOld = idsAtV1("a")._1
    assert(cow.exists(c => c._1 == "a" && c._2 == "delete" && c._3 == aOld))
    assert(cow.exists(c => c._1 == "a" && c._2 == "insert" && c._3 != aOld),
      "a copy-on-write rewrite mints a fresh id (Delta's contract " +
        "without rowTracking.preserved)")
    assert(cow.size === 2, s"exactly one delete + one insert: $cow")
    // pure compaction: bytes + identity both survive → EMPTY feed
    val v4 = t.compact()
    assert(v4 > v3)
    assert(t.changesByRowId(v3, v4).isEmpty,
      "a content-preserving rewrite is invisible to the lineage feed")
    // an append is inserts-only, under fresh ids
    val v5 = t.append(Seq(("e", "z", 5)).toDF("id", "p", "n"))
    val ins = t.changesByRowId(v4, v5).collect()
    assert(ins.map(r => (r.getAs[String]("id"),
      r.getAs[String]("_change_type"))).toSeq === Seq(("e", "insert")))
    // a mixed/untracked table refuses
    val plain = MergeTable(spark, tmpDir("rt").toString, Some("p"))
    plain.append(Seq(("a", "x")).toDF("id", "p"))
    val err = intercept[IllegalArgumentException](
      plain.changesByRowId(1L, 1L))
    assert(err.getMessage.contains("row tracking"))
  }

  test("the OPTIMIZE family preserves every row's id and commit " +
      "version through rewrites") {
    val t = MergeTable(spark, tmpDir("rt").toString, Some("p"))
      .withRowTracking
    t.append(Seq(("a", "x", 1), ("b", "x", 2)).toDF("id", "p", "n"))
    t.append(Seq(("c", "x", 3), ("d", "y", 4)).toDF("id", "p", "n"))
    val before = ids(t)
    val filesBefore = t.liveEntries().map(_.relPath).toSet

    t.compact()
    assert(t.liveEntries().map(_.relPath).toSet !== filesBefore,
      "compact really rewrote the files")
    assert(ids(t) === before, "compact changed no row's identity")

    t.zorder(Seq("n"))
    assert(ids(t) === before, "zorder changed no row's identity")

    // n is the fixture's only numeric column: a diagonal curve still
    // rewrites every file
    t.clusterHilbert(Seq("n", "n"))
    assert(ids(t) === before, "clusterHilbert changed no row's identity")

    t.compactWhere(col("p") === lit("x"), filesPerPartition = 1)
    assert(ids(t) === before, "scoped optimize changed no row's identity")

    // bin-packing: write two small files into one partition, pack them
    t.append(Seq(("e", "x", 5)).toDF("id", "p", "n"))
    t.append(Seq(("f", "x", 6)).toDF("id", "p", "n"))
    val withTail = ids(t)
    t.compactSmall(targetBytes = 1L << 20)
    assert(ids(t) === withTail, "bin-packing changed no row's identity")
    // a plain read after materialized rewrites still hides the columns
    assert(!t.read().columns.exists(_.startsWith("_graft_r")))
  }

  test("ids are never reused: delete-all + vacuum + checkpoint still " +
      "advance the high-water mark") {
    val t = MergeTable(spark, tmpDir("rt").toString, None)
      .withRowTracking
    t.append(Seq(("a", 1), ("b", 2), ("c", 3)).toDF("id", "n"))
    t.delete(col("n") > 0) // removes every file
    t.vacuum(0L)           // prunes history onto a checkpoint
    t.append(Seq(("z", 9)).toDF("id", "n"))
    val m = ids(t)
    assert(m.keySet === Set("z"))
    assert(m("z")._1 >= 3L,
      s"id ${m("z")._1} must sit above the pre-delete high-water mark")
  }

  test("DV-based DELETE keeps surviving rows' ids in place; " +
      "copy-on-write UPDATE mints fresh ids for rewritten rows") {
    val dv = MergeTable(spark, tmpDir("rt").toString, None, Nil,
      deletionVectors = true).withRowTracking
    dv.append(Seq(("a", 1), ("b", 2), ("c", 3)).toDF("id", "n"))
    val before = ids(dv)
    dv.delete(col("id") === lit("b"))
    val after = ids(dv)
    assert(after.keySet === Set("a", "c"))
    assert(after("a") === before("a") && after("c") === before("c"),
      "rows untouched by a DV delete keep id AND version")

    val cow = MergeTable(spark, tmpDir("rt").toString, None)
      .withRowTracking
    cow.append(Seq(("a", 1), ("b", 2)).toDF("id", "n"))
    val pre = ids(cow)
    cow.update(col("id") === lit("a"), Map("n" -> lit(7)))
    val post = ids(cow)
    assert(post("a")._1 !== pre("a")._1,
      "a copy-on-write rewrite mints fresh ids (Delta without " +
        "rowTracking.preserved)")
    assert(post.values.map(_._1).toSet.size === 2, "still unique")
  }

  test("RESTORE republishes the old files with their original ids") {
    val t = MergeTable(spark, tmpDir("rt").toString, None)
      .withRowTracking
    t.append(Seq(("a", 1)).toDF("id", "n"))
    val v1 = t.latestVersion()
    val m1 = ids(t)
    t.overwrite(Seq(("b", 2)).toDF("id", "n"))
    t.restore(v1)
    assert(ids(t) === m1, "restore restored identity, not fresh ids")
  }

  test("a clone carries the high-water mark: its own writes never " +
      "collide with carried ids") {
    val src = MergeTable(spark, tmpDir("rt").toString, None)
      .withRowTracking
    src.append(Seq(("a", 1), ("b", 2)).toDF("id", "n"))
    val clone = src.cloneTo(tmpDir("rtclone").resolve("c").toString)
      .withRowTracking
    clone.append(Seq(("z", 9)).toDF("id", "n"))
    val m = ids(clone)
    assert(m.values.map(_._1).toSet.size === 3, "no id collisions")
    assert(m("z")._1 >= 2L, "the clone allotted above the carried mark")
    assert(m("a") === ids(src)("a"), "carried rows keep source identity")
  }

  test("mixed tables are refused; the reserved column names are " +
      "refused on user writes; untracked tables are untouched") {
    val t0 = MergeTable(spark, tmpDir("rt").toString, None)
    t0.append(Seq(("a", 1)).toDF("id", "n")) // untracked commit
    val t = MergeTable(spark, t0.root.toString, None).withRowTracking
    t.append(Seq(("b", 2)).toDF("id", "n"))  // tracked commit
    val e = intercept[IllegalStateException](t.readWithRowIds().collect())
    assert(e.getMessage.contains("row tracking"))

    val u = MergeTable(spark, tmpDir("rt").toString, None)
    intercept[IllegalArgumentException](
      u.append(Seq(("a", 1L)).toDF("id", "_graft_rid")))
    u.append(Seq(("a", 1)).toDF("id", "n"))
    assert(u.liveEntries().forall(_.rowIds.isEmpty),
      "no allotment without the feature")
    assert(u.protocol._1.isEmpty)
  }

  test("time travel carries row identity: a row visible at two " +
      "versions has the SAME row_id in both reads") {
    val t = MergeTable(spark, tmpDir("rt").toString, None)
      .withRowTracking
    t.append(Seq(("a", 1), ("b", 2)).toDF("id", "n"))
    val v1 = t.latestVersion()
    t.append(Seq(("c", 3)).toDF("id", "n"))
    t.compact() // ids materialize through the rewrite
    def at(v: Long): Map[String, (Long, Long)] =
      t.readVersionWithRowIds(v).collect()
        .map(r => r.getAs[String]("id") ->
          (r.getAs[Long]("row_id"), r.getAs[Long]("row_commit"))).toMap
    val m1 = at(v1)
    val now = ids(t)
    assert(m1.keySet === Set("a", "b"))
    assert(now.keySet === Set("a", "b", "c"))
    assert(m1("a") === now("a") && m1("b") === now("b"),
      "identity is the lineage key ACROSS versions and rewrites")
    assert(now.values.forall(_._2 <= t.latestVersion()))
  }

  test("graft_rows TVF surfaces row_id/row_commit in SQL") {
    val t = MergeTable(spark, tmpDir("rt").toString, None)
      .withRowTracking
    t.append(Seq(("a", 1), ("b", 2)).toDF("id", "n"))
    graft.sql.GraftSql.register("t_rt", t)
    try {
      val rows = spark.sql(
        "SELECT id, row_id, row_commit FROM graft_rows('t_rt') " +
          "ORDER BY row_id").collect()
      assert(rows.map(_.getString(0)).toSet === Set("a", "b"))
      assert(rows.map(_.getLong(1)).toSet === Set(0L, 1L))
      assert(rows.forall(_.getLong(2) === 1L))
    } finally graft.sql.GraftSql.unregister("t_rt")
  }

  test("concurrent appends allot disjoint ids (rebase re-allots " +
      "against the new head)") {
    val root = tmpDir("rt").toString
    MergeTable(spark, root, None).withRowTracking
      .append(Seq(("seed", 0)).toDF("id", "n"))
    val threads = (1 to 6).map { i =>
      new Thread(() => {
        MergeTable(spark, root, None).withRowTracking
          .append(Seq((s"t$i-a", i), (s"t$i-b", i)).toDF("id", "n"))
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val t = MergeTable(spark, root, None).withRowTracking
    val allIds = t.readWithRowIds().select("row_id").as[Long].collect()
    assert(allIds.length === 13)
    assert(allIds.toSet.size === 13,
      "every concurrently-allotted id is globally unique")
    assert(t.readWithRowIds().select("row_id", "row_commit").collect()
      .forall(r => !r.isNullAt(0) && !r.isNullAt(1)))
  }
}
