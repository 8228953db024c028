package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

import graft.SparkSpec

/** One log replay: a version's files and metadata come from ONE fold.
  * A handle that committed every version folds each one incrementally
  * from its parent; a fresh handle folds it from the newest checkpoint
  * plus the deltas above it. Both must agree on every readable version,
  * through every kind of log action. */
class LogReplaySpec extends SparkSpec {
  import spark.implicits._

  private def handle(root: String): MergeTable =
    MergeTable(spark, root, Some("date"), Nil, deletionVectors = true)
      .withRowTracking

  private def rowsOf(df: DataFrame): (Seq[String], Seq[String]) =
    (df.columns.toSeq, df.collect().map(_.toString).toSeq.sorted)

  test("incremental and checkpoint-anchored folds agree on files and " +
      "metadata at every version, and vacuum prunes both alike") {
    val root = tmpDir("replay").toString
    val t = handle(root)
    // version -> (its rows and columns, its metadata) as the committing
    // handle saw them right after the commit
    val seen = scala.collection.mutable.LinkedHashMap.empty[
      Long, ((Seq[String], Seq[String]), MergeTable.MetaState)]
    def step(commit: => Long): Unit = {
      val v = commit
      assert(v === t.latestVersion())
      seen(v) = (rowsOf(t.readVersion(v)), t.stateAt(v).meta)
    }
    step(t.declareSchema(StructType(Seq(
      StructField("order_id", StringType), StructField("date", StringType),
      StructField("amount", DoubleType), StructField("note", StringType)))))
    // one file per partition, so the delete below vectors a file that
    // keeps a live row
    step(t.append(Seq(("o1", "d1", 1.0, "a"), ("o0", "d1", 0.5, "z"),
        ("o2", "d2", 2.0, "b"))
      .toDF("order_id", "date", "amount", "note").repartition(1)))
    step(t.merge(Seq(("o2", "d2", 5.0, "b2"), ("o3", "d2", 3.0, "c"))
      .toDF("order_id", "date", "amount", "note"), "order_id"))
    step(t.delete(col("order_id") === "o1"))
    step(t.addConstraint("id_set", "order_id IS NOT NULL"))
    step(t.appendWithTxn(Seq(("o4", "d1", 4.0, "d"))
      .toDF("order_id", "date", "amount", "note"), "app", 7L))
    step(t.renameColumn("amount", "total"))
    step(t.dropColumn("note"))
    step(t.addColumn("extra", StringType))
    step(t.upgradeProtocol(writerFeatures = Set("txnWatermark")))
    step(t.append(Seq(("o5", "d2", 6.0, "x"))
      .toDF("order_id", "date", "total", "extra")))
    step(t.appendWithTxn(Seq(("o6", "d1", 7.0, "y"))
      .toDF("order_id", "date", "total", "extra"), "app", 8L))
    assert(seen.keys.toSeq === (1L to 12L))
    assert(Files.exists(java.nio.file.Paths.get(root, "_graft_log",
      f"${MergeTable.CheckpointInterval}%020d.ckpt")),
      "the log crosses a checkpoint boundary")
    assert(t.stateAt(12).entries.forall(_.rowIds.isDefined))
    assert(t.stateAt(12).entries.exists(_.dv.isDefined))

    // a fresh handle per version: each fold anchors on the newest
    // checkpoint at or below it, never on a memoized parent
    seen.foreach { case (v, (rows, meta)) =>
      val f = handle(root)
      assert(rowsOf(f.readVersion(v)) === rows, s"rows at version $v")
      assert(f.stateAt(v).meta === meta, s"metadata at version $v")
    }
    def sameHead(a: MergeTable, b: MergeTable): Unit = {
      assert(a.constraints === b.constraints)
      assert(a.columnMapping === b.columnMapping)
      assert(a.droppedColumns === b.droppedColumns)
      assert(a.txnVersion("app") === b.txnVersion("app"))
      assert(a.declaredSchema === b.declaredSchema)
      assert(a.protocol === b.protocol)
      assert(rowsOf(a.read()) === rowsOf(b.read()))
    }
    val f = handle(root)
    sameHead(t, f)
    assert(f.constraints === Map("id_set" -> "order_id IS NOT NULL"))
    assert(f.columnMapping === Map("amount" -> "total"))
    assert(f.droppedColumns === Set("note"))
    assert(f.txnVersion("app") === Some(8L))
    assert(f.declaredSchema.get.fieldNames.toSeq ===
      Seq("order_id", "date", "amount", "note", "extra"))
    assert(f.protocol._2.contains("txnWatermark"))

    t.vacuum(0L)
    val head = t.latestVersion()
    assert(head === 13L)
    val g = handle(root)
    sameHead(t, g)
    assert(rowsOf(g.readVersion(head)) === rowsOf(t.readVersion(head)))
    // a pruned version's metadata fails exactly like its snapshot, on
    // the committing handle and on a fresh one
    Seq(t, handle(root)).foreach { h =>
      val files = intercept[IllegalStateException](h.readVersion(5))
      val meta = intercept[IllegalStateException](h.stateAt(5).meta)
      assert(meta.getMessage === files.getMessage)
      assert(files.getMessage.contains("version 5 is unreadable"))
    }
  }

  test("a fresh handle's read folds its version once") {
    val root = tmpDir("replay_once").toString
    val t = handle(root)
    (1 to 12).foreach(i =>
      t.append(Seq((s"o$i", s"d${i % 3}", i.toDouble))
        .toDF("order_id", "date", "amount")))
    val f = handle(root)
    val rows = f.read().collect()
    assert(rows.length === 12)
    assert(f.stateMemo.misses === 1L)
  }
}
