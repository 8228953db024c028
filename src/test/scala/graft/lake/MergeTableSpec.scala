package graft.lake

import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

class MergeTableSpec extends SparkSpec {
  import spark.implicits._

  private def orders(rows: (String, String, Double)*): DataFrame =
    rows.toDF("order_id", "date", "amount")

  private def contents(df: DataFrame): Set[(String, String, Double)] =
    df.select("order_id", "date", "amount")
      .as[(String, String, Double)].collect().toSet

  test("overwrite then read round-trips with partition column restored") {
    val root = tmpDir("mt").toString
    val t = MergeTable(spark, root, Some("date"))
    t.overwrite(orders(("o1", "2024-01-01", 10.0), ("o2", "2024-01-02", 20.0)))
    assert(contents(t.read()) ===
      Set(("o1", "2024-01-01", 10.0), ("o2", "2024-01-02", 20.0)))
  }

  test("merge = update-all on match, insert-all on no-match") {
    val root = tmpDir("mt").toString
    val t = MergeTable(spark, root, Some("date"))
    t.overwrite(orders(("o1", "2024-01-01", 10.0), ("o2", "2024-01-02", 20.0)))
    t.merge(orders(("o2", "2024-01-02", 99.0), ("o3", "2024-01-03", 30.0)),
      "order_id")
    assert(contents(t.read()) === Set(
      ("o1", "2024-01-01", 10.0), ("o2", "2024-01-02", 99.0),
      ("o3", "2024-01-03", 30.0)))
  }

  test("merge is idempotent: same source twice → same table") {
    val root = tmpDir("mt").toString
    val t = MergeTable(spark, root, Some("date"))
    t.overwrite(orders(("o1", "2024-01-01", 10.0)))
    val src = orders(("o1", "2024-01-01", 11.0), ("o4", "2024-01-04", 40.0))
    t.merge(src, "order_id")
    val after1 = contents(t.read())
    t.merge(src, "order_id")
    assert(contents(t.read()) === after1)
  }

  test("merge moves a row whose partition value changed") {
    val root = tmpDir("mt").toString
    val t = MergeTable(spark, root, Some("date"))
    t.overwrite(orders(("o1", "2024-01-01", 10.0), ("o2", "2024-01-02", 20.0)))
    t.merge(orders(("o1", "2024-03-03", 10.5)), "order_id")
    assert(contents(t.read()) ===
      Set(("o1", "2024-03-03", 10.5), ("o2", "2024-01-02", 20.0)))
  }

  test("merge rewrites only touched partitions (file-level skipping)") {
    val root = tmpDir("mt")
    val t = MergeTable(spark, root.toString, Some("date"))
    t.overwrite(orders(("o1", "2024-01-01", 10.0), ("o2", "2024-01-02", 20.0)))
    val before = t.liveEntries().map(_.relPath).toSet
    t.merge(orders(("o2", "2024-01-02", 21.0)), "order_id")
    val after = t.liveEntries().map(_.relPath).toSet
    val kept = before.intersect(after)
    // the 2024-01-01 partition's file must be carried over untouched
    assert(kept.nonEmpty && kept.forall(_.contains("date=2024-01-01")))
    assert((after -- before).forall(_.contains("date=2024-01-02")))
    // ... and the carried-over file must not even be MENTIONED in the
    // commit's delta (incremental log: metadata IO is O(changed files))
    val delta = Files.readAllLines(root.resolve("_graft_log")
      .resolve(f"${t.latestVersion()}%020d.txt")).asScala
      .filter(l => l.nonEmpty && !l.startsWith("S\t")) // skip the stamp
      .map(_.split('\t')(1)).toSet
    assert(delta.forall(_.contains("date=2024-01-02")),
      s"delta must only mention the rewritten partition's files: $delta")
  }

  test("time travel: readVersion sees historical snapshots") {
    val root = tmpDir("mt").toString
    val t = MergeTable(spark, root, Some("date"))
    val v1 = t.overwrite(orders(("o1", "2024-01-01", 10.0)))
    t.merge(orders(("o1", "2024-01-01", 99.0)), "order_id")
    assert(contents(t.readVersion(v1)) === Set(("o1", "2024-01-01", 10.0)))
    assert(contents(t.read()) === Set(("o1", "2024-01-01", 99.0)))
  }

  test("time travel by timestamp resolves the snapshot at that instant") {
    val root = tmpDir("mt").toString
    val t = MergeTable(spark, root, Some("date"))
    t.overwrite(orders(("o1", "2024-01-01", 10.0)))
    Thread.sleep(20)
    val between = java.time.Instant.now()
    Thread.sleep(20)
    t.merge(orders(("o1", "2024-01-01", 99.0)), "order_id")
    assert(contents(t.readAsOf(between)) === Set(("o1", "2024-01-01", 10.0)))
    assert(contents(t.readAsOf(java.time.Instant.now())) ===
      Set(("o1", "2024-01-01", 99.0)))
    intercept[IllegalArgumentException](
      t.readAsOf(between.minusSeconds(3600)))
  }

  test("unpartitioned table merge") {
    val root = tmpDir("mt").toString
    val t = MergeTable(spark, root, None)
    t.overwrite(orders(("o1", "d", 1.0)))
    t.merge(orders(("o1", "d", 2.0), ("o2", "d", 3.0)), "order_id")
    assert(contents(t.read()) === Set(("o1", "d", 2.0), ("o2", "d", 3.0)))
  }

  test("compact reduces files, preserves content; vacuum drops dead dirs") {
    val root = tmpDir("mt")
    val t = MergeTable(spark, root.toString, Some("date"))
    t.overwrite(orders(("o1", "2024-01-01", 1.0)))
    t.merge(orders(("o2", "2024-01-01", 2.0)), "order_id")
    val before = contents(t.read())
    t.compact(filesPerPartition = 1, clusterBy = Seq(col("order_id")))
    assert(contents(t.read()) === before)
    t.vacuum(0L)
    assert(contents(t.read()) === before) // live data untouched by vacuum
  }

  test("compactSmall bin-packs only under-sized files; big files untouched") {
    val root = tmpDir("mt")
    val t = MergeTable(spark, root.toString, None)
    // one genuinely large file (10k rows ≫ 8 KiB) ...
    t.overwrite((1 to 10000)
      .map(i => (s"big$i", "2024-01-01", i.toDouble))
      .toDF("order_id", "date", "amount").coalesce(1))
    // ... plus three small single-commit files from streaming-style merges
    for (i <- 1 to 3)
      t.merge(orders((s"s$i", "2024-01-02", i.toDouble)), "order_id")
    val before = t.read().count()
    val liveBefore = t.liveEntries().map(_.relPath)
    val sizes = liveBefore.map(p =>
      p -> Files.size(java.nio.file.Paths.get(root.toString, p))).toMap
    val target = 8L * 1024
    val (bigs, smalls) = liveBefore.partition(p => sizes(p) >= target)
    assert(bigs.size === 1 && smalls.size === 3, s"fixture shape: $sizes")

    val vBefore = t.latestVersion()
    val vAfter = t.compactSmall(target)
    val liveAfter = t.liveEntries().map(_.relPath)
    assert(liveAfter.contains(bigs.head),
      "the right-sized file must be carried over with its identity intact")
    assert(smalls.forall(p => !liveAfter.contains(p)),
      "every under-sized file must be rewritten")
    assert(liveAfter.size === 2, "3 small files pack into 1")
    assert(t.read().count() === before)
    // the commit delta never mentions the untouched file — O(changed
    // files) metadata, the X77 contract
    val delta = Files.readAllLines(
      root.resolve("_graft_log").resolve(f"$vAfter%020d.txt")).asScala
    assert(!delta.exists(_.contains(bigs.head.split('/').last)))
    // logical content unchanged ⇒ empty change feed across the commit
    assert(t.changes(vBefore, vAfter, "order_id").count() === 0)
    // a second pass finds <2 small files per partition ⇒ empty delta
    val liveNow = t.liveEntries().map(_.relPath).toSet
    t.compactSmall(target)
    assert(t.liveEntries().map(_.relPath).toSet === liveNow,
      "no-op when nothing qualifies")
  }

  test("compactSmall packs per partition and keeps the partition column") {
    val root = tmpDir("mt")
    val t = MergeTable(spark, root.toString, Some("date"))
    t.overwrite(orders(("o1", "2024-01-01", 1.0), ("o2", "2024-01-02", 2.0)))
    for (i <- 3 to 8) // 3 more small files in each of the two partitions
      t.merge(orders((s"o$i", s"2024-01-0${1 + i % 2}", i.toDouble)),
        "order_id")
    val before = contents(t.read())
    t.compactSmall(64L * 1024)
    assert(contents(t.read()) === before)
    val perPart = t.liveEntries().groupBy(_.partitionValue)
      .map { case (pv, es) => (pv, es.size) }
    assert(perPart === Map(Some("2024-01-01") -> 1, Some("2024-01-02") -> 1),
      "each partition's small files pack into one file")
  }

  test("commit publish atomically fails on version collision (no clobber)") {
    val root = tmpDir("mt")
    val t = MergeTable(spark, root.toString, None)
    t.overwrite(orders(("o1", "d", 1.0)))
    // Direct collision: a writer whose snapshot was the empty table
    // (stale expected=0) publishes at version 1 — which the overwrite
    // above already owns. A rename-based publish would silently REPLACE
    // v1's manifest; the createLink-based publish must return None and
    // leave it byte-identical.
    val v1Manifest = root.resolve("_graft_log").resolve(f"${1L}%020d.txt")
    val v1Body = Files.readAllLines(v1Manifest)
    assert(t.tryCommit(MergeTable.CommitDelta(Nil, Nil), expected = 0L) === None,
      "publishing at a taken version must report the collision")
    assert(Files.readAllLines(v1Manifest) === v1Body,
      "the winning writer's manifest must survive untouched")
    // End-to-end retry: a foreign manifest owning version 2 forces merge
    // to land at version 3, computed from the fresh snapshot.
    val foreign = root.resolve("_graft_log").resolve(f"${2L}%020d.txt")
    Files.write(foreign, v1Body)
    val v = t.merge(orders(("o2", "d", 2.0)), "order_id")
    assert(v === 3L, "merge must skip the taken version")
    assert(Files.readAllLines(foreign) === v1Body,
      "the concurrent writer's manifest must survive untouched")
    assert(contents(t.read()) === Set(("o1", "d", 1.0), ("o2", "d", 2.0)))
  }

  test("merge with evolveSchema adds new columns; without it fails fast") {
    val root = tmpDir("mt").toString
    val t = MergeTable(spark, root, Some("date"))
    // TWO partitions so the evolution merge leaves one partition's files
    // carrying the pre-evolution schema
    t.overwrite(orders(("o1", "2024-01-01", 1.0), ("o2", "2024-02-02", 2.0)))
    val widened = Seq(("o1", "2024-01-01", 9.0, "web"))
      .toDF("order_id", "date", "amount", "channel")
    intercept[Exception](t.merge(widened, "order_id"))
    t.merge(widened, "order_id", evolveSchema = true)
    // o2's partition was untouched: its old-schema files must read NULL
    // for the evolved column
    val rows = t.read().select("order_id", "amount", "channel")
      .as[(String, Double, Option[String])].collect().toSet
    assert(rows === Set(("o1", 9.0, Some("web")), ("o2", 2.0, None)))
    // a later non-evolved-source merge keeps the widened schema
    t.merge(Seq(("o3", "2024-03-03", 3.0))
      .toDF("order_id", "date", "amount"), "order_id", evolveSchema = true)
    val rows2 = t.read().select("order_id", "channel")
      .as[(String, Option[String])].collect().toSet
    assert(rows2 === Set(("o1", Some("web")), ("o2", None), ("o3", None)))
  }

  test("readRange skips files by manifest min/max stats") {
    val root = tmpDir("mt").toString
    val t = MergeTable(spark, root, None, statsCol = Some("k"))
    // 4 range-partitioned files with disjoint k ranges
    val df = spark.range(0, 100).toDF("k")
      .withColumn("payload", col("k") * 2)
      .repartitionByRange(4, col("k"))
    t.overwrite(df)
    val total = t.scanEntries(col("k").cast("long")
      .between(Long.MinValue, Long.MaxValue)).size
    assert(total >= 4, s"expected >=4 stats-bearing files, got $total")
    val pruned = t.scanEntries(col("k").cast("long").between(10, 20))
    assert(pruned.size < total, "disjoint-range files must be skipped")
    assert(pruned.forall(_.stats.nonEmpty))
    val rows = t.readRange(10, 20).select("k").as[Long].collect().toSet
    assert(rows === (10L to 20L).toSet)
    // stats survive a merge: carried-over entries keep theirs, new files
    // get fresh ones
    t.merge(Seq((500L, 1000L)).toDF("k", "payload"), "k")
    assert(t.readRange(400, 600).select("k").as[Long].collect().toSeq ===
      Seq(500L))
    assert(t.scanEntries(col("k").cast("long").between(400, 600))
      .forall(_.stats.nonEmpty))
  }

  test("multi-column stats skip files on any stats'd column") {
    val root = tmpDir("mt").toString
    val t = MergeTable(spark, root, None, statsCols = Seq("k", "v"))
    // k ascends 0..99 while v descends 99..0 — range-partitioning on k
    // gives each file a DISJOINT range in BOTH columns, but in opposite
    // orders, so pruning on v proves the second column's stats are real
    // (k's ranges alone would prune the wrong files).
    val df = spark.range(0, 100).toDF("k")
      .withColumn("v", lit(99) - col("k"))
      .repartitionByRange(4, col("k"))
    t.overwrite(df)
    val total = t.scanEntries(col("v").cast("long")
      .between(Long.MinValue, Long.MaxValue)).size
    assert(total >= 4)
    val prunedV = t.scanEntries(col("v").cast("long").between(10, 20))
    assert(prunedV.size < total, "files disjoint in v must be skipped")
    assert(t.readRange("v", 10, 20).select("v").as[Long].collect().toSet ===
      (10L to 20L).toSet)
    // the same table still prunes on the primary column
    assert(t.scanEntries(col("k").cast("long").between(10, 20)).size < total)
    // an un-stats'd column fails fast with the recorded list
    val e = intercept[IllegalArgumentException] {
      t.readRange("payload", 0, 1)
    }
    assert(e.getMessage.contains("k, v"))
  }

  test("zorder trailing-column skipping is exploitable through readRange") {
    val root = tmpDir("mt").toString
    val t = MergeTable(spark, root, None, statsCols = Seq("a", "b"))
    // a 16x16 grid: linear clustering on `a` would leave every file
    // covering the full `b` range; zorder interleaves, so files cover
    // sub-squares and a tight `b` bound skips files too
    val grid = spark.range(0, 256).toDF("i")
      .withColumn("a", col("i") % 16)
      .withColumn("b", (col("i") / 16).cast("long"))
      .drop("i")
    t.overwrite(grid)
    t.zorder(Seq("a", "b"), filesPerPartition = 4)
    val total = t.scanEntries(col("b").cast("long")
      .between(Long.MinValue, Long.MaxValue)).size
    assert(total >= 4)
    val prunedB = t.scanEntries(col("b").cast("long").between(0, 3))
    assert(prunedB.size < total,
      s"zorder must confine b-ranges per file (kept ${prunedB.size} of $total)")
    assert(t.readRange("b", 0, 3).select("b").as[Long].collect().toSet ===
      (0L to 3L).toSet)
  }

  test("nullCount stats skip all-null files for range and NOT NULL reads") {
    val root = tmpDir("mt").toString
    val t = MergeTable(spark, root, Some("p"), statsCols = Seq("k"))
    // one file all-null in k, one file with values — the all-null file
    // has NO min/max to prune on, so only the nullCount can skip it.
    // Distinct partition values force distinct files even when AQE
    // coalesces the union down to a single write task.
    val withK = spark.range(0, 50).toDF("k")
      .withColumn("payload", col("k") * 2).withColumn("p", lit("vals"))
    val nullK = spark.range(0, 50).toDF("i")
      .select(lit(null).cast("long").as("k"),
        (col("i") + 1000L).as("payload"), lit("nulls").as("p"))
    t.overwrite(withK.unionByName(nullK))
    val total = t.liveEntries().size
    assert(total >= 2)
    // BETWEEN is never true of NULL: the all-null file is skippable
    assert(t.scanEntries(col("k").cast("long").between(0, 100)).size < total,
      "all-null file must be pruned from a range read")
    assert(t.readRange("k", 10, 12).select("k").as[Long].collect().toSet ===
      Set(10L, 11L, 12L))
    // IS NOT NULL skipping reads only the value-bearing file
    assert(t.scanEntries(col("k").isNotNull).size < total)
    assert(t.readNotNull("k").count() === 50L)
    // and the skipped rows are still THERE for a plain read
    assert(t.read().count() === 100L)
  }

  test("CHECK constraints gate every write path, with SQL NULL-passes") {
    val root = tmpDir("mt").toString
    val t = MergeTable(spark, root, Some("date"))
    t.overwrite(orders(("o1", "2024-01-01", 10.0), ("o2", "2024-01-02", 20.0)))
    t.addConstraint("amount_pos", "amount > 0")
    assert(t.constraints === Map("amount_pos" -> "amount > 0"))
    // adding a constraint the EXISTING data violates fails fast
    intercept[IllegalArgumentException] {
      t.addConstraint("amount_big", "amount > 15")
    }
    assert(t.constraints.keySet === Set("amount_pos"))
    // every write path rejects violating NEW rows and commits nothing
    val vBefore = t.latestVersion()
    intercept[IllegalArgumentException] {
      t.merge(orders(("o3", "2024-01-03", -1.0)), "order_id")
    }
    intercept[IllegalArgumentException] {
      t.overwrite(orders(("o9", "2024-01-09", 0.0)))
    }
    intercept[IllegalArgumentException] {
      t.update(col("order_id") === "o1", Map("amount" -> lit(-5.0)))
    }
    intercept[IllegalArgumentException] {
      t.mergeCdc(orders(("o1", "2024-01-01", -3.0))
        .withColumn(MergeTable.ChangeType, lit("update")), "order_id")
    }
    assert(t.latestVersion() === vBefore)
    assert(contents(t.read()) ===
      Set(("o1", "2024-01-01", 10.0), ("o2", "2024-01-02", 20.0)))
    // NULL predicate result PASSES (SQL CHECK semantics), and a
    // CDC delete needs no constraint evaluation at all
    t.merge(Seq(("o4", "2024-01-04", None: Option[Double]))
      .toDF("order_id", "date", "amount"), "order_id")
    t.mergeCdc(orders(("o4", "2024-01-04", 0.0))
      .withColumn(MergeTable.ChangeType, lit("delete")), "order_id")
    assert(contents(t.read()) ===
      Set(("o1", "2024-01-01", 10.0), ("o2", "2024-01-02", 20.0)))
    // dropping re-admits; unknown drop fails fast
    t.dropConstraint("amount_pos")
    intercept[IllegalArgumentException] { t.dropConstraint("nope") }
    t.merge(orders(("o5", "2024-01-05", -1.0)), "order_id")
    assert(t.constraints.isEmpty)
  }

  test("constraints survive vacuum and are inherited by clones") {
    val root = tmpDir("mt").toString
    val t = MergeTable(spark, root, Some("date"))
    t.overwrite(orders(("o1", "2024-01-01", 10.0)))
    t.addConstraint("amount_pos", "amount > 0")
    t.merge(orders(("o2", "2024-01-02", 20.0)), "order_id")
    // vacuum prunes pre-latest deltas; the checkpoint must carry the
    // constraint or enforcement would silently vanish
    t.vacuum(0L)
    assert(t.constraints === Map("amount_pos" -> "amount > 0"))
    intercept[IllegalArgumentException] {
      t.merge(orders(("o3", "2024-01-03", -1.0)), "order_id")
    }
    // a shallow clone starts life with the source's constraints
    val c = t.cloneTo(tmpDir("mtclone").toString)
    assert(c.constraints === Map("amount_pos" -> "amount > 0"))
    intercept[IllegalArgumentException] {
      c.merge(orders(("o9", "2024-01-09", -2.0)), "order_id")
    }
    // a constraint referencing a column the write lacks fails explicitly
    // (conservative stand-in for Delta's evolved-null behavior)
    val e = intercept[IllegalArgumentException] {
      t.merge(Seq(("o6", "2024-01-06")).toDF("order_id", "date"),
        "order_id")
    }
    assert(e.getMessage.contains("cannot evaluate constraint"))
  }

  test("merge handles NULL partition values (hive default dir)") {
    val root = tmpDir("mt").toString
    val t = MergeTable(spark, root, Some("date"))
    val withNull = Seq(("o1", Some("2024-01-01"), 1.0), ("o2", None, 2.0))
      .toDF("order_id", "date", "amount")
    t.overwrite(withNull)
    // o2 lives in date=__HIVE_DEFAULT_PARTITION__; merging it again must
    // rewrite that partition (not duplicate the key).
    t.merge(Seq(("o2", None: Option[String], 9.0))
      .toDF("order_id", "date", "amount"), "order_id")
    val rows = t.read().select("order_id", "amount")
      .as[(String, Double)].collect().toSet
    assert(rows === Set(("o1", 1.0), ("o2", 9.0)))
  }

  test("vacuum prunes superseded manifests; time travel gone, latest intact") {
    val root = tmpDir("mt")
    val t = MergeTable(spark, root.toString, Some("date"))
    val v1 = t.overwrite(orders(("o1", "2024-01-01", 1.0)))
    t.merge(orders(("o1", "2024-01-01", 2.0)), "order_id")
    t.vacuum(0L)
    assert(contents(t.read()) === Set(("o1", "2024-01-01", 2.0)))
    intercept[Exception](t.readVersion(v1).collect())
  }

  test("vacuum retention: in-window time travel survives; clones are " +
      "not stranded; retain-0 reaps now") {
    val root = tmpDir("mt")
    val t = MergeTable(spark, root.toString, Some("date"))
    val v1 = t.overwrite(orders(("o1", "2024-01-01", 1.0)))
    t.merge(orders(("o1", "2024-01-01", 2.0)), "order_id")
    // a shallow clone taken NOW references the source's current files
    val clone = t.cloneTo(tmpDir("mtc").toString)
    t.merge(orders(("o1", "2024-01-01", 3.0)), "order_id")
    // default vacuum = 7-day retention: every commit here is seconds
    // old, so ALL history survives — time travel to v1 still works and
    // the clone still reads the files the source has since superseded
    t.vacuum()
    assert(contents(t.readVersion(v1)) === Set(("o1", "2024-01-01", 1.0)))
    assert(contents(clone.read()) === Set(("o1", "2024-01-01", 2.0)))
    assert(contents(t.read()) === Set(("o1", "2024-01-01", 3.0)))
    // retain-0 is the explicit opt-in to today-reaping: history gone,
    // latest intact (the clone-stranding caveat X111 documents)
    t.vacuum(0L)
    intercept[Exception](t.readVersion(v1).collect())
    assert(contents(t.read()) === Set(("o1", "2024-01-01", 3.0)))
  }

  test("concurrent merges from two threads both land (optimistic retry)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = tmpDir("mt").toString
    // Run the race THROUGH the LogStore seam: an instrumented store
    // (delegating to the POSIX impl) proves every publish — winner and
    // loser alike — flows through the interface, so an object-store
    // implementation plugged in here inherits the full optimistic
    // protocol. The counters also pin the protocol's shape: at least 3
    // attempted publishes (two winners + ≥1 collision loser) but
    // exactly 3 SUCCESSFUL ones (overwrite + two merges).
    val attempts = new java.util.concurrent.atomic.AtomicInteger
    val wins = new java.util.concurrent.atomic.AtomicInteger
    val counting = new LogStore {
      override def putIfAbsent(target: java.nio.file.Path,
          body: String): Boolean = {
        // count COMMIT publishes only — derived sidecars (checksums,
        // checkpoints) ride the same seam but are not commits
        val isDelta = target.getFileName.toString.endsWith(".txt")
        if (isDelta) attempts.incrementAndGet()
        val won = LogStore.Posix.putIfAbsent(target, body)
        if (won && isDelta) wins.incrementAndGet()
        won
      }
    }
    val t = MergeTable(spark, root, None).withLogStore(counting)
    t.overwrite(orders(("o1", "d", 1.0)))
    // Two uncoordinated writers race for the next version; the loser must
    // recompute against the winner's snapshot, so BOTH rows survive.
    val f1 = Future(t.merge(orders(("o2", "d", 2.0)), "order_id"))
    val f2 = Future(t.merge(orders(("o3", "d", 3.0)), "order_id"))
    Await.result(f1, 120.seconds)
    Await.result(f2, 120.seconds)
    assert(contents(t.read()) ===
      Set(("o1", "d", 1.0), ("o2", "d", 2.0), ("o3", "d", 3.0)))
    assert(t.latestVersion() === 3L, "exactly two post-overwrite commits")
    assert(wins.get() === 3,
      "every committed version must have flowed through the seam")
    assert(attempts.get() >= wins.get(),
      "collision losers must also have attempted through the seam")
  }

  test("a LogStore that breaks create-if-absent atomicity loses a commit " +
      "(why plain S3 PutObject must not back the seam)") {
    // The contract's negative space: a last-writer-wins store (plain
    // object PUT) silently replaces the target, so both racers "win"
    // the same version and one delta vanishes. Demonstrated
    // deterministically: two deltas published at the SAME version
    // through a broken store → the log holds one commit, the other's
    // rows are gone. This is the documented reason LogStore.putIfAbsent
    // demands atomic create-if-absent.
    val broken = new LogStore {
      override def putIfAbsent(target: java.nio.file.Path,
          body: String): Boolean = {
        // last-writer-wins: REPLACE is allowed (rename(2) semantics)
        val tmp = target.resolveSibling(
          s".tmp-${java.util.UUID.randomUUID()}")
        java.nio.file.Files.writeString(tmp, body)
        java.nio.file.Files.move(tmp, target,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        true // both writers believe they won
      }
    }
    val root = tmpDir("mtbroken").toString
    val good = MergeTable(spark, root, None)
    good.overwrite(orders(("o1", "d", 1.0)))
    val taken = good.latestVersion()
    // A racer publishing at the ALREADY-TAKEN version through the
    // broken store "succeeds" — with the atomic POSIX store the same
    // publish reports the collision, which is what drives the
    // optimistic retry. Last-writer-wins replaced v1's delta in place:
    // o1 is silently gone from the snapshot (the lost update).
    val target = java.nio.file.Paths
      .get(root, "_graft_log", f"$taken%020d.txt")
    assert(broken.putIfAbsent(target, "") === true,
      "last-writer-wins store must (wrongly) report success")
    assert(good.latestVersion() === taken,
      "no new version exists — the clobber replaced history in place")
    assert(java.nio.file.Files.readString(target) === "",
      "v1's delta was silently overwritten — its rows are lost")
    // …whereas the atomic store refuses the same publish:
    assert(LogStore.Posix.putIfAbsent(target, "x") === false,
      "the POSIX impl must report the collision")
  }

  test("a 50-commit history reads through ONE scan node, no compact()") {
    val root = tmpDir("mt").toString
    val t = MergeTable(spark, root, Some("date"))
    t.overwrite(orders(("o0", "d000", 0.0)))
    // Each merge inserts into a FRESH partition, so every commit's file is
    // carried over by all later merges: live files end up spanning 50
    // commit dirs — the streaming-ingest shape that previously built one
    // scan node per dir into every read plan.
    (1 to 49).foreach { i =>
      t.merge(orders((s"o$i", f"d$i%03d", i.toDouble)), "order_id")
    }
    val df = t.read()
    val nScans = "Scan parquet".r
      .findAllIn(df.queryExecution.executedPlan.toString).size
    assert(nScans === 1,
      s"expected ONE parquet scan over a 50-dir history, got $nScans")
    // ... and the manifest-attached partition column is correct.
    assert(contents(df) ===
      (0 to 49).map(i => (s"o$i", f"d$i%03d", i.toDouble)).toSet)
    // Log-level partition pruning still composes with the one-scan read.
    assert(contents(t.read(Some(_ == "d007"))) === Set(("o7", "d007", 7.0)))
  }

  test("changes() emits insert/update/delete with log-level partition pruning") {
    val root = tmpDir("mt").toString
    val t = MergeTable(spark, root, Some("date"))
    val v1 = t.overwrite(orders(
      ("o1", "2024-01-01", 10.0), ("o2", "2024-01-02", 20.0),
      ("o3", "2024-01-03", 30.0)))
    // merge: update o2, insert o4; o1/o3 partitions carried over untouched
    val v2 = t.merge(
      orders(("o2", "2024-01-02", 99.0), ("o4", "2024-01-04", 40.0)),
      "order_id")
    val cdf = t.changes(v1, v2, "order_id")
    val rows = cdf.select("order_id", "amount", "_change_type")
      .as[(String, Double, String)].collect().toSet
    assert(rows === Set(("o2", 99.0, "update"), ("o4", 40.0, "insert")),
      "carried-over rows must not appear in the feed")
    // pruning: only the two touched partitions' files are scanned
    val scanned = "file:[^\\]\\s,]*commit-[^\\]\\s,]*".r
      .findAllIn(cdf.queryExecution.executedPlan.toString).toSet
    assert(!scanned.exists(_.contains("date=2024-01-01")) &&
      !scanned.exists(_.contains("date=2024-01-03")),
      s"untouched partitions must be pruned at the log level, scanned=$scanned")
    // delete shows up when a version drops a key
    val v3 = t.overwrite(orders(("o2", "2024-01-02", 99.0)))
    val del = t.changes(v2, v3, "order_id")
      .select("order_id", "_change_type")
      .as[(String, String)].collect().toSet
    assert(del === Set(("o1", "delete"), ("o3", "delete"), ("o4", "delete")))
  }

  test("changes() across an evolveSchema merge carries the evolved column") {
    val root = tmpDir("mt").toString
    val t = MergeTable(spark, root, Some("date"))
    val v1 = t.overwrite(orders(("o1", "2024-01-01", 10.0)))
    // evolved source: same amount, NEW column channel — the only change
    // is confined to the evolved column
    val v2 = t.merge(
      Seq(("o1", "2024-01-01", 10.0, "web"))
        .toDF("order_id", "date", "amount", "channel"),
      "order_id", evolveSchema = true)
    val rows = t.changes(v1, v2, "order_id")
      .select("order_id", "channel", "_change_type")
      .as[(String, Option[String], String)].collect().toSet
    assert(rows === Set(("o1", Some("web"), "update")),
      "an update confined to the evolved column must register, with the " +
        "evolved column in the feed")
  }

  test("changes() carries an unchanged null-pk row silently (null-safe key)") {
    val root = tmpDir("mt").toString
    val t = MergeTable(spark, root, Some("date"))
    // the null-pk row shares a partition with the updated row, so log
    // pruning does NOT hide it — both versions scan it
    val v1 = t.overwrite(orders(
      (null, "2024-01-01", 5.0), ("o1", "2024-01-01", 10.0)))
    val v2 = t.merge(orders(("o1", "2024-01-01", 99.0)), "order_id")
    val rows = t.changes(v1, v2, "order_id")
      .select("order_id", "amount", "_change_type")
      .as[(Option[String], Double, String)].collect().toSet
    assert(rows === Set((Some("o1"), 99.0, "update")),
      "an unchanged null-pk row must not surface as delete + insert")
  }

  test("delete() rewrites only files containing a match; null pred keeps") {
    val root = tmpDir("mt").toString
    val t = MergeTable(spark, root, Some("date"))
    t.overwrite(orders(
      ("o1", "2024-01-01", 10.0), ("o2", "2024-01-02", 20.0),
      ("o3", "2024-01-03", 30.0), (null, "2024-01-03", 99.0)))
    val before = t.liveEntries().map(_.relPath).toSet
    t.delete(col("amount") > 15.0 && col("order_id").startsWith("o2"))
    assert(contents(t.read()) ===
      Set(("o1", "2024-01-01", 10.0), ("o3", "2024-01-03", 30.0),
        (null, "2024-01-03", 99.0)),
      "only the matching row goes; a null-predicate row survives")
    val after = t.liveEntries().map(_.relPath).toSet
    val carried = before.intersect(after)
    assert(carried.exists(_.contains("date=2024-01-01")) &&
      carried.exists(_.contains("date=2024-01-03")),
      s"files without matches must be carried over untouched: $carried")
    assert(!after.exists(p => before(p) && p.contains("date=2024-01-02")),
      "the file holding the match must be rewritten")
    // a no-match delete commits a no-op version, rewriting nothing
    val v = t.delete(col("amount") > 1000.0)
    assert(t.liveEntries().map(_.relPath).toSet === after && v > 0)
  }

  test("update() rewrites matching files only and leaves null-pred rows") {
    val root = tmpDir("mt").toString
    val t = MergeTable(spark, root, Some("date"))
    t.overwrite(orders(
      ("o1", "2024-01-01", 10.0), ("o2", "2024-01-02", 20.0),
      (null, "2024-01-02", 5.0)))
    val before = t.liveEntries().map(_.relPath).toSet
    t.update(col("order_id") === "o2", Map("amount" -> (col("amount") * 2)))
    assert(contents(t.read()) === Set(
      ("o1", "2024-01-01", 10.0), ("o2", "2024-01-02", 40.0),
      (null, "2024-01-02", 5.0)),
      "matched row updated; null-predicate row untouched")
    val after = t.liveEntries().map(_.relPath).toSet
    assert(before.intersect(after).exists(_.contains("date=2024-01-01")),
      "the match-free file is carried over")
    intercept[IllegalArgumentException] {
      t.update(col("order_id") === "o1", Map("date" -> lit("2024-01-09")))
    }
  }

  test("update() evaluates every SET expression against the OLD row") {
    val root = tmpDir("mt").toString
    val t = MergeTable(spark, root, None)
    t.overwrite(Seq(("o1", 1.0, 2.0)).toDF("order_id", "a", "b"))
    // SQL swap semantics: a=b, b=a must read both from the pre-image
    t.update(col("order_id") === "o1",
      Map("a" -> col("b"), "b" -> col("a")))
    val row = t.read().select("a", "b").as[(Double, Double)].head()
    assert(row === ((2.0, 1.0)),
      "a sequential withColumn chain would yield (2.0, 2.0)")
  }

  test("zorder() gives trailing-column locality that linear clusterBy can't") {
    val root = tmpDir("mt").toString
    val t = MergeTable(spark, root, None, statsCol = Some("amount"))
    // qty and amount are independent: linear clustering on qty leaves
    // every file spanning the full amount domain
    val rows = (0 until 4096).map(i => (i.toLong, (i % 64).toLong,
      ((i * 37) % 64).toLong))
    t.overwrite(rows.toDF("id", "qty", "amount"))
    t.compact(4, clusterBy = Seq(col("qty")))
    val lowAmount = col("amount").cast("long").between(0, 15)
    val linearHits = t.scanEntries(lowAmount).size
    assert(linearHits === 4,
      s"linear qty clustering cannot skip on amount (got $linearHits/4)")
    t.zorder(Seq("qty", "amount"), 4)
    val zHits = t.scanEntries(lowAmount).size
    assert(zHits <= 2, s"z-order must skip amount-high files (got $zHits/4)")
    // the rewrite is a reorganization, not a data change
    assert(t.read().count() === 4096)
    assert(t.read().agg(sum(col("amount"))).head().getLong(0) ===
      rows.map(_._3).sum)
  }

  test("zorder tolerates constant and null-bearing cluster columns") {
    val root = tmpDir("mt").toString
    val t = MergeTable(spark, root, None)
    Seq((1L, 5L, null.asInstanceOf[java.lang.Long]),
      (2L, 5L, java.lang.Long.valueOf(9L)),
      (3L, 5L, java.lang.Long.valueOf(1L)))
      .toDF("id", "constant", "maybe_null")
      .createOrReplaceTempView("zsrc")
    t.overwrite(spark.table("zsrc"))
    t.zorder(Seq("constant", "maybe_null"), 2)
    assert(t.read().count() === 3, "degenerate spans must not lose rows")
    intercept[IllegalArgumentException] { t.zorder(Nil) }
    intercept[IllegalArgumentException] { t.zorder(Seq("a", "b", "c", "d")) }
  }

  test("delete() of every row leaves a readable empty table") {
    val root = tmpDir("mt").toString
    val t = MergeTable(spark, root, Some("date"))
    t.overwrite(orders(("o1", "2024-01-01", 10.0), ("o2", "2024-01-02", 20.0)))
    t.delete(col("amount") > 0.0)
    assert(t.read().count() === 0)
    // and the table stays writable afterwards
    t.merge(orders(("o3", "2024-01-03", 30.0)), "order_id")
    assert(contents(t.read()) === Set(("o3", "2024-01-03", 30.0)))
  }

  test("concurrent delete and merge both land (optimistic retry)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = tmpDir("mt").toString
    val t = MergeTable(spark, root, Some("date"))
    t.overwrite(orders(
      ("o1", "2024-01-01", 10.0), ("o2", "2024-01-02", 20.0)))
    // a delete and an unrelated-key merge race; whichever loses the
    // commit must recompute against the winner's snapshot, so the final
    // state is order-independent
    val f1 = Future(t.delete(col("order_id") === "o2"))
    val f2 = Future(t.merge(orders(("o3", "2024-01-03", 30.0)), "order_id"))
    Await.result(f1, 120.seconds)
    Await.result(f2, 120.seconds)
    assert(contents(t.read()) ===
      Set(("o1", "2024-01-01", 10.0), ("o3", "2024-01-03", 30.0)))
  }

  test("same-named part files in two partitions of one commit stay distinct") {
    val root = tmpDir("mt").toString
    val t = MergeTable(spark, root, Some("date"), statsCol = Some("amount"))
    t.overwrite(orders(("o0", "2024-01-01", 1.0)))
    // ONE task writing TWO date partitions → both dirs emit a part file
    // with the same task index + job UUID (identical basename). A second
    // commit forces the multi-dir manifest-map read path.
    t.merge(
      orders(("o2", "2024-01-02", 99.0), ("o3", "2024-01-03", 30.0))
        .coalesce(1),
      "order_id")
    assert(contents(t.read()) === Set(
      ("o0", "2024-01-01", 1.0), ("o2", "2024-01-02", 99.0),
      ("o3", "2024-01-03", 30.0)),
      "basename-keyed partition attach would duplicate rows across dates")
    // stats must also bind to the right file, not a same-named sibling
    assert(contents(t.readRange(90, 100)) ===
      Set(("o2", "2024-01-02", 99.0)))
  }

  test("changes(updateImages=true) emits Delta's dual update images") {
    val root = tmpDir("mt").toString
    val t = MergeTable(spark, root, Some("date"))
    val v1 = t.overwrite(orders(("o1", "2024-01-01", 10.0)))
    val v2 = t.merge(orders(("o1", "2024-01-01", 99.0)), "order_id")
    val rows = t.changes(v1, v2, "order_id", updateImages = true)
      .select("order_id", "amount", "_change_type")
      .as[(String, Double, String)].collect().toSet
    assert(rows === Set(
      ("o1", 10.0, "update_preimage"), ("o1", 99.0, "update_postimage")))
  }

  test("incremental aggregate maintenance matches full recompute") {
    val root = tmpDir("mt").toString
    val t = MergeTable(spark, root, Some("date"))
    val v1 = t.overwrite(orders(
      ("o1", "2024-01-01", 10.0), ("o2", "2024-01-01", 20.0),
      ("o3", "2024-01-02", 30.0)))
    // materialize the initial aggregate once, then NEVER rescan the base
    var agg = IncrementalAgg.fullAggregate(t.readVersion(v1), "date", "amount")
    // v2: update o2 (same partition as o1), insert o4 in a new partition
    val v2 = t.merge(
      orders(("o2", "2024-01-01", 25.0), ("o4", "2024-01-03", 40.0)),
      "order_id")
    agg = IncrementalAgg.applyDelta(agg,
      IncrementalAgg.sumCountDelta(
        t.changes(v1, v2, "order_id", updateImages = true), "date", "amount"),
      "date")
    // v3: delete o3 — its whole partition's group must drop out
    t.delete(col("order_id") === "o3")
    val v3 = t.latestVersion()
    agg = IncrementalAgg.applyDelta(agg,
      IncrementalAgg.sumCountDelta(
        t.changes(v2, v3, "order_id", updateImages = true), "date", "amount"),
      "date")
    val incremental = agg.as[(String, Double, Long)].collect().toSet
    val recomputed = IncrementalAgg
      .fullAggregate(t.read(), "date", "amount")
      .as[(String, Double, Long)].collect().toSet
    assert(incremental === recomputed)
    assert(incremental === Set(
      ("2024-01-01", 35.0, 2L), ("2024-01-03", 40.0, 1L)))
  }

  test("per-commit log bytes are O(changed files), not O(live files)") {
    // 200 synthetic commits, each adding 2 files and removing 1 — the live
    // set grows to ~200 files. With full-snapshot manifests the 200th
    // commit would write ~200 lines; the incremental log must keep EVERY
    // commit's delta at exactly 3 lines, with full checkpoints appearing
    // only every CheckpointInterval commits.
    val root = tmpDir("mt")
    val t = MergeTable(spark, root.toString, None)
    var expected = 0L
    (1 to 200).foreach { i =>
      val delta = MergeTable.CommitDelta(
        adds = Seq(
          MergeTable.FileEntry(s"commit-$i/part-a.parquet", None),
          MergeTable.FileEntry(s"commit-$i/part-b.parquet", None)),
        removes =
          if (i == 1) Nil else Seq(s"commit-${i - 1}/part-b.parquet"))
      expected = t.tryCommit(delta, expected).get
    }
    val log = root.resolve("_graft_log")
    val deltaLines = (1L to 200L).map { v =>
      Files.readAllLines(log.resolve(f"$v%020d.txt")).asScala
        .count(_.nonEmpty)
    }
    // 3 change lines + the constant in-commit timestamp stamp line
    assert(deltaLines.max <= 4,
      s"a commit's delta must stay O(changed files); saw max ${deltaLines.max}")
    // reconstruction: 200 - 199 removes leaves 201 live files
    assert(t.liveEntries().size === 201)
    assert(t.liveEntries().map(_.relPath).contains("commit-200/part-b.parquet"))
    assert(!t.liveEntries().map(_.relPath).contains("commit-199/part-b.parquet"))
  }

  test("checkpoints bound snapshot reconstruction and survive vacuum") {
    val root = tmpDir("mt")
    val t = MergeTable(spark, root.toString, Some("date"))
    // 12 real commits — crosses the CheckpointInterval=10 boundary
    t.overwrite(orders(("o0", "2024-01-01", 0.0)))
    (1 to 11).foreach { i =>
      t.merge(orders((s"o$i", f"2024-02-$i%02d", i.toDouble)), "order_id")
    }
    val log = root.resolve("_graft_log")
    assert(Files.exists(log.resolve(f"${10L}%020d.ckpt")),
      "a full checkpoint must be published at version 10")
    // time travel works across the checkpoint boundary in both directions
    // (version v holds rows o0..o(v-1): v1 is the overwrite, v2..v12 merges)
    assert(contents(t.readVersion(9)).size === 9)
    assert(contents(t.readVersion(12)).size === 12)
    // CDF across the boundary
    val ch = t.changes(9, 12, "order_id")
      .select("order_id").as[String].collect().toSet
    assert(ch === Set("o9", "o10", "o11"))
    // vacuum: latest snapshot survives on its own checkpoint; history gone
    // (vacuum itself commits an auditable empty delta first — v13)
    val before = contents(t.read())
    t.vacuum(0L)
    assert(contents(t.read()) === before)
    assert(t.latestVersion() === 13L, "vacuum records a VACUUM commit")
    assert(Files.exists(log.resolve(f"${13L}%020d.ckpt")))
    intercept[IllegalStateException](t.readVersion(9).collect())
    // writes continue cleanly after vacuum
    t.merge(orders(("o99", "2024-03-01", 99.0)), "order_id")
    assert(contents(t.read()).size === 13)
  }

  test("checkpoint retention prunes superseded checkpoint text; time " +
      "travel inside the log still reconstructs every version") {
    val root = tmpDir("mt")
    // keep=2, retainMs=0: superseded checkpoints past the newest two go
    // at the next checkpoint publish (the deterministic test shape; the
    // production default keeps a 10-minute in-flight-reader window)
    val t = MergeTable(spark, root.toString, Some("date"))
      .withCheckpointRetention(keep = 2, retainMs = 0L)
    t.overwrite(orders(("o0", "d1", 0.0)))
    (1 to 34).foreach { i =>
      t.append(orders((s"o$i", "d1", i.toDouble)))
    }
    val log = root.resolve("_graft_log")
    def ckpts: Seq[Long] = Using.resource(Files.list(log)) { s =>
      s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".ckpt")).map(_.stripSuffix(".ckpt").toLong)
        .toSeq.sorted
    }
    // checkpoints were published at 10, 20, 30 — retention keeps 20, 30
    assert(ckpts === Seq(20L, 30L),
      s"superseded checkpoints must be pruned at publish time, got $ckpts")
    // every DELTA survives, so EVERY version still reconstructs —
    // including ones below the oldest surviving checkpoint
    Seq(1L, 5L, 9L, 15L, 25L, 35L).foreach { v =>
      assert(contents(t.readVersion(v)).size === v.toInt,
        s"version $v must reconstruct after checkpoint pruning")
    }
    // CDF spanning pruned-checkpoint territory
    val ch = t.changes(3, 6, "order_id")
      .select("order_id").as[String].collect().toSet
    assert(ch === Set("o3", "o4", "o5"))
    // a fresh DEFAULT-retention handle sees an intact table and its
    // 10-minute window leaves the surviving checkpoints alone
    val fresh = MergeTable(spark, root.toString, Some("date"))
    assert(contents(fresh.read()).size === 35)
    (36 to 41).foreach { i =>
      fresh.append(orders((s"o$i", "d1", i.toDouble)))
    }
    assert(ckpts === Seq(20L, 30L, 40L),
      "default retention must not delete inside the 10-minute window")
  }

  test("checkpoint retention never deletes the checkpoint a prior " +
      "vacuum folded history onto — post-vacuum versions stay readable") {
    val root = tmpDir("mt")
    val t = MergeTable(spark, root.toString, Some("date"))
      .withCheckpointRetention(keep = 2, retainMs = 0L)
    t.overwrite(orders(("o0", "d1", 0.0)))                 // v1
    (1 to 14).foreach(i =>
      t.append(orders((s"o$i", "d1", i.toDouble))))        // ..v15, ckpt 10
    t.vacuum(0L) // v16: VACUUM commit + checkpoint 16; deltas 1-15 pruned
    val anchor = t.latestVersion()
    (1 to 25).foreach(i =>
      t.append(orders((s"p$i", "d1", i.toDouble))))        // ..v41
    val log = root.resolve("_graft_log")
    val ckpts = Using.resource(Files.list(log)) { s =>
      s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".ckpt")).map(_.stripSuffix(".ckpt").toLong)
        .toSeq.sorted
    }
    assert(ckpts.contains(anchor),
      s"the vacuum-anchor checkpoint $anchor must survive retention " +
        s"(its older deltas are gone), got $ckpts")
    assert(ckpts.count(_ > anchor) <= 2 && ckpts.size <= 3,
      s"checkpoints past the anchor must still be pruned to keep=2: $ckpts")
    // every version FROM the anchor still reconstructs (vacuum's own
    // readability window), including ones whose nearer checkpoints the
    // retention pass deleted
    ((anchor + 1) to (anchor + 10)).foreach { v =>
      assert(contents(t.readVersion(v)).size === 15 + (v - anchor).toInt,
        s"version $v must reconstruct from the protected anchor")
    }
  }

  test("two handles to the same table serialize through the log") {
    val root = tmpDir("mt").toString
    val t = MergeTable(spark, root, None)
    t.overwrite(Seq(("o1", 1.0)).toDF("order_id", "amount"))
    val t2 = MergeTable(spark, root, None)
    t.merge(Seq(("o2", 2.0)).toDF("order_id", "amount"), "order_id")
    t2.merge(Seq(("o3", 3.0)).toDF("order_id", "amount"), "order_id")
    val ids = t.read().select("order_id").as[String].collect().toSet
    assert(ids === Set("o1", "o2", "o3"))
    assert(t.latestVersion() === 3L)
  }

  test("withOptimizeWrite: a partitioned commit writes ONE file per " +
      "touched partition; the flag carries across merges") {
    val rows = (1 to 100).map(i => (s"o$i",
      if (i % 2 == 0) "2024-01-01" else "2024-01-02", i.toDouble))
    val wide = rows.toDF("order_id", "date", "amount").repartition(8)

    val plain = MergeTable(spark, tmpDir("ow0").toString, Some("date"))
    plain.overwrite(wide)
    assert(plain.liveEntries().size > 2) // tasks x partitions small files

    val ow = MergeTable(spark, tmpDir("ow1").toString, Some("date"))
      .withOptimizeWrite
    ow.overwrite(wide)
    assert(ow.liveEntries().size === 2) // one per partition
    assert(contents(ow.read()) === contents(plain.read()))

    // a merge's rewrite goes through the same co-locating write
    ow.merge(Seq(("o2", "2024-01-01", 999.0))
      .toDF("order_id", "date", "amount").repartition(4), "order_id")
    assert(ow.liveEntries().size === 2)
    assert(ow.read().filter(col("order_id") === "o2")
      .select("amount").as[Double].head() === 999.0)
  }

  test("withOptimizeWrite: a partition above the advisory size splits " +
      "across files; small partitions stay one file each") {
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prior = spark.conf.getOption(key)
    // the skewed day arrives from 8 input tasks, the two small days from
    // one, so a split of the skewed partition never splits a small one
    val big = spark.range(0, 40000, 1, 8).select(
      concat(lit("b"), col("id").cast("string")).as("order_id"),
      lit("2024-01-01").as("date"), (col("id") * 1.5).as("amount"))
    val small = Seq(("s1", "2024-01-02", 1.0), ("s2", "2024-01-03", 2.0))
      .toDF("order_id", "date", "amount").coalesce(1)
    val t = MergeTable(spark, tmpDir("ow_skew").toString, Some("date"))
      .withOptimizeWrite
    spark.conf.set(key, "64k")
    try t.overwrite(big.unionByName(small))
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val files = t.liveEntries().groupBy(_.partitionValue)
      .view.mapValues(_.size).toMap
    assert(files(Some("2024-01-01")) > 1, files)
    assert(files(Some("2024-01-02")) === 1 && files(Some("2024-01-03")) === 1)
    assert(t.read().count() === 40002L)
  }

  test("withOptimizeWrite: OPTIMIZE keeps its own layout under a small " +
      "advisory size; a second compactSmall commits an empty delta") {
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prior = spark.conf.getOption(key)
    val t = MergeTable(spark, tmpDir("ow_opt").toString, Some("date"))
      .withOptimizeWrite
    def wave(w: Int) = spark.range(0, 10000, 1, 2).select(
      concat(lit(s"w${w}_"), col("id").cast("string")).as("order_id"),
      lit("d1").as("date"), (col("id") * 1.5 + w).as("amount"))
    val target = 64L << 20
    spark.conf.set(key, "64k")
    try {
      (1 to 4).foreach(w => t.append(wave(w)))
      assert(t.liveEntries().size >= 4)
      // every file is under the target and they all combine: one bin,
      // written as ONE file (a rebalance would split it by advisory size)
      t.compactSmall(target)
      assert(t.liveEntries().size === 1)
      val (v, files) = (t.latestVersion(), t.liveEntries().toSet)
      t.compactSmall(target)
      assert(t.liveEntries().toSet === files, "no repack of its own output")
      assert(t.history().filter(col("version") > v)
        .filter(col("n_added") + col("n_removed") > 0).count() === 0L)
      // compact(filesPerPartition = 1) gives one file per partition
      t.append(wave(5))
      t.compact()
      assert(t.liveEntries().size === 1)
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(t.read().count() === 50000L)
  }

  test("vacuumDryRun lists exactly what vacuum would reap and deletes " +
      "nothing; restoreAsOf routes through versionAsOf") {
    val root = tmpDir("vdr").toString
    val t = MergeTable(spark, root, Some("date"))
    t.overwrite(orders(("o1", "2024-01-01", 10.0)))
    val v1 = t.latestVersion()
    t.merge(orders(("o1", "2024-01-01", 11.0)), "order_id")
    t.merge(orders(("o1", "2024-01-01", 12.0)), "order_id")

    val planned = t.vacuumDryRun(0L)
    assert(planned.nonEmpty) // two superseded commit dirs at least
    // nothing was deleted by the dry run
    planned.foreach(rel => assert(
      java.nio.file.Files.exists(java.nio.file.Paths.get(root, rel)), rel))
    assert(contents(t.readVersion(v1)) === Set(("o1", "2024-01-01", 10.0)))

    // the real vacuum deletes the planned data dirs (log pruning may
    // exceed the plan — the fresh checkpoint anchors a higher fold)
    t.vacuum(0L)
    planned.filterNot(_.startsWith("_graft_log")).foreach(rel => assert(
      !java.nio.file.Files.exists(java.nio.file.Paths.get(root, rel)), rel))
    assert(contents(t.read()) === Set(("o1", "2024-01-01", 12.0)))

    // restoreAsOf: everything is younger than epoch+1s -> fails fast;
    // as-of now resolves to the head -> restore is a recorded no-op
    intercept[IllegalArgumentException](
      t.restoreAsOf(java.time.Instant.ofEpochSecond(1L)))
    val head = t.latestVersion()
    assert(t.restoreAsOf(java.time.Instant.now().plusSeconds(60)) === head)
    assert(t.latestVersion() === head)
    assert(contents(t.read()) === Set(("o1", "2024-01-01", 12.0)))
  }

  test("compactWhere rewrites ONLY the selected partition; the rest " +
      "carry over untouched") {
    val root = tmpDir("mt").toString
    val t = MergeTable(spark, root, Some("date"))
    // 4-way repartition fragments each date across several files
    t.overwrite(orders(
      ("o1", "2024-01-01", 10.0), ("o2", "2024-01-01", 11.0),
      ("o3", "2024-01-01", 12.0), ("o4", "2024-01-02", 20.0),
      ("o5", "2024-01-02", 21.0)).repartition(4))
    val before = t.liveEntries()
    assert(before.count(_.partitionValue.contains("2024-01-01")) > 1)
    val want = contents(t.read())

    t.compactWhere(col("date") === "2024-01-01")
    val after = t.liveEntries()
    // selected partition collapsed to one file; content unchanged
    assert(after.count(_.partitionValue.contains("2024-01-01")) === 1)
    assert(contents(t.read()) === want)
    // unselected partition's files are byte-identical carryovers
    val keptBefore = before.filter(_.partitionValue.contains("2024-01-02"))
      .map(_.relPath).toSet
    val keptAfter = after.filter(_.partitionValue.contains("2024-01-02"))
      .map(_.relPath).toSet
    assert(keptBefore === keptAfter)
  }

  test("compactWhere: empty selection is an empty delta; predicate " +
      "guards fail fast") {
    val root = tmpDir("mt").toString
    val t = MergeTable(spark, root, Some("date"))
    t.overwrite(orders(("o1", "2024-01-01", 10.0)))
    val files = t.liveEntries().map(_.relPath).toSet
    t.compactWhere(col("date") === "1999-12-31")
    assert(t.liveEntries().map(_.relPath).toSet === files)
    // non-partition column refused
    intercept[IllegalArgumentException](t.compactWhere(col("amount") > 0))
    // unpartitioned table refused
    val u = MergeTable(spark, tmpDir("mt").toString, None)
    u.overwrite(orders(("o1", "2024-01-01", 10.0)))
    intercept[IllegalArgumentException](
      u.compactWhere(col("date") === "2024-01-01"))
  }

  test("withAutoCompact: small-file debt is paid back by a follow-on " +
      "commit, automatically") {
    val root = tmpDir("mt").toString
    // generous target so every test file counts as "small"; trigger at
    // 3; non-date partition values so hive inference keeps the string
    // type append's exact-schema contract requires
    val t = MergeTable(spark, root, Some("date"))
      .withAutoCompact(targetBytes = 64L << 20, minFiles = 3)
    t.overwrite(orders(("o1", "d1", 1.0)))
    val v1 = t.latestVersion()
    t.append(orders(("o2", "d1", 2.0)))
    // two files in the partition — under the 3-file trigger, no auto pass
    assert(t.liveEntries().size === 2)
    assert(t.latestVersion() === v1 + 1)
    // the third append crosses the threshold: its commit, then ONE
    // auto-compaction commit bin-packing the partition to a single file
    t.append(orders(("o3", "d1", 3.0)))
    assert(t.latestVersion() === v1 + 3)
    assert(t.liveEntries().size === 1)
    assert(contents(t.read()) === Set(
      ("o1", "d1", 1.0), ("o2", "d1", 2.0), ("o3", "d1", 3.0)))
    // a handle WITHOUT the flag on the same table does not auto-compact
    val plain = MergeTable(spark, root, Some("date"))
    plain.append(orders(("o4", "d1", 4.0)))
    plain.append(orders(("o5", "d1", 5.0)))
    assert(plain.liveEntries().size === 3)
    // ... and the flagged handle pays the debt back on its next commit
    t.append(orders(("o6", "d1", 6.0)))
    assert(t.liveEntries().size === 1)
    assert(t.read().count() === 6)
  }

  test("overwriteWhere (replaceWhere): atomic partition-scoped " +
      "replacement — untouched partitions byte-identical, CDF in scope") {
    val root = tmpDir("mt").toString
    val t = MergeTable(spark, root, Some("date"))
    t.overwrite(orders(
      ("o1", "d1", 1.0), ("o2", "d1", 2.0), ("o3", "d2", 3.0)))
    val vPre = t.latestVersion()
    val before = t.liveEntries().map(_.relPath).toSet
    // backfill d1 atomically: remove its files + write the new slice
    t.overwriteWhere(orders(("o9", "d1", 9.0)), col("date") === "d1")
    assert(contents(t.read()) ===
      Set(("o9", "d1", 9.0), ("o3", "d2", 3.0)))
    assert(t.latestVersion() === vPre + 1, "ONE commit")
    // untouched partition carried over byte-identical (same relPath)
    val d2Files = before.filter(_.contains("date=d2"))
    assert(d2Files.subsetOf(t.liveEntries().map(_.relPath).toSet))
    // the change feed across the commit touches ONLY the scope
    val feed = t.changes(vPre, t.latestVersion(), "order_id")
      .select("order_id", MergeTable.ChangeType)
      .as[(String, String)].collect().toSet
    assert(feed === Set(("o1", "delete"), ("o2", "delete"),
      ("o9", "insert")))
    // rows landing OUTSIDE the scope are refused (Delta's validation)
    intercept[IllegalArgumentException](
      t.overwriteWhere(orders(("oX", "d2", 1.0)), col("date") === "d1"))
    // non-partition predicate refused
    intercept[IllegalArgumentException](
      t.overwriteWhere(orders(("oY", "d1", 1.0)), col("amount") > 0))
    // unpartitioned table refused
    val u = MergeTable(spark, tmpDir("mt").toString, None)
    u.overwrite(orders(("o1", "d1", 1.0)))
    intercept[IllegalArgumentException](
      u.overwriteWhere(orders(("o2", "d1", 2.0)), col("date") === "d1"))
    // schema drift refused even WITHOUT a declared schema: kept
    // partitions and the new slice share every later scan
    intercept[IllegalArgumentException](
      t.overwriteWhere(
        Seq(("oZ", "d1")).toDF("order_id", "date"),
        col("date") === "d1"))
  }

  test("compactSmall/auto-compact skip files that cannot combine — " +
      "no futile repack loop") {
    val root = tmpDir("mt").toString
    val plain = MergeTable(spark, root, Some("date"))
    plain.overwrite(orders(("o1", "d1", 1.0)))
    plain.append(orders(("o2", "d1", 2.0)))
    val sizes = plain.liveEntries().map(e =>
      java.nio.file.Files.size(
        java.nio.file.Paths.get(root).resolve(e.relPath)))
    // each file alone is under the target, but no two combine — a
    // rewrite could only emit the same under-sized files again
    val target = sizes.max + 1
    val files = plain.liveEntries().map(_.relPath).toSet
    plain.compactSmall(target)
    assert(plain.liveEntries().map(_.relPath).toSet === files,
      "uncombinable small files are left alone, not churned")
    val v = plain.latestVersion()
    // the auto-compact trigger must not fire either (before the
    // combinability test it re-fired an identical repack on EVERY
    // commit to the table, forever)
    val t = MergeTable(spark, root, Some("date")).withAutoCompact(target, 2)
    t.append(orders(("o3", "d2", 3.0)))
    assert(t.latestVersion() === v + 1, "no follow-on compaction commit")
    assert(t.liveEntries().map(_.relPath).toSet.intersect(files) === files)
  }

  test("compactWhere lays out each selected partition exactly as an " +
      "unscoped OPTIMIZE does") {
    // 64 rows over two dates, written 8-way: several files in each date
    def fragmented(name: String): MergeTable = {
      val t = MergeTable(spark, tmpDir(name).toString, Some("date"))
      t.overwrite((1 to 64).map(i => (s"o$i",
          if (i % 2 == 0) "2024-01-01" else "2024-01-02", i.toDouble))
        .toDF("order_id", "date", "amount").repartition(8))
      t
    }
    def filesIn(t: MergeTable): Map[Option[String], Int] =
      t.liveEntries().groupBy(_.partitionValue).view.mapValues(_.size).toMap
    // a two-date scope, Z-ordered one file per partition: one each
    val both = fragmented("cw_both")
    assert(filesIn(both).values.forall(_ > 1))
    val want = contents(both.read())
    both.compactWhere(col("date").isin("2024-01-01", "2024-01-02"),
      filesPerPartition = 1, zorderCols = Seq("amount"))
    assert(filesIn(both) ===
      Map(Some("2024-01-01") -> 1, Some("2024-01-02") -> 1))
    assert(contents(both.read()) === want)
    // a one-date scope at three files per partition: three, as compact(3)
    // lays out the same date
    val one = fragmented("cw_one")
    def d2Files = one.liveEntries()
      .filter(_.partitionValue.contains("2024-01-02")).map(_.relPath).toSet
    val d2Before = d2Files
    one.compactWhere(col("date") === "2024-01-01", filesPerPartition = 3)
    assert(filesIn(one)(Some("2024-01-01")) === 3)
    assert(d2Files === d2Before)
    assert(contents(one.read()) === want)
    val whole = fragmented("cw_whole")
    whole.compact(3)
    assert(filesIn(whole)(Some("2024-01-01")) === 3)
  }

  test("every OPTIMIZE verb commits an empty delta when it selects " +
      "nothing, on a never-written table too") {
    val rows = Seq(("o1", "d1", 1.0, 10L), ("o2", "d2", 2.0, 20L))
      .toDF("order_id", "date", "amount", "qty")
    val never = MergeTable(spark, tmpDir("es_never").toString, Some("date"))
    val emptied = MergeTable(spark, tmpDir("es_emptied").toString, Some("date"))
    emptied.overwrite(rows)
    emptied.delete(lit(true))
    assert(emptied.liveEntries().isEmpty)
    val written = MergeTable(spark, tmpDir("es_written").toString, Some("date"))
    written.overwrite(rows)
    // (verb, its DESCRIBE HISTORY operation and parameters, whether it
    // selects nothing from `written` as well)
    val verbs: Seq[(MergeTable => Long, (String, String), Boolean)] = Seq(
      (_.compact(), ("OPTIMIZE", ""), false),
      (_.zorder(Seq("amount")), ("OPTIMIZE", "zOrderBy=amount"), false),
      (_.clusterHilbert(Seq("amount", "qty")),
        ("OPTIMIZE", "hilbertBy=amount,qty"), false),
      (_.compactSmall(targetBytes = 1L),
        ("OPTIMIZE", "binPack=1; trigger=manual"), true),
      (_.compactWhere(col("date") === "none"),
        ("OPTIMIZE", "predicate=(date = 'none')"), true),
      (_.purgeVectors(), ("PURGE", ""), true))
    for ((run, op, selective) <- verbs;
         (what, t) <- Seq("never-written" -> never, "emptied" -> emptied) ++
           (if (selective) Seq("written" -> written) else Nil)) {
      val (v, files) = (t.latestVersion(), t.liveEntries().toSet)
      val committed = run(t)
      assert(committed === v + 1, s"$op, $what")
      assert(t.liveEntries().toSet === files, s"$op, $what")
      assert(t.history().filter($"version" === committed)
        .select("operation", "operation_parameters", "n_added", "n_removed")
        .as[(String, String, Long, Long)].head() === ((op._1, op._2, 0L, 0L)),
        s"$op, $what")
    }
  }

  test("DESCRIBE HISTORY records DELETE, UPDATE and OPTIMIZE WHERE " +
      "predicates as SQL") {
    val t = MergeTable(spark, tmpDir("mt").toString, Some("date"))
    t.overwrite(orders(("o1", "d1", 1.0), ("o2", "d2", 2.0)))
    val vs = Seq(
      t.delete(col("amount") === 1),
      t.update(col("order_id") === "o2" && col("amount") > 1.5,
        Map("amount" -> lit(3.0))),
      t.compactWhere(col("date") === "d2"),
      t.overwriteWhere(orders(("o3", "d1", 3.0)), col("date") === "d1"))
    val params = t.history().filter($"version".isin(vs: _*))
      .orderBy("version").select("operation_parameters")
      .as[String].collect().toSeq
    assert(params === Seq(
      "predicate=(amount = CAST(1 AS DOUBLE))",
      "predicate=((order_id = 'o2') AND (amount > 1.5D)); set=amount",
      "predicate=(date = 'd2')",
      "mode=Overwrite; replaceWhere=(date = 'd1')"))
  }

  test("compactWhere with zorderCols Z-clusters inside the scope only") {
    val root = tmpDir("mt").toString
    val t = MergeTable(spark, root, Some("date"), statsCols = Seq("amount"))
    val rows = (1 to 64).map(i =>
      (s"o$i", if (i % 2 == 0) "2024-01-01" else "2024-01-02", i.toDouble))
    t.overwrite(rows.toDF("order_id", "date", "amount").repartition(8))
    val want = contents(t.read())
    val before = t.liveEntries()
    t.compactWhere(col("date") === "2024-01-01", filesPerPartition = 2,
      zorderCols = Seq("amount"))
    assert(contents(t.read()) === want)
    val after = t.liveEntries()
    val sel = after.filter(_.partitionValue.contains("2024-01-01"))
    assert(sel.size === 2)
    // clustered: the two files cover disjoint amount ranges
    val ranges = sel.flatMap(_.stats.get("amount")).flatMap(_.range)
    assert(ranges.size === 2 &&
      (ranges(0)._2 < ranges(1)._1 || ranges(1)._2 < ranges(0)._1))
    // untouched partition carried over
    assert(before.filter(_.partitionValue.contains("2024-01-02"))
      .map(_.relPath).toSet ===
      after.filter(_.partitionValue.contains("2024-01-02"))
        .map(_.relPath).toSet)
  }

  test("write-time dir-schema seed equals footer inference exactly") {
    val root = tmpDir("mtseed").toString
    val t = MergeTable(spark, root)
    // nested non-null types — the shapes whose nullability footer
    // inference rewrites at every level
    val df = spark.range(0, 5).toDF("k")
      .withColumn("s", concat(lit("x"), col("k")))
      .withColumn("arr", array(col("k").cast("float")))
      .withColumn("st", struct(col("k").as("a"), lit("b").as("b")))
    t.overwrite(df)
    val misses0 = MergeTable.dirSchemaMemo.misses
    val got = t.read().schema
    // the seeded memo served the read: no inference miss...
    assert(MergeTable.dirSchemaMemo.misses === misses0)
    // ...and the seed IS what inference would have returned
    val commitDir = Using.resource(Files.list(
      java.nio.file.Paths.get(root)))(_.iterator().asScala
      .filter(_.getFileName.toString.startsWith("commit-")).toSeq).head
    val inferred = spark.read.parquet(commitDir.toString).schema
    assert(got === inferred)
  }

  test("physicalSchemaOf equals the reader's physical schema on every " +
      "layout") {
    import org.apache.spark.sql.types.StringType
    def same(t: MergeTable, layout: String): Unit = {
      val live = t.liveEntries()
      assert(live.nonEmpty, layout)
      assert(t.physicalSchemaOf(live, t.declaredSchema) ===
        t.readEntries(live, t.declaredSchema, (Map.empty, Set.empty)).schema,
        layout)
    }
    val flat = MergeTable(spark, tmpDir("pso_flat").toString)
    flat.overwrite(orders(("o1", "d1", 1.0), ("o2", "d2", 2.0)))
    same(flat, "unpartitioned")
    val t = MergeTable(spark, tmpDir("pso_part").toString, Some("date"))
    t.overwrite(orders(("o1", "d1", 1.0), ("o2", "d2", 2.0)))
    same(t, "one partitioned commit dir")
    t.merge(orders(("o3", "d3", 3.0)), "order_id")
    t.merge(orders(("o1", "d1", 9.0)), "order_id")
    assert(t.liveEntries().map(e => e.relPath.split('/').head).distinct
      .size === 3)
    same(t, "many commit dirs")
    t.addColumn("note", StringType)
    assert(t.declaredSchema.isDefined)
    same(t, "declared schema with a metadata-only added column")
    val nulls = MergeTable(spark, tmpDir("pso_null").toString, Some("date"))
    nulls.overwrite(Seq(("o1", null: String, 1.0), ("o2", null: String, 2.0))
      .toDF("order_id", "date", "amount"))
    same(nulls, "all-null partition dir")
    val dv = MergeTable(spark, tmpDir("pso_dv").toString, Some("date"),
      Seq("order_id"), deletionVectors = true)
    dv.overwrite(orders(("o1", "d1", 1.0), ("o2", "d1", 2.0)).coalesce(1))
    dv.delete(col("order_id") === "o1")
    assert(dv.liveEntries().exists(_.dv.isDefined))
    same(dv, "deletion-vector entries")
    val rt = MergeTable(spark, tmpDir("pso_rt").toString, Some("date"))
      .withRowTracking
    rt.append(orders(("o1", "d1", 1.0)))
    rt.append(orders(("o2", "d1", 2.0)))
    rt.compact()
    assert(rt.liveEntries().forall(_.rowIds.isDefined))
    same(rt, "row-tracked entries")
    // typed partition values: a DATE partition column reads back as
    // DATE values (hive inference types the dirs)
    val dated = Seq(("o1", 1.0, java.sql.Date.valueOf("2024-01-01")),
      ("o2", 2.0, java.sql.Date.valueOf("2024-01-02")))
      .toDF("order_id", "amount", "day")
    val dt = MergeTable(spark, tmpDir("pso_date").toString, Some("day"))
    dt.overwrite(dated)
    dt.append(dated.withColumn("order_id", concat(col("order_id"), lit("b"))))
    same(dt, "DATE partition column")
    assert(dt.read().schema("day").dataType ===
      org.apache.spark.sql.types.DateType)
    assert(dt.read().collect().toSet === dated.union(dated
      .withColumn("order_id", concat(col("order_id"), lit("b"))))
      .collect().toSet)
    // two columns: a value needing path escaping and a hive-default null
    val tricky = Seq(("s1", "a/b=c d", "eu", 1.0), ("s2", "plain", null, 2.0))
      .toDF("id", "d", "r", "amt")
    val two = MergeTable(spark, tmpDir("pso_two").toString, Seq("d", "r"),
      Nil, deletionVectors = false, bloomCols = Nil)
    two.overwrite(tricky)
    same(two, "two columns, escaped value and null slot")
    assert(two.read().select("id", "d", "r", "amt").collect().toSet ===
      tricky.collect().toSet)
  }

  test("every apply overload runs the same input checks") {
    val root = tmpDir("apply_checks").toString
    // a stats name carrying the manifest's deletion-vector token
    val opens: Seq[() => MergeTable] = Seq(
      () => MergeTable(spark, root, None, Some("dv=x")),
      () => MergeTable(spark, root, None, Seq("dv=x")),
      () => MergeTable(spark, root, None, Seq("dv=x"), deletionVectors = true),
      () => MergeTable(spark, root, None, Seq("dv=x"), false, Nil),
      () => MergeTable(spark, root, Seq("p"), Seq("dv=x"), false, Nil))
    opens.foreach(open => intercept[IllegalArgumentException](open()))
  }

  test("every MERGE records numSourceRows equal to an independent count") {
    val base = Seq(("a", "p1", 1.0), ("b", "p2", 2.0)).toDF("k", "p", "v")
    val src = Seq(("a", "p1", 5.0), ("c", "p3", 3.0), ("d", "p1", 4.0))
      .toDF("k", "p", "v")
    val feed = Seq(("a", "p1", 6.0, "update_postimage"),
      ("b", "p2", 0.0, "delete"), ("e", "p2", 7.0, "insert"),
      ("zz", "p9", 0.0, "delete")).toDF("k", "p", "v", MergeTable.ChangeType)
    val merges: Seq[(String, DataFrame, MergeTable => Long)] = Seq(
      ("merge(pk)", src, _.merge(src, "k")),
      ("clause", src, _.merge(src, Seq("k"),
        Seq(MatchClause.update(col("s.v") > col("t.v"))))),
      ("delete-only", src, _.merge(src, Seq("k"),
        Seq(MatchClause.delete()), insertUnmatched = false)),
      ("delete-only, key-only source", src.select("k"),
        _.merge(src.select("k"), Seq("k"), Seq(MatchClause.delete()),
          insertUnmatched = false)),
      ("not-matched-by-source", src, _.merge(src, Seq("k"),
        Seq(MatchClause.update()), notMatchedBySourceDelete = Some(lit(true)))),
      ("mergeCdc", feed, _.mergeCdc(feed, "k")))
    for (part <- Seq(Some("p"), None); empty <- Seq(true, false);
         (name, source, run) <- merges) {
      val t = MergeTable(spark, tmpDir("nsr").toString, part)
      if (!empty) t.overwrite(base)
      val v = run(t)
      assert(t.operationMetrics(v) === Map("numSourceRows" -> source.count()),
        s"$name, partition $part, empty $empty")
      val h = t.history().filter($"version" === v)
        .select("operation", "operation_metrics").as[(String, String)].head()
      assert(h === (("MERGE", s"numSourceRows=${source.count()}")))
      if (empty && name.contains("key-only")) {
        // nothing to delete wrote nothing: full rows append as into a
        // fresh table
        assert(t.liveEntries().isEmpty, s"$name, partition $part")
        t.append(base)
        assert(t.read().select("k", "p", "v").as[(String, String, Double)]
          .collect().toSet === base.as[(String, String, Double)].collect()
          .toSet, s"$name, partition $part")
      }
    }
  }

  test("partitioned commit-dir schemas resolve on the driver, as a hive " +
      "read of the live subset does") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    val root = tmpDir("dirsch")
    val t = MergeTable(spark, root.toString, Some("p"))
    // one commit dir over p=1 and p=3000000000: the dir infers LONG
    t.overwrite(Seq(("a", 1L, 10L), ("b", 3000000000L, 20L))
      .toDF("k", "p", "n"))
    // the MERGE rewrites p=3000000000 into a new dir; the old dir's live
    // subset keeps p=1 alone, which infers the narrower INT
    t.merge(Seq(("b", 3000000000L, 21L)).toDF("k", "p", "n"), "k")
    def hiveSchema(s: SparkSession, dir: String, es: Seq[MergeTable.FileEntry]) =
      s.read.option("basePath", root.resolve(dir).toString)
        .parquet(es.map(e => root.resolve(e.relPath).toString): _*).schema
    def byDir(tt: MergeTable) = tt.liveEntries()
      .groupBy(e => e.relPath.takeWhile(_ != '/'))
    // building read() resolves the shrunk dir cold, with no Spark job
    val (_, jobs) = graft.JobCensus.jobsOf(spark)(t.read())
    assert(jobs.isEmpty, jobs)
    val dirs = byDir(t)
    assert(dirs.size === 2)
    for ((dir, es) <- dirs)
      assert(t.dirSchema(dir, es) === hiveSchema(spark, dir, es), dir)
    assert(dirs.values.map(es => t.dirSchema(es.head.relPath
      .takeWhile(_ != '/'), es)("p").dataType).toSet ===
      Set(IntegerType, LongType))
    // a session with partition-type inference off, and one in another
    // time zone, each resolve for themselves: the memo keys on both
    val noInfer = spark.newSession()
    noInfer.conf.set(
      "spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    val otherTz = spark.newSession()
    otherTz.conf.set("spark.sql.session.timeZone", "America/New_York")
    for (s <- Seq(noInfer, otherTz)) {
      val ts = t.withSession(s)
      val misses = MergeTable.dirSchemaMemo.misses
      for ((dir, es) <- dirs)
        assert(ts.dirSchema(dir, es) === hiveSchema(s, dir, es), dir)
      assert(MergeTable.dirSchemaMemo.misses === misses + 2)
    }
    assert(t.withSession(noInfer).read().schema("p").dataType === StringType)
    // across dirs the table reads the widest type, whichever dir sorts
    // first (the INT dir first used to fail the read's partition cast)
    assert(t.read().schema("p").dataType === LongType)
    assert(t.read().orderBy("k").select("k", "p", "n").as[(String, Long, Long)]
      .collect().toSeq === Seq(("a", 1L, 10L), ("b", 3000000000L, 21L)))
  }
}
