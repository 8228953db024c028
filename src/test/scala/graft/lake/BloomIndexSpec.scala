package graft.lake

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Per-file bloom-filter index (Delta's `delta.bloomFilter` analog):
  * point lookups on an unordered high-cardinality column scan only the
  * files whose filter admits the probe value. The hash family is
  * deterministic (murmur3 + xxhash64), so every pruning assertion here
  * is exactly reproducible — a false positive either always happens for
  * a given (corpus, probe) or never does. */
class BloomIndexSpec extends SparkSpec {
  import spark.implicits._

  /** Keys are deliberately NOT clustered: file 1 holds odd ids, file 2
    * even ids interleaved, so min/max stats could never separate them —
    * the case the bloom index exists for. */
  private def frame(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, s"payload-$i")).toDF("id", "payload").coalesce(1)

  private def bloomTable(root: String): MergeTable =
    MergeTable(spark, root, None, Nil, deletionVectors = false,
      bloomCols = Seq("id"))

  private val fileA = (0L until 100L).map(i => 2 * i + 1) // odd
  private val fileB = (0L until 100L).map(i => 2 * i + 2) // even

  private def twoFiles(t: MergeTable): Unit = {
    t.overwrite(frame(fileA))
    t.merge(frame(fileB), "id") // disjoint keys → appends a second file
  }

  test("readPoint returns exactly the matching rows") {
    val t = bloomTable(tmpDir("bf").toString)
    twoFiles(t)
    assert(t.liveEntries().size === 2)
    val hit = t.readPoint("id", 41L).collect()
    assert(hit.map(_.getLong(0)).toSeq === Seq(41L))
    assert(t.readPoint("id", 9999L).count() === 0L)
  }

  test("the bloom prune skips files that cannot hold the value") {
    val t = bloomTable(tmpDir("bf").toString)
    twoFiles(t)
    // every key lives in exactly one file; the other must be pruned
    // (deterministic: assert over many probes, not one lucky one)
    for (v <- Seq(1L, 41L, 199L)) {
      val es = t.scanEntries(col("id").cast("long") === v)
      assert(es.size === 1, s"probe $v should prune to one file")
      assert(t.readPoint("id", v).count() === 1L)
    }
    for (v <- Seq(2L, 100L, 200L)) {
      assert(t.scanEntries(col("id").cast("long") === v).size === 1)
    }
    // an absent key still prunes (both files may survive only via the
    // documented ~0.5% fp rate — with these fixed inputs, neither does)
    assert(t.scanEntries(col("id").cast("long") === 100000L).size <= 1)
  }

  test("files without a bloom ref fall back to scanning, never prune") {
    val root = tmpDir("bf").toString
    def part(ids: Seq[Long], p: String): DataFrame =
      ids.map(i => (i, p)).toDF("id", "p").coalesce(1)
    // partitioned table: the bloom'd MERGE touches only partition "b",
    // so partition "a"'s file keeps its bloom-less entry
    val plain = MergeTable(spark, root, Some("p"))
    plain.overwrite(part(fileA, "a"))
    val t = MergeTable(spark, root, Some("p"), Nil,
      deletionVectors = false, bloomCols = Seq("id"))
    t.merge(part(fileB, "b"), "id")
    assert(t.liveEntries().count(_.bloom.isDefined) === 1)
    assert(t.liveEntries().count(_.bloom.isEmpty) === 1)
    // odd probe: lives in the UNBLOOMED file — must still be found
    assert(t.readPoint("id", 41L).count() === 1L)
    // unbloomed file is always a candidate; bloomed file prunes
    assert(t.scanEntries(col("id").cast("long") === 41L).size === 1)
  }

  test("a probe on a column absent from a file's bloom set scans it") {
    val root = tmpDir("bf").toString
    val t = MergeTable(spark, root, None, Nil, deletionVectors = false,
      bloomCols = Seq("id", "aux"))
    t.overwrite(Seq((1L, 10L), (2L, 20L)).toDF("id", "aux").coalesce(1))
    // reopen with only id bloom'd; new file's ref lacks aux
    val t2 = MergeTable(spark, root, None, Nil, deletionVectors = false,
      bloomCols = Seq("id"))
    t2.merge(Seq((3L, 30L), (4L, 40L)).toDF("id", "aux").coalesce(1), "id")
    // aux probe: only the first commit's files can prune on aux; the
    // second commit's file must be scanned regardless of the value
    assert(t2.readPoint("aux", 30L).count() === 1L)
    assert(t2.readPoint("aux", 999L).count() === 0L)
    val es = t2.scanEntries(col("aux").cast("long") === 999L)
    assert(es.forall(e => !e.bloom.exists(_.cols.contains("aux"))),
      "only the aux-less file may survive an absent-aux probe")
  }

  test("manifest round-trips the bf token through reopen and checkpoint") {
    val root = tmpDir("bf").toString
    val t = bloomTable(root)
    twoFiles(t)
    // enough commits to cross a checkpoint boundary
    for (i <- 0 until 12)
      t.merge(frame(Seq(1000L + i)), "id")
    val fresh = MergeTable(spark, root) // plain handle, no bloomCols
    val refs = fresh.liveEntries().flatMap(_.bloom)
    assert(refs.nonEmpty)
    assert(refs.forall(_.cols === Seq("id")))
    // a plain handle still PROBES correctly (the flag gates writes only)
    assert(fresh.readPoint("id", 41L).count() === 1L)
    assert(fresh.scanEntries(col("id").cast("long") === 41L).size <
      fresh.liveEntries().size)
  }

  test("MoR delete keeps the bloom ref; deleted rows stay gone") {
    val root = tmpDir("bf").toString
    val t = MergeTable(spark, root, None, Nil, deletionVectors = true,
      bloomCols = Seq("id"))
    twoFiles(t)
    t.delete(col("id") === 41L)
    assert(t.readPoint("id", 41L).count() === 0L,
      "bloom fp on a deleted row must still anti-join to nothing")
    assert(t.readPoint("id", 43L).count() === 1L)
    assert(t.liveEntries().forall(_.bloom.isDefined))
  }

  test("compact rebuilds filters; vacuum reaps the orphaned sidecars") {
    val root = tmpDir("bf").toString
    val t = bloomTable(root)
    twoFiles(t)
    val oldDirs = t.liveEntries().flatMap(_.bloom).map(_.relDir).distinct
    t.compact()
    val newDirs = t.liveEntries().flatMap(_.bloom).map(_.relDir).distinct
    assert(newDirs.nonEmpty && newDirs.intersect(oldDirs).isEmpty,
      "compacted files must carry fresh filters")
    assert(t.readPoint("id", 41L).count() === 1L)
    t.vacuum(0L)
    for (d <- oldDirs)
      assert(!Files.exists(Paths.get(root).resolve(d)),
        s"orphaned sidecar $d must be reaped")
    for (d <- newDirs)
      assert(Files.exists(Paths.get(root).resolve(d)),
        s"live sidecar $d must survive vacuum")
    assert(t.readPoint("id", 42L).count() === 1L)
  }

  test("a clone reads through rebased bloom refs and prunes") {
    val root = tmpDir("bf").toString
    val t = bloomTable(root)
    twoFiles(t)
    val dest = tmpDir("bfclone").resolve("c").toString
    val c = t.cloneTo(dest)
    assert(c.readPoint("id", 41L).collect().map(_.getLong(0)).toSeq
      === Seq(41L))
    assert(c.scanEntries(col("id").cast("long") === 41L).size === 1)
  }

  test("bloom'd writes reject separator characters in column names") {
    intercept[IllegalArgumentException] {
      MergeTable(spark, tmpDir("bf").toString, None, Nil,
        deletionVectors = false, bloomCols = Seq("a,b"))
    }
    intercept[IllegalArgumentException] {
      MergeTable(spark, tmpDir("bf").toString, None, Nil,
        deletionVectors = false, bloomCols = Seq("a+b"))
    }
  }

  test("driver-evaluated probe hashes are bit-identical to the write " +
      "side's Catalyst plan — probe and filter can never drift") {
    val rnd = new scala.util.Random(7)
    val ms = Seq(1 << 10, 1 << 16, 1 << 20)
    val values = Seq(0L, 1L, -1L, Long.MaxValue, Long.MinValue) ++
      Seq.fill(40)(rnd.nextLong())
    ms.foreach { m =>
      // the exact 1-row plan the probe used before r14 — now the
      // parity oracle for the driver-side eval
      values.foreach { v =>
        val r = spark.range(1).select(
          pmod(hash(lit(v)).cast("long"), lit(m.toLong)).as("h1"),
          pmod(xxhash64(lit(v)), lit(m.toLong)).bitwiseOR(lit(1L))
            .as("h2")).head()
        assert(MergeTable.bloomHashes(v, m) ===
          ((r.getLong(0), r.getLong(1))), s"drift for v=$v m=$m")
      }
    }
  }
}
