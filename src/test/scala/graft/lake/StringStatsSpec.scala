package graft.lake

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** STRING file statistics (r14 verdict #4 — Delta's truncated string
  * min/max): a StringType stats column records a truncated
  * `(minPrefix, maxBound)` range in the manifest, `readRange`/`scan`
  * route string predicates through it, and the relation-valued
  * `probeKeys` admits string keys against the same metadata. The
  * feature is protocol-gated (`stringStats` reader feature — the
  * `c:S:...` token is new manifest grammar). */
class StringStatsSpec extends SparkSpec {
  import spark.implicits._

  private def stringTable(tag: String): MergeTable = {
    val t = MergeTable(spark, tmpDir(tag).toString + "/t", None, Seq("k"))
    // three files with disjoint key ranges: [a..c], [m..p], [x..z]
    t.append(Seq(("a1", 1L), ("b2", 2L), ("c3", 3L)).toDF("k", "n")
      .coalesce(1))
    t.append(Seq(("m1", 4L), ("n2", 5L), ("p3", 6L)).toDF("k", "n")
      .coalesce(1))
    t.append(Seq(("x1", 7L), ("y2", 8L), ("z3", 9L)).toDF("k", "n")
      .coalesce(1))
    t
  }

  test("truncation laws: prefix min, incremented max, surrogate and " +
      "unbumpable edges") {
    // short strings pass through exactly
    assert(MergeTable.statsTruncMin("abc") === "abc")
    assert(MergeTable.statsTruncMax("abc") === Some("abc"))
    val s33 = "a" * 32 + "z"
    assert(MergeTable.statsTruncMin(s33) === "a" * 32)
    // max: prefix with last code point bumped — a strict upper bound
    assert(MergeTable.statsTruncMax(s33) === Some("a" * 31 + "b"))
    // bound correctness: min <= value <= max in code-point order
    assert(MergeTable.cpCompare(MergeTable.statsTruncMin(s33), s33) <= 0)
    assert(MergeTable.cpCompare(s33,
      MergeTable.statsTruncMax(s33).get) < 0)
    // a high surrogate at the cut is dropped, not split
    val emoji = new String(Character.toChars(0x1F600))
    val sur = "a" * 31 + emoji + "zzz" // char 32 is the high surrogate
    assert(MergeTable.statsTruncMin(sur) === "a" * 31)
    // bumping U+D7FF must skip the surrogate block to U+E000
    val e000 = new String(Character.toChars(0xE000))
    val d7ff = "a" * 31 + new String(Character.toChars(0xD7FF)) + "zzz"
    assert(MergeTable.statsTruncMax(d7ff) === Some("a" * 31 + e000))
    // all code points at U+10FFFF: no upper bound exists
    val maxCp = Array.fill(33)(0x10FFFF)
      .flatMap(Character.toChars(_).toSeq).mkString
    assert(MergeTable.statsTruncMax(maxCp) === None)
    // cpCompare is UTF-8 byte order: supplementary > U+E000 (UTF-16
    // char order would say the opposite)
    assert(MergeTable.cpCompare(emoji, e000) > 0)
  }

  test("appends record truncated string ranges; readRange(c, lo, hi) " +
      "prunes to the intersecting files and returns exact rows") {
    val t = stringTable("sstats")
    val live = t.liveEntries()
    assert(live.size === 3)
    assert(live.forall(_.stats.get("k").exists(_.strRange.isDefined)),
      "every file must carry a string range for k")
    // the [m..p] window admits exactly one file
    assert(t.scanEntries(col("k").between("m", "q")).size === 1)
    assert(t.readRange("k", "m", "q").select("k").as[String]
      .collect().sorted.toSeq === Seq("m1", "n2", "p3"))
    // a window covering nothing admits nothing
    assert(t.scanEntries(col("k").between("d", "f")).isEmpty)
    assert(t.readRange("k", "d", "f").count() === 0L)
    // full window admits all
    assert(t.scanEntries(col("k").between("a", "zz")).size === 3)
  }

  test("scan prunes on string comparisons and IN-lists; results match " +
      "the unpruned filter") {
    val t = stringTable("sscan")
    val p1 = t.scanEntries(col("k") >= "x")
    assert(p1.size === 1, s"expected 1 file for k >= 'x', got ${p1.size}")
    assert(t.scan(col("k") >= "x").count() === 3L)
    val p2 = t.scanEntries(col("k") === "n2")
    assert(p2.size === 1)
    val p3 = t.scanEntries(col("k").isin("a1", "z3"))
    assert(p3.size === 2, "IN over two ranges admits both their files")
    assert(t.scan(col("k").isin("a1", "z3")).count() === 2L)
    // a BETWEEN window
    val p4 = t.scanEntries(col("k") >= "aa" && col("k") <= "c9")
    assert(p4.size === 1)
  }

  test("relation-valued probeKeys on string keys admits only files " +
      "whose range may hold a key") {
    val t = stringTable("sprobe")
    val keys = Seq("n2", "nope-not-there").toDF("k")
    val admitted = t.probeKeys("k", keys)
    // 'n2' sits in [m..p]; 'nope...' also falls in [m..p]'s range —
    // one file admitted, rows returned unfiltered (superset contract)
    assert(admitted.count() === 3L)
    val none = t.probeKeys("k", Seq("qqq").toDF("k"))
    assert(none.count() === 0L, "a key between file ranges admits nothing")
  }

  test("the first string-stats commit stamps the stringStats reader " +
      "feature; ranges survive checkpoint folds byte-stably") {
    val t = stringTable("sproto")
    assert(t.protocol._1.contains("stringStats"),
      s"expected stringStats in reader features, got ${t.protocol}")
    // drive past a checkpoint boundary and re-open: ranges intact
    (1 to 10).foreach(i => t.append(Seq((s"w$i", 100L + i)).toDF("k", "n")))
    val fresh = MergeTable(spark, t.root.toString, None, Seq("k"))
    val live = fresh.liveEntries()
    assert(live.forall(_.stats.get("k").exists(_.strRange.isDefined)),
      "string ranges must survive the checkpoint round-trip")
    assert(fresh.scanEntries(col("k").between("m", "q")).size === 1)
  }

  test("truncated 33-char keys still prune soundly (shared-prefix " +
      "window stays admitted)") {
    val base = "k" * 32
    val t = MergeTable(spark, tmpDir("strunc").toString + "/t",
      None, Seq("k"))
    t.append(Seq((base + "a", 1L), (base + "m", 2L)).toDF("k", "n")
      .coalesce(1))
    t.append(Seq(("zzz", 3L)).toDF("k", "n"))
    // the long-key file's range is [prefix, bumped-prefix) — a probe
    // inside the shared-prefix region must stay admitted
    assert(t.scanEntries(col("k").between(base + "b", base + "c")).size === 1)
    assert(t.readRange("k", base, base + "zzzz").count() === 2L)
    // and a disjoint window above the bumped prefix skips it
    assert(t.scanEntries(col("k").between("x", "y")).isEmpty)
  }

  test("all-null and mixed-null string files: nullCount still skips, " +
      "ranges ignore nulls") {
    val t = MergeTable(spark, tmpDir("snull").toString + "/t",
      None, Seq("k"))
    t.append(Seq((null.asInstanceOf[String], 1L),
      (null.asInstanceOf[String], 2L)).toDF("k", "n").coalesce(1))
    t.append(Seq(("b", 3L), (null.asInstanceOf[String], 4L)).toDF("k", "n")
      .coalesce(1))
    val live = t.liveEntries()
    assert(live.exists(_.stats.get("k").exists(_.allNull)))
    // the all-null file is skipped by any range; the mixed file admits
    assert(t.scanEntries(col("k").between("a", "c")).size === 1)
    assert(t.readRange("k", "a", "c").count() === 1L)
  }
}
