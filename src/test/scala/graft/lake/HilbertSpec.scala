package graft.lake

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Hilbert-curve clustering (clusterHilbert): index correctness against
  * an independent JVM xy2d, and file-skipping at-least-as-good-as-zorder
  * on the X66 16×16-grid methodology. */
class HilbertSpec extends SparkSpec {
  import spark.implicits._

  /** Independent reference: the classic xy2d loop, n = 65536. */
  private def xy2d(x0: Long, y0: Long): Long = {
    var (x, y, d) = (x0, y0, 0L)
    var s = 32768L
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s /= 2
    }
    d
  }

  test("hilbertSql matches the reference xy2d loop") {
    // low-bit exhaustive (32x32), plus high-bit and mixed patterns
    val lows = for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y)
    val rnd = new scala.util.Random(7)
    val highs = Seq.fill(500)((rnd.nextInt(65536).toLong,
      rnd.nextInt(65536).toLong))
    val corners = Seq((0L, 0L), (65535L, 0L), (0L, 65535L),
      (65535L, 65535L), (32768L, 32767L))
    val pts = (lows ++ highs ++ corners).distinct
    val got = pts.toDF("x", "y")
      .withColumn("d", expr(MergeTable.hilbertSql("x", "y")))
      .select("x", "y", "d").as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, d) =>
      assert(d === xy2d(x, y), s"hilbert($x, $y)")
    }
    // a space-filling curve is a bijection: no two points share an index
    assert(got.map(_._3).distinct.length === pts.size)
  }

  test("hilbert clustering skips files on BOTH columns, >= zorder") {
    def grid = spark.range(0, 256).toDF("i")
      .withColumn("a", col("i") % 16)
      .withColumn("b", (col("i") / 16).cast("long"))
      .drop("i")
    def build(tag: String)(cluster: MergeTable => Unit): MergeTable = {
      val t = MergeTable(spark, tmpDir(s"hil-$tag").toString, None,
        statsCols = Seq("a", "b"))
      t.overwrite(grid)
      cluster(t)
      t
    }
    val hil = build("h")(_.clusterHilbert(Seq("a", "b"), filesPerPartition = 4))
    val zor = build("z")(_.zorder(Seq("a", "b"), filesPerPartition = 4))
    val total = hil.liveEntries().size
    assert(total >= 4 && zor.liveEntries().size === total)
    // identical content, different layout
    assert(hil.read().select("a", "b").as[(Long, Long)].collect().sorted
      === zor.read().select("a", "b").as[(Long, Long)].collect().sorted)
    // tight bounds on EACH column prune files under BOTH layouts, and
    // hilbert keeps at most as many files as zorder (better locality)
    for (c <- Seq("a", "b")) {
      val h = hil.scanEntries(col(c).cast("long").between(0, 3)).size
      val z = zor.scanEntries(col(c).cast("long").between(0, 3)).size
      assert(h < total, s"hilbert must prune on $c")
      assert(h <= z, s"hilbert kept $h files on $c, zorder $z")
      assert(hil.readRange(c, 0, 3).select(c).as[Long].collect().toSet
        === (0L to 3L).toSet)
    }
  }

  test("clusterHilbert guards its column count") {
    val t = MergeTable(spark, tmpDir("hil-g").toString, None)
    t.overwrite(Seq((1L, 2L, 3L)).toDF("a", "b", "c"))
    intercept[IllegalArgumentException] { t.clusterHilbert(Seq("a")) }
    intercept[IllegalArgumentException] { t.clusterHilbert(Seq("a", "b", "c")) }
  }

  test("zorder and clusterHilbert name a string column they cannot scale") {
    val t = MergeTable(spark, tmpDir("hil-s").toString, None)
    val v = t.overwrite(Seq((1L, "x1"), (2L, "y2")).toDF("a", "s"))
    for (run <- Seq[MergeTable => Long](_.zorder(Seq("a", "s")),
        _.clusterHilbert(Seq("a", "s")))) {
      val e = intercept[IllegalArgumentException](run(t))
      assert(e.getClass === classOf[IllegalArgumentException])
      assert(e.getMessage.contains("'s'") && e.getMessage.contains("STRING"),
        e.getMessage)
    }
    assert(t.latestVersion() === v)
  }
}
