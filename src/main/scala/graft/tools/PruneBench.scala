package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev tool: the key-set file probe ([[graft.lake.MergeTable.probeKeys]])
  * in its scale regime — an index of MANY range-clustered files (the
  * [[graft.ext.DedupQueries.dedupIncremental]] layout) probed with a
  * batch-sized key set (files ≫ keys; md5 hashes are uniform, so
  * skipping comes from each key admitting only the few files whose
  * bhash range + bloom it hits). Prints admitted-file counts and warm
  * medians of the probe-join vs the unpruned full-index join.
  * Usage: runMain graft.tools.PruneBench [files] [rowsPerFile] [keys]
  */
object PruneBench {
  def main(args: Array[String]): Unit = {
    val nFiles = args.headOption.map(_.toInt).getOrElse(256)
    val rowsPer = args.lift(1).map(_.toInt).getOrElse(5000)
    val nKeys = args.lift(2).map(_.toInt).getOrElse(64)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = java.nio.file.Files.createTempDirectory("prunebenchC").toString
    val t = graft.lake.MergeTable(spark, dir, Some("band"), Seq("bhash"),
      deletionVectors = false, bloomCols = Seq("bhash"))
    val n = nFiles.toLong * rowsPer
    // band-index rows with a uniform long hash (the md5-derived bhash
    // stand-in) and a 12-long signature payload
    val rows = spark.range(n).select(
      (col("id") % 4).cast("int").as("band"),
      concat(lit("k"), col("id")).as("bkey"),
      (hash(col("id").cast("string")).cast("long") +
        lit(Int.MaxValue.toLong) + 1L).as("bhash"),
      col("id").as("doc_id"),
      array((1 to 12).map(i => col("id") * i % 1000003): _*).as("sig"))
    t.overwrite(rows.repartitionByRange(nFiles, col("band"), col("bhash")))
    val files = t.read().inputFiles.length
    // the arriving batch: nKeys of the index's own keys (hit path)
    val probe = rows.filter(col("id") % (n / nKeys) === 0)
      .select(col("band"), col("bkey"), col("bhash")).cache()
    val keys: Seq[Any] = probe.select("bhash").distinct()
      .collect().map(_.getLong(0)).toSeq
    def timeWarm(mk: () => org.apache.spark.sql.DataFrame): (Double, Long) = {
      var c = 0L
      val runs = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        c = mk().count()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      (runs(runs.size / 2), c)
    }
    val pruned = () => t.probeKeys("bhash", keys)
      .join(probe, Seq("band", "bkey"))
    // the r14 relation-valued probe: same admission, keys never
    // collected — the q_dedup_incr scale path
    val prunedRel = () => t.probeKeys("bhash", probe.select("bhash"))
      .join(probe, Seq("band", "bkey"))
    val full = () => t.read().join(probe, Seq("band", "bkey"))
    val admitted = t.probeKeys("bhash", keys).inputFiles.length
    val admittedRel =
      t.probeKeys("bhash", probe.select("bhash")).inputFiles.length
    val (mp, cp) = timeWarm(pruned)
    val (mr, cr) = timeWarm(prunedRel)
    val (mf, cf) = timeWarm(full)
    require(cp == cf, s"probe-join drift: $cp != $cf")
    require(cr == cf, s"rel-probe-join drift: $cr != $cf")
    println(f"patternC index_files=$files admitted=$admitted " +
      f"admitted_rel=$admittedRel keys=${keys.size} " +
      f"probe_join=$mp%.3f s probe_join_rel=$mr%.3f s " +
      f"full_join=$mf%.3f s rows=$cp")
    spark.stop()
  }
}
