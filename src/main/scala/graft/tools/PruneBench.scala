package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev tool: measures what the [[graft.lake.GraftScanPruning]] rule
  * buys on a many-file table.
  *
  * Pattern A (default): the same point lookup through `read().filter`
  * with the table unregistered (full scan; the rule's manifest pattern
  * needs the registry) vs registered (stats+bloom file pruning).
  * Prints warm medians and the planned file counts.
  * Usage: runMain graft.tools.PruneBench [nFiles] [rowsPerFile]
  *
  * Pattern C (`C` as the first arg): see [[patternC]].
  */
object PruneBench {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("C")) {
      patternC(args.lift(1).map(_.toInt).getOrElse(256),
        args.lift(2).map(_.toInt).getOrElse(5000),
        args.lift(3).map(_.toInt).getOrElse(64))
      return
    }
    val nFiles = args.headOption.map(_.toInt).getOrElse(256)
    val rowsPer = args.lift(1).map(_.toInt).getOrElse(20000)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val dir = java.nio.file.Files.createTempDirectory("prunebench").toString
    val t = graft.lake.MergeTable(spark, dir, None, Seq("id"),
      deletionVectors = false, bloomCols = Seq("id"))
    // nFiles files of DISJOINT id ranges (range-partitioned by the sort,
    // so stats prune hard), one commit
    val n = nFiles.toLong * rowsPer
    t.overwrite(spark.range(n).select(col("id"),
      sha2(col("id").cast("string"), 256).as("payload"))
      .repartitionByRange(nFiles, col("id")))
    println(s"files=${t.read().inputFiles.length} rows=$n")

    val probe = n / 2 + 7
    def timeWarm(label: String): Double = {
      val runs = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        val c = t.read().filter(col("id") === probe).count()
        require(c == 1L, s"probe lost: $c")
        (System.nanoTime() - t0) / 1e9
      }.sorted
      val med = runs(runs.size / 2)
      println(f"$label median=${med}%.3f s (runs ${runs.map(r => f"$r%.3f").mkString(", ")})")
      med
    }
    // warmup + unregistered baseline
    timeWarm("warmup      ")
    val full = timeWarm("unregistered")
    graft.sql.GraftSql.register("pb", t)
    val pruned = timeWarm("registered  ")
    val planned = t.read().filter(col("id") === probe)
      .queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.inputFiles.length
            case _ => -1
          }
      }.sum
    println(f"planned files with rule: $planned of $nFiles; speedup ${full / pruned}%.1fx")
    spark.stop()
  }

  /** Pattern C (`C`): the INCREMENTAL-DEDUP index probe
    * ([[graft.ext.DedupQueries.dedupIncremental]]'s layout) in its
    * scale regime — an index of MANY range-clustered files probed with
    * a batch-sized key set (files ≫ keys; md5 hashes are uniform, so
    * skipping comes from each key admitting only the few files whose
    * bhash range + bloom it hits). Prints admitted-file counts and
    * warm medians of the probe-join vs the unpruned full-index join.
    * Usage: runMain graft.tools.PruneBench C [files] [rowsPerFile] [keys] */
  private def patternC(nFiles: Int, rowsPer: Int, nKeys: Int): Unit = {
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
