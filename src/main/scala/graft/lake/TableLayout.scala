package graft.lake

/** A table's layout: the ten settings that decide how a [[MergeTable]]
  * handle lays out, indexes and maintains the files it writes — Delta's
  * `metaData` partition columns plus the table properties graft
  * implements. One value per handle: the handle's copies (the `with*`
  * builders, `withSession`), its clone, the persisted SQL catalog
  * ([[render]] / [[TableLayout.parse]]), SHOW GRAFT TABLES and the
  * REGISTER / CREATE clauses all carry this record, so a setting is
  * added, checked and serialized in one place. Construction runs every
  * layout input check, so no handle holds an invalid layout.
  *
  * @param partitionCols hive partition columns, outermost first
  * @param statsCols columns with per-file stats in the manifest
  * @param deletionVectors DELETE / UPDATE write deletion vectors
  * @param bloomCols data columns with a per-file bloom-filter index
  * @param optimizeWrite partitioned writes rebalance by partition first
  * @param autoCompact `(targetBytes, minFiles)` auto-compaction trigger
  * @param ckptRetention `(keep, retainMs)` superseded-checkpoint window
  * @param rowTracking commits allot stable row ids
  * @param verifyOnRead resolved versions are checksum-verified
  * @param pqCkptEntries live entries from which checkpoints are parquet
  *
  * Each setting's behaviour is documented where a handle sets it: the
  * `MergeTable.apply` overloads and the `with*` builders. */
final case class TableLayout(
    partitionCols: Seq[String] = Nil,
    statsCols: Seq[String] = Nil,
    deletionVectors: Boolean = false,
    bloomCols: Seq[String] = Nil,
    optimizeWrite: Boolean = false,
    autoCompact: Option[(Long, Int)] = None,
    ckptRetention: (Int, Long) = MergeTable.DefaultCkptRetention,
    rowTracking: Boolean = false,
    verifyOnRead: Boolean = false,
    pqCkptEntries: Long = MergeTable.DefaultPqCkptEntries) {

  require(partitionCols.distinct.length == partitionCols.length,
    s"duplicate partition columns: $partitionCols")
  // render joins a column list with ',' on one line and parse splits and
  // trims it, so a name holding a separator or edge whitespace would
  // come back from the persisted catalog as a different layout.
  for ((what, cs) <- Seq("partition" -> partitionCols, "stats" -> statsCols);
       c <- cs)
    require(!c.exists(",\n\r".contains(_)) && c == c.trim && c.nonEmpty,
      s"$what column name '$c' may not be empty, contain ',' or a line " +
        "break, or start or end with whitespace (catalog separators)")
  require(!statsCols.exists(_.startsWith(MergeTable.DvTok)),
    s"stats column names may not start with '${MergeTable.DvTok}' " +
      "(manifest token prefix)")
  require(!bloomCols.exists(c => c.exists(",+\t:".contains(_))),
    "bloom column names may not contain ',', '+', ':' or tab " +
      "(manifest token separators)")
  // Bloom columns must be DATA columns: partitionBy strips partition
  // columns from the data files, so a bloom over one would scan
  // all-NULL values, silently write an empty sidecar slice, and later
  // probes would prune files that DO hold matching rows — bloom false
  // negatives, i.e. wrong results. Fail at construction, not mid-query.
  require(bloomCols.intersect(partitionCols).isEmpty,
    s"bloom column(s) ${bloomCols.intersect(partitionCols).mkString(", ")} " +
      "are partition column(s) — bloom columns must be data columns " +
      "(partition pruning already covers the partition column)")
  require(autoCompact.forall { case (b, f) => b > 0 && f >= 2 },
    s"withAutoCompact: need targetBytes > 0 and minFiles >= 2, got " +
      s"(${autoCompact.get._1}, ${autoCompact.get._2})")
  require(ckptRetention._1 >= 1 && ckptRetention._2 >= 0L,
    s"withCheckpointRetention: need keep >= 1 and retainMs >= 0, " +
      s"got (${ckptRetention._1}, ${ckptRetention._2})")
  require(pqCkptEntries >= 1L,
    s"withParquetCheckpointThreshold: need entries >= 1, got $pqCkptEntries")

  /** The canonical text form: one `key=value` line per setting, sorted
    * by key — what the persisted catalog stores and its contradiction
    * check compares. [[TableLayout.parse]] reads it back. */
  def render: String = Seq(
    "autoCompact=" + autoCompact.fold("-") { case (b, f) => s"$b,$f" },
    s"bloomCols=${bloomCols.mkString(",")}",
    s"ckptRetention=${ckptRetention._1},${ckptRetention._2}",
    s"deletionVectors=$deletionVectors",
    s"optimizeWrite=$optimizeWrite",
    s"partitionCols=${partitionCols.mkString(",")}",
    s"pqCkptEntries=$pqCkptEntries",
    s"rowTracking=$rowTracking",
    s"statsCols=${statsCols.mkString(",")}",
    s"verifyOnRead=$verifyOnRead").mkString("\n")
}

object TableLayout {

  /** The `key=value` lines of a rendered text as a map — the layout's
    * own keys and any others the text carries (the catalog adds `path`
    * and `logStore`). Lines without '=' are ignored. */
  def fields(text: String): Map[String, String] = text.linesIterator
    .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap

  /** The layout a [[TableLayout.render]]ed text records. A key the text
    * lacks keeps its default, so texts written before a setting existed
    * still parse; keys that are not layout settings are ignored. */
  def parse(text: String): TableLayout = {
    val kv = fields(text)
    def cols(k: String): Seq[String] = kv.getOrElse(k, "")
      .split(',').map(_.trim).filter(_.nonEmpty).toSeq
    def flag(k: String): Boolean = kv.get(k).exists(_.toBoolean)
    def pair(k: String) = kv.get(k).filter(_ != "-").map(_.split(','))
    TableLayout(cols("partitionCols"), cols("statsCols"),
      flag("deletionVectors"), cols("bloomCols"), flag("optimizeWrite"),
      pair("autoCompact").map(p => (p(0).toLong, p(1).toInt)),
      pair("ckptRetention").fold(MergeTable.DefaultCkptRetention)(
        p => (p(0).toInt, p(1).toLong)),
      flag("rowTracking"), flag("verifyOnRead"),
      kv.get("pqCkptEntries").fold(MergeTable.DefaultPqCkptEntries)(_.toLong))
  }
}
