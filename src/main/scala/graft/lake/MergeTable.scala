package graft.lake

import java.nio.file.{Files, Path, Paths}
import java.util.UUID

import scala.collection.immutable.VectorMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{expressions => cxp}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftStreamShim

/** Lakehouse-lite: a partitioned parquet table with ACID-ish versioned
  * commits and join-based MERGE upsert.
  *
  * Re-implements the Delta semantics the reference depends on (no Delta jars
  * ship in this environment — SURVEY §7.3): MERGE
  * `whenMatchedUpdateAll.whenNotMatchedInsertAll` (ref: product_etl.py:72-81,
  * orders_etl.py:82-91, order_items_etl.py:109-118), partitioned overwrite
  * first-load (ref: orders_etl.py:93-96), and time travel (DOC-ONLY,
  * README.md:118 — implemented for real via [[readVersion]]).
  *
  * Layout:
  * {{{
  *   <root>/commit-<version>-<uuid>/<partCol>=<v>/part-*.parquet  (data)
  *   <root>/_graft_log/<version%020d>.txt   (commit delta: A/R lines)
  *   <root>/_graft_log/<version%020d>.ckpt  (full snapshot, every N commits)
  * }}}
  *
  * The log is INCREMENTAL, the Delta-log shape: each commit publishes only
  * its own changes — `A <path> <partition> [min max]` lines for files it
  * adds, `R <path>` lines for files it removes — so commit metadata IO is
  * O(files changed), not O(files live). A streaming ingest committing one
  * micro-batch per file (the reference's per-file trigger cadence,
  * ref: lambda/trigger_lakehouse_stepfn_on_upload/lambda_function.py:28-37)
  * pays a ~2-line delta per commit regardless of table size; full-snapshot
  * manifests would pay O(F) per commit — O(F²) cumulative. Readers
  * reconstruct a snapshot from the newest full CHECKPOINT at or below the
  * requested version (written every [[MergeTable.CheckpointInterval]]
  * commits, and at vacuum) plus the few deltas after it, so reads touch
  * O(F + interval) log lines, never the whole history.
  *
  * Commit = write data files to a fresh commit dir, then publish a temp
  * delta file as `<nextVersion>.txt` through the [[LogStore]] seam's
  * atomic create-if-absent (POSIX hard-link by default — `rename(2)`
  * would silently replace, the round-1 lost-update bug; see [[LogStore]]
  * for the S3 / object-store contract). On collision the whole operation
  * recomputes against the fresh snapshot — never re-publishing a delta
  * derived from a stale one. Checkpoints are derived data published the
  * same way (create-if-absent) AFTER the commit wins, so a crash between
  * the two only costs read-side fold work, never correctness. Readers
  * resolve the highest delta version and see a consistent snapshot;
  * uncommitted data dirs are invisible to them.
  *
  * Scale notes (100 TB stance):
  *  - Only log METADATA ever touches the driver (file names + partition
  *    values) — never row data. Same contract as Delta's log.
  *  - Commit metadata IO is O(changed files) per commit (delta entries),
  *    amortized O(live files / interval) for the periodic checkpoint.
  *  - MERGE rewrites only partitions that contain a matching key or receive
  *    an insert (computed with a semi-join, not a full scan collect), so a
  *    merge touching 1 of 10k date partitions rewrites 1/10k of the table.
  *  - Readers prune files from the manifest by partition value before the
  *    scan ([[read(partitionFilter)]]) — log-level partition pruning.
  *  - Read plans are ONE scan node no matter how many commits the live
  *    snapshot spans (partition values come from the manifest, not the
  *    path layout), so a long streaming-ingest history degrades file
  *    count — fixable by compact() — but never plan size.
  */
final class MergeTable private (val spark: SparkSession, val root: Path,
    val logStore: LogStore, private[graft] val layout: TableLayout) {

  import MergeTable._

  def partitionCols: Seq[String] = layout.partitionCols
  def statsCols: Seq[String] = layout.statsCols
  def deletionVectors: Boolean = layout.deletionVectors
  def bloomCols: Seq[String] = layout.bloomCols
  def optimizeWrite: Boolean = layout.optimizeWrite
  def autoCompact: Option[(Long, Int)] = layout.autoCompact
  def ckptRetention: (Int, Long) = layout.ckptRetention
  def rowTracking: Boolean = layout.rowTracking
  def verifyOnRead: Boolean = layout.verifyOnRead
  def pqCkptEntries: Long = layout.pqCkptEntries

  /** The primary (first) partition column — compatibility accessor for
    * single-column callers; multi-column layouts use
    * [[partitionCols]]. */
  def partitionCol: Option[String] = partitionCols.headOption

  /** The primary (first) stats column — the one the 2-arg [[readRange]]
    * prunes on, and the one legacy single-stat manifests attribute
    * their recorded pair to. */
  def statsCol: Option[String] = statsCols.headOption

  @transient private lazy val logger =
    org.slf4j.LoggerFactory.getLogger(classOf[MergeTable])

  private def logDir: Path = root.resolve(LogDir)

  /** The same table handle under layout `l`. */
  private def relaid(l: TableLayout): MergeTable =
    MergeTable(spark, root, logStore, l)

  /** The same table handle publishing commits through `ls` instead of
    * the default POSIX hard-link store — the object-store deployment
    * hook (see [[LogStore]]). Reads are unaffected; only the atomic
    * create-if-absent publish goes through the seam. */
  def withLogStore(ls: LogStore): MergeTable =
    MergeTable(spark, root, ls, layout)

  /** The same handle with OPTIMIZED WRITES on (Delta's
    * `delta.autoOptimize.optimizeWrite`): every ingest write (append,
    * overwrite, merge, update, delete) of a PARTITIONED table first
    * REBALANCES rows by their partition values
    * (Spark's `rebalance` hint, the `RebalancePartitions` shape), so a
    * commit writes ~ONE file per touched partition instead of
    * (tasks × partitions) small files. Under adaptive execution a
    * partition larger than `spark.sql.adaptive.advisoryPartitionSizeInBytes`
    * is split across several tasks (several files) instead of running
    * as one task, and small partitions are coalesced; without it the
    * rebalance is a plain hash exchange. The trade is one extra
    * exchange per write — the right default for streaming /
    * frequent-merge ingest where the small-files debt otherwise grows
    * per commit and must be paid back by compact(). The OPTIMIZE
    * family ([[compact]], [[compactSmall]], [[zorder]],
    * [[clusterHilbert]], [[compactWhere]], [[purgeVectors]]) is not
    * rebalanced: it writes the file layout and sizes it chose itself.
    * Unpartitioned tables are unchanged ([[compactSmall]] is their
    * remedy). */
  def withOptimizeWrite: MergeTable =
    relaid(layout.copy(optimizeWrite = true))

  /** The same handle with AUTO COMPACTION on (Delta's
    * `delta.autoOptimize.autoCompact`): after any commit, if some
    * partition has accumulated at least `minFiles` live files under
    * `targetBytes`, a follow-on [[compactSmall]] commit bin-packs them
    * — the small-files debt of streaming / frequent-merge ingest is
    * paid back CONTINUOUSLY instead of waiting for an operator to
    * schedule OPTIMIZE. The trigger check is one O(live files) driver
    * metadata pass per commit (file sizes only, no data IO); the
    * compaction itself pays O(small-file bytes) and rewrites nothing
    * right-sized, and its change feed is empty (logical content
    * unchanged), so CDF subscribers never see it. Structurally
    * loop-free: the trigger is [[compactSmall]]'s own file selection,
    * which keeps only multi-file bins, so it fires only when the pass
    * would REDUCE some partition's file count — every compaction
    * strictly shrinks it and the trigger cannot re-fire on its own
    * output. Needs `targetBytes > 0` and `minFiles >= 2`. */
  def withAutoCompact(targetBytes: Long = 32L << 20,
      minFiles: Int = 4): MergeTable =
    relaid(layout.copy(autoCompact = Some((targetBytes, minFiles))))

  /** The same handle with a NON-DEFAULT checkpoint retention (r13
    * verdict #2 — automatic log retention): every checkpoint PUBLISH
    * already prunes superseded checkpoint text under the handle's
    * `(keep, retainMs)` window — see [[writeCheckpoint]]; this tunes
    * the window. `keep` newest checkpoints always survive regardless
    * of age; older superseded ones are deleted once their publish
    * mtime falls outside `retainMs` (0 = prune superseded immediately
    * past the keep set — single-writer/bench shape). Time travel is
    * NEVER lost by this pruning: commit DELTAS are untouched (only
    * [[vacuum]] prunes those), so any version still reconstructs from
    * the newest surviving checkpoint at-or-below it — or from the
    * empty v0 by folding deltas. What the window buys is fold SPEED
    * near pruned versions and in-flight-reader grace: a reader that
    * listed a checkpoint gets `retainMs` to open it (the same
    * discipline as vacuum's data-file window). Needs `keep >= 1` and
    * `retainMs >= 0`. */
  def withCheckpointRetention(keep: Int = DefaultCkptRetention._1,
      retainMs: Long = DefaultCkptRetention._2): MergeTable =
    relaid(layout.copy(ckptRetention = (keep, retainMs)))

  /** The same handle with a NON-DEFAULT parquet-checkpoint threshold
    * (see [[MergeTable.DefaultPqCkptEntries]]): checkpoints of
    * snapshots holding at least `entries` live files write their file
    * entries as a typed parquet dir (loaded by a distributed scan)
    * instead of O(live) text lines. Lower it in tests to exercise the
    * format; raise it (or Long.MaxValue) to pin the text path. Needs
    * `entries >= 1`. */
  def withParquetCheckpointThreshold(entries: Long): MergeTable =
    relaid(layout.copy(pqCkptEntries = entries))

  /** The same handle with ROW TRACKING on (Delta's row-ID table
    * feature): every data commit allots each new file a contiguous
    * block of fresh 64-bit row ids ([[MergeTable.RowIdInfo]] in the
    * manifest; a log-carried high-water mark guarantees ids are NEVER
    * reused) and records the adding commit as the rows' default
    * row-commit-version. [[readWithRowIds]] surfaces both as `row_id`
    * / `row_commit` — the stable row identity incremental consumers
    * (CDC materialization, feature stores, training-data lineage) key
    * on, which `monotonically_increasing_id` cannot give (it changes
    * on every read). Content-preserving rewrites (the OPTIMIZE family:
    * [[compact]], [[compactSmall]], [[compactWhere]], [[zorder]],
    * [[purgeVectors]]) MATERIALIZE ids physically through the rewrite,
    * so reorganizing 100 TB never changes any row's identity;
    * DV-based DELETE/UPDATE leave unmatched rows in place (stable for
    * free). Copy-on-write DML rewrites assign fresh ids to the rows
    * they rewrite — Delta's exact contract without
    * `rowTracking.preserved`. Enable AT TABLE BIRTH: files committed
    * before enablement carry no allotment and [[readWithRowIds]]
    * refuses mixed tables. Auto-stamps the `rowTracking` READER
    * feature (materialized columns + the W action change what the log
    * and footers mean). */
  def withRowTracking: MergeTable =
    relaid(layout.copy(rowTracking = true))

  /** The same handle with READ-PATH CHECKSUM VERIFICATION on: the
    * first time this handle resolves a version's snapshot, it is
    * checked against the [[verifyChecksum]] sidecar the committer
    * published — a mismatch throws BEFORE any data is served, so a
    * corrupted or tampered log can never feed downstream consumers
    * silently. Cost: one O(live entries) digest per version per
    * handle (memoized — every later resolution of that version is a
    * set lookup); versions without a sidecar pass through unchecked
    * (absence is not corruption — pre-feature history, lost
    * best-effort writes). Off by default: the explicit
    * [[verifyChecksum]] API serves audits; this mode is for pipelines
    * whose threat model includes the LOG STORE itself (shared object
    * buckets, replicated logs). */
  def withChecksumVerification: MergeTable =
    relaid(layout.copy(verifyOnRead = true))

  /** The same table handle bound to a DIFFERENT SparkSession — the
    * multi-session hook (the SQL front end rebinds a registered
    * handle to the session actually executing a statement, which
    * matters in multi-session JVMs like a Spark Connect server). The
    * layout and log store carry over; only the session the
    * reads/writes run on changes. */
  def withSession(s: SparkSession): MergeTable =
    if (s eq spark) this else MergeTable(s, root, logStore, layout)

  // ---- log ----------------------------------------------------------------

  /** The latest committed version's folded state, its entries checked
    * against this handle's partition columns ([[laidOutAt]]) unless
    * `laidOut` is false — only for an operation that keeps none of the
    * entries live. */
  private def latest(laidOut: Boolean = true): TableState =
    if (laidOut) laidOutAt(latestVersion()) else stateAt(latestVersion())

  def latestVersion(): Long =
    if (!Files.isDirectory(logDir)) 0L
    else Using.resource(Files.list(logDir)) { stream =>
      stream.iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.endsWith(".txt"))
        .map(_.stripSuffix(".txt").toLong)
        .foldLeft(0L)(math.max)
    }

  /** Highest checkpoint version at or below `v` (0 = the empty table). */
  private def checkpointAtOrBelow(v: Long): Long =
    if (!Files.isDirectory(logDir)) 0L
    else Using.resource(Files.list(logDir)) { stream =>
      stream.iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.endsWith(CkptSuffix))
        .map(_.stripSuffix(CkptSuffix).toLong)
        .filter(_ <= v)
        .foldLeft(0L)(math.max)
    }

  /** One A/R-tagged log file (a commit delta, or a checkpoint — which is
    * all A lines). */
  private def readLogFile(p: Path): Seq[LogAction] =
    Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty).map { line =>
      val parts = line.split('\t')
      parts(0) match {
        case "R" => Remove(parts(1))
        case "A" =>
          val pv = if (parts(2) == NoPartition) None else Some(parts(2))
          // Optional tokens after the partition: at most one deletion-
          // vector ref (`dv=<relDir>,<card>`), at most one bloom-index
          // ref (`bf=<relDir>,<m>,<colA+colB>`), then stats. Stats
          // tokens are `col:min:max` (range only) or
          // `col:min:max:nulls:rows` (min/max EMPTY for an all-null
          // file), multi-column, any order; a legacy manifest holds one
          // bare `min\tmax` pair, which belongs to the table's primary
          // stats column by contract.
          val (dvToks, rest00) = parts.drop(3).partition(_.startsWith(DvTok))
          val (riToks, rest0) = rest00.partition(_.startsWith(RiTok))
          val (bfToks, rest) = rest0.partition(_.startsWith(BfTok))
          val ri = riToks.headOption.map { tok =>
            tok.stripPrefix(RiTok).split(',') match {
              case Array(b, rw, v) => RowIdInfo(b.toLong, rw.toLong, v.toLong)
              case _ => throw new IllegalStateException(
                s"bad row-id token '$tok' in $p")
            }
          }
          val dv = dvToks.headOption.map { tok =>
            val body = tok.stripPrefix(DvTok)
            val cut = body.lastIndexOf(',')
            require(cut > 0, s"bad deletion-vector token '$tok' in $p")
            DvRef(body.substring(0, cut), body.substring(cut + 1).toLong)
          }
          val bf = bfToks.headOption.map { tok =>
            // parse from the RIGHT — the relDir (a clone's rebased path)
            // is the only field that could ever contain a separator
            val body = tok.stripPrefix(BfTok)
            val i2 = body.lastIndexOf(',')
            val i1 = if (i2 > 0) body.lastIndexOf(',', i2 - 1) else -1
            require(i1 > 0, s"bad bloom-index token '$tok' in $p")
            BloomRef(body.substring(0, i1),
              body.substring(i1 + 1, i2).toInt,
              body.substring(i2 + 1).split('+').toSeq)
          }
          val stats: Map[String, ColStat] =
            if (rest.nonEmpty && rest.head.contains(':'))
              rest.map { tok =>
                def b64d(x: String): String = new String(
                  java.util.Base64.getDecoder.decode(x), "UTF-8")
                tok.split(":", -1) match {
                  case Array(c, "S", mn, mx) =>
                    c -> ColStat(None, None, Some((b64d(mn),
                      if (mx.isEmpty) None else Some(b64d(mx)))))
                  case Array(c, "S", mn, mx, nn, rw) =>
                    c -> ColStat(None, Some((nn.toLong, rw.toLong)),
                      Some((b64d(mn),
                        if (mx.isEmpty) None else Some(b64d(mx)))))
                  case Array(c, mn, mx) =>
                    c -> ColStat(Some((mn.toLong, mx.toLong)))
                  case Array(c, mn, mx, nn, rw) =>
                    val range =
                      if (mn.isEmpty) None else Some((mn.toLong, mx.toLong))
                    c -> ColStat(range, Some((nn.toLong, rw.toLong)))
                  case _ => throw new IllegalStateException(
                    s"MergeTable at $root: bad stats token '$tok' in $p")
                }
              }.toMap
            else if (rest.length >= 2)
              statsCol.map(_ ->
                ColStat(Some((rest(0).toLong, rest(1).toLong)))).toMap
            else Map.empty
          Add(FileEntry(parts(1), pv, stats, dv, bf, ri))
        // Constraint metadata rides the same log: "C name b64(predicate)"
        // adds, "D name" drops. The predicate is base64-coded — free-form
        // SQL can contain the log's tab separator.
        case "C" => AddConstraint(parts(1), new String(
          java.util.Base64.getDecoder.decode(parts(2)), "UTF-8"))
        case "D" => DropConstraint(parts(1))
        // Column-mapping metadata: "E phys logical" renames, "X phys"
        // drops — metadata-only; data files keep their physical names.
        case "E" => RenameCol(parts(1), parts(2))
        case "X" => DropCol(parts(1))
        // Streaming-sink transaction watermark: "T b64(appId) version".
        // appId is base64-coded like constraint predicates (free-form).
        case "T" => SetTxn(new String(
          java.util.Base64.getDecoder.decode(parts(1)), "UTF-8"),
          parts(2).toLong)
        // In-commit timestamp: "S epochMillis", first line of every
        // commit delta (Delta's inCommitTimestamp table feature).
        case "S" => InCommitTs(parts(1).toLong)
        // Declared schema metadata: "M b64(StructType.json)" — the
        // engine-side half of Delta's metaData action (schema in the
        // LOG, not the parquet footers). Last one wins.
        case "M" => SetSchema(new String(
          java.util.Base64.getDecoder.decode(parts(1)), "UTF-8"))
        // Protocol: "P readerFeats writerFeats" (comma-joined feature
        // names, '-' for an empty set) — Delta's protocol action. Last
        // one wins; [[gated]] gates on it. A PRE-feature
        // binary reading a P-bearing log lands in the `other` arm
        // below — a hard fail, which is exactly the gate's contract
        // for readers that predate the gate itself.
        case "P" => Protocol(protoFeats(parts(1)), protoFeats(parts(2)))
        // Row-id high-water mark: "W hwm" — the rowTracking feature's
        // never-reuse guarantee (MAX-folded, checkpoint-carried).
        case "W" => SetRowIdHwm(parts(1).toLong)
        // Parquet-checkpoint pointer: "Q relDir count" — this
        // checkpoint's file entries are typed parquet rows under
        // logDir/relDir (the parquetCheckpoint reader feature).
        case "Q" => PqEntries(parts(1), parts(2).toLong)
        case other => throw new IllegalStateException(
          s"MergeTable at $root: unknown log action '$other' in $p")
      }
    }

  /** Version-keyed memo of folded [[MergeTable.TableState]]s. Exact: a
    * committed version's state is a pure function of the immutable
    * published-log prefix (vacuum only makes OLD versions unreadable,
    * never changes a readable one's content). LRU-bounded by entry
    * count — the state of a million-file table is tens of MB of driver
    * metadata, so the memo keeps only the handful of versions a
    * lifecycle actually alternates between (current + time-travel
    * anchors). Its `misses` count the folds this handle ran. */
  private[lake] val stateMemo = new LruMemo[Long, TableState](SnapMemoMax)

  private def deltaPath(v: Long): Path = logDir.resolve(f"$v%020d.txt")

  /** Version `v` of the table — its live files and its metadata —
    * folded once from the log ([[foldState]]) and memoized. Every read
    * and write path resolves versions here, so the READER gate
    * ([[gated]]) and, under [[withChecksumVerification]], the sidecar
    * check run on each newly folded state before it is served or
    * memoized; a refused state is never memoized, so a later engine
    * upgrade or a repaired log re-evaluates cleanly. */
  private[lake] def stateAt(v: Long): TableState =
    if (v == 0L) EmptyState
    else stateMemo.peek(v) match {
      // a memo hit is valid only while the version's OWN delta survives:
      // vacuum prunes a strict prefix of deltas, so "delta v exists"
      // exactly discriminates still-readable from pruned — one stat per
      // resolution keeps the fail-fast contract across OTHER handles'
      // vacuums (this handle's own vacuum also clears its memo) and
      // self-heals the compute-vs-vacuum put race (a stale entry
      // re-cached after the clear fails this check on its next hit)
      case Some(st) if Files.exists(deltaPath(v)) => verified(st)
      case stale =>
        if (stale.isDefined) stateMemo.remove(v)
        stateMemo.get(v)(verified(gated(foldState(v))))
    }

  /** The latest version's metadata. */
  private def headMeta: MetaState = stateAt(latestVersion()).meta

  /** Fold version `v` from the log, files and metadata in one pass over
    * each log file. The sequential-commit shape (v-1 memoized, its
    * delta still present) applies ONE delta — O(changed files) of log
    * IO per commit instead of a checkpoint re-anchor's O(live) parse,
    * which is what a 10k-commit streaming ingest pays per append.
    * Otherwise the newest checkpoint at or below `v` anchors the fold
    * (a parquet checkpoint's entries load through one distributed
    * scan) and the deltas above it apply in order. Fails fast, instead
    * of resolving a partial state, when a needed delta was pruned by
    * [[vacuum]]. */
  private def foldState(v: Long): TableState = {
    val prev = stateMemo.peek(v - 1).filter(_ => Files.exists(deltaPath(v - 1)))
    val anchor = if (prev.isDefined) v - 1 else checkpointAtOrBelow(v)
    val files = mutable.LinkedHashMap(
      prev.fold(Seq.empty[FileEntry])(_.entries).map(e => e.relPath -> e): _*)
    var meta = prev.fold(MetaState())(_.meta)
    def fold(a: LogAction): Unit = a match {
      case Add(e)    => files.update(e.relPath, e)
      case Remove(f) => files.remove(f)
      case PqEntries(dir, count) =>
        pqCheckpointEntries(dir, count).foreach(e => files.update(e.relPath, e))
      case m => meta = meta.folded(m)
    }
    if (prev.isEmpty && anchor > 0L)
      readLogFile(logDir.resolve(f"$anchor%020d$CkptSuffix")).foreach(fold)
    ((anchor + 1) to v).foreach { w =>
      val p = deltaPath(w)
      if (!Files.exists(p)) throw new IllegalStateException(
        s"MergeTable at $root: version $v is unreadable — commit delta $w " +
          "was pruned (vacuum removes pre-vacuum history)")
      readLogFile(p).foreach(fold)
    }
    TableState(v, files.values.toSeq, meta)
  }

  /** A parquet checkpoint's file entries, in fold order: one
    * DISTRIBUTED parquet scan (one Spark job, columnar decode) — O(live)
    * work off the driver's line parser; `idx` restores the fold order
    * the text form preserves implicitly. */
  private def pqCheckpointEntries(dir: String, count: Long): Seq[FileEntry] = {
    val rows = {
      import spark.implicits._
      spark.read.parquet(logDir.resolve(dir).toString)
        .as[PqEntryRow].collect()
    }
    if (rows.length != count) throw new IllegalStateException(
      s"MergeTable at $root: parquet checkpoint $dir holds " +
        s"${rows.length} entries, pointer says $count — partial " +
        "or corrupted checkpoint dir")
    rows.sortBy(_.idx).toSeq.map(fromPqRow)
  }

  /** READER gate (Delta's protocol action): a table version that
    * REQUIRES a reader feature this build does not implement fails
    * fast and loud — every read and write path resolves its version
    * through [[stateAt]], so nothing downstream can silently mis-read
    * feature-bearing state it does not understand. Per-VERSION on
    * purpose: pre-upgrade versions carry no feature-bearing actions, so
    * time travel below the upgrade stays readable. */
  private def gated(st: TableState): TableState = {
    val unknownR = st.meta.protocol._1 -- SupportedReaderFeatures
    if (unknownR.nonEmpty) throw new IllegalStateException(
      s"MergeTable at $root: version ${st.version} requires reader " +
        s"feature(s) [${unknownR.toSeq.sorted.mkString(", ")}] this build " +
        s"does not implement (supported: [${SupportedReaderFeatures.toSeq
          .sorted.mkString(", ")}]) — upgrade the engine to read this table")
    st
  }

  /** Read-path verification ([[withChecksumVerification]]): a state is
    * checked against its sidecar until one check passes — even a memo
    * hit must not serve a version whose sidecar never passed. */
  private def verified(st: TableState): TableState = {
    if (verifyOnRead && !crcChecked.contains(st.version) && compareCrc(st))
      crcChecked.add(st.version)
    st
  }

  /** [[stateAt]] for an operation that reads version `v`'s files or
    * keeps them live. It refuses, before any Spark job, a snapshot with
    * a file whose partition directories (the `name=` chain above it in
    * its relPath) are not this handle's [[partitionCols]]: such a
    * handle reads those files' partition values as NULL, and the files
    * it writes read the same way through the table's other handles.
    * The manifest's partition token can't tell: a single-column NULL
    * partition encodes like an unpartitioned file. Checked once per
    * version per handle. */
  private def laidOutAt(v: Long): TableState = {
    val st = stateAt(v)
    if (!layoutChecked.contains(v)) {
      requireLaidOut(st.entries, s"version $v")
      layoutChecked.add(v)
    }
    st
  }

  /** [[laidOutAt]]'s test over `entries`, which `where` names. */
  private def requireLaidOut(entries: Seq[FileEntry], where: String): Unit =
    entries.foreach { e =>
      val dirs = e.relPath.split('/').init.reverseIterator
        .takeWhile(_.contains('='))
        .map(d => ExternalCatalogUtils.unescapePathName(d.takeWhile(_ != '=')))
        .toSeq.reverse
      require(dirs.length == partitionCols.length &&
        dirs.zip(partitionCols).forall { case (d, c) => d.equalsIgnoreCase(c) },
        s"MergeTable at $root: partitionCols is " +
          s"${partitionCols.mkString("[", ", ", "]")}, but $where " +
          s"holds ${e.relPath} under partition directories " +
          s"${dirs.mkString("[", ", ", "]")} — open the table with the " +
          "partition columns it was written with")
    }

  /** Versions [[laidOutAt]] has passed on this handle. */
  private val layoutChecked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()

  /** The table's current CHECK constraints (name → SQL predicate). */
  def constraints: Map[String, String] = headMeta.constraints

  /** The table's protocol requirement `(readerFeatures,
    * writerFeatures)` — both empty for a table never upgraded (the
    * implicit baseline protocol every known build supports). */
  def protocol: (Set[String], Set[String]) = headMeta.protocol

  /** Delta's protocol upgrade (the reader/writer-version gate, r13
    * verdict #3): commit a protocol action REQUIRING the given
    * features of every engine that subsequently reads or writes this
    * table — a build missing a required READER feature refuses all
    * reads and writes at the log fold ([[gated]]); one
    * missing only a WRITER feature can still read but refuses to
    * publish. Monotone (features union in — an upgrade never relaxes
    * a requirement), idempotent (no commit when nothing new), and
    * reader features are implicitly writer features (a writer must
    * understand everything it republishes).
    *
    * Feature names are NOT validated against THIS build's supported
    * sets, on purpose: stamping a feature ahead of an engine rollout
    * is the operational move the gate exists for — after stamping one
    * this build lacks, the very next read of the table (by this
    * handle too) refuses with the gate's error. Versions BELOW the
    * upgrade stay readable: they carry no feature-bearing actions. */
  def upgradeProtocol(readerFeatures: Set[String] = Set.empty,
      writerFeatures: Set[String] = Set.empty): Long = {
    (readerFeatures ++ writerFeatures).foreach { f =>
      // must contain a letter/digit: a name of only '.'/'-'/'_' could
      // collide with the log's '-' empty-set sentinel and round-trip
      // to NO requirement — a silently absent gate
      require(f.matches("[A-Za-z0-9_.-]+") && f.exists(_.isLetterOrDigit),
        s"upgradeProtocol: malformed feature name '$f'")
    }
    val cur = protocol
    val next = (cur._1 ++ readerFeatures,
      cur._2 ++ cur._1 ++ writerFeatures ++ readerFeatures)
    if (next == cur) return latestVersion()
    retryingCommit("UPGRADE PROTOCOL", Map(
      "readerFeatures" -> MergeTable.protoFmt(next._1),
      "writerFeatures" -> MergeTable.protoFmt(next._2))) { () =>
      val st = latest()
      val at = st.meta.protocol
      (CommitDelta(Nil, Nil, protocol = Some(
        (at._1 ++ next._1, at._2 ++ at._1 ++ next._2))), st.version)
    }
  }

  /** The highest transaction version committed for `appId`, if any —
    * a writer that tracks its own monotonic version (a streaming
    * query's batchId) skips work at or below it. The ledger is Delta's
    * `txn` action, MAX-folded: replayed or out-of-order writers can
    * only observe a watermark at least as high as any committed one. */
  def txnVersion(appId: String): Option[Long] = headMeta.txns.get(appId)

  /** The declared (log-recorded) PHYSICAL schema, when this table was
    * created with one ([[declareSchema]], SQL `CREATE GRAFT TABLE`) —
    * the engine-side half of Delta's metaData action: when present, the
    * log (not the parquet footers) is the source of truth for the
    * table's physical schema. Last `M` action wins. None for
    * footer-schema tables, whose reads keep deriving the schema from
    * the live files exactly as before. */
  def declaredSchema: Option[org.apache.spark.sql.types.StructType] =
    headMeta.schema

  /** Declare (or replace) the table's schema in the LOG — what makes a
    * never-written table readable (correct empty frame), appends
    * conformance-checked before any data exists, and metadata-only
    * [[addColumn]] possible. The partition column, when configured,
    * must be part of the schema. Physical names: declare BEFORE
    * renaming columns, or use physical names. */
  def declareSchema(schema0: org.apache.spark.sql.types.StructType): Long = {
    require(schema0.fields.nonEmpty, "declareSchema: empty schema")
    // ENGINE-POPULATED columns (generated rules, identity) are part of
    // the schema by definition: every write path adds them, so a
    // declared schema lacking them would reject the engine's own
    // writes (CREATE ... GENERATED (...) AS <query> could never
    // succeed — the rules register before the schema declares). Append
    // any missing ones, generated columns typed by analyzing their
    // expression against the declared columns.
    val schema = expandEngineColumns(schema0)
    partitionCols.foreach(pc => require(schema.fieldNames.contains(pc),
      s"declareSchema: partition column '$pc' missing from $schema"))
    require(schema.fieldNames.map(_.toLowerCase).distinct.length ==
      schema.fields.length, s"declareSchema: duplicate names in $schema")
    retryingCommit("SET SCHEMA") { () =>
      (CommitDelta(Nil, Nil, mSchema = Some(schema.json)), latest().version)
    }
  }

  private def expandEngineColumns(
      base: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    val gen = generatedColumns
    val ids = identityColumns
    if (gen.isEmpty && ids.isEmpty) return base
    var df = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], base)
    gen.toSeq.sortBy(_._1).foreach { case (c, g) =>
      if (!df.columns.exists(_.equalsIgnoreCase(c)))
        df = df.withColumn(c, expr(g))
    }
    val idFields = ids.keys.toSeq.sorted
      .filterNot(c => df.columns.exists(_.equalsIgnoreCase(c)))
      .map(c => org.apache.spark.sql.types.StructField(c,
        org.apache.spark.sql.types.LongType, nullable = false))
    org.apache.spark.sql.types.StructType(df.schema.fields ++ idFields)
  }

  /** Delta's `ALTER TABLE ... ADD COLUMN` — METADATA-ONLY schema
    * evolution: one tiny log commit, zero data rewritten at any table
    * size; existing rows read NULL in the new column, which makes it
    * nullable by construction. On a footer-schema table the first
    * addColumn BOOTSTRAPS the declared schema from the current live
    * physical schema, so the feature works on existing tables too. */
  def addColumn(name: String,
      dataType: org.apache.spark.sql.types.DataType): Long =
    addColumn(name, dataType, None)

  /** [[addColumn]] with a DECLARED DEFAULT (SQL: `ALTER TABLE t ADD
    * COLUMN c type DEFAULT expr`): the default rides the declared
    * schema's StructField metadata and applies to FUTURE writes that
    * omit the column (SQL INSERT with a column list, COPY INTO from
    * sources lacking it); existing rows — and rows written before a
    * later default change — read NULL, exactly like a plain addColumn
    * (metadata-only, zero rewrites). The expression must be constant-
    * foldable and castable to the column's type — validated here, not
    * at first use. */
  def addColumn(name: String,
      dataType: org.apache.spark.sql.types.DataType,
      default: Option[String]): Long =
    retryingCommit("ADD COLUMN",
      Map("column" -> name, "type" -> dataType.simpleString) ++
        default.map("default" -> _)) { () =>
      val st = latest()
      val base = st.meta.schema.getOrElse {
        require(st.entries.nonEmpty,
          s"MergeTable at $root: no declared schema and no data — " +
            "declareSchema first")
        physicalSchemaOf(st.entries, None)
      }
      val taken = base.fieldNames.toSet ++ st.meta.renames.values ++
        st.meta.drops
      require(!taken.exists(_.equalsIgnoreCase(name)),
        s"addColumn: '$name' collides with an existing, renamed-to, or " +
          "dropped column name")
      (CommitDelta(Nil, Nil, mSchema = Some(
        org.apache.spark.sql.types.StructType(base.fields :+
          defaultField(name, dataType, default)).json)), st.version)
    }

  /** Build a declared-schema field, validating + recording a DEFAULT
    * expression in its metadata when given. */
  private[graft] def defaultField(name: String,
      dataType: org.apache.spark.sql.types.DataType,
      default: Option[String]): org.apache.spark.sql.types.StructField =
    default match {
      case None =>
        org.apache.spark.sql.types.StructField(name, dataType,
          nullable = true)
      case Some(d) =>
        // constant + castable, checked against an EMPTY frame (no
        // column references allowed in a default)
        val probe =
          try spark.range(1).select(expr(d).cast(dataType).as(name))
            .queryExecution.analyzed
          catch {
            case e: org.apache.spark.sql.AnalysisException =>
              throw new IllegalArgumentException(
                s"DEFAULT for '$name' does not evaluate as $dataType: " +
                  e.getMessage)
          }
        require(probe.references.isEmpty &&
            probe.expressions.forall(_.deterministic),
          s"DEFAULT for '$name' must be a constant, deterministic " +
            s"expression, got: $d")
        org.apache.spark.sql.types.StructField(name, dataType,
          nullable = true,
          metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .putString(DefaultKey, d).build())
    }

  /** Declared column defaults: column → default expression SQL, from
    * the declared schema's field metadata. */
  def columnDefaults: Map[String, String] =
    declaredSchema.map(_.fields.toSeq.flatMap { f =>
      if (f.metadata.contains(DefaultKey))
        Some(f.name -> f.metadata.getString(DefaultKey))
      else None
    }.toMap).getOrElse(Map.empty)

  /** Delta's TYPE WIDENING (`ALTER TABLE t ALTER COLUMN c TYPE t2`):
    * a metadata-only declared-schema change for a WIDENING conversion
    * (byte/short/int -> long, int -> double, float -> double, ...).
    * Old files keep their narrow physical type — the parquet reader
    * widens at the scan, so zero bytes rewrite at any table size; new
    * writes land the wide type; time travel shows the AS-OF type
    * (schema-as-of rides the same M channel as addColumn). Narrowing
    * and unrelated conversions are refused — they would need a rewrite
    * (or lose data), which is compact()'s job, not a metadata flip. */
  def alterColumnType(name: String,
      to: org.apache.spark.sql.types.DataType): Long =
    retryingCommit("ALTER COLUMN TYPE",
      Map("column" -> name, "type" -> to.simpleString)) { () =>
      val st = latest()
      val base = st.meta.schema.getOrElse {
        require(st.entries.nonEmpty,
          s"MergeTable at $root: no declared schema and no data — " +
            "declareSchema first")
        physicalSchemaOf(st.entries, None)
      }
      val phys = physicalOf(name)
      val i = base.fieldNames.indexOf(phys)
      require(i >= 0,
        s"alterColumnType: no column '$name' (physical '$phys') in " +
          s"{${base.fieldNames.mkString(", ")}}")
      val from = base.fields(i).dataType
      require(widens(from, to),
        s"alterColumnType: ${from.simpleString} -> ${to.simpleString} " +
          "is not a widening conversion (narrowing needs a rewrite; " +
          "only byte/short/int->long, byte/short/int->int, " +
          "int->double, float->double widen in place)")
      (CommitDelta(Nil, Nil, mSchema = Some(
        org.apache.spark.sql.types.StructType(
          base.fields.updated(i, base.fields(i).copy(dataType = to)))
          .json)), st.version)
    }

  /** The widening matrix the parquet reader supports losslessly. */
  private def widens(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (f, t) if f == t => false // a no-op flip is a caller bug
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType)            => true
      case (IntegerType, LongType)                        => true
      // 32-bit ints embed exactly in a double's 53-bit mantissa
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case (FloatType, DoubleType)                          => true
      case _                                                => false
    }
  }

  /** Current renames as physical → logical (empty when no column was
    * ever renamed). */
  def columnMapping: Map[String, String] = headMeta.renames

  /** Physical names of metadata-dropped columns (their data survives in
    * files; readers exclude them). */
  def droppedColumns: Set[String] = headMeta.drops

  /** Physical → logical presentation applied to every read under
    * `mapping`: dropped physicals vanish, renamed physicals surface
    * under their logical name, order preserved. Defensive against
    * double application (a renamed physical is simply absent the
    * second time). Time travel passes the mapping AS OF the queried
    * version (Delta parity: a reader replaying v3 of a since-renamed
    * table sees v3's names, and a since-dropped column is still
    * visible at pre-drop versions). */
  private def presentLogicalAs(df: DataFrame,
      mapping: (Map[String, String], Set[String])): DataFrame = {
    val (ren, drops) = mapping
    if (ren.isEmpty && drops.isEmpty) df
    else df.select(df.columns.toSeq.flatMap {
      case c if drops.contains(c) => None
      case c if ren.contains(c)   => Some(col(c).as(ren(c)))
      case c                      => Some(col(c))
    }: _*)
  }

  /** A physical-name schema minus DROPPED columns — the conformance
    * target for incoming frames mapped through [[toPhysical]]: a
    * dropped field still lives in old files and in a declared log
    * schema (drops are metadata-only), but no write may carry it, so a
    * target that kept it would be unsatisfiable after DROP COLUMN. */
  private def visibleDeclared(
      d: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    val drops = headMeta.drops
    if (drops.isEmpty) d
    else org.apache.spark.sql.types.StructType(
      d.fields.filterNot(f => drops.contains(f.name)))
  }

  /** Logical → physical translation applied to every write, so data
    * files stay physically-named forever (Delta's column-mapping
    * discipline — a rename never rewrites data). Fails fast on a
    * column that collides with a dropped or renamed-away physical name
    * (silently accepting either would resurrect old file data under
    * the new column). */
  private def toPhysical(df: DataFrame): DataFrame = {
    val (ren, drops) = headMeta.mapping
    if (ren.isEmpty && drops.isEmpty) return df
    val inv = ren.map(_.swap) // logical -> physical
    df.columns.foreach { c =>
      require(!drops.contains(c),
        s"MergeTable at $root: column '$c' was dropped; re-adding a " +
          "dropped column name is not supported (old file data would " +
          "resurrect under it)")
      require(!ren.contains(c) || inv.contains(c),
        s"MergeTable at $root: '$c' is the physical name of a renamed " +
          s"column (now '${ren(c)}') — write under the current logical " +
          "name")
    }
    df.select(df.columns.toSeq.map(c =>
      inv.get(c).map(p => col(c).as(p)).getOrElse(col(c))): _*)
  }

  /** Resolve a current logical column name to its physical name. */
  private def physicalOf(logical: String): String =
    headMeta.renames.collectFirst {
      case (ph, lg) if lg == logical => ph
    }.getOrElse(logical)

  private def guardMappable(name: String, op: String): Unit = {
    require(!partitionCols.contains(name),
      s"$op: '$name' is a partition column")
    require(!statsCols.contains(physicalOf(name)),
      s"$op: '$name' carries manifest file statistics")
    require(!bloomCols.contains(physicalOf(name)),
      s"$op: '$name' carries a bloom index")
    val pat = ("\\b" + java.util.regex.Pattern.quote(name) + "\\b").r
    constraints.foreach { case (cn, pred) =>
      require(pat.findFirstIn(pred).isEmpty,
        s"$op: '$name' is referenced by CHECK constraint '$cn' — drop " +
          "the constraint first")
    }
  }

  /** ALTER TABLE ... RENAME COLUMN — metadata-only (Delta column
    * mapping): the rename is one log action; no data file is touched.
    * Current reads and the change feed present the CURRENT logical
    * schema (CDF column sets stay aligned across rename boundaries for
    * incremental consumers); [[readVersion]] time travel presents the
    * schema AS OF the queried version (Delta parity). Both pinned by
    * ColumnMappingSpec.
    *
    * `newName` must be fresh in BOTH namespaces: not a current logical
    * column, and not a retired PHYSICAL name (a dropped column's, or a
    * renamed-away original's). Accepting a retired physical name would
    * either resurrect old file data under it or create a mapping whose
    * physical key shadows a live logical name — after which
    * [[toPhysical]]'s guards reject every subsequent write. */
  def renameColumn(oldName: String, newName: String): Long = {
    val cols = read().columns.toSet
    require(cols.contains(oldName),
      s"renameColumn: no column '$oldName' (have ${cols.mkString(", ")})")
    require(!cols.contains(newName),
      s"renameColumn: '$newName' already exists")
    require(!droppedColumns.contains(newName),
      s"renameColumn: '$newName' is a dropped column's retired physical " +
        "name — reusing it would resurrect old file data")
    require(!columnMapping.contains(newName),
      s"renameColumn: '$newName' is the retired physical name of a " +
        s"renamed column (now '${columnMapping.getOrElse(newName, "")}') " +
        "— reusing it would shadow that column's file data")
    guardMappable(oldName, "renameColumn")
    retryingCommit("RENAME COLUMN",
      Map("from" -> oldName, "to" -> newName)) { () =>
      (CommitDelta(Nil, Nil,
        mRenames = Seq(physicalOf(oldName) -> newName)), latestVersion())
    }
  }

  /** ALTER TABLE ... DROP COLUMN — metadata-only: the column's data
    * survives in files (and stays fully visible to pre-drop
    * [[readVersion]] time travel — schema-as-of) but every current
    * read excludes it. The name is retired: re-adding it would
    * resurrect old file data, so writes carrying it fail fast. */
  def dropColumn(name: String): Long = {
    val cols = read().columns.toSet
    require(cols.contains(name),
      s"dropColumn: no column '$name' (have ${cols.mkString(", ")})")
    guardMappable(name, "dropColumn")
    retryingCommit("DROP COLUMN",
      Map("column" -> name)) { () =>
      (CommitDelta(Nil, Nil, mDrops = Seq(physicalOf(name))),
        latestVersion())
    }
  }

  /** The canonical log serialization of one file entry (the `A` line).
    * Factored out of [[deltaBody]] because the snapshot CHECKSUM
    * ([[writeCrc]]) hashes exactly this text per live entry — the crc
    * is then a pure function of what the log itself records, and a
    * checkpoint round-trip (parse + re-serialize) is byte-stable:
    * optional tokens have a fixed order and stats sort by column. */
  private def addLine(e: FileEntry): String = {
    val base = s"A\t${e.relPath}\t${e.partitionValue.getOrElse(NoPartition)}" +
      e.dv.fold("")(d => s"\t$DvTok${d.relDir},${d.card}") +
      e.rowIds.fold("")(ri =>
        s"\t$RiTok${ri.base},${ri.rows},${ri.version}") +
      e.bloom.fold("")(b =>
        s"\t$BfTok${b.relDir},${b.m},${b.cols.mkString("+")}")
    if (e.stats.isEmpty) base
    else base + e.stats.toSeq.sortBy(_._1).map { case (c, cs) =>
      // string ranges serialize as `c:S:b64(min):b64(max):nn:rw` — the
      // `S` marker cannot collide with the legacy numeric form (its
      // second field is a Long rendering or empty), and base64 keeps
      // free-form string bounds clear of the `:`/tab separators. An
      // absent max bound (truncation could not produce one) is the
      // empty string.
      val r = cs.strRange match {
        case Some((mn, mx)) =>
          val enc = java.util.Base64.getEncoder
          "S:" + enc.encodeToString(mn.getBytes("UTF-8")) + ":" +
            mx.fold("")(m => enc.encodeToString(m.getBytes("UTF-8")))
        case None => cs.range.fold(":")(p => s"${p._1}:${p._2}")
      }
      cs.nullsRows match {
        case Some((nn, rw)) => s"\t$c:$r:$nn:$rw"
        case None           => s"\t$c:$r"
      }
    }.mkString
  }

  private def deltaBody(delta: CommitDelta): String =
    (delta.removes.map(f => s"R\t$f") ++
      delta.adds.map(addLine) ++
      delta.cDrops.map(n => s"D\t$n") ++
      delta.cAdds.map { case (n, pr) =>
        s"C\t$n\t" + java.util.Base64.getEncoder
          .encodeToString(pr.getBytes("UTF-8"))
      } ++
      delta.mRenames.map { case (p, l) => s"E\t$p\t$l" } ++
      delta.mDrops.map(p => s"X\t$p") ++
      delta.txns.map { case (app, bv) =>
        "T\t" + java.util.Base64.getEncoder
          .encodeToString(app.getBytes("UTF-8")) + s"\t$bv"
      } ++
      delta.mSchema.map(j => "M\t" + java.util.Base64.getEncoder
        .encodeToString(j.getBytes("UTF-8"))).toSeq ++
      delta.protocol.map { case (r, w) =>
        s"P\t${protoFmt(r)}\t${protoFmt(w)}"
      }.toSeq ++
      delta.rowIdHwm.map(h => s"W\t$h").toSeq).mkString("\n")

  /** Try to publish `delta` as version `expected + 1`. Returns the
    * committed version, or None if a concurrent writer took it first.
    * The atomic create-if-absent publish is the [[LogStore]] seam —
    * POSIX hard-link by default; see [[LogStore]]'s scaladoc for the
    * S3 / object-store deployment contract. Callers MUST recompute
    * from the fresh snapshot on None, not re-publish a delta derived
    * from a stale one (that would drop the other writer's changes —
    * lost update). */
  private[lake] def tryCommit(delta: CommitDelta, expected: Long,
      op: String = "", params: Map[String, String] = Map.empty)
      : Option[Long] = {
    Files.createDirectories(logDir)
    val v = expected + 1
    // IN-COMMIT TIMESTAMP (Delta's inCommitTimestamp feature): the
    // commit's wall-clock instant is written INSIDE the delta as its
    // first line, clamped strictly above the parent's so the history
    // clock is monotone even under clock skew. Every time consumer
    // ([[versionAsOf]], vacuum retention, [[history]]) prefers it over
    // the file mtime, which makes timestamp semantics survive
    // operations that destroy mtimes — a directory copy/rsync of the
    // table, an object-store migration — exactly why Delta added the
    // feature. Pre-feature commits (no S line) fall back to mtime.
    val parentTs = if (expected == 0L) 0L else commitTsOf(expected).getOrElse(0L)
    val stamp = math.max(System.currentTimeMillis(), parentTs + 1L)
    // OPERATION METADATA rides the same first-line header channel
    // (Delta's commitInfo): the op label and its parameters, base64
    // (predicates contain tabs/newlines). Pre-feature commits have a
    // 2-field header and read back with a null operation. Forward
    // compat is one-directional by design (a single-binary framework):
    // THIS reader accepts 2- and 4-field headers, but a pre-feature
    // binary cannot read 4-field logs — a mixed-version deployment
    // would need Delta's protocol/readerVersion gate before extending
    // the header again (r12 advice note). OPERATION METRICS (Delta's
    // operationMetrics) are an optional fifth field, `k=<long>` lines,
    // b64 — a 4-field reader never looks past field four, so adding it
    // needs no gate.
    val header =
      if (op.isEmpty) s"S\t$stamp"
      else {
        val b64 = java.util.Base64.getEncoder
        // values carry arbitrary text (predicates with newlines /
        // '=') — b64 each value so the k=v framing round-trips
        val kv = params.toSeq.sortBy(_._1)
          .map { case (k, x) =>
            s"$k=" + b64.encodeToString(x.getBytes("UTF-8"))
          }.mkString("\n")
        val metrics =
          if (delta.metrics.isEmpty) ""
          else "\t" + b64.encodeToString(delta.metrics.toSeq.sortBy(_._1)
            .map { case (k, n) => s"$k=$n" }.mkString("\n")
            .getBytes("UTF-8"))
        s"S\t$stamp\t" + b64.encodeToString(op.getBytes("UTF-8")) +
          "\t" + b64.encodeToString(kv.getBytes("UTF-8")) + metrics
      }
    if (logStore.putIfAbsent(logDir.resolve(f"$v%020d.txt"),
        header + "\n" + deltaBody(delta))) {
      // snapshot checksum sidecar (Delta's .crc): derived, best-effort
      // — the commit already SUCCEEDED, so a failed checksum write
      // only costs verification coverage for this version. The just-
      // committed delta rides along so the digest derives
      // incrementally from v-1's sidecar (O(changed) hashing).
      try writeCrc(v, Some(delta))
      catch {
        case scala.util.control.NonFatal(e) =>
          logger.warn(s"checksum sidecar at $v skipped: $e")
      }
      Some(v)
    } else None
  }

  /** The commit time of version `v`: its in-commit stamp when present,
    * else the delta file's mtime (legacy), None when the delta was
    * vacuum-pruned. One buffered first-line read — O(1) per call
    * regardless of manifest size (the stamp is always line one). */
  private def commitTsOf(v: Long): Option[Long] =
    headerOf(v).map(_._1)

  /** The operation metrics version `v`'s commit recorded (Delta's
    * `operationMetrics`: a MERGE's `numSourceRows`) — empty for a
    * commit that recorded none, a pre-feature or a vacuum-pruned one.
    * One first-line read of the delta; no data file is touched. */
  def operationMetrics(v: Long): Map[String, Long] =
    headerOf(v).map(_._3).getOrElse(Map.empty)

  /** One buffered first-line read serving BOTH header consumers (the
    * in-commit timestamp and the operation metadata) — [[history]]
    * would otherwise open every delta file twice for the same line. */
  private def headerOf(v: Long)
      : Option[(Long, Option[(String, Map[String, String])],
          Map[String, Long])] = {
    val p = logDir.resolve(f"$v%020d.txt")
    if (!Files.exists(p)) return None
    val first = Using.resource(Files.newBufferedReader(p))(_.readLine())
    if (first == null || !first.startsWith("S\t"))
      return Some((Files.getLastModifiedTime(p).toMillis, None, Map.empty))
    val fields = first.split('\t')
    val stamp = fields(1).toLong
    // an empty params token leaves a trailing tab split() drops —
    // accept the 3-field form
    if (fields.length < 3) return Some((stamp, None, Map.empty))
    val dec = java.util.Base64.getDecoder
    def lines(i: Int): Seq[(String, String)] =
      if (fields.length <= i) Nil
      else new String(dec.decode(fields(i)), "UTF-8").split('\n').toSeq
        .filter(_.contains('=')).map { line =>
          val j = line.indexOf('=')
          line.substring(0, j) -> line.substring(j + 1)
        }
    val op = new String(dec.decode(fields(2)), "UTF-8")
    val params = lines(3).map { case (k, x) =>
      k -> new String(dec.decode(x), "UTF-8") }.toMap
    Some((stamp, Some((op, params)),
      lines(4).map { case (k, n) => k -> n.toLong }.toMap))
  }

  /** Operation label for the constraint channel's three rule kinds:
    * plain CHECK constraints, generated-column rules, identity rules
    * all commit through [[addConstraintImpl]]/[[dropConstraint]]. */
  private def constraintOp(verb: String, name: String): String =
    if (name.startsWith(GeneratedColumns.Prefix))
      s"$verb GENERATED COLUMN"
    else if (name.startsWith(IdentityColumns.Prefix))
      s"$verb IDENTITY COLUMN"
    else s"$verb CONSTRAINT"

  /** The user-facing name behind a constraint-channel rule name. */
  private def engineColFreeName(name: String): String =
    name.stripPrefix(GeneratedColumns.Prefix)
      .stripPrefix(IdentityColumns.Prefix)

  /** The operation label + parameters of version `v`'s commit —
    * None for pre-feature or vacuum-pruned commits. */
  private def commitOpOf(v: Long)
      : Option[(String, Map[String, String])] =
    headerOf(v).flatMap(_._2)

  /** Publish a full checkpoint at `v` (create-if-absent; a checkpoint is
    * DERIVED data, so losing the race — or crashing before writing it —
    * only costs later readers some delta-fold work). Each publish then
    * prunes SUPERSEDED checkpoint text under [[ckptRetention]]: without
    * retention, one O(live)-line checkpoint every
    * [[MergeTable.CheckpointInterval]] commits accumulates ~O(N²) log
    * TEXT over N commits (measured ~700 MB at 10k one-row commits,
    * r13) even though each individual reader only ever opens one. */
  private def writeCheckpoint(v: Long): Unit = {
    val target = logDir.resolve(f"$v%020d$CkptSuffix")
    if (Files.exists(target)) return
    // a checkpoint replaces the deltas below it for readers, so it
    // carries the version's whole metadata ([[MetaState.asDelta]]) or
    // vacuum would silently drop it: a reader anchored on the
    // checkpoint alone must still be gated by the required features,
    // and the row-id high-water mark must survive, or ids of removed
    // files would be reused
    val st = stateAt(v)
    val entries = st.entries
    // PARQUET entry block (X207): past the threshold — and only once
    // the parquetCheckpoint reader feature is stamped, so a pre-feature
    // reader can never open an A-line-less text checkpoint as an empty
    // snapshot — the entries go to `<v>.ckptpq/` as typed parquet
    // (written via Spark, read back distributed), and the text file
    // carries metadata + the Q pointer. Publish order: parquet dir
    // FIRST, then the text pointer — a crash in between leaves an
    // unreferenced dir (reaped with its version by retention/vacuum),
    // never a dangling pointer.
    val usePq = entries.size >= pqCkptEntries &&
      st.meta.protocol._1.contains("parquetCheckpoint")
    val pqPointer: Option[String] =
      if (!usePq) None
      else {
        val dirName = f"$v%020d$CkptPqSuffix"
        val pqDir = logDir.resolve(dirName)
        if (!Files.isDirectory(pqDir)) {
          val tmp = logDir.resolve(
            s".tmp-$dirName-${java.util.UUID.randomUUID()}")
          try {
            import spark.implicits._
            spark.createDataset(
                entries.zipWithIndex.map { case (e, i) => toPqRow(i, e) })
              .repartition(math.max(1, entries.size / 500000))
              .write.parquet(tmp.toString)
            try Files.move(tmp, pqDir,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            catch {
              // lost the publish race (or a non-atomic store): the
              // surviving dir is a full copy of the same pure function
              case scala.util.control.NonFatal(_)
                  if Files.isDirectory(pqDir) => ()
            }
          } finally deleteRecursively(tmp) // no-op after a clean move
        }
        Some(s"Q\t$dirName\t${entries.size}")
      }
    val body =
      deltaBody(st.meta.asDelta.copy(adds = if (usePq) Nil else entries)) +
        pqPointer.fold("")(q => "\n" + q)
    logStore.putIfAbsent(target, body)
    // best-effort, like the checkpoint itself: a failed prune costs
    // bytes, never correctness
    try pruneSupersededCheckpoints(v)
    catch {
      case scala.util.control.NonFatal(e) =>
        logger.warn(s"checkpoint retention pass at $v skipped: $e")
    }
  }

  /** Delete checkpoints superseded by the one at `v` and outside the
    * retention window: the newest `keep` (by version, the new one
    * included) always survive, anything older goes once its publish
    * mtime ages past `retainMs` — EXCEPT a checkpoint still ANCHORING
    * versions whose older deltas a [[vacuum]] pruned. DELTAS are never
    * touched here, and vacuum only ever removes a PREFIX of them, so a
    * candidate is deletable exactly when the versions it anchors can
    * re-fold from the next surviving checkpoint below it (or v0) —
    * i.e. when every delta above that lower anchor still exists.
    * Without the anchor check, retention could delete the checkpoint a
    * prior vacuum folded history onto, making versions INSIDE vacuum's
    * own readability window unreconstructable (r14 review finding).
    * With it, this pass never shortens time travel; it only bounds
    * superseded O(live)-line manifest TEXT to
    * O(keep + window/checkpoint-cadence) copies. */
  private def pruneSupersededCheckpoints(v: Long): Unit = {
    val (keep, retainMs) = ckptRetention
    if (!Files.isDirectory(logDir)) return
    val cutoff = System.currentTimeMillis() - retainMs
    // reap ORPHANED parquet-checkpoint temp dirs (a JVM that died
    // mid-publish leaves `.tmp-<v>.ckptpq-<uuid>` behind, which no
    // version-suffixed filter ever matches — r15 review); an in-flight
    // publish is protected by the same grace window as checkpoints,
    // floored at 10 minutes so retainMs=0 bench shapes can't reap a
    // concurrent writer's live temp
    val tmpCutoff =
      System.currentTimeMillis() - math.max(retainMs, 600000L)
    Using.resource(Files.list(logDir)) { s =>
      s.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith(".tmp-") &&
          p.getFileName.toString.contains(CkptPqSuffix))
        .filter(p =>
          try Files.getLastModifiedTime(p).toMillis <= tmpCutoff
          catch { case _: java.io.IOException => false })
        .toList
    }.foreach(deleteRecursively)
    val (ckpts, minDelta) = Using.resource(Files.list(logDir)) { s =>
      var mn = Long.MaxValue
      val cs = Seq.newBuilder[Long]
      s.iterator().asScala.map(_.getFileName.toString).foreach { n =>
        if (n.endsWith(CkptSuffix)) cs += n.stripSuffix(CkptSuffix).toLong
        else if (n.endsWith(".txt"))
          mn = math.min(mn, n.stripSuffix(".txt").toLong)
      }
      (cs.result(), mn)
    }
    val candidates =
      ckpts.filter(_ <= v).sorted(Ordering[Long].reverse).drop(keep)
    // oldest-first: a candidate kept (young, or load-bearing anchor)
    // becomes the lower anchor for the candidates above it
    var anchor = 0L
    candidates.sorted.foreach { cv =>
      val p = logDir.resolve(f"$cv%020d$CkptSuffix")
      // the versions [cv, next-ckpt) re-fold from `anchor` iff every
      // delta in (anchor, ..] survives; vacuum prunes a prefix, so
      // that is exactly "the oldest surviving delta is <= anchor + 1"
      val refoldable = minDelta <= anchor + 1L
      val aged =
        try Files.getLastModifiedTime(p).toMillis <= cutoff
        catch { case _: java.io.IOException => false } // raced: skip
      if (refoldable && aged) {
        Files.deleteIfExists(p)
        // the parquet entry block goes with its pointer — delete the
        // TEXT first so no reader can list a pointer whose dir is gone
        deleteRecursively(logDir.resolve(f"$cv%020d$CkptPqSuffix"))
      } else anchor = cv
    }
  }

  // ---- snapshot checksums (Delta's .crc / VERSION CHECKSUM) ---------------

  private def crcPath(v: Long): Path = logDir.resolve(f"$v%020d.crc")

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** First 64 bits of md5 over one entry's canonical `A` line — the
    * per-entry unit both the full ([[entryXorOf]]) and the incremental
    * ([[writeCrc]]'s delta path) digest folds XOR together. */
  private def lineHash64(e: FileEntry): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(addLine(e).getBytes("UTF-8"))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h
  }

  /** Order-independent digest of a live entry set: XOR of the first
    * 64 bits of md5 over each entry's canonical `A` line ([[addLine]]).
    * XOR-folding makes the digest incremental-friendly and set-shaped —
    * two snapshots match iff they carry the same entries with the same
    * stats/dv/bloom/row-id state, regardless of fold order. */
  private def entryXorOf(entries: Seq[FileEntry]): String = {
    var acc = 0L
    entries.foreach(e => acc ^= lineHash64(e))
    f"$acc%016x"
  }

  /** The checksum-relevant state of version `v`, recomputed from the
    * log: (live file count, entry-set digest, metadata digest, row-id
    * high-water mark). The metadata digest covers every non-file fold
    * family in CANONICAL (sorted) form, so it is independent of both
    * log order and of whether the fold anchored on a checkpoint or
    * replayed raw deltas. */
  private def metaHashOf(m: MetaState): String = md5Hex((
    m.constraints.toSeq.sortBy(_._1)
      .map { case (n, p) => s"C\t$n\t$p" } ++
    m.renames.toSeq.sortBy(_._1)
      .map { case (p, l) => s"E\t$p\t$l" } ++
    m.drops.toSeq.sorted.map(p => s"X\t$p") ++
    m.txns.toSeq.sortBy(_._1).map { case (a, bv) => s"T\t$a\t$bv" } ++
    m.schema.map(s => s"M\t${s.json}").toSeq ++
    Seq("P\t" + m.protocol._1.toSeq.sorted.mkString(",") +
      "\t" + m.protocol._2.toSeq.sorted.mkString(","))
  ).mkString("\n"))

  /** Publish the snapshot checksum sidecar for committed version `v`
    * (Delta's per-commit `.crc`): one line recording the live file
    * count, the entry-set digest, the metadata digest, and the row-id
    * high-water mark AS THE COMMITTER SAW THEM. Derived data, like
    * checkpoints — losing it costs verification coverage for that
    * version, never correctness — but once present it lets ANY later
    * engine prove the log still folds to the state the committer
    * published: bit-rot in a delta or checkpoint, a mis-merged log
    * copy, or a fold-logic divergence between engine versions all
    * surface as a loud [[verifyChecksum]] mismatch instead of silent
    * wrong reads. */
  private def writeCrc(v: Long, delta: Option[CommitDelta] = None): Unit = {
    val p = crcPath(v)
    if (logStore.read(p).isDefined) return
    // INCREMENTAL digest (r14 ADVICE): the XOR fold is set-shaped, so
    // version v's digest derives from v-1's COMMITTED sidecar by
    // XOR-ing out the lines the delta removes or replaces and XOR-ing
    // in its adds — O(changed files) of MD5 work instead of one MD5
    // per LIVE file per commit (an N-commit ingest on a large table
    // paid O(N × live) hashing). The working map mirrors the snapshot
    // fold's apply order (removes, then adds; a re-Add replaces), so
    // the derived digest is bit-identical to the full recompute —
    // pinned by ChecksumFsckSpec. Falls back to the full recompute
    // when the parent sidecar or the memoized parent snapshot is
    // missing (first commit, pre-feature history, evicted memo).
    val fromDelta: Option[(Long, String)] = delta.flatMap { d =>
      if (v <= 1L) None
      else for {
        (pn, px) <- readCrcLine(v - 1)
        prev <- stateMemo.peek(v - 1)
      } yield {
        val byPath = mutable.HashMap.empty[String, FileEntry]
        prev.entries.foreach(e => byPath.update(e.relPath, e))
        var acc = java.lang.Long.parseUnsignedLong(px, 16)
        var n = pn
        d.removes.foreach { f =>
          byPath.remove(f).foreach { old =>
            acc ^= lineHash64(old); n -= 1
          }
        }
        d.adds.foreach { e =>
          byPath.put(e.relPath, e) match {
            case Some(old) => acc ^= lineHash64(old) ^ lineHash64(e)
            case None      => acc ^= lineHash64(e); n += 1
          }
        }
        (n, f"$acc%016x")
      }
    }
    val st = stateAt(v)
    val (nf, xor) = fromDelta.getOrElse(
      (st.entries.size.toLong, entryXorOf(st.entries)))
    val m = st.meta
    logStore.putIfAbsent(p,
      s"K\t$nf\t$xor\t${metaHashOf(m)}\t${m.rowIdHwm}")
  }

  /** Parse version `v`'s checksum sidecar into (numFiles, entryXor) —
    * None when absent or malformed. Reads through the [[LogStore]]
    * seam (r14 ADVICE: sidecar IO must be symmetric across it). */
  private def readCrcLine(v: Long): Option[(Long, String)] =
    logStore.read(crcPath(v)).flatMap { s =>
      val parts = s.trim.split('\t')
      if (parts.length == 5 && parts(0) == "K")
        scala.util.Try((parts(1).toLong, parts(2))).toOption
      else None
    }

  /** Verify version `v`'s snapshot against its committed checksum
    * sidecar. Returns true when a sidecar exists and every field
    * matches, false when no sidecar was recorded (pre-feature commit,
    * or a lost best-effort write); THROWS naming each diverged field
    * when the recomputed state does not match what the committer
    * recorded — the log text was corrupted or tampered with after
    * commit, and nothing downstream should trust reads at `v`. */
  def verifyChecksum(v: Long): Boolean = compareCrc(stateAt(v))

  /** Shared comparison core: check an ALREADY-FOLDED state against its
    * version's sidecar. Returns false when no sidecar exists; throws on
    * mismatch. Taking the state as an argument keeps the read-path hook
    * ([[verified]] under [[verifyOnRead]]) recursion-free. */
  private def compareCrc(st: TableState): Boolean = {
    val v = st.version
    val p = crcPath(v)
    // through the LogStore seam, like the publish (r14 ADVICE): an
    // implementation that materializes lazily must still verify its
    // own sidecars
    val content = logStore.read(p).getOrElse(return false)
    val parts = content.trim.split('\t')
    require(parts.length == 5 && parts(0) == "K",
      s"MergeTable at $root: malformed checksum sidecar $p")
    val m = st.meta
    val mism = Seq(
      ("numFiles", parts(1), st.entries.size.toString),
      ("entryXor", parts(2), entryXorOf(st.entries)),
      ("metadataHash", parts(3), metaHashOf(m)),
      ("rowIdHwm", parts(4), m.rowIdHwm.toString))
      .collect { case (n, stored, now) if stored != now =>
        s"$n (committed $stored, log now folds to $now)" }
    if (mism.nonEmpty) throw new IllegalStateException(
      s"MergeTable at $root: snapshot checksum MISMATCH at version $v" +
        s" — ${mism.mkString("; ")} — the log/checkpoint text diverged" +
        " from the state recorded at commit time; do not trust reads" +
        " of this version")
    true
  }

  /** Versions this handle has already verified against their sidecar
    * (read-path mode only) — verify once, then O(1). Populated ONLY
    * after a PASSED check, so a mismatch keeps throwing on retries. */
  private val crcChecked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()

  /** [[verifyChecksum]] of the latest version (false on an empty
    * table). */
  def verifyChecksum(): Boolean = {
    val v = latestVersion()
    v > 0L && verifyChecksum(v)
  }

  /** Run `f` under a `graft:`-prefixed Spark job description (guide
    * §1.5): every job — including broadcast futures, which inherit
    * thread-locals via withThreadLocalCaptured — launched inside is
    * attributable to the phase in the UI and in JobProfile's census.
    * Descriptions nest; the previous one is restored on exit. */
  private[lake] def labeled[T](what: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"graft:$what:${root.getFileName}")
    try f finally sc.setJobDescription(prev)
  }

  /** Run an optimistic write: `attempt` computes (delta, expectedVersion)
    * from the CURRENT snapshot; on commit collision the computation reruns
    * against the fresh snapshot — UNLESS the concurrent commits provably
    * did not invalidate it given what the operation READ (`scope`, checked
    * by [[canRebase]]), in which case the SAME delta re-publishes at the
    * new head with no recompute. That is Delta's ConflictChecker rebase:
    * on a busy table an append losing to an append, or a merge losing to
    * a compaction of partitions it never touched, must not pay a full
    * Spark recompute for a provably-compatible interleaving. Every Nth
    * version also publishes a full checkpoint, bounding later reads'
    * delta folds. */
  private def retryingCommit(op: String,
      params: Map[String, String] = Map.empty,
      scope: ReadScope = ReadScope.Everything)(
      attempt: () => (CommitDelta, Long)): Long =
    labeled(s"commit-$op")(retryingCommitImpl(op, params, scope)(attempt))

  private def retryingCommitImpl(op: String,
      params: Map[String, String],
      scope: ReadScope)(
      attempt: () => (CommitDelta, Long)): Long = {
    var tries = 0
    // a lost-but-rebasable delta republishes at `publishAt`; `base` stays
    // the snapshot version it was COMPUTED against, because every further
    // loss must re-validate the whole (base, head] window
    var pending: Option[(CommitDelta, Long)] = None
    var publishAt = 0L
    // per-file footer row counts for row-id allotment — the files are
    // immutable once written, so the counts survive recomputes/rebases
    lazy val ridRowsMemo = mutable.HashMap.empty[String, Long]
    while (tries < MaxCommitRetries) {
      val (delta0, base) = pending.getOrElse {
        if (tries > 0) occRecomputed.incrementAndGet()
        attempt()
      }
      val target = if (pending.isDefined) publishAt else base
      pending = None
      // WRITER gate (Delta's protocol action): refuse to publish on a
      // table whose protocol demands writer features this build does
      // not implement — a half-understood table must not be advanced.
      // (The protocol-UPGRADE commit itself is checked against the
      // PRE-upgrade state, so stamping a future feature ahead of an
      // engine rollout remains possible.)
      val targetState = stateAt(target)
      val curProto = targetState.meta.protocol
      val unknownW = curProto._2 -- SupportedWriterFeatures
      if (unknownW.nonEmpty) throw new IllegalStateException(
        s"MergeTable at $root: table requires writer feature(s) " +
          s"[${unknownW.toSeq.sorted.mkString(", ")}] this build does " +
          s"not implement (supported: [${SupportedWriterFeatures.toSeq
            .sorted.mkString(", ")}]) — upgrade the engine to write " +
          "this table")
      // ROW-ID ALLOTMENT (row tracking): derived against `target` on
      // EVERY attempt — recompute or rebase republication — so a lost
      // race never republishes bases a concurrent allocator also
      // handed out; entries that already carry an allotment (RESTORE
      // re-adds, DV re-adds, clone-carried files) keep it, which is
      // exactly the id-stability contract.
      val delta = allotRowIds(delta0, targetState, ridRowsMemo)
      // AUTOMATIC feature enablement (Delta's table-feature upgrade):
      // the commit that first USES a gated feature — or the first
      // commit of a handle CONFIGURED for one (DV flag) — carries the
      // protocol requirement in the same atomic publish, so a table is
      // never feature-bearing without declaring it. Re-derived against
      // `target` on every attempt (recompute OR rebase republication),
      // so a concurrent commit stamping the same features collapses
      // this to a no-op; an explicit upgradeProtocol delta keeps its
      // own P action untouched.
      val stamped =
        if (delta.protocol.isDefined) delta
        else {
          val (fr0, fw) = featuresOf(delta)
          // the commit that grows the table past the parquet-checkpoint
          // threshold stamps the READER feature in the same publish —
          // the next checkpoint boundary may then write entries as
          // parquet, and no pre-feature reader can mistake the
          // A-line-less text checkpoint for an empty snapshot. The
          // projected count is an estimate (removes may be stale under
          // contention): overshoot stamps one commit early, undershoot
          // stamps on the next — both safe.
          val projected = targetState.entries.size +
            delta.adds.size - delta.removes.size
          val fr =
            if (projected >= pqCkptEntries) fr0 + "parquetCheckpoint"
            else fr0
          if (fr.subsetOf(curProto._1) &&
              (fw ++ fr).subsetOf(curProto._2 ++ curProto._1)) delta
          else delta.copy(protocol = Some((curProto._1 ++ fr,
            curProto._2 ++ curProto._1 ++ fw ++ fr)))
        }
      tryCommit(stamped, target, op, params) match {
        case Some(v) =>
          // the checkpoint (and its retention pass) is DERIVED work —
          // a failure here (e.g. the reader gate refusing the fold right
          // after a protocol upgrade landed at a checkpoint boundary)
          // must never make the committed write look failed
          if (v % CheckpointInterval == 0) {
            try writeCheckpoint(v)
            catch {
              case scala.util.control.NonFatal(e) =>
                logger.warn(s"checkpoint at $v skipped: $e")
            }
          }
          // the user's commit already SUCCEEDED at v — the follow-on
          // compaction is best-effort derived work, so its failures
          // (a concurrent vacuum racing the size probe, commit-retry
          // exhaustion under contention) must never make the committed
          // write look failed (a caller that retried would double-write)
          if (autoCompact.isDefined && !inAutoCompact.get) {
            try maybeAutoCompact()
            catch {
              case scala.util.control.NonFatal(e) =>
                logger.warn(s"auto-compact after commit $v skipped: $e")
            }
          }
          return v
        case None =>
          tries += 1
          val head = latestVersion()
          if (canRebase(delta0, base, scope, head)) {
            occRebased.incrementAndGet()
            pending = Some((delta0, base))
            publishAt = head
          }
      }
    }
    throw new java.util.ConcurrentModificationException(
      s"MergeTable at $root: lost the commit race $MaxCommitRetries times")
  }

  /** Row-id allotment for a commit's fresh files (row tracking): each
    * add WITHOUT an allotment gets a contiguous block of ids starting
    * at the table's high-water mark at `target` (footer row count =
    * block width; the adding version = default row-commit-version),
    * and the delta carries the advanced mark as a W action. Active
    * when this handle enables the feature OR the table's protocol
    * already requires it (any supporting writer must maintain it).
    * Entries already carrying an allotment — RESTORE/DV re-adds,
    * clone-carried files — keep it verbatim and advance nothing: their
    * ids pre-date this commit, which is the stability contract. Pure
    * driver metadata (numFiles footer reads, memoized across commit
    * retries). */
  private def allotRowIds(delta: CommitDelta, target: TableState,
      rowsMemo: mutable.HashMap[String, Long]): CommitDelta = {
    val active = rowTracking ||
      target.meta.protocol._2.contains("rowTracking")
    if (!active || delta.adds.isEmpty ||
        delta.adds.forall(_.rowIds.isDefined)) return delta
    var next = target.meta.rowIdHwm
    val adds = delta.adds.map { e =>
      if (e.rowIds.isDefined) e
      else {
        val rows = rowsMemo.getOrElseUpdate(e.relPath, footerRowCount(e))
        val ri = RowIdInfo(next, rows, target.version + 1)
        next += rows
        e.copy(rowIds = Some(ri))
      }
    }
    delta.copy(adds = adds, rowIdHwm = Some(next))
  }

  /** Footer row count of a freshly written (immutable) file — driver
    * metadata, the same model as [[footerStats]]. */
  private def footerRowCount(e: FileEntry): Long = {
    val p = new org.apache.hadoop.fs.Path(root.resolve(e.relPath).toUri)
    org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      spark.sessionState.newHadoopConf(), p,
      org.apache.parquet.format.converter.ParquetMetadataConverter
        .NO_FILTER)
      .getBlocks.asScala.map(_.getRowCount).sum
  }

  /** The protocol features a commit delta (plus this handle's
    * configuration) REQUIRES — the auto-enablement input. Reader
    * features are semantics a reader must understand or it silently
    * mis-reads (DV anti-join, mapping retitles, a declared schema
    * overriding footers); constraint-channel rules are write-time
    * semantics a reader may ignore (writer features), split by their
    * name prefix into the three families they declare. The DV CONFIG
    * flag stamps on the handle's first commit — before the first
    * vector lands — so a DV-enabled table warns early and later
    * vector-attach commits stay protocol-free (hence rebasable). */
  private def featuresOf(delta: CommitDelta): (Set[String], Set[String]) = {
    val r = Set.newBuilder[String]
    val w = Set.newBuilder[String]
    if (deletionVectors || delta.adds.exists(_.dv.isDefined))
      r += "deletionVectors"
    if (delta.mRenames.nonEmpty || delta.mDrops.nonEmpty)
      r += "columnMapping"
    if (delta.mSchema.nonEmpty) r += "declaredSchema"
    // row tracking is READER-impacting: the W action and ri tokens are
    // new log grammar, and materialized `_graft_rid`/`_graft_rcv`
    // columns live in footers — a pre-feature reader would surface
    // them as data columns (silent mis-read, the gate's exact case)
    if (rowTracking || delta.rowIdHwm.isDefined ||
        delta.adds.exists(_.rowIds.isDefined))
      r += "rowTracking"
    // string file statistics are READER-impacting: the `c:S:...` stats
    // token is new manifest grammar a pre-r15 parser hard-fails on
    if (delta.adds.exists(_.stats.values.exists(_.strRange.isDefined)))
      r += "stringStats"
    delta.cAdds.foreach { case (n, _) =>
      if (n.startsWith(IdentityColumns.Prefix)) w += "identityColumns"
      else if (n.startsWith(GeneratedColumns.Prefix)) w += "generatedColumns"
      else w += "checkConstraints"
    }
    (r.result(), w.result())
  }

  /** OCC telemetry, cumulative on this handle: lost commits that REBASED
    * (same delta republished, no recompute) vs RECOMPUTED (attempt
    * re-run). Package-visible so specs can pin the protocol's shape —
    * a disjoint concurrent writer must take the rebase path. */
  private[lake] val occRebased = new java.util.concurrent.atomic.AtomicLong
  private[lake] val occRecomputed = new java.util.concurrent.atomic.AtomicLong

  /** Logical conflict detection (Delta's ConflictChecker): decide whether
    * `delta` — computed against snapshot `base`, with read scope `scope` —
    * may be re-published VERBATIM on top of `head`, i.e. whether the
    * concurrent commits in (base, head] provably did not invalidate the
    * computation. Sound, not complete: any doubt (missing delta file,
    * foreign metadata action, unknown op label) answers false and the
    * caller recomputes, which is always correct. The checks:
    *
    *   - our own metadata deltas (schema/constraint/mapping changes)
    *     never rebase — ordering against concurrent DDL matters;
    *   - a concurrent schema/constraint/mapping commit invalidates any
    *     cached computation (enforcement and generated rules may differ);
    *   - a concurrent txn on an appId our delta also sets conflicts (the
    *     exactly-once watermark must be re-read, never blindly max-ed);
    *   - a file our delta removes that a concurrent commit removed OR
    *     re-added conflicts — remove/remove is the delete/delete lost
    *     update, and a re-Add (deletion-vector attach, stats retrofit)
    *     changed content our computation consumed;
    *   - scope-specific read invalidation, see [[ReadScope]]. For
    *     [[ReadScope.Everything]] only commits whose operation label is
    *     content-preserving (OPTIMIZE / ANALYZE / PURGE / VACUUM) and
    *     whose file actions stay out of every partition we touched can
    *     rebase under us.
    *
    * Cost: O(live metadata at base + concurrent changed files) on the
    * DRIVER — never a Spark job; the recompute it avoids is one. */
  private def canRebase(delta: CommitDelta, base: Long,
      scope: ReadScope, head: Long): Boolean = {
    if (delta.cAdds.nonEmpty || delta.cDrops.nonEmpty ||
        delta.mRenames.nonEmpty || delta.mDrops.nonEmpty ||
        delta.mSchema.nonEmpty || delta.protocol.nonEmpty) return false
    if (head <= base) return false // lost, yet no newer version visible
    val ourRemoves = delta.removes.toSet
    val ourTxnApps = delta.txns.iterator.map(_._1).toSet
    // live relPath → partition map at `base`, advanced commit-by-commit
    // so concurrently-removed files still resolve to partition values.
    // A concurrent VACUUM may have pruned the deltas `base` needs — in
    // keeping with the any-doubt-answers-false contract, that answers
    // "recompute", never an exception out of the commit loop.
    val baseSnapshot =
      try stateAt(base).entries
      catch { case scala.util.control.NonFatal(_) => return false }
    val live = mutable.HashMap.empty[String, Option[String]]
    baseSnapshot.foreach(e => live.update(e.relPath, e.partitionValue))
    // every partition our operation wrote into or rewrote (resolved at
    // base, BEFORE the map advances)
    val ourParts: Set[Option[String]] =
      (delta.adds.iterator.map(_.partitionValue) ++
        delta.removes.iterator.flatMap(live.get)).toSet
    var w = base + 1
    while (w <= head) {
      val p = logDir.resolve(f"$w%020d.txt")
      if (!Files.exists(p)) return false // vacuum raced us — recompute
      // the same race can fire BETWEEN the exists probe and the read
      // (or the commitOpOf read below): any-doubt-answers-false, an
      // exception must never escape the commit loop.
      val acts =
        try readLogFile(p)
        catch { case scala.util.control.NonFatal(_) => return false }
      val foreign = acts.exists {
        case _: Add | _: Remove | _: InCommitTs => false
        // a concurrent row-id allocation only advances the high-water
        // mark; the republished delta re-allots against the new head
        // (retryingCommit re-derives allotments every attempt)
        case _: SetRowIdHwm                     => false
        case SetTxn(app, _)                     => ourTxnApps.contains(app)
        case _                                  => true // metadata action
      }
      if (foreign) return false
      val cAdds = acts.collect { case Add(e) => e }
      val cRemoves = acts.collect { case Remove(f) => f }
      if (cRemoves.exists(ourRemoves.contains)) return false
      if (cAdds.exists(e => ourRemoves.contains(e.relPath))) return false
      val scopeOk =
        try scope match {
          case ReadScope.Nothing =>
            // an append's schema-conformance check ran against `base`;
            // on a table with NO declared schema the UNION-inferred
            // schema can drift under any concurrent commit that
            // replaces or removes live files (overwrite, RESTORE, a
            // rewrite-delete erasing a column's last carrier) or adds
            // files with an evolved shape (schema-evolving MERGE) —
            // verbatim republication could then publish rows that no
            // longer conform. Rebase only over commits that provably
            // preserve the inferred schema: content-preserving
            // rewrites, plain appends (themselves conformance-checked
            // against the same schema), and removal-free DELETEs (a
            // deletion-vector attach re-Adds the same files) — else
            // recompute, whose closure re-validates (r14 review
            // finding widening the overwrite-only guard).
            declaredSchema.isDefined || {
              val op = commitOpOf(w)
              op.exists(o => ContentPreservingOps.contains(o._1)) ||
                (cRemoves.isEmpty && op.exists(o =>
                  (o._1 == "WRITE" &&
                    o._2.get("mode").contains("Append")) ||
                    o._1 == "DELETE"))
            }
          case ReadScope.RemovedFiles => true
          case ReadScope.Everything =>
            commitOpOf(w).exists(o => ContentPreservingOps.contains(o._1)) &&
              !cAdds.exists(e => ourParts.contains(e.partitionValue)) &&
              !cRemoves.exists(f => live.get(f).exists(ourParts.contains))
        } catch { case scala.util.control.NonFatal(_) => return false }
      if (!scopeOk) return false
      cRemoves.foreach(live.remove)
      cAdds.foreach(e => live.update(e.relPath, e.partitionValue))
      w += 1
    }
    true
  }

  /** Reentrancy guard for [[withAutoCompact]]'s follow-on commit (the
    * compaction pass must not re-trigger itself). */
  private val inAutoCompact = new ThreadLocal[Boolean] {
    override def initialValue: Boolean = false
  }

  /** [[withAutoCompact]]'s post-commit hook: [[compactSmall]]'s own
    * file selection ([[smallFileBins]], driver metadata only) decides
    * whether any bin would be rewritten; only then does the
    * [[compactSmall]] commit run (so a healthy table never pays an empty
    * follow-on commit per write). */
  private def maybeAutoCompact(): Unit = {
    val (target, minFiles) = autoCompact.get
    if (smallFileBins(latest().entries, target, minFiles).nonEmpty) {
      inAutoCompact.set(true)
      try compactSmall(target, minFiles)
      finally inAutoCompact.set(false)
    }
  }

  // ---- write paths --------------------------------------------------------

  /** Write `df` into a fresh commit dir; return its new file entries.
    * The frame arrives LOGICAL (all internal flows are logical);
    * files are written PHYSICAL so a rename never rewrites data.
    * `rewrite` marks the OPTIMIZE family (compactions, clustering,
    * vector purge): its frame may carry the hidden row-tracking columns,
    * and it already has the file layout its caller chose, so the
    * optimized-write rebalance is skipped — a rebalance would override
    * `filesPerPartition`, bin and clustering layouts, and under adaptive
    * execution split a bin below its target size. */
  private def writeData(dfIn: DataFrame,
      rewrite: Boolean = false): (String, Seq[FileEntry]) =
    labeled("writeData")(writeDataImpl(dfIn, rewrite))

  private def writeDataImpl(dfIn: DataFrame,
      rewrite: Boolean): (String, Seq[FileEntry]) = {
    require(rewrite || !dfIn.columns.exists(HiddenCols.contains),
      s"MergeTable at $root: column names ${HiddenCols.mkString("/")} " +
        "are reserved for row tracking")
    val df = toPhysical(dfIn)
    val commitDir = s"commit-${UUID.randomUUID().toString.take(12)}"
    val target = root.resolve(commitDir)
    if (partitionCols.nonEmpty) {
      // optimizeWrite: rebalance rows onto their hive partition so the
      // commit adds ~one file per partition, not tasks×partitions; AQE
      // splits a skewed partition by advisory size
      val out =
        if (optimizeWrite && !rewrite)
          df.hint("rebalance", partitionCols.map(col): _*)
        else df
      out.write.partitionBy(partitionCols: _*).mode("overwrite")
        .parquet(target.toString)
    } else df.write.mode("overwrite").parquet(target.toString)
    val writtenSchema = df.schema
    val entries = Using.resource(Files.walk(target)) { stream =>
      stream.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet") &&
          Files.isRegularFile(p))
        .map { p =>
          val rel = root.relativize(p).toString
          val segs = target.relativize(p).iterator().asScala
            .map(_.toString).toSeq
          // Spark writes NULL partition values as the hive default dir;
          // normalize to None so the touched-partition set (which maps a
          // null source value to None) agrees with the written files.
          val vals = partitionCols.map { pc =>
            segs.find(_.startsWith(pc + "="))
              .map(s => unescapePathValue(s.substring(pc.length + 1)))
              .filter(_ != HiveDefaultPartition)
          }
          FileEntry(rel, encodePartValues(vals))
        }.toSeq
    }
    // Seed the data-schema memo with the WRITTEN data fields,
    // recursively nullable-ized — exactly what footer inference returns
    // for files this writer just produced (probed: read-back differs
    // from the written schema ONLY in nullability, at every nesting
    // level), keyed on the file [[dirSchema]] reads first; then resolve
    // the fresh dir, whose partition fields come from the dir names. Its
    // first read then reads no footer (r15 job diet: 15-20 footer-
    // inference jobs per lifecycle query, one per commit).
    if (entries.nonEmpty) {
      dataSchemaMemo.get(entries.map(e => root.resolve(e.relPath)
          .toAbsolutePath.normalize.toString).min)(
        MergeTable.allNullable(org.apache.spark.sql.types.StructType(
          writtenSchema.filterNot(f => partitionCols.contains(f.name)))))
      dirSchema(commitDir, entries)
    }
    (commitDir, withBlooms(withStats(target, entries), writtenSchema))
  }

  /** Attach a bloom-index ref to every fresh entry, writing one sparse
    * bloom sidecar dir for the commit (Delta's per-file bloom-filter
    * index, `delta.bloomFilter.*`). The filter content is built fully
    * DISTRIBUTED: each bloom'd column's non-null values hash to
    * [[BloomK]] bit positions (double hashing over codegen'd
    * murmur3 + xxhash64 — both engine-native, no UDF), positions fold
    * into 64-bit words with a `bit_or` map-side-combinable aggregate,
    * and only NON-ZERO words are written — the sidecar is O(set bits),
    * the driver sees nothing but the wordcount-bounded parquet write.
    * `m` is a power of two sized from the commit's largest file
    * ([[BloomBitsPerRow]] bits/row ⇒ ~0.5% false-positive rate), and is
    * recorded in the manifest token so probes against mixed-m history
    * hash per-commit correctly. */
  private def withBlooms(entries: Seq[FileEntry],
      dataSchema: org.apache.spark.sql.types.StructType): Seq[FileEntry] =
    if (bloomCols.isEmpty || entries.isEmpty) entries
    else {
      val maxRows = fileRowCounts(entries).values.foldLeft(1L)(math.max)
      val m = bloomBits(maxRows)
      // manifest-backed, bloom-columns-only scan of the freshly written
      // files (r15: the plain spark.read.parquet here paid
      // DataFrameReader listing + footer inference per bloom'd COMMIT —
      // at micro-batch cadence, once per batch)
      val bloomFields = org.apache.spark.sql.types.StructType(
        dataSchema.fields.filter(f => bloomCols.contains(f.name)))
      require(bloomFields.length == bloomCols.size,
        s"MergeTable at $root: bloom column(s) " +
          s"${bloomCols.filterNot(dataSchema.fieldNames.contains)
            .mkString(", ")} not present in the data files (bloom " +
          "columns must be data columns, not the partition column)")
      val scan = manifestScan(indexOf(entries, Nil),
        MergeTable.allNullable(bloomFields))
        .withColumn(BfFile,
          fileTagExpr(col("_metadata.file_path")))
      val hashed = bloomCols.map { c =>
        val v = col(c).cast("long")
        scan.filter(v.isNotNull).select(
          col(BfFile), lit(c).as(BfCol),
          pmod(hash(v).cast("long"), lit(m.toLong)).as("h1"),
          pmod(xxhash64(v), lit(m.toLong)).bitwiseOR(lit(1L)).as("h2"))
      }.reduce(_ unionByName _)
      val words = hashed
        .select(col(BfFile), col(BfCol),
          explode(array((0 until BloomK).map(i =>
            pmod(col("h1") + lit(i.toLong) * col("h2"), lit(m.toLong))): _*))
            .as("pos"))
        .groupBy(col(BfFile), col(BfCol),
          expr("pos DIV 64").as(BfWord))
        .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), " +
          "CAST(pos % 64 AS INT)))").as(BfBits))
      val dir = s"$BloomDirName/bf-${UUID.randomUUID().toString.take(12)}"
      words.write.parquet(root.resolve(dir).toString)
      val ref = BloomRef(dir, m, bloomCols)
      entries.map(_.copy(bloom = Some(ref)))
    }

  /** Bloom bit count for a file of `rows` rows: nextPow2(16 × rows),
    * clamped to [[[BloomMinBits]], [[BloomMaxBits]]]. Power of two so
    * the odd xxhash64 stride of the double hashing cycles the full
    * position space. */
  private def bloomBits(rows: Long): Int = {
    val want = math.min(BloomMaxBits.toLong,
      math.max(BloomMinBits.toLong, BloomBitsPerRow * rows))
    java.lang.Long.highestOneBit(want - 1) match {
      case h if h * 2 <= BloomMaxBits => (h * 2).toInt
      case _                          => BloomMaxBits
    }
  }

  /** Attach per-file min/max + null/row counts of every column in
    * `statsCols` (Delta's configurable stats-column contract, incl. its
    * nullCount) in ONE metadata-scale pass over the freshly written
    * commit dir — numFiles rows to the driver regardless of how many
    * columns are stats'd. */
  private def withStats(target: Path,
      entries: Seq[FileEntry]): Seq[FileEntry] =
    // entries.isEmpty: a rewrite that keeps nothing (e.g. a DELETE
    // matching every row of every touched file) writes a part-less
    // commit dir — inferring parquet schema over it would throw
    if (statsCols.isEmpty || entries.isEmpty) entries
    else statsForFiles(entries)

  /** Per-file stats for an ARBITRARY live-entry subset — the shared
    * engine under [[withStats]] (fresh commits) and [[collectStats]]
    * (retrofits). Fast path first: when every stats column is a PLAIN
    * signed integer in every file, the stats come straight from the
    * parquet FOOTERS ([[footerStats]]) — numFiles driver metadata
    * reads, no Spark job. Otherwise one mergeSchema multi-path scan
    * grouped by file identity; a file lacking a stats'd column reads
    * it as all-NULL, which the nullCount contract represents
    * exactly. */
  private def statsForFiles(entries: Seq[FileEntry]): Seq[FileEntry] =
    footerStats(entries) match {
      case Some(byKey) => attachStats(entries, byKey)
      case None        => aggStatsForFiles(entries)
    }

  /** Footer fast path for [[statsForFiles]]: per-file min/max/
    * nullCount/rowCount read from the parquet footers on the DRIVER —
    * the same numFiles-scale metadata model as the manifest itself,
    * replacing a Spark job that re-read every fresh commit's data (at
    * streaming/micro-batch commit cadence that job — and the AQE
    * broadcast futures under it — was a visible slice of EVERY write;
    * r14 job diet, measured on the q_stream_cdc drain).
    *
    * Sound ONLY where footer min/max IS the long-cast contract's
    * value: plain signed INT32/INT64 (no date/timestamp/decimal/
    * unsigned annotation — Spark's `cast(ts as long)` is seconds while
    * the footer holds micros, a date cast is a type error, unsigned
    * reinterprets the bits). Anything else — or a missing statistics
    * block, an unset null count, an unreadable footer — answers None
    * and the aggregation pass runs as before. A stats column ABSENT
    * from a file's schema is all-NULL by the mergeSchema contract. */
  private def footerStats(entries: Seq[FileEntry])
      : Option[Map[String, Map[String, ColStat]]] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{INT32, INT64}
    val conf = spark.sessionState.newHadoopConf()
    val out = Map.newBuilder[String, Map[String, ColStat]]
    entries.foreach { e =>
      val p = new org.apache.hadoop.fs.Path(root.resolve(e.relPath).toUri)
      val footer =
        try org.apache.parquet.hadoop.ParquetFileReader.readFooter(
          conf, p,
          org.apache.parquet.format.converter
            .ParquetMetadataConverter.NO_FILTER)
        catch { case scala.util.control.NonFatal(_) => return None }
      val schema = footer.getFileMetaData.getSchema
      val blocks = footer.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val stats = statsCols.map { c =>
        if (!schema.containsField(c))
          // a file without the column: the agg pass owns this case —
          // it distinguishes "absent from one file" (all-NULL) from
          // "absent everywhere" (a caller error its require reports)
          return None
        else {
          val t = schema.getType(schema.getFieldIndex(c))
          if (!t.isPrimitive) return None
          val pt = t.asPrimitiveType()
          val ann = pt.getLogicalTypeAnnotation
          val annOk = ann == null || (ann match {
            case i: org.apache.parquet.schema.LogicalTypeAnnotation
              .IntLogicalTypeAnnotation => i.isSigned
            case _ => false
          })
          val ptn = pt.getPrimitiveTypeName
          val isStr = ptn ==
            org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
              .BINARY && ann.isInstanceOf[
                org.apache.parquet.schema.LogicalTypeAnnotation
                  .StringLogicalTypeAnnotation]
          if (!isStr && ((ptn != INT32 && ptn != INT64) || !annOk))
            return None
          var mn = Long.MaxValue
          var mx = Long.MinValue
          // string bounds fold by CODE POINT; a writer-truncated footer
          // bound is already a sound lower/upper bound (parquet-mr's
          // BinaryTruncator keeps that contract), and our own
          // truncation at the end preserves it
          var smn: String = null
          var smx: String = null
          var nulls = 0L
          var any = false
          blocks.foreach { b =>
            val cc = b.getColumns.asScala
              .find(_.getPath.toDotString == c).getOrElse(return None)
            val st = cc.getStatistics
            if (st == null || !st.isNumNullsSet) return None
            nulls += st.getNumNulls
            if (st.hasNonNullValue) {
              any = true
              if (isStr) {
                val bmn = st.genericGetMin
                  .asInstanceOf[org.apache.parquet.io.api.Binary]
                  .toStringUsingUTF8
                val bmx = st.genericGetMax
                  .asInstanceOf[org.apache.parquet.io.api.Binary]
                  .toStringUsingUTF8
                if (smn == null || MergeTable.cpCompare(bmn, smn) < 0)
                  smn = bmn
                if (smx == null || MergeTable.cpCompare(bmx, smx) > 0)
                  smx = bmx
              } else {
                mn = math.min(mn,
                  st.genericGetMin.asInstanceOf[Number].longValue)
                mx = math.max(mx,
                  st.genericGetMax.asInstanceOf[Number].longValue)
              }
            }
          }
          c -> (if (isStr)
            ColStat(None, Some((nulls, rows)),
              if (any) Some((MergeTable.statsTruncMin(smn),
                MergeTable.statsTruncMax(smx))) else None)
          else ColStat(if (any) Some((mn, mx)) else None,
            Some((nulls, rows))))
        }
      }.toMap
      out += fileKey(e.relPath) -> stats
    }
    Some(out.result())
  }

  private def aggStatsForFiles(entries: Seq[FileEntry]): Seq[FileEntry] = {
    val scan = spark.read
      .option("mergeSchema", "true")
      .parquet(entries.map(e => root.resolve(e.relPath).toString): _*)
    val present = scan.columns.toSet
    require(statsCols.forall(present.contains),
      s"MergeTable at $root: stats column(s) " +
        s"${statsCols.filterNot(present.contains).mkString(", ")} not " +
        "present in the data files (stats columns must be data " +
        "columns, not the partition column)")
    // STRING stats columns collect raw string min/max (truncated at
    // attach — see [[MergeTable.statsTruncMin]]/[[statsTruncMax]]);
    // everything else keeps the long-cast contract
    val isStr: Map[String, Boolean] = statsCols.map(c => c ->
      (scan.schema(scan.schema.fieldIndex(c)).dataType ==
        org.apache.spark.sql.types.StringType)).toMap
    val aggs = count(lit(1)).as("rows") +: statsCols.flatMap(c => Seq(
      (if (isStr(c)) min(col(c)) else min(col(c).cast("long")))
        .as(s"mn_$c"),
      (if (isStr(c)) max(col(c)) else max(col(c).cast("long")))
        .as(s"mx_$c"),
      count(col(c)).as(s"nn_$c")))
    val byKey = scan
      .groupBy(fileTagExpr(col("_metadata.file_path")).as("f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        val rows = r.getLong(1)
        val m = statsCols.zipWithIndex.map { case (c, i) =>
          val (mnI, mxI, nnI) = (2 + 3 * i, 3 + 3 * i, 4 + 3 * i)
          val counts = Some((rows - r.getLong(nnI), rows))
          c -> (if (isStr(c)) {
            val sr =
              if (r.isNullAt(mnI) || r.isNullAt(mxI)) None
              else Some((MergeTable.statsTruncMin(r.getString(mnI)),
                MergeTable.statsTruncMax(r.getString(mxI))))
            ColStat(None, counts, sr)
          } else {
            val range =
              if (r.isNullAt(mnI) || r.isNullAt(mxI)) None
              else Some((r.getLong(mnI), r.getLong(mxI)))
            ColStat(range, counts)
          })
        }.toMap
        r.getString(0) -> m
      }
      .toMap
    attachStats(entries, byKey)
  }

  private def attachStats(entries: Seq[FileEntry],
      byKey: Map[String, Map[String, ColStat]]): Seq[FileEntry] = {
    // a file contributing no group has ZERO rows (e.g. the empty part
    // file of a rewrite that kept nothing): record explicit zero-row
    // stats — readers can skip it entirely, and collectStats sees it
    // as covered instead of re-Adding it on every call, forever
    val zeroRows = statsCols
      .map(c => c -> ColStat(None, Some((0L, 0L)))).toMap
    entries.map { e =>
      byKey.get(fileKey(e.relPath)) match {
        case Some(m) => e.copy(stats = m)
        case None =>
          // zero-row stats make readers skip the file PERMANENTLY, so a
          // future fileKey/tag correlation bug here would be silent data
          // loss instead of a harmless no-stats degradation — leave an
          // audit trail for every zero-row attribution (rare: only the
          // empty part file of a rewrite that kept nothing)
          logger.warn(s"MergeTable at $root: recording zero-row stats " +
            s"for ${e.relPath} (no rows grouped under its file key)")
          e.copy(stats = zeroRows)
      }
    }
  }

  /** RETROFIT file statistics (SQL: `ANALYZE TABLE t COMPUTE
    * STATISTICS`): collect manifest stats for every live file MISSING
    * any declared stats column — one commit that re-Adds those entries
    * with stats attached, zero rows rewritten. The natural companion
    * to [[convertInPlace]] (adopted files carry no stats, so
    * [[readRange]]/[[scan]] can't skip them until either a rewrite or
    * this) and to a handle whose statsCols grew after data landed.
    * Cost: O(stat-less file bytes) in one scan; already-stats'd files
    * are untouched. The change feed across the commit is EMPTY — the
    * CDF file-set signature is (relPath, dv), which this commit
    * preserves. No-op (no commit) when every file is covered. */
  def collectStats(): Long = {
    require(statsCols.nonEmpty,
      s"MergeTable at $root: no stats columns declared on this handle")
    def missing(live: Seq[FileEntry]): Seq[FileEntry] =
      live.filter(e => statsCols.exists(c => !e.stats.contains(c)))
    if (missing(latest().entries).isEmpty) return latestVersion()
    retryingCommit("ANALYZE") { () =>
      val TableState(v, live, _) = latest()
      val todo = missing(live)
      if (todo.isEmpty) (CommitDelta(Nil, Nil), v)
      else (CommitDelta(statsForFiles(todo), Nil), v)
    }
  }

  /** S5 — full overwrite (the reference's first-load path,
    * ref: orders_etl.py:93-96). Overwrite replaces the whole table, so on
    * a commit collision the same entries re-publish at the fresh version
    * (last-full-writer-wins is the overwrite contract). It keeps no file
    * live, so it may re-lay a table under this handle's partition
    * columns. */
  def overwrite(df0: DataFrame): Long = {
    val df1 = withGenerated(df0)
    // a DECLARED schema is binding: overwrite replaces rows, not the
    // contract (Delta requires overwriteSchema to change it) — evolve
    // through declareSchema/addColumn instead
    def checkDeclared(df: DataFrame): Unit = declaredSchema.foreach { d0 =>
      // compare against the VISIBLE declared schema: a dropped column
      // still lives in the log schema (metadata-only drop), but no
      // incoming frame may carry it — toPhysical refuses the name — so
      // keeping it in the target made the check unsatisfiable after
      // DROP COLUMN (r13 review finding)
      val d = visibleDeclared(d0)
      val phys = toPhysical(df).schema
      require(phys.fields.map(f => (f.name, f.dataType)).toSet ==
        d.fields.map(f => (f.name, f.dataType)).toSet,
        s"overwrite: schema {${phys.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")}} " +
          s"!= declared {${d.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")}}" +
          " — use declareSchema/addColumn to evolve the contract")
    }
    val assignsIdentity =
      identityColumns.keys.exists(c => !df1.columns.contains(c))
    if (!assignsIdentity) {
      enforceConstraints(df1, "overwrite")
      checkDeclared(df1)
      val (_, entries) = writeData(df1)
      retryingCommit("WRITE", Map("mode" -> "Overwrite")) { () =>
        val TableState(version, live, _) = latest(laidOut = false)
        (CommitDelta(entries, live.map(_.relPath)), version)
      }
    } else {
      // identity assignment reads the allocation watermark, so (as in
      // append) the WHOLE write runs inside the optimistic loop: a
      // lost race re-assigns from the fresh watermark. Assigning
      // outside would keep LIVE-row uniqueness (the overwrite removes
      // the racer's rows) but replayed entries could reuse values a
      // racing append already committed — visible to time-travel/CDF
      // readers of the superseded version, breaking IdentityColumns'
      // unique-across-history contract.
      retryingCommit("WRITE", Map("mode" -> "Overwrite")) { () =>
        val TableState(version, live, meta) = latest(laidOut = false)
        val (df, idTxns) = withIdentity(df1, meta)
        enforceConstraints(df, "overwrite")
        checkDeclared(df)
        val (_, entries) = writeData(df)
        (CommitDelta(entries, live.map(_.relPath), txns = idTxns), version)
      }
    }
  }

  /** Delta's `replaceWhere` (SQL: `INSERT OVERWRITE t WHERE <pred>`):
    * atomically REPLACE the partitions `predicate` selects with `df` —
    * the selected partitions' files are removed and the new data added
    * in ONE commit, so a reader sees the old scope or the new scope,
    * never a mix; untouched partitions' files are carried over
    * unchanged (the day-backfill primitive at any table size: cost is
    * O(new data) + O(selected partitions' metadata)). The predicate
    * must reference ONLY partition columns (the removed files are the
    * ones whose typed partition row satisfies it, the same test as
    * OPTIMIZE WHERE), and EVERY incoming row must satisfy it — a row
    * that would land outside the replaced scope fails the statement
    * (Delta validates replaceWhere the same way), so the operation can
    * never silently leak rows into partitions it did not clear. */
  def overwriteWhere(df0: DataFrame, predicate: Column): Long = {
    require(partitionCols.nonEmpty,
      s"MergeTable at $root: replaceWhere requires a partitioned table")
    val df1 = withGenerated(df0)
    retryingCommit("WRITE",
      Map("mode" -> "Overwrite",
        "replaceWhere" -> predicateSql(predicate))) { () =>
      val TableState(version, live, meta) = latest()
      val (df, idTxns) = withIdentity(df1, meta)
      enforceConstraints(df, "replaceWhere")
      // the incoming slice must conform to the TABLE schema — kept
      // partitions and the new files share every later scan, so a
      // drifted write would silently null-fill or break the read
      // (declared schema when there is one, the live files' else)
      val tableSchema: Option[org.apache.spark.sql.types.StructType] =
        // visible-physical names on the table side: the comparison
        // below maps the incoming frame through toPhysical, a dropped
        // column may not appear on either side, and the footer branch
        // uses the memoized metadata-only schema instead of building a
        // throwaway scan plan inside the commit attempt (r13 review)
        meta.schema.map(visibleDeclared).orElse(
          if (live.isEmpty) None
          else Some(visibleDeclared(physicalSchemaOf(live, None))))
      tableSchema.foreach { d =>
        // compare PHYSICAL names: the declared schema stores them, and
        // the incoming frame arrives with logical (possibly renamed)
        // columns — mirroring overwrite's checkDeclared, or a conforming
        // slice on a renamed-column table is spuriously rejected
        val got = toPhysical(df).schema
        require(got.fields.map(f => (f.name, f.dataType)).toSet ==
          d.fields.map(f => (f.name, f.dataType)).toSet,
          s"replaceWhere: schema {${got.map(f =>
            s"${f.name}:${f.dataType.simpleString}").mkString(",")}} != " +
            s"table {${d.map(f =>
              s"${f.name}:${f.dataType.simpleString}").mkString(",")}}")
      }
      // scope containment: predicate may reference only partition
      // columns, and every incoming row must satisfy it
      val index = indexOf(live, meta.schema)
      val cond = partitionCondition(predicate,
        if (live.isEmpty) df.schema else index.partitionSchema)
        .toOption.filter(_.references.nonEmpty)
      require(cond.isDefined,
        s"replaceWhere predicate must reference only the partition " +
          s"column(s) ${partitionCols.mkString(", ")}, got: $predicate")
      val leak = df.filter(not(coalesce(predicate, lit(false))))
        .limit(1).collect()
      require(leak.isEmpty,
        s"replaceWhere: row ${leak.headOption.getOrElse("")} does not " +
          s"satisfy ($predicate) — rows may not land outside the " +
          "replaced scope")
      val removed = filesWhere(index, cond.get)
      val (_, entries) = writeData(df)
      (CommitDelta(entries, removed.map(_.relPath), txns = idTxns),
        version)
    }
  }

  /** S6 — MERGE upsert: source wins on key match, inserts otherwise;
    * untouched partitions' files are carried over unchanged. Runs on
    * the shared MERGE core ([[mergeCore]]): a commit collision
    * recomputes against the fresh snapshot (a concurrent writer's files
    * are merged with, not clobbered), and orphaned data dirs from lost
    * attempts are reclaimed by [[vacuum]]. */
  def merge(source: DataFrame, pk: String): Long =
    merge(source, pk, evolveSchema = false)

  /** MERGE with optional schema evolution (the reference's DOC-ONLY
    * "Schema Evolution" claim, README.md:14,117 — implemented for real,
    * mirroring Delta's `mergeSchema`): with `evolveSchema`, columns new
    * in the source are ADDED to the table (existing rows read NULL) and
    * columns missing from the source are kept (source rows get NULL).
    * Without it, schema drift fails fast (enforcement — the reference's
    * actual behavior), on an empty declared table too. */
  def merge(source0: DataFrame, pk: String, evolveSchema: Boolean): Long = {
    val source = withGenerated(source0)
    requireIdentityCarried(source, "MERGE")
    enforceConstraints(source, "MERGE source")
    val src = source.cache()
    try {
      val (upserts, sourceRows) = MergeTable.countedRows(src)
      upsert(Map("key" -> pk), upserts, src.select(col(pk)).distinct(), pk,
        evolveSchema, sourceRows)
    } finally src.unpersist()
  }

  /** The row step [[merge]] and [[mergeCdc]] share: the touched files
    * minus every row whose key is in `keys`, plus `upserts`. */
  private def upsert(params: Map[String, String], upserts: DataFrame,
      keys: DataFrame, pk: String, evolveSchema: Boolean,
      sourceRows: () => Long): Long =
    mergeCore(params, Some(upserts), keys, Seq(pk), evolveSchema,
        onEmpty = upserts, sourceRows = sourceRows) { touched =>
      touched.join(keys, Seq(pk), "left_anti")
        .unionByName(upserts, allowMissingColumns = evolveSchema)
    }

  /** The MERGE core behind every MERGE entry point — one optimistic
    * commit that rewrites only the touched files:
    *
    *   - snapshot: the latest live files, re-read on every OCC retry;
    *   - schema: without `evolveSchema`, `src`'s columns must be the
    *     table's (checked from metadata, also on an empty table with a
    *     declared schema); with it, the commit evolves the declared
    *     schema to carry the new columns; a merge that writes no source
    *     row only needs `keyCols` in the table;
    *   - touched files: on a partitioned table, the files of every
    *     partition `src` writes into or holding a key of `keys` (ONE
    *     action, cardinality-guarded — partition tuples are driver
    *     metadata); on an unpartitioned table, or with `touchAll`,
    *     every live file;
    *   - row step: `rows` of the touched files' rows is what replaces
    *     them;
    *     an empty table gets `onEmpty`, or no write when `src` is None;
    *   - commit: the written files are added, the touched ones removed;
    *     the header records `numSourceRows` from `sourceRows`, a
    *     [[MergeTable.countedRows]] count the caller's source carries,
    *     read once the first action that reads the whole source has
    *     returned (the touched-partition collect on a partitioned
    *     table, else the write), so counting runs no job of its own.
    *
    * `src` is the source rows the merge may write; a merge that writes
    * none passes None. */
  private def mergeCore(params: Map[String, String], src: Option[DataFrame],
      keys: DataFrame, keyCols: Seq[String], evolveSchema: Boolean,
      onEmpty: DataFrame, sourceRows: () => Long,
      touchAll: Boolean = false)(
      rows: DataFrame => DataFrame): Long =
    retryingCommit("MERGE", params) { () =>
      val TableState(version, live, meta) = latest()
      if (!evolveSchema && (live.nonEmpty || meta.schema.isDefined)) {
        val tCols = logicalSchemaOf(live, meta).fieldNames.toSeq
        src match {
          case Some(s) => require(s.columns.toSet == tCols.toSet,
            s"merge: source schema {${s.columns.mkString(",")}} != table " +
              s"schema {${tCols.mkString(",")}} — pass evolveSchema to evolve")
          case None => require(keyCols.forall(tCols.contains),
            s"merge: key columns {${keyCols.mkString(",")}} not all in " +
              s"table schema {${tCols.mkString(",")}}")
        }
      }
      val touched =
        if (live.isEmpty || touchAll) live
        else if (partitionCols.isEmpty) {
          if (live.size >= FullRewriteWarnFiles)
            logger.warn(
              s"MergeTable at $root: unpartitioned MERGE rewrites all " +
                s"${live.size} live files; declare a partition column " +
                "to get partition-level file skipping")
          live
        } else {
          val (srcParts, matchedParts) =
            mergeTouchedParts(src, keys, keyCols, live, meta)
          require(srcParts.size <= MaxPartitionsPerMerge,
            s"merge touches ${srcParts.size} partitions (> " +
              s"$MaxPartitionsPerMerge); repartition the source or " +
              "raise the guard — partition values are driver metadata")
          val parts = srcParts ++ matchedParts
          sourceRows() // the collect read every source row
          live.filter(e => parts.contains(e.partitionValue))
        }
      // a merge that writes no source row has nothing to write into an
      // empty table (and its source may hold the key columns alone)
      val out =
        if (live.isEmpty) src.map(_ => onEmpty)
        else Some(rows(readEntries(touched, meta.schema, meta.mapping)))
      val newEntries = out.fold(Seq.empty[FileEntry])(writeData(_)._2)
      (CommitDelta(newEntries, touched.map(_.relPath),
        mSchema = if (evolveSchema) out.flatMap(evolvedSchema(_, meta)) else None,
        metrics = Map("numSourceRows" -> sourceRows())), version)
    }

  /** When this table has a DECLARED schema and a schema-evolving write
    * introduced new columns, the SAME commit must update the log schema
    * (Delta updates its metaData action on evolving commits) —
    * otherwise the declared schema would hide the new columns from
    * every later read. No-op (None) without a declared schema or
    * without new columns. */
  private def evolvedSchema(out: DataFrame, meta: MetaState): Option[String] =
    meta.schema.flatMap { d =>
      val phys = toPhysical(out).schema
      val add = phys.fields.filterNot(f => d.fieldNames.contains(f.name))
      if (add.isEmpty) None
      else Some(org.apache.spark.sql.types.StructType(
        d.fields ++ add.map(_.copy(nullable = true))).json)
    }

  /** APPEND — a commit that only ADDS files (Delta's
    * `.write.mode("append")`; SQL `INSERT INTO`): no reads, no
    * removes — O(written data) regardless of table size, the
    * blind-write fast path MERGE cannot be (it must read matched
    * partitions). The schema must match the live column set exactly
    * (an appended frame with drifted columns fails fast); key
    * uniqueness is the CALLER's contract, exactly as in Delta — an
    * append never deduplicates. */
  def append(df0: DataFrame): Long = appendImpl(df0, None)

  /** [[append]] carrying a TRANSACTION WATERMARK (Delta's `txn`
    * action / `txnAppId`+`txnVersion` idempotent-write options): the
    * commit atomically records `appId → txnV`, and a call whose `txnV`
    * is at or below the recorded watermark is a NO-OP — the
    * exactly-once primitive the [[graft.streaming.GraftSink]] builds
    * on (batchId = txnV; a crash between the engine's offset commit
    * and ours replays the batch, which this gate absorbs). The replay
    * check runs BOTH before writing (cheap fast path) and inside the
    * optimistic-commit loop against the fresh snapshot (a concurrent
    * same-app writer that landed first turns this commit into a no-op;
    * its orphaned data dir is vacuum-reclaimed like any lost race). */
  def appendWithTxn(df0: DataFrame, appId: String, txnV: Long): Long = {
    require(appId.nonEmpty, "appendWithTxn: empty appId")
    appendImpl(df0, Some(appId -> txnV))
  }

  private def appendOp(txn: Option[(String, Long)]): Map[String, String] =
    Map("mode" -> "Append") ++ txn.map { case (a, bv) =>
      Map("txnAppId" -> a, "txnVersion" -> bv.toString)
    }.getOrElse(Map.empty)

  private def appendImpl(df0: DataFrame,
      txn: Option[(String, Long)]): Long = {
    txn.foreach { case (app, bv) =>
      if (txnVersion(app).exists(_ >= bv)) return latestVersion()
    }
    val df1 = withGenerated(df0)
    // a DECLARED schema is binding even before the first data commit —
    // readEntries(Nil) resolves it through emptyLikePhys
    def checkSchema(df: DataFrame, st: TableState): Unit =
      if (st.entries.nonEmpty || st.meta.schema.isDefined) {
        val tableSchema = logicalSchemaOf(st.entries, st.meta)
        require(df.columns.toSet == tableSchema.fieldNames.toSet,
          s"append: source schema {${df.columns.mkString(",")}} != table " +
            s"schema {${tableSchema.fieldNames.mkString(",")}}")
        // types too — a blind write never gets the chance to coerce, so
        // a drifted type would land mixed-type parquet and break reads
        tableSchema.fields.foreach { f =>
          val got = df.schema(f.name).dataType
          require(got == f.dataType,
            s"append: column '${f.name}' is $got, table has ${f.dataType}")
        }
      }
    val assignsIdentity =
      identityColumns.keys.exists(c => !df1.columns.contains(c))
    if (!assignsIdentity) {
      enforceConstraints(df1, "append")
      checkSchema(df1, latest())
      val (_, entries) = writeData(df1)
      try retryingCommit("WRITE", appendOp(txn),
          scope = ReadScope.Nothing) { () =>
        val st = latest()
        txn.foreach { case (app, bv) =>
          if (st.meta.txns.get(app).exists(_ >= bv))
            throw new TxnAlreadyApplied
        }
        // re-validate inside the attempt: a lost race that RECOMPUTES
        // must see the conformance check against the FRESH snapshot (a
        // concurrent overwrite may have changed an inferred schema);
        // the rebase path skips this closure, so canRebase answers
        // false for that exact cell (ReadScope.Nothing × concurrent
        // overwrite × undeclared schema).
        checkSchema(df1, st)
        (CommitDelta(entries, Nil, txns = txn.toSeq), st.version)
      } catch { case _: TxnAlreadyApplied => latestVersion() }
    } else {
      // identity-assigning append: the WHOLE write runs inside the
      // optimistic loop — a lost race re-reads the fresh allocation
      // watermark and re-assigns, so racing appends can never both
      // commit overlapping ranges (the correctness half of the
      // exactly-once identity contract; the orphaned data dir of a
      // lost attempt is vacuum-reclaimed like any lost race)
      try retryingCommit("WRITE", appendOp(txn),
          scope = ReadScope.Nothing) { () =>
        val st = latest()
        txn.foreach { case (app, bv) =>
          if (st.meta.txns.get(app).exists(_ >= bv))
            throw new TxnAlreadyApplied
        }
        val (df, idTxns) = withIdentity(df1, st.meta)
        enforceConstraints(df, "append")
        checkSchema(df, st)
        val (_, entries) = writeData(df)
        (CommitDelta(entries, Nil, txns = txn.toSeq ++ idTxns), st.version)
      } catch { case _: TxnAlreadyApplied => latestVersion() }
    }
  }

  /** MERGE with COMPOSITE keys and CONDITIONAL clauses (Delta's full
    * `whenMatched` clause surface):
    *
    *   - `keys` — the match condition is equality on EVERY listed
    *     column (`ON t.a = s.a AND t.b = s.b`);
    *   - `whenMatched` — evaluated FIRST-MATCH-WINS per matched row:
    *     an [[MatchClause.update]] replaces the target row with the
    *     source row, a [[MatchClause.delete]] drops it, and a matched
    *     row satisfying NO clause is kept unchanged. Conditions may
    *     reference both sides through the `t` (target) and `s`
    *     (source) aliases — `col("s.qty") > col("t.qty")`;
    *   - `insertUnmatched` — unmatched source rows insert (`WHEN NOT
    *     MATCHED THEN INSERT *`); off for delete-only merges, whose
    *     source needs only the `keys` columns.
    *     `insertCondition` makes the insert conditional (`WHEN NOT
    *     MATCHED AND <p> THEN INSERT` — `p` over the source row);
    *   - `notMatchedBySourceDelete` — Delta's `WHEN NOT MATCHED BY
    *     SOURCE [AND <p>] THEN DELETE` (`p` over the TARGET row;
    *     `lit(true)` = unconditional): target rows with no source key
    *     match satisfying `p` are deleted — the full-sync shape
    *     ("make the table exactly the source"). This clause must
    *     examine EVERY live row, so the merge rewrites all partitions
    *     (same cost in Delta) — without it, untouched partitions'
    *     files carry over as usual.
    *
    * Like Delta, a merge with clauses requires the source UNIQUE on
    * `keys` (two source rows matching one target row would make the
    * outcome order-dependent) — checked once, before anything is
    * written, same as `mergeCdc`'s sequence-tie guard. The merge runs
    * on the shared MERGE core ([[mergeCore]]) with its own row step:
    * one left equi-join from the touched files to the source evaluates
    * the clauses. A single-key unconditional update-all/insert-all
    * merge is exactly the single-key [[merge]] and delegates to it. */
  def merge(source0: DataFrame, keys: Seq[String],
      whenMatched: Seq[MatchClause],
      insertUnmatched: Boolean = true,
      evolveSchema: Boolean = false,
      insertCondition: Option[Column] = None,
      notMatchedBySourceDelete: Option[Column] = None): Long = {
    require(keys.nonEmpty, "merge: at least one key column")
    require(keys.forall(source0.columns.contains),
      s"merge: key columns {${keys.mkString(",")}} not all in source " +
        s"schema {${source0.columns.mkString(",")}}")
    if (keys.size == 1 && insertUnmatched &&
        whenMatched == Seq(MatchClause.update()) &&
        insertCondition.isEmpty && notMatchedBySourceDelete.isEmpty)
      return merge(source0, keys.head, evolveSchema)
    val writesRows = insertUnmatched || whenMatched.exists(_.isUpdate)
    val source = if (writesRows) withGenerated(source0) else source0
    if (writesRows) {
      requireIdentityCarried(source, "MERGE")
      enforceConstraints(source, "MERGE source")
    }
    val src = source.cache()
    try {
      // Delta's multi-match guard: clause outcomes must not depend on
      // which of several matching source rows is seen first. Its
      // aggregate reads every source row, so it also counts them.
      val (counted, sourceRows) = MergeTable.countedRows(src)
      val dup = counted.groupBy(keys.map(col): _*).count()
        .filter(col("count") > 1).limit(1).collect()
      require(dup.isEmpty,
        s"merge: multiple source rows share key ${dup.headOption
          .map(r => keys.zipWithIndex.map { case (k, i) => s"$k=${r.get(i)}" }
            .mkString(", "))} — clause merges require a key-unique source")
      val inserts = insertCondition.fold(src)(src.alias("s").filter(_))
      val none = src.limit(0)
      // updates and inserts can land rows in the SOURCE rows'
      // partitions (an update may move a row across partitions); a
      // delete-only merge writes no source row
      mergeCore(Map("keys" -> keys.mkString(",")),
          if (writesRows) Some(src) else None,
          src.select(keys.map(col): _*).distinct(), keys, evolveSchema,
          onEmpty = if (insertUnmatched) inserts else none, sourceRows,
          // WHEN NOT MATCHED BY SOURCE must examine every live row —
          // any partition may hold an unmatched target row
          touchAll = notMatchedBySourceDelete.isDefined) { tgt =>
        val tCols = tgt.columns.toSeq
        val sCols = src.columns.toSeq
        // LEFT join from the target: unmatched target rows ride along
        // with a null source side and are kept by construction.
        val marked = src.withColumn(MergeMatchCol, lit(true)).alias("s")
        val t = tgt.alias("t")
        val keyCond = keys.map(k => col(s"t.$k") === col(s"s.$k"))
          .reduce(_ && _)
        val joined = t.join(marked, keyCond, "left")
        // first-match-wins action per row: fold the clauses RIGHT so
        // the first clause is the outermost when()
        val clauseAction = whenMatched.foldRight(lit(MergeKeep)) {
          (c, els) =>
            when(c.condition.getOrElse(lit(true)),
              lit(if (c.isUpdate) MergeUpdate else MergeDelete))
              .otherwise(els)
        }
        // unmatched target rows: kept, unless the NOT MATCHED BY
        // SOURCE delete clause (condition over the `t` alias) fires
        val unmatchedAction = notMatchedBySourceDelete match {
          case Some(cond) =>
            when(cond, lit(MergeDelete)).otherwise(lit(MergeKeep))
          case None => lit(MergeKeep)
        }
        val act = when(col(s"s.$MergeMatchCol").isNotNull, clauseAction)
          .otherwise(unmatchedAction)
        // UPDATE takes the source's value for columns the source has;
        // target-only columns keep their value (Delta's UPDATE SET *);
        // with evolveSchema, source-only columns surface (NULL on
        // kept rows).
        val outCols =
          tCols.map { c =>
            if (sCols.contains(c))
              when(act === MergeUpdate, col(s"s.$c"))
                .otherwise(col(s"t.$c")).as(c)
            else col(s"t.$c").as(c)
          } ++ (if (evolveSchema) sCols.filterNot(tCols.contains).map(c =>
            when(act === MergeUpdate, col(s"s.$c"))
              .otherwise(lit(null)).as(c))
          else Nil)
        val merged = joined.filter(act =!= MergeDelete).select(outCols: _*)
        // matched keys necessarily live in touched partitions, so the
        // anti-join against the TOUCHED files' keys finds exactly the
        // table-wide unmatched source rows
        if (!insertUnmatched) merged
        else merged.unionByName(
          inserts.join(tgt.select(keys.map(col): _*).distinct(), keys,
            "left_anti"),
          allowMissingColumns = evolveSchema)
      }
    } finally src.unpersist()
  }

  /** APPLY CHANGES INTO (the Delta Live Tables CDC-apply shape): apply a
    * change feed — rows tagged `_change_type` ∈ insert / update /
    * update_postimage / update_preimage / delete, the exact schema
    * [[changes]] emits — as ONE atomic commit. Inserts and update
    * post-images upsert (source wins on key match); deletes drop the
    * key; `update_preimage` rows are informational and ignored. A
    * replica must never expose a state where the deletes have landed but
    * the upserts haven't (or vice versa), which is why this is one
    * commit, not a delete() followed by a merge().
    *
    * With `sequenceBy`, a feed carrying SEVERAL events per key (an
    * out-of-order CDC stream, not a snapshot diff) is first collapsed to
    * each key's latest event by that ordering — Delta's
    * `APPLY CHANGES ... SEQUENCE BY` contract, which requires the
    * sequence to be unique per key (ties would make the winner
    * nondeterministic, so they fail fast). [[changes]] feeds are already
    * net-one-event-per-key and don't need it.
    *
    * After these feed checks the apply is the single-key [[merge]]'s
    * core call with one difference: EVERY event's key (deletes
    * included) leaves the touched files, and only inserts and
    * post-images come back. Applying a feed of absent-key deletes
    * rewrites nothing. */
  def mergeCdc(feed: DataFrame, pk: String,
      sequenceBy: Option[String] = None,
      keepSequence: Boolean = false): Long = {
    require(feed.columns.contains(ChangeType),
      s"mergeCdc feed needs a $ChangeType column " +
        "(insert/update/update_postimage/update_preimage/delete)")
    val events = withGenerated(feed)
      .filter(col(ChangeType) =!= "update_preimage")
    val collapsed = sequenceBy match {
      case Some(seq) =>
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col(pk)).orderBy(col(seq).desc)
        // ONE window spec, ONE shuffle, consumed ONCE: row_number picks
        // the winner; rank over the SAME window detects ties at the
        // top (row_number 2 with rank 1 ⇔ two events share the key's
        // newest sequence). The tie check is FUSED into the winner
        // filter as a raise_error branch, so the feed pipeline executes
        // a single time — the previous shape paid a dedicated
        // limit(1).collect() action (plus a cache of the full ranked
        // relation) just to answer "any tie?" before the winners ran
        // again (r15 job diet: on the q_stream_cdc drain every
        // mergeCdc's extra action cost a job + its broadcast
        // materializations). Fail-fast is preserved: the error fires in
        // the FIRST action that executes the feed, always before the
        // commit publishes ([[DupSeqMarker]] is translated back to the
        // contract's IllegalArgumentException below).
        val winners = events
          .withColumn(SeqRank, row_number().over(w))
          .withColumn(SeqPeer, rank().over(w))
          .filter(
            when(col(SeqRank) === 2 && col(SeqPeer) === 1,
              raise_error(concat(
                lit(s"$DupSeqMarker: duplicate $seq for key "),
                col(pk).cast("string"),
                lit(" — SEQUENCE BY must be unique per key"))))
            .otherwise(col(SeqRank) === 1))
          .drop(SeqRank, SeqPeer)
        // The sequence is feed metadata UNLESS the caller keeps it, or
        // the target already stores it as a regular column (Delta's
        // SEQUENCE BY stores it too) — that's what lets a sequenced
        // apply compose with a stored-sequence late-event guard like
        // [[graft.streaming.StreamIngest.runCdcAvailableNow]]'s.
        if (keepSequence || {
              val st = latest()
              st.version > 0L &&
                logicalSchemaOf(st.entries, st.meta).fieldNames.contains(seq)
            })
          winners
        else winners.drop(seq)
      case None => events
    }
    requireIdentityCarried(collapsed.drop(ChangeType), "CDC apply")
    enforceConstraints(
      collapsed.filter(col(ChangeType) =!= "delete").drop(ChangeType),
      "CDC-apply upserts")
    val src = collapsed.cache()
    try {
      // counted below the delete filter: numSourceRows is every event
      val (events, sourceRows) = MergeTable.countedRows(src)
      try upsert(Map("key" -> pk, "feed" -> "cdc"),
        events.filter(col(ChangeType) =!= "delete").drop(ChangeType),
        src.select(col(pk)).distinct(), pk, evolveSchema = false,
        sourceRows)
      catch {
        // The fused tie check raises inside a Spark task; unwrap the
        // job-failure layers back to the SEQUENCE BY contract's
        // IllegalArgumentException (pinned by ReplicaSpec).
        case e: Throwable if dupSeqMessageOf(e).isDefined =>
          throw new IllegalArgumentException(dupSeqMessageOf(e).get)
      }
    } finally src.unpersist()
  }

  /** The first [[MergeTable.DupSeqMarker]]-tagged message in `e`'s cause
    * chain, with the marker stripped — None when the failure is not the
    * fused duplicate-sequence check. */
  private def dupSeqMessageOf(e: Throwable): Option[String] = {
    var t = e
    var depth = 0
    while (t != null && depth < 16) {
      val m = t.getMessage
      if (m != null && m.contains(MergeTable.DupSeqMarker)) {
        val i = m.indexOf(MergeTable.DupSeqMarker)
        return Some(m.substring(i + MergeTable.DupSeqMarker.length + 2))
      }
      t = t.getCause
      depth += 1
    }
    None
  }

  /** How an OPTIMIZE verb arranges the rows it rewrites into write
    * tasks, and so into files. */
  private type Layout = DataFrame => DataFrame

  /** The OPTIMIZE family's one executor: every file-rewrite verb is a
    * (file selection, layout) pair over it, as Delta's OPTIMIZE is one
    * command whose WHERE and ZORDER BY clauses pick the files and the
    * layout. One optimistic commit under [[ReadScope.RemovedFiles]]:
    * `plan` takes the latest state to the live files to rewrite and the
    * layout their rows are written in; the selected files are read
    * row-id-preserving (on a row-tracked snapshot each row's absolute
    * id/version rides along as the materialized columns), laid out,
    * written as ONE rewrite commit dir (no optimized-write rebalance —
    * the layout is the verb's) and swapped for the written files.
    * Logical content is unchanged, so the change feed across the commit
    * is empty. An empty selection, a never-written table's included,
    * commits an empty delta. A `keyed` read carries the file key
    * ([[MergeTable.FileKeyCol]]) captured at the scan, for a layout
    * that routes rows by the file they came from. */
  private def rewriteFiles(op: String, params: Map[String, String] = Map.empty,
      keyed: Boolean = false)(plan: TableState => (Seq[FileEntry], Layout)): Long =
    retryingCommit(op, params, ReadScope.RemovedFiles) { () =>
      val st = latest()
      val (selected, layout) = plan(st)
      if (selected.isEmpty) (CommitDelta(Nil, Nil), st.version)
      else {
        val rows = readEntries(selected, st.meta.schema, st.meta.mapping,
          keep = if (keyed) Seq(FileKeyCol) else Nil,
          rowIds = selected.forall(_.rowIds.isDefined))
        val (_, written) = writeData(layout(rows), rewrite = true)
        (CommitDelta(written, selected.map(_.relPath)), st.version)
      }
    }

  /** DOC-ONLY OPTIMIZE implemented for real (README.md:119): rewrite
    * every live file in the [[spread]] layout — `filesPerPartition`
    * files, optionally range-clustered on `clusterBy` (LINEAR
    * clustering — locality on the leading column only; for
    * multi-dimensional locality see [[zorder]]). */
  def compact(filesPerPartition: Int = 1, clusterBy: Seq[Column] = Nil): Long =
    rewriteFiles("OPTIMIZE")(st =>
      (st.entries, spread(filesPerPartition, clusterBy)))

  /** [[compact]]'s layout: `n` write tasks, round-robin, or
    * range-partitioned and sorted on `clusterBy`. Each task writes one
    * file per hive partition it holds rows of, so a partition gets at
    * most `n` files, whatever else the rewrite covers. */
  private def spread(n: Int, clusterBy: Seq[Column] = Nil): Layout = df =>
    if (clusterBy.isEmpty) df.repartition(n)
    else df.repartitionByRange(n, clusterBy: _*)
      .sortWithinPartitions(clusterBy: _*)

  /** Delta-parity `OPTIMIZE` (bin-packing flavor): coalesce only the
    * UNDER-SIZED live files, the [[smallFileBins]] selection, one
    * writer task per bin; every right-sized file is carried over
    * UNTOUCHED, and with the incremental commit log an untouched file
    * costs zero commit bytes.
    *
    * This is the maintenance job a streaming-ingest table actually runs:
    * [[compact]] rewrites the WHOLE table per call (O(table) IO — fine
    * for re-clustering, unrunnable as routine upkeep at 100 TB), while
    * this pays O(small-file bytes) no matter how large the table has
    * grown. Rows find their bin by the file key captured at the scan
    * (the key read after the shuffle would be empty); bin ids are
    * hash-distributed to writer tasks, so a hash collision can only
    * MERGE two bins into one larger output file, never split one. */
  def compactSmall(targetBytes: Long,
      minFilesPerPartition: Int = 2): Long = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    require(minFilesPerPartition >= 2,
      s"minFilesPerPartition must be >= 2: $minFilesPerPartition")
    rewriteFiles("OPTIMIZE",
      Map("binPack" -> targetBytes.toString, "trigger" -> (if (inAutoCompact.get) "auto" else "manual")),
      keyed = true) { st =>
      val bins = smallFileBins(st.entries, targetBytes, minFilesPerPartition)
      val binOf = for ((es, i) <- bins.zipWithIndex; e <- es)
        yield (fileKey(e.relPath), i)
      (bins.flatten, _.join(broadcast(spark.createDataFrame(binOf)
          .toDF(FileKeyCol, BinCol)), Seq(FileKeyCol))
        .repartition(bins.length, col(BinCol)).drop(BinCol, FileKeyCol))
    }
  }

  /** [[compactSmall]]'s file selection, which [[maybeAutoCompact]]'s
    * trigger runs as-is: in each partition with at least `minFiles`
    * live files under `targetBytes`, those files bin-packed
    * first-fit-decreasing under the target; only the multi-file bins
    * come back. A single-file bin (a small file nothing else fits next
    * to) would be rewritten into the same under-sized file — churn, and
    * under [[withAutoCompact]] a commit-triggered repack loop (30MB+10MB
    * files under a 32MB target pack into the same two files forever) —
    * so every rewrite strictly reduces the file count. Driver metadata
    * only, one size probe per file; a file a concurrent compaction and
    * vacuum already removed reads as not small (the stale snapshot's
    * commit would lose the race anyway). */
  private def smallFileBins(live: Seq[FileEntry], targetBytes: Long,
      minFiles: Int): Seq[Seq[FileEntry]] = {
    def sizeOf(e: FileEntry): Long =
      try Files.size(root.resolve(e.relPath))
      catch { case _: java.io.IOException => Long.MaxValue }
    live.map(e => (e, sizeOf(e))).filter(_._2 < targetBytes)
      .groupBy(_._1.partitionValue).values.filter(_.size >= minFiles).toSeq
      .flatMap { group =>
        group.sortBy(-_._2).foldLeft(Vector.empty[(Long, Vector[FileEntry])]) {
          case (bins, (e, sz)) => bins.indexWhere(_._1 + sz <= targetBytes) match {
            case -1 => bins :+ ((sz, Vector(e)))
            case i  => bins.updated(i, (bins(i)._1 + sz, bins(i)._2 :+ e))
          }
        }.map(_._2).filter(_.size >= 2)
      }
  }

  /** The reference's DOC-ONLY "Z-ordering" claim (README.md:119,
    * docs/full_implementation_guide.md:317-321) implemented for real:
    * rewrite live files clustered on the Z-ORDER CURVE over `cols` —
    * each column min-max-scaled to 16 bits, bits interleaved
    * (bit j of column k → position j·n+k), then range-repartitioned and
    * sorted by the Z-value. Unlike [[compact]]'s linear `clusterBy`
    * (which gives the trailing columns no locality at all), every
    * Z-ordered file covers a narrow range of EVERY clustered column, so
    * single-column min/max stats ([[readRange]]) skip files for
    * predicates on any of them — the Delta `OPTIMIZE ... ZORDER BY`
    * semantics.
    *
    * Scale shape: the min/max scaling pass is one tiny aggregate (2·n
    * doubles to the driver); the Z-value is a narrow codegen'd integer
    * expression; the rewrite is the same range-shuffle a plain
    * clustered compact pays. */
  def zorder(cols: Seq[String], filesPerPartition: Int = 1): Long = {
    require(cols.nonEmpty && cols.size <= 3,
      s"zorder takes 1-3 columns (16 bits each, long-width Z), got $cols")
    rewriteFiles("OPTIMIZE", Map("zOrderBy" -> cols.mkString(",")))(st =>
      (st.entries, zLayout(cols, filesPerPartition)))
  }

  /** [[zorder]]'s layout: the [[curve]] whose key interleaves the bits
    * of the scaled columns. */
  private def zLayout(cols: Seq[String], n: Int): Layout =
    curve(n, cols)(s => (0 until 16).flatMap(j => s.indices.map(k =>
      s"(((${s(k)} >> $j) & 1) << ${j * s.size + k})")).mkString(" + "))

  /** The space-filling-curve layout of [[zorder]] and [[clusterHilbert]]:
    * `key` of `cols`, each min-max scaled to 16 bits ([[scaled16]]),
    * added as a column, laid out by [[spread]] (range-partitioned into
    * `n` tasks, sorted within each) and dropped. */
  private def curve(n: Int, cols: Seq[String])(key: Seq[String] => String)
      : Layout = df =>
    spread(n, Seq(col(ZCol)))(
      df.withColumn(ZCol, expr(key(scaled16(df, cols))))).drop(ZCol)

  /** Delta-parity `OPTIMIZE ... WHERE`: OPTIMIZE over the partitions a
    * predicate on the PARTITION column selects — the files are those
    * [[filesWhere]] admits, laid out exactly as an unscoped OPTIMIZE
    * lays them out ([[compact]]'s [[spread]], or with `zorderCols`
    * [[zorder]]'s curve), so each selected partition gets the files
    * `filesPerPartition` gives it there. This is the maintenance shape
    * a 100 TB table actually runs: [[compact]] rewrites the WHOLE table
    * (O(table) IO), while a streaming-ingest table only ever fragments
    * its RECENT partitions; scoping the rewrite to `date >= '...'` pays
    * O(selected partitions) no matter the table size, and every
    * unselected partition's files carry over untouched (zero commit
    * bytes under the incremental log). Like [[compact]], the rewrite
    * runs `filesPerPartition` write tasks however many partitions the
    * scope spans.
    *
    * The predicate must reference ONLY the partition column (Delta's
    * own `OPTIMIZE ... WHERE` rule) — it is evaluated on the driver
    * against each file's typed partition row (log metadata, no job),
    * never against row data, by the same test a read's file index
    * applies ([[ManifestFileIndex.partitionPredicate]]), so selection
    * semantics match `read().filter(partitionFilter)` exactly. A
    * predicate selecting nothing (or an empty table) publishes an empty
    * delta. */
  def compactWhere(predicate: Column, filesPerPartition: Int = 1,
      zorderCols: Seq[String] = Nil): Long = {
    require(partitionCols.nonEmpty,
      s"MergeTable at $root: OPTIMIZE WHERE requires a partitioned table")
    require(zorderCols.size <= 3,
      s"zorder takes 1-3 columns (16 bits each, long-width Z), got " +
        zorderCols)
    rewriteFiles("OPTIMIZE",
      Map("predicate" -> predicateSql(predicate)) ++ (if (zorderCols.isEmpty) Map.empty else Map("zOrderBy" -> zorderCols.mkString(",")))) { st =>
      val index = indexOf(st.entries, st.meta.schema)
      (filesWhere(index,
        partitionCondition(predicate, index.partitionSchema).fold(
          msg => throw new IllegalArgumentException(
            s"OPTIMIZE WHERE predicate must reference only the " +
              s"partition column(s) ${partitionCols.mkString(", ")}: " +
              msg), identity)),
        if (zorderCols.isEmpty) spread(filesPerPartition)
        else zLayout(zorderCols, filesPerPartition))
    }
  }

  /** `predicate` analyzed over the partition columns alone, typed as
    * `typed` types them (NullType where it has no field): Left with the
    * analyzer's message when it reads any other column. */
  private def partitionCondition(predicate: Column,
      typed: org.apache.spark.sql.types.StructType)
      : Either[String, cxp.Expression] = {
    import org.apache.spark.sql.types.{NullType, StructField, StructType}
    val frame = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(partitionCols.map(c => typed.find(_.name == c)
        .getOrElse(StructField(c, NullType)))))
    try Right(frame.filter(predicate).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition
    }.get)
    catch {
      case e: org.apache.spark.sql.AnalysisException => Left(e.getMessage)
    }
  }

  /** `predicate` as DESCRIBE HISTORY records it: the SQL of the
    * condition analyzed over the table's columns, `(date = 'd1')` —
    * Delta's form. A never-written table analyzes it over its partition
    * columns typed as strings, a partition directory's type; a
    * predicate that analyzes over neither records Spark's rendering of
    * the unanalyzed column. */
  private def predicateSql(predicate: Column): String = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val frame = scala.util.Try(read()).getOrElse(spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(partitionCols.map(StructField(_, StringType)))))
    scala.util.Try(frame.filter(predicate).queryExecution.analyzed
      .collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition.sql
      }.get).getOrElse(predicate.toString)
  }

  /** The entries of `index` whose typed partition row satisfies `cond`,
    * a condition over partition columns (NULL selects nothing, SQL
    * WHERE semantics). */
  private def filesWhere(index: ManifestFileIndex,
      cond: cxp.Expression): Seq[FileEntry] = {
    val admits = index.partitionPredicate(Seq(cond))
    index.files.collect { case f if admits(f.partition) => f.entry }
  }

  /** Min-max scale `cols` to 16-bit integers as SQL fragments (the
    * inputs of [[curve]]'s key); one 1-row min/max
    * aggregate. Each column must cast to DOUBLE row by row: numeric,
    * boolean, timestamp or all-null. */
  private def scaled16(df0: DataFrame, cols: Seq[String]): Seq[String] = {
    import org.apache.spark.sql.types.{BooleanType, NullType, NumericType,
      TimestampType}
    cols.foreach { c =>
      val dt = df0.select(col(c)).schema.head.dataType
      require(dt match {
        case _: NumericType | BooleanType | TimestampType | NullType => true
        case _ => false
      }, s"cannot cluster on column '$c' of type ${dt.sql}: clustering " +
        "scales a numeric, boolean or timestamp column")
    }
    val mm = df0
      .select(cols.flatMap(c => Seq(
        min(col(c).cast("double")), max(col(c).cast("double")))): _*)
      .head()
    cols.indices.map { i =>
      // min and max are null together: on an all-null column
      val (mn, mx) = if (mm.isNullAt(2 * i)) (0.0, 1.0)
        else (mm.getDouble(2 * i), mm.getDouble(2 * i + 1))
      val span = if (mx > mn) mx - mn else 1.0
      s"CAST(((CAST(${cols(i)} AS DOUBLE) - $mn) / $span) * 65535 AS BIGINT)"
    }
  }

  /** OPTIMIZE ... by HILBERT curve — [[zorder]]'s better-locality
    * sibling for exactly two columns: the Hilbert curve never takes the
    * long diagonal jumps Z-order's bit interleaving does (a Z crosses
    * the full key space once per quadrant seam), so consecutive index
    * ranges map to more compact rectangles and per-file min/max ranges
    * on BOTH columns come out tighter — strictly better file skipping
    * at equal file count (asserted vs zorder in HilbertSpec, same
    * 16×16-grid methodology as X66).
    *
    * The classic xy2d bit-level loop is stateful (per-level rotation +
    * reflection), which no closed-form bit shuffle expresses — it runs
    * here as a codegen'd `aggregate` HOF fold over the 16 bit levels
    * (highest first) carrying a (d, x, y) accumulator struct: pure
    * integer arithmetic, deterministic everywhere, no UDF. */
  def clusterHilbert(cols: Seq[String], filesPerPartition: Int = 1): Long = {
    require(cols.size == 2,
      s"clusterHilbert takes exactly 2 columns (16-bit Hilbert), got $cols")
    rewriteFiles("OPTIMIZE", Map("hilbertBy" -> cols.mkString(",")))(st => (
      st.entries, curve(filesPerPartition, cols)(s => MergeTable.hilbertSql(s(0), s(1)))))
  }

  /** Delta-parity DELETE: drop rows where `predicate` is TRUE (null-
    * predicate rows survive, as in SQL DELETE).
    *
    * Copy-on-write (default): only files that CONTAIN a matching row are
    * rewritten; everything else is carried over untouched — the
    * touched-file set is discovered with one scan whose result is
    * numFiles-scale driver metadata, the same contract as the MERGE
    * partition discovery.
    *
    * Merge-on-read ([[deletionVectors]] enabled): no data file is
    * rewritten at all — the matched ROW POSITIONS are recorded in a
    * deletion vector and the touched entries re-commit pointing at it,
    * O(matched rows) instead of O(touched-file bytes). A file whose
    * vector grows to cover every physical row is dropped from the
    * manifest outright. */
  def delete(predicate: Column): Long = retryingCommit("DELETE",
      Map("predicate" -> predicateSql(predicate))) { () =>
    val st @ TableState(version, live, meta) = latest()
    if (live.isEmpty) (CommitDelta(Nil, Nil), version)
    else if (deletionVectors) {
      vectorize(st, predicate) match {
        case None => (CommitDelta(Nil, Nil), version)
        case Some((_, adds, gone)) =>
          (CommitDelta(adds, gone.map(_.relPath)), version)
      }
    } else {
      val hit = touchedFileNames(st, predicate)
      if (hit.isEmpty) (CommitDelta(Nil, Nil), version)
      else {
        val touched = live.filter(e => hit(fileKey(e.relPath)))
        val survivors = readEntries(touched, meta.schema, meta.mapping)
          .filter(!coalesce(predicate, lit(false)))
        val (_, newEntries) = writeData(survivors)
        (CommitDelta(newEntries, touched.map(_.relPath)), version)
      }
    }
  }

  /** Record the `predicate`-matched LIVE rows of `st` in a fresh
    * cumulative deletion vector (one parquet dir; each touched file's
    * complete position set — its old vector unioned with the new hits —
    * so every manifest entry references exactly one vector). Returns
    * None when nothing matches; otherwise (touched entries, entries to
    * re-add pointing at the new vector, fully-erased entries to
    * remove). Runs inside the optimistic-commit loop — a lost race
    * leaves an orphan vector dir for [[vacuum]], same as [[writeData]]'s
    * orphan commit dirs. */
  private def vectorize(st: TableState, predicate: Column)
      : Option[(Seq[FileEntry], Seq[FileEntry], Seq[FileEntry])] = {
    val pos = readEntries(st.entries, st.meta.schema, st.meta.mapping,
        keep = Seq(FileKeyCol, PosCol))
      .filter(coalesce(predicate, lit(false)))
      .select(col(FileKeyCol).as(DvFile), col(PosCol).as(DvPos))
      .persist()
    try {
      val hit = pos.select(DvFile).distinct()
        .collect().map(_.getString(0)).toSet
      if (hit.isEmpty) None
      else {
        val touched = st.entries.filter(e => hit(fileKey(e.relPath)))
        val olds = touched.filter(_.dv.isDefined)
        // New positions come from a vector-applied read, so they are
        // disjoint from the old vectors — a plain union is exact.
        val full =
          if (olds.isEmpty) pos
          else pos.unionByName(
            olds.groupBy(_.dv.get.relDir).toSeq.sortBy(_._1)
              .map { case (dir, es) =>
                spark.read.parquet(root.resolve(dir).toString)
                  .filter(col(DvFile).isin(
                    es.map(e => fileKey(e.relPath)): _*))
              }.reduce(_ unionByName _))
        val dvDir = s"$DvDirName/dv-${UUID.randomUUID().toString.take(12)}"
        full.write.parquet(root.resolve(dvDir).toString)
        val cards = spark.read.parquet(root.resolve(dvDir).toString)
          .groupBy(col(DvFile)).count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val totals = fileRowCounts(touched)
        val (gone, kept) = touched.partition { e =>
          totals.get(fileKey(e.relPath)).contains(cards(fileKey(e.relPath)))
        }
        val adds = kept.map(e =>
          e.copy(dv = Some(DvRef(dvDir, cards(fileKey(e.relPath))))))
        Some((touched, adds, gone))
      }
    } finally pos.unpersist()
  }

  /** Total PHYSICAL rows per file (pre-vector, the coordinate space
    * deletion vectors count in) — from manifest stats when recorded
    * (any stats'd column's row count), else one count-only scan of the
    * stat-less files (reads footers, no data columns). */
  private def fileRowCounts(entries: Seq[FileEntry]): Map[String, Long] = {
    val fromStats = entries.flatMap { e =>
      e.stats.values.flatMap(_.nullsRows).map(_._2).headOption
        .map(r => fileKey(e.relPath) -> r)
    }.toMap
    val missing =
      entries.filterNot(e => fromStats.contains(fileKey(e.relPath)))
    if (missing.isEmpty) fromStats
    else fromStats ++ spark.read
      .parquet(missing.map(e => root.resolve(e.relPath).toString): _*)
      .groupBy(fileTagExpr(col("_metadata.file_path")))
      .count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Delta's `REORG TABLE ... APPLY (PURGE)`: rewrite ONLY the files
    * carrying deletion vectors into clean files (vectors folded in),
    * leaving every vector-free file untouched — the maintenance step
    * that caps read-side anti-join debt without [[compact]]'s full-table
    * rewrite. [[vacuum]] then reaps the orphaned vector dirs. */
  def purgeVectors(): Long =
    rewriteFiles("PURGE")(st => (st.entries.filter(_.dv.isDefined), df => df))

  /** Delta-parity UPDATE: for rows where `predicate` is TRUE, replace
    * each column in `set` with its expression (null-predicate rows stay
    * unchanged). File-level rewrite discipline identical to [[delete]].
    * The partition column cannot be updated (a partition-moving update
    * is a delete + insert — run those instead).
    *
    * Merge-on-read ([[deletionVectors]] enabled): the matched rows'
    * positions go into a deletion vector and ONLY the matched rows are
    * rewritten (with SET applied) into new files — O(matched rows) of
    * write IO, where copy-on-write pays O(touched-file bytes) to carry
    * every unmatched row alongside. Delta's DV-based UPDATE shape. */
  def update(predicate: Column, set: Map[String, Column]): Long = {
    require(set.nonEmpty, "update needs at least one SET column")
    require(!partitionCols.exists(set.contains),
      s"cannot update partition column(s) $partitionCols; delete + merge " +
        "instead")
    retryingCommit("UPDATE",
      Map("predicate" -> predicateSql(predicate), "set" -> set.keys.toSeq.sorted.mkString(","))) { () =>
      val st @ TableState(version, live, meta) = latest()
      if (live.isEmpty) (CommitDelta(Nil, Nil), version)
      else if (deletionVectors) {
        vectorize(st, predicate) match {
          case None => (CommitDelta(Nil, Nil), version)
          case Some((touched, adds, gone)) =>
            // The new vector isn't committed yet, so this read still
            // sees the matched rows; rewrite exactly them.
            val (_, newEntries) = writeData(applySet(
              readEntries(touched, meta.schema, meta.mapping)
                .filter(coalesce(predicate, lit(false))), set, None))
            (CommitDelta(adds ++ newEntries, gone.map(_.relPath)), version)
        }
      } else {
        val hit = touchedFileNames(st, predicate)
        if (hit.isEmpty) (CommitDelta(Nil, Nil), version)
        else {
          val touched = live.filter(e => hit(fileKey(e.relPath)))
          val (_, newEntries) = writeData(applySet(
            readEntries(touched, meta.schema, meta.mapping), set,
            Some(coalesce(predicate, lit(false)))))
          (CommitDelta(newEntries, touched.map(_.relPath)), version)
        }
      }
    }
  }

  /** UPDATE's SET step over `rows`: each column in `set` takes its
    * expression (on the rows `where` holds for, when given), then
    * generated columns recompute and CHECK constraints are enforced.
    * SQL UPDATE semantics: EVERY SET expression evaluates against the
    * OLD row (so `SET a = b, b = a` swaps) — new values are staged
    * under temp names first, since a sequential withColumn chain would
    * leak one SET's result into the next one's inputs. */
  private def applySet(rows: DataFrame, set: Map[String, Column],
      where: Option[Column]): DataFrame = {
    set.keys.foreach(c => require(rows.columns.contains(c),
      s"SET column $c does not exist in the table"))
    val staged = set.foldLeft(rows) { case (df, (c, v)) =>
      df.withColumn(s"__graft_set_$c",
        where.fold(v)(w => when(w, v).otherwise(col(c))))
    }
    val updated = recomputeGenerated(staged.select(rows.columns.map(c =>
      if (set.contains(c)) col(s"__graft_set_$c").as(c) else col(c)): _*),
      set.keySet)
    enforceConstraints(updated, "UPDATE")
    updated
  }

  // ---- CHECK constraints --------------------------------------------------

  /** ADD CONSTRAINT (Delta's `ALTER TABLE ... ADD CONSTRAINT ... CHECK`):
    * register a named SQL predicate every future write's NEW rows must
    * satisfy (SQL CHECK semantics — a NULL predicate result passes).
    * Existing data is validated FIRST and the add fails fast if any live
    * row violates, so a registered constraint is always a table-wide
    * invariant. The registration is an atomic log commit: it serializes
    * with concurrent writers through the same optimistic-retry protocol
    * as data commits, and [[vacuum]]'s checkpoints carry it. */
  def addConstraint(name: String, predicate: String): Long =
    addConstraintImpl(name, predicate, None)

  /** [[addConstraint]], atomically EXTENDING a declared schema with the
    * engine-populated column the rule governs ([[addGeneratedColumn]] /
    * [[addIdentityColumn]] on a declared-schema table): without the
    * extension in the SAME commit, the declared-schema equality checks
    * on every write path would reject the very column the engine adds.
    * `engineCol = (column, type-from-declared-schema)`. Only an EMPTY
    * table may extend — existing rows have no value to satisfy the new
    * rule, the same fail-fast the validation pass gives any CHECK. */
  private def addConstraintImpl(name: String, predicate: String,
      engineCol: Option[(String,
        org.apache.spark.sql.types.StructType =>
          org.apache.spark.sql.types.DataType)]): Long = {
    require(name.matches("[A-Za-z0-9_]+"),
      s"constraint name must be [A-Za-z0-9_]+: $name")
    retryingCommit(constraintOp("ADD", name),
        Map("name" -> engineColFreeName(name))) { () =>
      val TableState(version, live, meta) = latest()
      require(!meta.constraints.contains(name),
        s"MergeTable at $root already has constraint $name")
      val mS = engineCol.flatMap { case (c, typeOf) =>
        meta.schema.flatMap { d =>
          if (d.fieldNames.exists(_.equalsIgnoreCase(c))) None
          else {
            require(live.isEmpty,
              s"cannot add engine-populated column '$c' to a non-empty " +
                s"table whose declared schema lacks it — existing rows " +
                "have no value for it")
            Some(org.apache.spark.sql.types.StructType(d.fields :+
              org.apache.spark.sql.types.StructField(c, typeOf(d),
                nullable = true)).json)
          }
        }
      }
      if (live.nonEmpty) {
        val bad = readEntries(live, meta.schema, meta.mapping)
          .filter(not(coalesce(expr(predicate), lit(true))))
          .limit(1).collect()
        require(bad.isEmpty,
          s"cannot add constraint $name: existing row violates " +
            s"($predicate): ${bad.headOption.getOrElse("")}")
      }
      (CommitDelta(Nil, Nil, cAdds = Seq(name -> predicate),
        mSchema = mS), version)
    }
  }

  /** DROP CONSTRAINT; fails fast on an unknown name. */
  def dropConstraint(name: String): Long =
    retryingCommit(constraintOp("DROP", name),
        Map("name" -> engineColFreeName(name))) { () =>
      val st = latest()
      require(st.meta.constraints.contains(name),
        s"MergeTable at $root has no constraint $name " +
          s"(has: ${st.meta.constraints.keys.mkString(", ")})")
      (CommitDelta(Nil, Nil, cDrops = Seq(name)), st.version)
    }

  /** Enforce every registered constraint on `df` (the NEW rows a write
    * is about to commit). Each check is a `limit(1)` probe — it
    * short-circuits on the first violation, so the pass is cheap on
    * clean data and fails fast on dirty. A constraint referencing a
    * column `df` lacks fails the write explicitly (conservative: Delta
    * would write NULLs for evolved-away source columns; failing beats
    * silently skipping the check). */
  private def enforceConstraints(df: DataFrame, what: String): Unit =
    constraints.foreach { case (name, predicate) =>
      val bad =
        try df.filter(not(coalesce(expr(predicate), lit(true))))
          .limit(1).collect()
        catch {
          case e: org.apache.spark.sql.AnalysisException =>
            throw new IllegalArgumentException(
              s"MergeTable at $root: $what cannot evaluate constraint " +
                s"$name ($predicate) against the incoming schema — add " +
                "the referenced column or drop the constraint", e)
        }
      if (bad.nonEmpty) throw new IllegalArgumentException(
        s"MergeTable at $root: $what violates constraint $name " +
          s"($predicate): ${bad.head}")
    }

  // ---- generated columns --------------------------------------------------

  /** `name GENERATED ALWAYS AS (exprSql)` — Delta's generated columns,
    * stored through the CHECK-constraint channel (see
    * [[GeneratedColumns]] for the full design: one mechanism buys
    * atomic metadata, write-side enforcement, and population). Writes
    * MISSING the column get it computed; writes CARRYING it must carry
    * exactly the generated values (the null-safe-equality check);
    * existing live rows are validated at registration, so the rule is
    * always a table-wide invariant. When the PARTITION column is
    * generated by a recognized shape, predicates on the SOURCE column
    * prune partitions (generation-expression partition pruning —
    * `q_gen_prune` + GeneratedColumnSpec).
    *
    * UPDATE recomputes non-partition generated columns against the
    * post-SET row; an UPDATE whose SET would CHANGE a generated
    * partition column's value fails the invariant check loudly (same
    * contract as updating the partition column directly: delete +
    * merge instead). Renaming the source column breaks the stored
    * expression loudly on the next write (same failure mode as a
    * constraint referencing the renamed column). */
  def addGeneratedColumn(name: String, exprSql: String): Long =
    addConstraintImpl(GeneratedColumns.Prefix + name,
      GeneratedColumns.predicateOf(name, exprSql),
      Some((name, d => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], d)
        .withColumn(name, expr(exprSql)).schema(name).dataType)))

  /** Drop a generated-column rule (the column itself stays, as a
    * normal column). */
  def dropGeneratedColumn(name: String): Long =
    dropConstraint(GeneratedColumns.Prefix + name)

  /** Current generated-column rules: name → generation expression. */
  def generatedColumns: Map[String, String] =
    constraints.collect {
      case (k, p) if k.startsWith(GeneratedColumns.Prefix) =>
        val n = k.stripPrefix(GeneratedColumns.Prefix)
        n -> GeneratedColumns.exprOf(n, p)
    }

  // ---- identity columns ---------------------------------------------------

  /** Declare `name GENERATED BY DEFAULT AS IDENTITY (START WITH start
    * STEP step)` — see [[IdentityColumns]] for the two-channel design
    * (declaration+enforcement through the CHECK-constraint channel,
    * allocation watermark through the txn ledger; zero new log
    * actions). Insert paths missing the column
    * ([[append]]/[[appendWithTxn]]/[[overwrite]]/[[copyInto]]) get it
    * assigned — unique across the table's history, contiguous on the
    * `start + step·i` grid per commit; a frame CARRYING the column
    * keeps its values, which the constraint pass then verifies
    * (non-null, grid-aligned). Declare before the first data commit —
    * on a non-empty table the constraint validation refuses a rule the
    * existing rows can't satisfy (including a missing column), the
    * same fail-fast as any CHECK constraint. */
  def addIdentityColumn(name: String, start: Long = 1L,
      step: Long = 1L): Long = {
    require(step != 0L, s"identity column $name: step must be non-zero")
    require(!partitionCols.contains(name),
      s"identity column $name cannot be a partition column (every " +
        "row would open its own partition)")
    addConstraintImpl(IdentityColumns.Prefix + name,
      IdentityColumns.predicateOf(name, IdentityColumns.Rule(start, step)),
      Some((name, _ => org.apache.spark.sql.types.LongType)))
  }

  /** Drop an identity rule (the column itself stays, as a normal
    * column; the allocation watermark is retained so re-declaring the
    * same rule later continues without reuse). */
  def dropIdentityColumn(name: String): Long =
    dropConstraint(IdentityColumns.Prefix + name)

  /** Current identity rules: column → (start, step). */
  def identityColumns: Map[String, (Long, Long)] =
    identityRules(headMeta)
      .map { case (c, r) => c -> (r.start, r.step) }

  private def identityRules(m: MetaState): Map[String, IdentityColumns.Rule] =
    m.constraints.collect {
      case (k, p) if k.startsWith(IdentityColumns.Prefix) =>
        val c = k.stripPrefix(IdentityColumns.Prefix)
        c -> IdentityColumns.ruleOf(c, p)
    }

  /** Assign every DECLARED identity column MISSING from `df`,
    * contiguous from the allocation watermark in `m`: one
    * narrow per-partition COUNT job over the new rows fixes each
    * partition's slot base, then the values attach in the write pass
    * itself — O(new data), never O(table), fully distributed (the
    * driver sees numPartitions counts). This is the one genuinely
    * per-partition-imperative hop in the engine (a running index
    * inside each partition), so it is the one place an RDD earns its
    * keep. Returns the widened frame plus the txn entries advancing
    * each column's watermark — committed ATOMICALLY with the data. */
  private def withIdentity(df: DataFrame, m: MetaState)
      : (DataFrame, Seq[(String, Long)]) = {
    val missing = identityRules(m)
      .filter { case (c, _) => !df.columns.contains(c) }
      .toSeq.sortBy(_._1)
    if (missing.isEmpty) return (df, Nil)
    val ledger = m.txns
    val rulesArr = missing.map(_._2).toArray
    val allocArr = missing.map { case (c, _) =>
      math.max(0L, ledger.getOrElse(IdentityColumns.TxnPrefix + c, 0L))
    }.toArray
    val rdd0 = df.rdd
    val counts = rdd0
      .mapPartitionsWithIndex((i, it) => Iterator((i, it.size.toLong)))
      .collect().sortBy(_._1).map(_._2)
    val offsets = counts.scanLeft(0L)(_ + _)
    val n = offsets.lastOption.getOrElse(0L)
    val assigned = rdd0.mapPartitionsWithIndex { (pi, it) =>
      var slot = offsets(pi)
      it.map { row =>
        val vals = rulesArr.indices
          .map(j => rulesArr(j).valueAt(allocArr(j) + slot))
        slot += 1
        org.apache.spark.sql.Row.fromSeq(row.toSeq ++ vals)
      }
    }
    val schema = org.apache.spark.sql.types.StructType(
      df.schema.fields ++ missing.map { case (c, _) =>
        org.apache.spark.sql.types.StructField(c,
          org.apache.spark.sql.types.LongType, nullable = false)
      })
    val out = spark.createDataFrame(assigned, schema)
    val txns =
      if (n == 0L) Nil
      else missing.zipWithIndex.map { case ((c, _), j) =>
        (IdentityColumns.TxnPrefix + c) -> (allocArr(j) + n)
      }
    (out, txns)
  }

  /** MERGE does not assign identity values (see [[IdentityColumns]]);
    * a source missing a declared identity column fails here with a
    * targeted message instead of an unresolved-column error from the
    * constraint pass. */
  private def requireIdentityCarried(df: DataFrame, op: String): Unit = {
    val missing = identityColumns.keys.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"MergeTable at $root: $op source must carry identity column(s) " +
        s"${missing.mkString(", ")} explicitly — identity assignment " +
        "happens on append/overwrite/COPY INTO")
  }

  /** Add every MISSING generated column to an incoming write (a frame
    * already carrying one keeps its values — the constraint pass then
    * verifies them). */
  private def withGenerated(df: DataFrame): DataFrame =
    generatedColumns.foldLeft(df) { case (d, (c, g)) =>
      if (d.columns.contains(c)) d else d.withColumn(c, expr(g))
    }

  /** Recompute generated columns on the POST-UPDATE row — every rule
    * not explicitly SET and not the partition column (partition moves
    * stay forbidden; the invariant check catches a source-changing
    * SET loudly). Recompute is idempotent on untouched rows. */
  private def recomputeGenerated(df: DataFrame,
      explicitlySet: Set[String]): DataFrame =
    generatedColumns.foldLeft(df) { case (d, (c, g)) =>
      if (explicitlySet.contains(c) || partitionCols.contains(c)) d
      else d.withColumn(c, expr(g))
    }

  /** Derived partition pruning for GENERATED partition columns (the
    * shape of Delta's `OptimizeGeneratedColumn`): for each partition
    * column `pc = G(src)` of a [[GeneratedColumns.formOf recognized]]
    * shape that `partSchema` types, `cond` rewritten into a predicate on
    * `pc` that every row satisfying `cond` also satisfies. The compiler
    * evaluates it on the typed partition rows like any other partition
    * predicate. Equality and IN transfer for any recognized
    * (deterministic) shape; ranges only for monotonic ones, with strict
    * bounds relaxed to inclusive; And/Or rewrite both sides; any other
    * shape becomes `true`. */
  private def generatedPartitionFilters(cond: cxp.Expression,
      partSchema: org.apache.spark.sql.types.StructType)
      : Seq[cxp.Expression] =
    for {
      f <- partSchema.fields.toSeq
      g <- generatedColumns.get(f.name)
      form <- GeneratedColumns.formOf(spark, g)
    } yield transferToPartition(cond, g, form,
      cxp.AttributeReference(f.name, f.dataType)())

  private def transferToPartition(e: cxp.Expression, g: String,
      form: GeneratedColumns.GenForm,
      pc: cxp.AttributeReference): cxp.Expression = {
    import org.apache.spark.sql.types._
    def rec(x: cxp.Expression) = transferToPartition(x, g, form, pc)
    val tz = Some(spark.conf.get("spark.sql.session.timeZone"))
    val integral = Set[DataType](ByteType, ShortType, IntegerType, LongType)
    /** `G(b)` when `a` is the source attribute and `b` folds to a
      * non-null value, cast to the partition type from its
      * partition-string rendering exactly as the partition rows are;
      * paired with `G`'s own type. */
    def genLit(a: cxp.Expression, b: cxp.Expression)
        : Option[(cxp.Literal, DataType)] = (a, b) match {
      case (ar: cxp.AttributeReference, l)
          if ar.name == form.src && l.references.isEmpty =>
        try {
          // analyzed-but-unoptimized literals may sit under
          // RuntimeReplaceable wrappers (to_timestamp, to_date...)
          // which report non-foldable and whose own eval throws —
          // judge foldability and evaluate on the REPLACEMENT tree
          val ev = l.transform {
            case r: cxp.RuntimeReplaceable => r.replacement
          }
          Some(ev).filter(_.foldable).flatMap(x => Option(x.eval(null)))
            .flatMap(v => evalGen(g, form.src, ar.dataType,
              org.apache.spark.sql.catalyst.CatalystTypeConverters
                .convertToScala(v, ev.dataType)))
            .flatMap { gv =>
              val gl = cxp.Literal.create(gv)
              Option(cxp.Cast(cxp.Cast(gl, StringType, tz), pc.dataType, tz)
                .eval()).map(v => (cxp.Literal(v, pc.dataType), gl.dataType))
            }
        } catch { case scala.util.control.NonFatal(_) => None }
      case _ => None
    }
    /** Matching rows satisfy `x >= y`, either side the source attribute.
      * A bound keeps its order in the partition type only when `G`
      * yields that type, an integral one into an integral one, or a
      * [[GeneratedColumns.GenForm.castsInOrder]] string. */
    def ge(x: cxp.Expression, y: cxp.Expression): cxp.Expression = {
      def bound(a: cxp.Expression, b: cxp.Expression) =
        genLit(a, b).collect { case (l, t) if t == pc.dataType ||
            form.castsInOrder && t == StringType ||
            integral(t) && integral(pc.dataType) => l }
      bound(x, y).map(cxp.GreaterThanOrEqual(pc, _))
        .orElse(bound(y, x).map(cxp.LessThanOrEqual(pc, _)))
        .getOrElse(cxp.Literal.TrueLiteral)
    }
    def in(bounds: Seq[Option[(cxp.Literal, DataType)]]): cxp.Expression =
      if (bounds.isEmpty || bounds.exists(_.isEmpty)) cxp.Literal.TrueLiteral
      else cxp.In(pc, bounds.flatten.map(_._1))
    e match {
      case cxp.And(l, r)     => cxp.And(rec(l), rec(r))
      case cxp.Or(l, r)      => cxp.Or(rec(l), rec(r))
      case cxp.EqualTo(a, b) => in(Seq(genLit(a, b).orElse(genLit(b, a))))
      case cxp.In(a, list)   => in(list.map(genLit(a, _)))
      // post-optimization IN rendering: values are internal; rebuild
      // literals of the attribute's type
      case cxp.InSet(a, set) =>
        in(set.toSeq.map(v => genLit(a, cxp.Literal.create(v, a.dataType))))
      // `month(ts)` cycles, so `ts >= T` says nothing about the month
      case _ if !form.monotonic          => cxp.Literal.TrueLiteral
      case cxp.GreaterThan(a, b)        => ge(a, b)
      case cxp.GreaterThanOrEqual(a, b) => ge(a, b)
      case cxp.LessThan(a, b)           => ge(b, a)
      case cxp.LessThanOrEqual(a, b)    => ge(b, a)
      case _                            => cxp.Literal.TrueLiteral
    }
  }

  /** Evaluate the generation expression on ONE value of the source
    * column — through the same analyzer/timezone the write side uses,
    * so the transferred bound is computed EXACTLY like the stored
    * partition values. Driver-only (a LocalRelation project collapses
    * without a job). */
  private def evalGen(g: String, src: String,
      t: org.apache.spark.sql.types.DataType, v: Any): Option[Any] =
    try {
      val df = spark.createDataFrame(
        java.util.Collections.singletonList(org.apache.spark.sql.Row(v)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(src, t, nullable = true))))
      Option(df.select(expr(g)).head().get(0))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** [[fileKey]]s of `st`'s files holding at least one `predicate` match.
    * The key is captured at the scan stage by [[readEntries]]
    * (exact even when the deletion-vector anti-join adds an exchange —
    * `input_file_name()` after a shuffle reads empty). */
  private def touchedFileNames(st: TableState,
      predicate: Column): Set[String] =
    readEntries(st.entries, st.meta.schema, st.meta.mapping,
        keep = Seq(FileKeyCol))
      .filter(predicate)
      .select(col(FileKeyCol)).distinct()
      .collect().map(_.getString(0)).toSet

  /** VACUUM with Delta's default 7-day retention window
    * ([[MergeTable.DefaultVacuumRetainMs]]): snapshots committed within
    * the window stay fully readable (time travel, in-flight readers,
    * young shallow clones); everything older is reaped. `vacuum(0L)`
    * reaps all non-live history immediately — the pre-r11 behavior,
    * still what short-lived scratch tables want. */
  def vacuum(): Unit = vacuum(DefaultVacuumRetainMs)

  /** VACUUM with an explicit retention window: drop data dirs referenced
    * by NEITHER the latest snapshot NOR any snapshot committed within
    * the last `retainMs` milliseconds, and prune the log files older
    * versions need — after vacuum, time travel BEFORE the window is
    * intentionally gone ([[readVersion]] fails fast instead of
    * resolving a snapshot whose data files were deleted), while
    * every version INSIDE the window still reconstructs. A commit's
    * age is its IN-COMMIT timestamp (falling back to the delta file's
    * publish mtime for pre-feature commits) — the same clock
    * [[readAsOf]] trusts (Delta keys retention on the remove action's
    * `deletionTimestamp`; our removing commit's stamp is that
    * timestamp). A checkpoint is published at the latest version FIRST,
    * so the surviving snapshot reconstructs from it alone even when
    * every older delta is pruned. */
  def vacuum(retainMs: Long): Unit = {
    require(retainMs >= 0L, s"vacuum: negative retention $retainMs")
    // the VACUUM is recorded in history as an (empty-delta) commit —
    // Delta writes VACUUM START/END commitInfo for the same reason:
    // reclamation must be auditable from the log alone
    if (latestVersion() > 0L)
      retryingCommit("VACUUM",
        Map("retainMs" -> retainMs.toString)) { () =>
        (CommitDelta(Nil, Nil), latest().version)
      }
    val latestV = latest().version
    if (latestV > 0L) writeCheckpoint(latestV)
    val plan = vacuumPlan(retainMs)
    plan.dataDirs.foreach(deleteRecursively)
    plan.dvDirs.foreach(deleteRecursively)
    plan.bfDirs.foreach(deleteRecursively)
    // parquet checkpoint entries are DIRS in the log — recurse
    plan.logFiles.foreach(p =>
      if (Files.isDirectory(p)) deleteRecursively(p)
      else Files.deleteIfExists(p))
    // drop memoized states: versions below the fold anchor are now
    // unreadable BY CONTRACT (fail fast), and a cached one would
    // otherwise keep resolving — possibly onto just-deleted files
    stateMemo.clear()
  }

  /** Delta's `VACUUM ... DRY RUN`: the root-relative paths a
    * [[vacuum]] with this retention would delete, WITHOUT deleting
    * anything (and without publishing the checkpoint a real vacuum
    * writes first — so the reported LOG pruning can be conservative:
    * a real run may prune slightly more once its fresh checkpoint
    * anchors the fold). */
  def vacuumDryRun(retainMs: Long = DefaultVacuumRetainMs): Seq[String] = {
    require(retainMs >= 0L, s"vacuum: negative retention $retainMs")
    val plan = vacuumPlan(retainMs)
    (plan.dataDirs ++ plan.dvDirs ++ plan.bfDirs ++ plan.logFiles)
      .map(p => root.relativize(p).toString).sorted
  }

  // ---- FSCK (log-vs-storage repair) ---------------------------------------

  /** The latest snapshot's entries whose BACKING STORAGE is gone,
    * split into (unreadable — data file or deletion-vector dir
    * missing, so the entry must be DROPPED) and (bloom-dangling — data
    * intact but the bloom sidecar dir is gone, so only the bloom REF
    * needs clearing). A missing deletion vector drops the whole entry
    * rather than clearing the ref: clearing it would RESURRECT the
    * rows the vector deleted, silently wrong; dropping loses the
    * file's surviving rows, loudly visible in the dry run. A missing
    * bloom sidecar is pure index metadata — clearing the ref costs
    * probe pruning on that file, never rows. */
  private def fsckPlan(live: Seq[FileEntry] = liveEntries())
      : (Seq[FileEntry], Seq[FileEntry]) = {
    val gone = live.filter { e =>
      !Files.isRegularFile(root.resolve(e.relPath)) ||
        e.dv.exists(d => !Files.isDirectory(root.resolve(d.relDir)))
    }
    val goneSet = gone.map(_.relPath).toSet
    val bloomDangling = live.filter(e => !goneSet.contains(e.relPath) &&
      e.bloom.exists(b => !Files.isDirectory(root.resolve(b.relDir))))
    (gone, bloomDangling)
  }

  /** Delta's `FSCK REPAIR TABLE ... DRY RUN`: EVERYTHING a [[fsck]]
    * would touch, without repairing anything — the relPaths of live
    * entries it would DROP (data file or deletion-vector dir gone from
    * storage: an object-store lifecycle policy, a manual delete, a
    * partial restore), plus, marked `(clear bloom ref)`, entries whose
    * data is intact but whose bloom sidecar vanished (the repair only
    * clears the ref). An EMPTY dry run therefore implies [[fsck]] is a
    * no-op. Complements [[verifyChecksum]]: the checksum proves the
    * LOG still folds to what the committer published; fsck proves
    * STORAGE still holds what the log references. */
  def fsckDryRun(): Seq[String] = {
    val (gone, dangling) = fsckPlan()
    (gone.map(_.relPath) ++
      dangling.map(_.relPath + " (clear bloom ref)")).sorted
  }

  /** Delta's `FSCK REPAIR TABLE`: commit removes for every live entry
    * whose backing storage is gone (and clear dangling bloom refs), so
    * reads stop failing on files that no longer exist. Availability
    * over completeness — the dropped entries' rows are LOST, which is
    * already true in storage; run [[fsckDryRun]] first. Returns the
    * repair commit's version, or 0 when the table needed no repair.
    * The repair's actual scope is auditable from the COMMIT itself
    * ([[history]]'s add/remove counts) — the plan is recomputed on
    * every optimistic attempt, so no pre-computed count could honestly
    * describe what won the race. */
  def fsck(): Long = {
    val (gone0, dangling0) = fsckPlan()
    if (gone0.isEmpty && dangling0.isEmpty) return 0L
    try retryingCommit("FSCK") { () =>
      // replanned per attempt: a concurrent commit may have already
      // removed (or rewritten) some of the affected entries — and may
      // have repaired EVERYTHING, in which case publishing an
      // all-empty 'FSCK' commit would be a spurious version bump
      // (audit-history noise, r14 ADVICE); short-circuit to "no
      // repair needed" instead
      val TableState(version, live, _) = latest()
      val (gone, dangling) = fsckPlan(live)
      if (gone.isEmpty && dangling.isEmpty)
        throw new FsckAlreadyClean
      (CommitDelta(dangling.map(_.copy(bloom = None)),
        gone.map(_.relPath)), version)
    } catch { case _: FsckAlreadyClean => 0L }
  }

  private case class VacuumPlan(dataDirs: Seq[Path], dvDirs: Seq[Path],
      bfDirs: Seq[Path], logFiles: Seq[Path])

  private def vacuumPlan(retainMs: Long): VacuumPlan = {
    val TableState(latestV, live, _) = latest()
    val cutoff = System.currentTimeMillis() - retainMs
    // Versions still inside the window. Their snapshots' files (data,
    // deletion vectors, bloom sidecars) are all protected — a reader
    // (or a clone taken within the window) resolving any of these
    // versions must still find every file. retainMs=0 short-circuits:
    // nothing is recent, only the latest snapshot survives.
    val recentVs: Seq[Long] =
      if (retainMs == 0L || !Files.isDirectory(logDir)) Nil
      else (1L until latestV).filter(v => commitTsOf(v).exists(_ >= cutoff))
    // Log anchor: the oldest retained version reconstructs from the
    // checkpoint at-or-below it (0 → no anchoring checkpoint → the
    // whole log survives; retention only ever keeps MORE).
    val keepFromV =
      if (recentVs.isEmpty) latestV else checkpointAtOrBelow(recentVs.min)
    // Protect every version whose log survives — not just the in-window
    // ones — so "the delta file exists" always implies "the snapshot is
    // readable" (a version between the anchoring checkpoint and the
    // window start keeps its log for the fold; reaping its data would
    // leave a resolvable-but-unreadable version).
    val protectedVs: Seq[Long] =
      if (recentVs.isEmpty) Nil
      else (math.max(keepFromV, 1L) until latestV).filter(v =>
        Files.exists(logDir.resolve(f"$v%020d.txt")))
    val protectedEntries: Seq[FileEntry] = live ++ protectedVs.flatMap(v =>
      scala.util.Try(stateAt(v).entries).getOrElse(Nil))
    val liveDirs = protectedEntries.map(_.relPath.split('/').head).toSet
    val dataDirs = Using.resource(Files.list(root)) { stream =>
      stream.iterator().asScala
        .filter(p => Files.isDirectory(p) &&
          CommitDirName.matches(p.getFileName.toString) &&
          !liveDirs.contains(p.getFileName.toString))
        .toSeq
    }
    // Deletion-vector dirs not referenced by any protected snapshot
    // (superseded cumulative vectors, purged/compacted-away vectors,
    // lost-race orphans) are reaped the same way. A clone's references
    // to THIS table's vectors live outside this root's _graft_dv and
    // share the documented source-vacuum caveat with its data files.
    val liveDvDirs =
      protectedEntries.flatMap(_.dv).map(_.relDir.split('/').last).toSet
    val dvRoot = root.resolve(DvDirName)
    val dvDirs = if (!Files.isDirectory(dvRoot)) Nil
    else Using.resource(Files.list(dvRoot)) { stream =>
      stream.iterator().asScala
        .filter(p => Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("dv-") &&
          !liveDvDirs.contains(p.getFileName.toString))
        .toSeq
    }
    // bloom sidecar dirs not referenced by the latest snapshot are
    // reaped identically (compacted-away files orphan their filters)
    val liveBfDirs =
      protectedEntries.flatMap(_.bloom).map(_.relDir.split('/').last).toSet
    val bfRoot = root.resolve(BloomDirName)
    val bfDirs = if (!Files.isDirectory(bfRoot)) Nil
    else Using.resource(Files.list(bfRoot)) { stream =>
      stream.iterator().asScala
        .filter(p => Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("bf-") &&
          !liveBfDirs.contains(p.getFileName.toString))
        .toSeq
    }
    // Log pruning: keep everything at or above the anchor computed
    // above, so every retained version still reconstructs.
    val logFiles = if (!Files.isDirectory(logDir)) Nil
    else Using.resource(Files.list(logDir)) { stream =>
      stream.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          (n.endsWith(".txt") && n.stripSuffix(".txt").toLong < keepFromV) ||
            (n.endsWith(CkptSuffix) &&
              n.stripSuffix(CkptSuffix).toLong < keepFromV) ||
            // a pruned checkpoint's parquet entry block goes with it
            (n.endsWith(CkptPqSuffix) &&
              n.stripSuffix(CkptPqSuffix).toLong < keepFromV) ||
            // checksum sidecars of pruned versions go with their deltas
            // (the version is unreadable, so nothing verifies it again)
            (n.endsWith(".crc") &&
              n.stripSuffix(".crc").toLong < keepFromV)
        }
        .toSeq
    }
    VacuumPlan(dataDirs, dvDirs, bfDirs, logFiles)
  }

  // ---- read paths ---------------------------------------------------------

  /** Snapshot read of the latest version. `partitionFilter` prunes files at
    * the log level before Spark ever lists them. */
  def read(partitionFilter: Option[String => Boolean] = None): DataFrame = {
    val TableState(_, live, meta) = latest()
    val pruned = partitionFilter match {
      // f sees the manifest-encoded value: the raw value on a
      // single-column table, the escaped '/'-joined tuple on a
      // multi-column one
      case Some(f) if partitionCols.nonEmpty =>
        live.filter(_.partitionValue.forall(f))
      case _ => live
    }
    readEntries(pruned, meta.schema, meta.mapping)
  }

  /** [[readRange]] on the PRIMARY stats column. */
  def readRange(lo: Long, hi: Long): DataFrame = {
    val sc = statsCol.getOrElse(throw new IllegalStateException(
      s"MergeTable at $root was opened without stats columns"))
    readRange(sc, lo, hi)
  }

  /** The rows with `c` (long-cast, the stats contract) in [lo, hi].
    * Files whose min/max range is disjoint from the bound, or whose
    * nullCount proves them all-null in `c`, are skipped; files without
    * stats for `c` are scanned. */
  def readRange(c: String, lo: Long, hi: Long): DataFrame = {
    require(statsCols.contains(c),
      s"MergeTable at $root records stats for ${statsCols.mkString(", ")} " +
        s"— not $c; reopen with it in statsCols")
    read().filter(col(c).cast("long").between(lo, hi))
  }

  /** [[readRange]] for a STRING stats column: the rows with `c` in
    * [lo, hi] in code-point order, skipping files by their truncated
    * string range ([[MergeTable.statsTruncMax]]). */
  def readRange(c: String, lo: String, hi: String): DataFrame = {
    require(statsCols.contains(c),
      s"MergeTable at $root records stats for ${statsCols.mkString(", ")} " +
        s"— not $c; reopen with it in statsCols")
    read().filter(col(c).between(lo, hi))
  }

  /** Latest live file entries (exposed for tests to assert which files a
    * write rewrote vs carried over). */
  private[lake] def liveEntries(): Seq[FileEntry] = latest().entries

  /** The non-null rows of `c`, skipping files whose nullCount proves
    * them all-null in `c`. */
  def readNotNull(c: String): DataFrame = {
    require(statsCols.contains(c),
      s"MergeTable at $root records stats for ${statsCols.mkString(", ")} " +
        s"— not $c; reopen with it in statsCols")
    read().filter(col(c).isNotNull)
  }

  /** Point lookup: the rows where `c` (long-cast) equals `value`,
    * skipping files whose bloom filter, stats or partition value rule
    * the value out. Files with no bloom ref for `c` are scanned. */
  def readPoint(c: String, value: Long): DataFrame =
    read().filter(col(c).cast("long") === lit(value))

  /** The [[BloomK]] bit positions `value` hashes to in an m-bit filter —
    * computed by EVALUATING the same Catalyst expressions the write
    * side used (murmur3 seed 42 + xxhash64 seed 42 over the long
    * value) directly on the DRIVER: bit-identical to the 1-row-plan
    * probe it replaces (parity pinned by BloomIndexSpec against that
    * exact plan), with ZERO Spark jobs per probe — the plan-based
    * probe cost one job per (dir, m) group per probeKeys call, a
    * visible tax on every CDC guard and join-view refresh at
    * micro-batch cadence (r14 job diet). */
  private def probePositions(value: Long, m: Int): Seq[Long] = {
    val (h1, h2) = MergeTable.bloomHashes(value, m)
    (0 until BloomK).map(i => (h1 + i.toLong * h2) % m)
  }

  // ---- predicate-driven file skipping --------------------------------------

  /** `read().filter(predicate)`. File skipping happens in ONE place for
    * every read: the [[GraftScanPruning]] optimizer rule compiles the
    * Filter pushed onto the read's relation against the manifest
    * metadata of the files it holds ([[scanEntriesByCondition]]) — the
    * same path SQL and a hand-written `read().filter` take, and the
    * reason a session must set `GraftExtensions`. */
  def scan(predicate: Column): DataFrame = read().filter(predicate)

  /** [[scan]] against the historical snapshot at `version`, pruned
    * against that snapshot's own files. */
  def scanVersion(version: Long, predicate: Column): DataFrame =
    readVersion(version).filter(predicate)

  /** The live entries whose files the optimized plan of
    * `read().filter(predicate)` reads (exposed for tests and
    * metadata-only consumers auditing what a scan would read). */
  private[lake] def scanEntries(predicate: Column): Seq[FileEntry] = {
    val planned = read().filter(predicate).queryExecution.optimizedPlan
      .collect {
        case org.apache.spark.sql.execution.datasources.LogicalRelation(
            org.apache.spark.sql.execution.datasources.HadoopFsRelation(
              m: ManifestFileIndex, _, _, _, _, _), _, _, _, _) =>
          m.files.map(_.entry.relPath)
      }.flatten.toSet
    liveEntries().filter(e => planned(e.relPath))
  }

  /** Key-set file probe at `version` — the dynamic-file-pruning analog
    * for "which files may hold any of these join keys": the same
    * partition/stats/bloom membership prune as a [[scanVersion]] with
    * an IN-list, but compiled DIRECTLY from the value array. No
    * N-literal expression ever enters a plan: a wide executed-plan `IN`
    * (tens of thousands of literals) costs more in per-action
    * re-analysis/re-optimization of every downstream plan than the
    * file-skipping saves — a key list is driver METADATA, and this
    * keeps it there. On a partition column the keys are an `InSet` on
    * each file's typed partition row; on a data column they prune by
    * stats and bloom. Rows of admitted files are returned UNFILTERED;
    * the caller owns the row-level residual (typically a semi-join
    * against the key relation, which AQE broadcasts at Δ-scale). */
  private[lake] def probeKeysVersion(version: Long, c: String,
      values: Seq[Any]): DataFrame = {
    // the version's files, read under the current schema and mapping
    val meta = headMeta
    val index = indexOf(laidOutAt(version).entries, meta.schema)
    val phys = physicalOf(c)
    val lits = values.map(v => cxp.Literal(v))
    val keys = lits.filter(_.value != null) // NULL matches nothing
    val cond = index.partitionSchema.find(_.name == phys) match {
      // both sides cast (TRY) to the type SQL `=` compares them in; a
      // partition value that cannot be cast admits its file, keys that
      // cannot be compared or cast (or no key at all) admit every file
      case Some(f) =>
        val pc = cxp.AttributeReference(phys, f.dataType)()
        val tz = Some(spark.conf.get("spark.sql.session.timeZone"))
        def tryCast(e: cxp.Expression,
            t: org.apache.spark.sql.types.DataType) =
          if (e.dataType == t) e else cxp.Cast(e, t, tz, cxp.EvalMode.TRY)
        keys.map(_.dataType).distinct match {
          case Seq(kt) => keyCmpType(f.dataType, kt)
            .map(t => (t, keys.map(tryCast(_, t).eval())))
            .collect { case (t, ks) if !ks.contains(null) =>
              val p = tryCast(pc, t)
              cxp.And(cxp.IsNotNull(pc),
                cxp.Or(cxp.IsNull(p), cxp.InSet(p, ks.toSet)))
            }.getOrElse(cxp.Literal.TrueLiteral)
          case _ => cxp.Literal.TrueLiteral
        }
      case None => cxp.In(cxp.AttributeReference(phys,
        org.apache.spark.sql.types.NullType)(), lits)
    }
    val admits = compilePrune(cond, index, index.files.map(_.entry))
    readEntries(index.files.collect { case f if admits(f) => f.entry },
      meta.schema, meta.mapping)
  }

  /** The type SQL `=` compares a partition value of type `p` and a key
    * of type `k` in: a string side takes the other side's type, two
    * numerics compare as the partition's. None when they cannot be
    * compared. */
  private def keyCmpType(p: org.apache.spark.sql.types.DataType,
      k: org.apache.spark.sql.types.DataType)
      : Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types.{NumericType, StringType}
    (p, k) match {
      case _ if p == k                      => Some(p)
      case (StringType, _)                  => Some(k)
      case (_, StringType)                  => Some(p)
      case (_: NumericType, _: NumericType) => Some(p)
      case _                                => None
    }
  }

  /** [[probeKeysVersion]] against the current head — the public
    * key-probe surface for Δ-keyed consumers (CDC guards, join-view
    * refreshes): rows of every live file that MAY contain `c` ∈
    * `values`, a SUPERSET of the matching rows — the caller MUST apply
    * its own row-level residual (a join/semi-join on the key relation;
    * that keeps the value list out of the executed plan — see
    * [[probeKeysVersion]]). A partition column admits the files whose
    * typed partition value equals some key under SQL `=`; tables
    * without stats/bloom/partitioning on `c` degrade to the full read,
    * never to a miss. */
  def probeKeys(c: String, values: Seq[Any]): DataFrame =
    probeKeysVersion(latestVersion(), c, values)

  /** RELATION-VALUED key-set file probe (the literal overload's scale
    * form): the same partition/stats/bloom file-skipping, but the key
    * set stays a Spark relation END-TO-END — nothing data-scale is ever
    * collected to the driver. The driver materializes only METADATA:
    * the manifest (driver-resident by construction) and admitted
    * file-key sets (bounded by live file count). Use this when the key
    * relation's distinct cardinality is unbounded (a batch's band
    * hashes, a CDC delta's keys at 10^10-row history).
    *
    * Stages, each a Spark job over the key relation:
    *
    *   1. partition + min/max-range admission — the key relation
    *      inner-joins the BROADCAST manifest-metadata frame (#files
    *      rows) on the per-file admission predicate; the distinct
    *      admitted file keys (metadata-scale) come back to the driver.
    *      The pair work is O(|keys| × #files) but fully distributed —
    *      the shape of dynamic file pruning. A file is admitted by
    *      partition when the key equals its typed partition value under
    *      SQL `=`, or when the two cannot be compared;
    *   2. bloom refinement, per sidecar (dir, m) group of admitted
    *      still-bloomed files: the key relation's [[BloomK]] probe
    *      positions (computed with the SAME Catalyst hash expressions
    *      the write side used — probe and filter can never drift)
    *      equi-join the SPARSE bloom sidecar parquet on the 64-bit
    *      word index; a (key, file) pair survives iff ALL K probed
    *      bits are set, and surviving file keys (metadata-scale)
    *      come back. Past [[RelProbeBloomGroupCap]] sidecar groups the
    *      bloom surface bows out for the REMAINING groups (admit —
    *      sound superset), mirroring the literal path's product cap.
    *
    * The stats/bloom surfaces run under the write side's long-cast
    * contract, so `keys`' FIRST column must be integral — or a string,
    * admitted by the truncated string stats ([[ColStat.strRange]]) and
    * never by the bloom; any other type degrades to the full read
    * (never a miss), exactly like a table with no metadata on `c`. Rows
    * of admitted files return UNFILTERED — the caller owns the
    * row-level residual (typically an equi-/semi-join against the key
    * relation, which AQE broadcasts at Δ-scale). Admission parity with
    * the literal overload is pinned by DedupIncrSpec. */
  def probeKeys(c: String, keys: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val TableState(_, live, meta) = latest()
    val phys = physicalOf(c)
    // integral keys compare long-cast (the stats/bloom contract); STRING
    // keys (r15) against the truncated string stats, without the bloom
    val kt: DataType = keys.schema.head.dataType match {
      case ByteType | ShortType | IntegerType | LongType => LongType
      case StringType => StringType
      case _          => NullType
    }
    def readOf(es: Seq[FileEntry]) = readEntries(es, meta.schema, meta.mapping)
    if (live.isEmpty || kt == NullType) return readOf(live)
    val k = keys.select(col(keys.columns.head).cast(kt).as("__k"))
      .filter(col("__k").isNotNull).distinct()
    // manifest → metadata frame: one row per live file with the
    // admission inputs (typed partition value, null discipline, stats
    // range — absent stats admit, an absent max is open)
    val index = indexOf(live, meta.schema)
    val pf = Some(index.partitionSchema.fieldNames.indexOf(phys))
      .filter(_ >= 0).map(i => (i, index.partitionSchema(i).dataType))
    def st(fe: FileEntry) = fe.stats.get(phys)
    def range(fe: FileEntry): Option[(Any, Option[Any])] =
      if (kt == LongType) st(fe).flatMap(_.range).map(r => (r._1, Some(r._2)))
      else st(fe).flatMap(_.strRange)
    val metaSchema = StructType(Seq(StructField("fkey", StringType),
      StructField("p_val", pf.fold[DataType](NullType)(_._2)),
      StructField("all_null", BooleanType),
      StructField("mn", kt), StructField("mx", kt)))
    val metaRows = index.files.map { f =>
      val fe = f.entry
      org.apache.spark.sql.Row(fileKey(fe.relPath),
        pf.fold[Any](null) { case (i, t) =>
          org.apache.spark.sql.catalyst.CatalystTypeConverters
            .convertToScala(f.partition.get(i, t), t)
        },
        st(fe).exists(_.allNull),
        range(fe).map(_._1).orNull, range(fe).flatMap(_._2).orNull)
    }
    // partition admission: the key equals the typed partition value
    // under SQL `=`, or either side cannot be compared or cast in the
    // type `=` compares them in; the NULL partition holds no match
    val partOk = pf.flatMap { case (_, pt) =>
      keyCmpType(pt, kt).map { t =>
        val p = if (t == pt) col("p_val") else col("p_val").try_cast(t)
        val kk = if (t == kt) col("__k") else col("__k").try_cast(t)
        col("p_val").isNotNull && (p.isNull || kk.isNull || p === kk)
      }
    }.getOrElse(lit(true))
    val statsOk = !col("all_null") && (col("mn").isNull ||
      (col("mn") <= col("__k") &&
        (col("mx").isNull || col("__k") <= col("mx"))))
    val admittedKeys = k.join(broadcast(spark.createDataFrame(
        metaRows.asJava, metaSchema)), partOk && statsOk, "inner")
      .select("fkey").distinct()
      .collect().map(_.getString(0)).toSet
    val admitted = live.filter(fe => admittedKeys(fileKey(fe.relPath)))
    val (bloomed, plain) = admitted.partition(fe =>
      kt == LongType && fe.bloom.exists(_.cols.contains(phys)))
    if (bloomed.isEmpty) return readOf(admitted)
    val groups = bloomed.groupBy(e => (e.bloom.get.relDir, e.bloom.get.m))
      .toSeq.sortBy(_._1._1)
    val (refine, admitRest) = groups.splitAt(RelProbeBloomGroupCap)
    // ONE refinement job for ALL sidecar groups (r15 job diet: the
    // per-group shape cost one Spark job per (dir, m) group per probe —
    // a CDC drain whose target gains one sidecar per batch commit paid
    // O(batches²) refinement jobs over the drain). Probe positions
    // depend only on (key, m), so the key relation explodes per
    // DISTINCT m (typically 1-2 values); each sidecar row joins the
    // positions of ITS group's m via a broadcast (fileKey → m) map —
    // per-file semantics identical to the per-group shape (parity still
    // pinned by DedupIncrSpec / BloomIndexSpec).
    val passed: Set[String] =
      if (refine.isEmpty) Set.empty
      else {
        val posByM = refine.map(_._1._2).distinct.map { m =>
          k.select(lit(m.toLong).as("__pm"), col("__k"),
              pmod(hash(col("__k")).cast("long"), lit(m.toLong)).as("h1"),
              pmod(xxhash64(col("__k")), lit(m.toLong)).bitwiseOR(lit(1L))
                .as("h2"))
            .select(col("__pm"), col("__k"),
              explode(sequence(lit(0L), lit(BloomK - 1L))).as("i"),
              col("h1"), col("h2"))
            .withColumn("p",
              (col("h1") + col("i") * col("h2")) % col("__pm"))
            .select(col("__pm"), col("__k"), col("i"),
              expr("p div 64").as("w"),
              expr("shiftleft(cast(1 as bigint), cast(p % 64 as int))")
                .as("mask"))
        }.reduce(_ unionByName _)
        val session = spark
        import session.implicits._
        val fkm = refine.flatMap { case ((_, m), es) =>
          es.map(e => (fileKey(e.relPath), m.toLong))
        }.toDF("__fk", "__fm")
        val dirs = refine.map(_._1._1).distinct
          .map(d => root.resolve(d).toString)
        spark.read.parquet(dirs: _*)
          .filter(col(BfCol) === phys)
          .join(broadcast(fkm), col(BfFile) === col("__fk"), "inner")
          .join(posByM,
            col("__fm") === col("__pm") && col(BfWord) === col("w"))
          .filter(col(BfBits).bitwiseAND(col("mask")) =!= 0L)
          .groupBy(col(BfFile), col("__k"))
          .agg(countDistinct(col("i")).as("nset"))
          .filter(col("nset") === lit(BloomK.toLong))
          .select(col(BfFile)).distinct()
          .collect().map(_.getString(0)).toSet
      }
    val admitted2 = passed ++ admitRest.iterator
      .flatMap(_._2.map(e => fileKey(e.relPath)))
    readOf(plain ++ bloomed.filter(e => admitted2(fileKey(e.relPath))))
  }

  /** The files of `index` that may hold a row satisfying `cond` — the
    * file-skipping compiler, reached through a read's
    * [[ManifestFileIndex]] by the [[GraftScanPruning]] rule (which hands
    * it the optimizer's own coerced, pushed-down condition) and by the
    * key probes. Attribute names at the relation level are PHYSICAL
    * names, which is exactly what the manifest stats/bloom keys record.
    *
    * Every maximal deterministic, subquery-free subtree that reads only
    * partition columns is evaluated on each file's typed partition row
    * by [[ManifestFileIndex.partitionPredicate]]: a NULL result skips
    * the file, an evaluation error keeps it. So is the rewrite of
    * `cond` onto GENERATED partition columns
    * ([[generatedPartitionFilters]]). The rest is walked under
    * `AND`/`OR`/`NOT`: `=`, `<=>`, `IN`, `<`, `<=`, `>`, `>=`,
    * `IS NULL`, `IS NOT NULL` on data columns prune by min/max and
    * null-count stats and bloom filters (ONE batched sidecar read per
    * bloom dir for a whole IN-list). Any other shape prunes nothing.
    * Stats and bloom comparisons follow the write side's `cast("long")`
    * contract: only INTEGRAL literals participate, and strict bounds
    * relax to inclusive, so the cast's toward-zero truncation can never
    * skip a file holding a matching fractional value. */
  private[lake] def scanEntriesByCondition(index: ManifestFileIndex,
      cond: cxp.Expression): Seq[ManifestFile] = {
    val full = (cond +: generatedPartitionFilters(cond,
      index.partitionSchema)).reduce(cxp.And)
    index.files.filter(compilePrune(full, index, index.files.map(_.entry)))
  }

  /** Keep-everything: the compilation of any predicate shape the
    * planner can't reason about. */
  private val NoPrune: FileEntry => Boolean = _ => true

  /** Compile a Catalyst predicate into a per-file may-match test over
    * `index`'s partition rows and manifest metadata. Compilation
    * happens ONCE per scan (literal extraction, IN-list sorting, lazy
    * batched bloom probes are shared across all files); the returned
    * closure is a pure driver-side check. */
  private def compilePrune(e: cxp.Expression, index: ManifestFileIndex,
      live: Seq[FileEntry]): ManifestFile => Boolean = e match {
    case _ if e.deterministic && e.references.nonEmpty &&
        e.references.forall(a =>
          index.partitionSchema.fieldNames.contains(a.name)) &&
        !cxp.SubqueryExpression.hasSubquery(e) =>
      val admits = index.partitionPredicate(Seq(e), admitErrors = true)
      f => admits(f.partition)
    case cxp.And(l, r) =>
      val (cl, cr) = (compilePrune(l, index, live),
        compilePrune(r, index, live))
      f => cl(f) && cr(f)
    case cxp.Or(l, r) =>
      val (cl, cr) = (compilePrune(l, index, live),
        compilePrune(r, index, live))
      f => cl(f) || cr(f)
    case _ =>
      val admits = compileData(e, live)
      f => admits(f.entry)
  }

  /** The stats and bloom surfaces: a per-entry may-match test for one
    * comparison on a data column. Unknown shapes compile to
    * keep-everything. */
  private def compileData(e: cxp.Expression,
      live: Seq[FileEntry]): FileEntry => Boolean = e match {
    case cxp.Not(inner) => inner match {
      case cxp.IsNull(a)    => compileData(cxp.IsNotNull(a), live)
      case cxp.IsNotNull(a) => compileData(cxp.IsNull(a), live)
      case _                => NoPrune
    }
    case cxp.EqualTo(a, b) => compileEqLike(a, b, live)
    case cxp.EqualNullSafe(a, b) => (unwrapLit(a), unwrapLit(b)) match {
      case (Some(cxp.Literal(null, _)), _) => compileData(cxp.IsNull(b), live)
      case (_, Some(cxp.Literal(null, _))) => compileData(cxp.IsNull(a), live)
      case _                               => compileEqLike(a, b, live)
    }
    case cxp.In(a, list) => attrOf(a) match {
      case Some(c) if list.forall(unwrapLit(_).isDefined) =>
        compileIn(c, list.flatMap(unwrapLit), live)
      case _ => NoPrune
    }
    // the optimizer's rendering of a long IN-list: internal values of
    // the child's type
    case cxp.InSet(a, set) => attrOf(a) match {
      case Some(c) =>
        compileIn(c, set.toSeq.map(cxp.Literal.create(_, a.dataType)), live)
      case None => NoPrune
    }
    // Strict bounds relax to inclusive — see the truncation note above.
    case cxp.GreaterThan(a, b)        => compileCmpGe(a, b)
    case cxp.GreaterThanOrEqual(a, b) => compileCmpGe(a, b)
    case cxp.LessThan(a, b)           => compileCmpGe(b, a)
    case cxp.LessThanOrEqual(a, b)    => compileCmpGe(b, a)
    case cxp.IsNotNull(a) => attrOf(a) match {
      case Some(c) => fe => !fe.stats.get(c).exists(_.allNull)
      case None => NoPrune
    }
    case cxp.IsNull(a) => attrOf(a) match {
      case Some(c) => fe =>
        fe.stats.get(c).forall(cs => cs.nullsRows.forall(_._1 > 0))
      case None => NoPrune
    }
    case _ => NoPrune
  }

  /** `a = b` as a one-literal IN-list on the attribute side. */
  private def compileEqLike(a: cxp.Expression, b: cxp.Expression,
      live: Seq[FileEntry]): FileEntry => Boolean =
    compileData(if (attrOf(a).isDefined) cxp.In(a, Seq(b))
      else cxp.In(b, Seq(a)), live)

  /** `a cmp b` normalized so the MATCHING rows have `a >= b`: prunes when
    * one side is an attribute and the other an integral literal — or,
    * r15, a STRING literal against the truncated string stats. */
  private def compileCmpGe(a: cxp.Expression,
      b: cxp.Expression): FileEntry => Boolean =
    (attrOf(a), litLong(b), attrOf(b), litLong(a)) match {
      case (Some(c), Some(v), _, _) => compileRange(c, v, Long.MaxValue)
      case (_, _, Some(c), Some(v)) => compileRange(c, Long.MinValue, v)
      case _ =>
        (attrOf(a), litStr(b), attrOf(b), litStr(a)) match {
          case (Some(c), Some(v), _, _) => compileRangeStr(c, Some(v), None)
          case (_, _, Some(c), Some(v)) => compileRangeStr(c, None, Some(v))
          case _                        => NoPrune
        }
    }

  /** Membership prune: file may match `c IN (lits)` iff the stats range
    * admits some literal AND (for bloom'd files) the batched sidecar
    * probe admits some literal. Each surface only engages when EVERY
    * non-null literal is expressible in its comparison domain — a
    * partially convertible IN-list (e.g. `IN (5, 5.5)`) must not prune
    * on the convertible subset alone. */
  private def compileIn(c: String, lits: Seq[cxp.Literal],
      live: Seq[FileEntry]): FileEntry => Boolean = {
    val nonNull = lits.filter(_.value != null) // NULL in an IN-list matches nothing
    val longs = nonNull.flatMap(litLongOf).distinct.sorted.toArray
    val allLong = nonNull.forall(l => litLongOf(l).isDefined)
    // string-literal membership engages the TRUNCATED string stats
    // (r15): a file admits iff some literal sits inside its strRange
    val strLits = nonNull.flatMap(litStrOf)
    val allStr = nonNull.forall(l => litStrOf(l).isDefined)
    // ONE batched probe for all values, deferred until a bloom'd file
    // actually reaches the check.
    lazy val bloomPass: Set[String] =
      bloomAdmittedFiles(c, longs.toSeq, live)
    fe => {
      val statsOk = !allLong || longs.isEmpty ||
        fe.stats.get(c).forall { cs =>
          !cs.allNull && cs.range.forall { case (mn, mx) =>
            val i = lowerBound(longs, mn)
            i < longs.length && longs(i) <= mx
          }
        }
      val statsOkStr = !allStr || strLits.isEmpty ||
        fe.stats.get(c).forall { cs =>
          !cs.allNull && cs.strRange.forall { case (mn, mxOpt) =>
            strLits.exists(s => MergeTable.cpCompare(s, mn) >= 0 &&
              mxOpt.forall(mx => MergeTable.cpCompare(s, mx) <= 0))
          }
        }
      val bloomOk = !allLong || longs.isEmpty ||
        !fe.bloom.exists(_.cols.contains(c)) || bloomPass(fe.relPath)
      statsOk && statsOkStr && bloomOk
    }
  }

  /** Range prune on `c`'s long-cast stats. */
  private def compileRange(c: String, lo: Long,
      hi: Long): FileEntry => Boolean = fe =>
    fe.stats.get(c).forall { cs =>
      !cs.allNull && cs.range.forall { case (mn, mx) =>
        mx >= lo && mn <= hi
      }
    }

  /** Range prune on `c`'s TRUNCATED string stats ([[ColStat.strRange]])
    * — the string analog of [[compileRange]] for the matching window
    * [lo, hi] (either side open). Sound by the truncation bounds: the
    * recorded min is a PREFIX of the true minimum (<= it in code-point
    * order), the recorded max is >= the true maximum (exact when short,
    * bumped prefix when truncated, absent when unbumpable — which
    * disengages the lo test). All comparisons code-point
    * ([[MergeTable.cpCompare]] — java's UTF-16 char order must never
    * decide a skip). */
  private def compileRangeStr(c: String, lo: Option[String],
      hi: Option[String]): FileEntry => Boolean = fe =>
    fe.stats.get(c).forall { cs =>
      !cs.allNull && cs.strRange.forall { case (mn, mxOpt) =>
        hi.forall(h => MergeTable.cpCompare(mn, h) <= 0) &&
          lo.forall(l =>
            mxOpt.forall(mx => MergeTable.cpCompare(mx, l) >= 0))
      }
    }

  /** First index in sorted `xs` with value >= `target` (xs.length when
    * none). */
  private def lowerBound(xs: Array[Long], target: Long): Int = {
    val i = java.util.Arrays.binarySearch(xs, target)
    if (i >= 0) i else -(i + 1)
  }

  /** The attribute name a prunable comparison side resolves to — a
    * relation-level, hence PHYSICAL, name. Casts unwrap: the stats
    * contract is itself a long cast. */
  private def attrOf(e: cxp.Expression): Option[String] = e match {
    case a: cxp.AttributeReference => Some(a.name)
    case c: cxp.Cast               => attrOf(c.child)
    case _                         => None
  }

  private def unwrapLit(e: cxp.Expression): Option[cxp.Literal] = e match {
    case l: cxp.Literal => Some(l)
    case c: cxp.Cast    => unwrapLit(c.child)
    case _              => None
  }

  private def litLong(e: cxp.Expression): Option[Long] =
    unwrapLit(e).flatMap(litLongOf)

  /** The literal's long value, ONLY for integral types — fractional and
    * other literals are not comparable against truncated long-cast
    * stats and must disable the stats/bloom surfaces. */
  private def litLongOf(l: cxp.Literal): Option[Long] = l match {
    case cxp.Literal(null, _) => None
    case cxp.Literal(v, t) => t match {
      case org.apache.spark.sql.types.ByteType =>
        Some(v.asInstanceOf[Byte].toLong)
      case org.apache.spark.sql.types.ShortType =>
        Some(v.asInstanceOf[Short].toLong)
      case org.apache.spark.sql.types.IntegerType =>
        Some(v.asInstanceOf[Int].toLong)
      case org.apache.spark.sql.types.LongType =>
        Some(v.asInstanceOf[Long])
      case _ => None
    }
  }

  private def litStr(e: cxp.Expression): Option[String] =
    unwrapLit(e).flatMap(litStrOf)

  /** The literal's string value, ONLY for StringType — the comparison
    * domain of the truncated string stats ([[MergeTable.StrStatLen]]).
    * Non-string literals (including renderable ones) must not engage
    * the string-range surface: their ORDER need not match code-point
    * order. */
  private def litStrOf(l: cxp.Literal): Option[String] = l match {
    case cxp.Literal(null, _) => None
    case cxp.Literal(v, org.apache.spark.sql.types.StringType) =>
      Some(v.toString)
    case _ => None
  }

  /** RelPaths among `live`'s BLOOMED files whose sidecars admit AT LEAST
    * ONE of `values` for column `c`: driver-evaluated probe positions
    * (parity with the write side's murmur3+xxhash64) and ONE sidecar
    * read per bloom dir regardless of value count. Files without a bloom ref
    * for `c` never appear here; the caller keeps them (safe fallback). */
  private def bloomAdmittedFiles(c: String, values: Seq[Long],
      live: Seq[FileEntry]): Set[String] = {
    val bloomed = live.filter(_.bloom.exists(_.cols.contains(c)))
    if (bloomed.isEmpty || values.isEmpty) return Set.empty
    // The per-file admit test is O(values × K) — fine for point/short
    // IN probes, quadratic-ish when a wide key list meets a wide
    // manifest. Past this product the bloom surface bows out (admit
    // every bloomed file = prune nothing); the stats range prune,
    // whose per-file test is O(log values), still applies.
    if (values.size.toLong * bloomed.size > 50000000L)
      return bloomed.map(_.relPath).toSet
    bloomed.groupBy(e => (e.bloom.get.relDir, e.bloom.get.m))
      .toSeq.sortBy(_._1._1)
      .flatMap { case ((dir, m), es) =>
        // driver-evaluated probe positions ([[MergeTable.bloomHashes]])
        // — the plan-based batch probe here cost one Spark job per
        // (dir, m) group per call
        val pos: Map[Long, Seq[Long]] =
          values.map(v => v -> probePositions(v, m)).toMap
        val got = bloomSliceOf(dir, c, pos.values.flatten.map(_ / 64).toSet,
          es.map(e => fileKey(e.relPath)).toSet)
        es.filter { e =>
          val words = got.getOrElse(fileKey(e.relPath), Map.empty[Long, Long])
          values.exists { v =>
            pos(v).forall(p =>
              (words.getOrElse(p / 64, 0L) & (1L << (p % 64).toInt)) != 0L)
          }
        }.map(_.relPath)
      }.toSet
  }

  /** One bloom-sidecar group's word map for column `c`:
    * fileKey → (word → bits), covering at least `needWords` × `keys`.
    * SMALL sidecar dirs (on-disk bytes under
    * [[MergeTable.BloomSliceMemoMaxBytes]]) are read WHOLE, once per
    * JVM, into [[MergeTable.bloomSliceMemo]] — sidecar dirs are
    * immutable (a commit writes a fresh `bf-*` dir; vacuum removes
    * whole dirs), so every later probe of the same sidecar is
    * zero-job (r15 job diet: CDC guards and join-view refreshes
    * re-probed the same sidecars once per batch/refresh, one Spark
    * collect per (dir, m) group each time). Big sidecars keep the
    * bounded word-sliced read — the memo must never turn a
    * K-words-per-value probe into a whole-filter read at 100 TB. */
  private def bloomSliceOf(dir: String, c: String, needWords: Set[Long],
      keys: Set[String]): Map[String, Map[Long, Long]] = {
    val abs = root.resolve(dir).toAbsolutePath.normalize
    def slurp(whole: Boolean): Map[String, Map[Long, Long]] = {
      val rd = spark.read.parquet(abs.toString).filter(col(BfCol) === c)
      // Narrow probes push the word set into the sidecar read; wide
      // IN-lists just take the (word-bounded) column slice whole.
      val sliced =
        if (!whole && needWords.size <= 256)
          rd.filter(col(BfWord).isin(needWords.toSeq: _*))
        else rd
      val rows = sliced.select(col(BfFile), col(BfWord), col(BfBits))
        .collect()
      (if (whole) rows.iterator else rows.iterator.filter(
        r => keys(r.getString(0)))).toSeq
        .groupBy(_.getString(0))
        .map { case (f, rs) =>
          f -> rs.map(r => r.getLong(1) -> r.getLong(2)).toMap
        }
    }
    val small =
      try {
        var sum = 0L
        Using.resource(Files.list(abs)) { st =>
          val it = st.iterator()
          while (it.hasNext && sum <= MergeTable.BloomSliceMemoMaxBytes) {
            val p = it.next()
            if (Files.isRegularFile(p)) sum += Files.size(p)
          }
        }
        sum <= MergeTable.BloomSliceMemoMaxBytes
      } catch { case _: java.io.IOException => false }
    if (small)
      MergeTable.bloomSliceMemo.get((abs.toString, c))(slurp(whole = true))
    else slurp(whole = false)
  }

  /** Time travel — snapshot of historical `version`, presented under
    * the LOGICAL SCHEMA AS OF that version (Delta parity): a rename or
    * drop committed after `version` does not retitle history — the
    * replayed snapshot shows the names a reader at that version saw,
    * and a since-dropped column is still present at pre-drop versions.
    * (Current reads and the change feed keep the CURRENT presentation:
    * CDF column sets must stay aligned across rename boundaries for
    * incremental consumers — pinned by ColumnMappingSpec.) */
  def readVersion(version: Long): DataFrame = {
    val st = laidOutAt(version)
    readEntries(st.entries, st.meta.schema, st.meta.mapping)
  }

  /** Change data feed between two committed versions (the Delta CDF
    * shape): every row inserted, updated, or deleted from `fromV` to
    * `toV`, keyed by `pk`, tagged `_change_type` ∈ insert/update/delete.
    * Updates and inserts carry the post-image; deletes carry the
    * pre-image.
    *
    * Log-level pruning does the heavy lifting: a partition whose manifest
    * file list is IDENTICAL in both versions cannot contain changed rows
    * (commits never rewrite files in place), so only partitions whose
    * file sets differ are scanned on either side — a merge that touched 1
    * of 10k partitions diffs 1/10k of the table. The remaining diff is
    * one pk-shuffle full-outer join with null-safe struct comparison. */
  def changes(fromV: Long, toV: Long, pk: String): DataFrame =
    changes(fromV, toV, pk, updateImages = false)

  /** Change data feed with Delta's full image contract when
    * `updateImages` is set: updates emit TWO rows — `update_preimage`
    * and `update_postimage` — instead of one post-image row, which is
    * what downstream incremental consumers (e.g.
    * [[IncrementalAgg]] materialized-view maintenance) need to subtract
    * the old contribution and add the new one. Inserts/deletes are
    * unchanged. */
  def changes(fromV: Long, toV: Long, pk: String,
      updateImages: Boolean): DataFrame = {
    val ea = laidOutAt(fromV).entries
    val eb = laidOutAt(toV).entries
    // both sides present under the CURRENT schema and mapping
    val meta = headMeta
    // The file-set signature includes each file's deletion-vector ref:
    // a vectorizing DELETE changes rows while leaving every relPath in
    // place, so a path-only signature would read the partition as
    // unchanged and the feed would miss the deletes.
    def byPart(es: Seq[FileEntry])
        : Map[Option[String], Set[(String, Option[DvRef])]] =
      es.groupBy(_.partitionValue).map { case (p, fs) =>
        p -> fs.map(e => (e.relPath, e.dv)).toSet
      }
    val (pa, pb) = (byPart(ea), byPart(eb))
    val changedParts = (pa.keySet ++ pb.keySet)
      .filter(p => pa.get(p) != pb.get(p))
    diffFeed(
      readEntries(ea.filter(e => changedParts(e.partitionValue)),
        meta.schema, meta.mapping),
      readEntries(eb.filter(e => changedParts(e.partitionValue)),
        meta.schema, meta.mapping),
      pk, updateImages)
  }

  /** Shared full-outer diff core behind BOTH change feeds —
    * [[changes]] (keyed on a logical pk) and [[changesByRowId]] (keyed
    * on the physical row id): pack each side's non-key columns into
    * one struct under the UNION of the two sides' columns (schema
    * evolution: the side lacking a column reads it as a typed null),
    * full-outer join on the null-safe key, classify
    * insert/delete/update, then emit either single post-image rows or
    * Delta's update pre/post image pairs. */
  private def diffFeed(a: DataFrame, b: DataFrame, key: String,
      updateImages: Boolean): DataFrame = {
    val types =
      (a.schema.fields ++ b.schema.fields).map(f => f.name -> f.dataType).toMap
    val cols = (a.columns.toSeq ++ b.columns.toSeq).distinct
      .filterNot(_ == key)
    def packed(df: DataFrame, keyAs: String, as: String): DataFrame = {
      val have = df.columns.toSet
      df.select(col(key).as(keyAs), struct(cols.map(c =>
        if (have(c)) col(c) else lit(null).cast(types(c)).as(c)): _*).as(as))
    }
    // Null-safe (<=>) join key: a plain-equality join never matches a
    // null pk, so an UNCHANGED null-pk row in a touched partition would
    // surface as a spurious delete + insert. The pk is assumed unique per
    // snapshot (the same contract MERGE itself relies on), which with <=>
    // extends to "at most one null-pk row". (Row ids are non-null by
    // construction; <=> degenerates to === for them.)
    val diffed = packed(a, "_pk_pre", "_pre")
      .join(packed(b, "_pk_post", "_post"),
        col("_pk_pre") <=> col("_pk_post"), "full_outer")
      .withColumn(key, coalesce(col("_pk_post"), col("_pk_pre")))
      .withColumn("_change_type",
        when(col("_pre").isNull, "insert")
          .when(col("_post").isNull, "delete")
          .when(!(col("_pre") <=> col("_post")), "update"))
      .filter(col("_change_type").isNotNull)
    if (!updateImages)
      diffed.select(
        col(key) +:
          // post-image for insert/update (field-level coalesce would leak
          // pre-image values into columns an update set to NULL),
          // pre-image for delete
          cols.map(c => when(col("_post").isNotNull, col(s"_post.$c"))
            .otherwise(col(s"_pre.$c")).as(c)) :+
          col("_change_type"): _*)
    else
      // one narrow pass: updates explode to their two images
      diffed
        .select(col(key), explode(
          when(col("_change_type") === "insert",
            array(struct(col("_post").as("img"), lit("insert").as("ct"))))
            .when(col("_change_type") === "delete",
              array(struct(col("_pre").as("img"), lit("delete").as("ct"))))
            .otherwise(array(
              struct(col("_post").as("img"),
                lit("update_postimage").as("ct")),
              struct(col("_pre").as("img"),
                lit("update_preimage").as("ct"))))).as("e"))
        .select(
          col(key) +:
            cols.map(c => col(s"e.img.$c").as(c)) :+
            col("e.ct").as("_change_type"): _*)
  }

  /** Change data feed keyed on ROW IDENTITY (row tracking × CDF): the
    * PHYSICAL lineage feed between two versions — `insert` for ids
    * present only at `toV`, `delete` for ids present only at `fromV`,
    * `update_preimage`/`update_postimage` pairs for ids present at
    * both whose STORED bytes changed (a widened column type, an
    * engine-materialized value). No primary key needed and no
    * uniqueness assumption beyond the allocator's — this is the feed
    * for consumers keyed on [[readWithRowIds]]'s `row_id` (feature
    * stores, training-data lineage). Because the OPTIMIZE family
    * MATERIALIZES ids through rewrites, a pure compaction emits
    * NOTHING here (identity and content both survive), while
    * copy-on-write DML surfaces as delete + insert of the rewritten
    * rows under their old and fresh ids — Delta's exact
    * non-`rowTracking.preserved` contract, observable. Reads prune to
    * partitions whose file sets (incl. deletion vectors) differ, like
    * [[changes]]. */
  def changesByRowId(fromV: Long, toV: Long): DataFrame = {
    require(fromV <= toV,
      s"changesByRowId: fromV $fromV must be <= toV $toV")
    val (sa, sb) = (laidOutAt(fromV), laidOutAt(toV))
    val (ea, eb) = (sa.entries, sb.entries)
    require((ea ++ eb).forall(_.rowIds.isDefined),
      s"MergeTable at $root: changesByRowId needs row tracking on " +
        "every live file of both versions (enable withRowTracking at " +
        "table birth)")
    def byPart(es: Seq[FileEntry])
        : Map[Option[String], Set[(String, Option[DvRef])]] =
      es.groupBy(_.partitionValue).map { case (p, fs) =>
        p -> fs.map(e => (e.relPath, e.dv)).toSet
      }
    val (pa, pb) = (byPart(ea), byPart(eb))
    val changedParts = (pa.keySet ++ pb.keySet)
      .filter(p => pa.get(p) != pb.get(p))
    val selA = ea.filter(e => changedParts(e.partitionValue))
    val selB = eb.filter(e => changedParts(e.partitionValue))
    def side(sel: Seq[FileEntry], at: TableState,
        forceSchema: Boolean): DataFrame = {
      val declared = at.meta.schema
      val mapping = at.meta.mapping
      if (sel.isEmpty && !forceSchema)
        // metadata-cost empty side (the common pure-append poll: a
        // version contributes no changed partitions): the NONEMPTY
        // side supplies every payload column for the diff's
        // union-of-columns typing, so this side only needs the key —
        // never a plan over the version's live files
        return spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("row_id",
              org.apache.spark.sql.types.LongType))))
      if (sel.isEmpty) {
        // BOTH sides empty (fromV == toV, or only metadata-only
        // commits between): the feed's schema must still match a
        // normal poll's (r14 ADVICE — downstream consumers union or
        // write with a fixed schema), so this side is built from the
        // declared schema at `at` exactly like the pk feed's empty
        // reads, never a bespoke row_id-only frame. Column order
        // mirrors the nonempty read: the DECLARED order when one
        // exists (r15 review — the nonempty poll presents it via
        // declaredColumnOrder, so this side must too, or a declared
        // schema with a non-trailing partition column breaks the
        // stable-schema law this branch exists for), else data fields
        // then partition columns, then the identity pair.
        val base = emptyLikePhys(declared)
        val (pc, dc) = base.columns.partition(partitionCols.contains)
        val shaped = base.select(
          declaredColumnOrder(declared, (dc ++ pc).toSeq).map(col): _*)
          .withColumn(RidCol, lit(null).cast("long"))
          .withColumn(RcvCol, lit(null).cast("long"))
        return presentLogicalAs(shaped, mapping)
          .withColumnRenamed(RidCol, "row_id")
          .withColumnRenamed(RcvCol, "row_commit")
      }
      readEntries(sel, declared, mapping, rowIds = true)
        .withColumnRenamed(RidCol, "row_id")
        .withColumnRenamed(RcvCol, "row_commit")
    }
    // the shared diff core ([[diffFeed]]), always with update images:
    // a physical-lineage consumer needs both sides of a stored-byte
    // change. row_commit rides as a payload column — rewrites
    // MATERIALIZE it, so it never manufactures a spurious update.
    // toV == 0 (a poll against the empty table) has no schema to
    // shape by — keep the key-only frame there (legacy behavior)
    val bothEmpty = selA.isEmpty && selB.isEmpty && toV > 0L
    diffFeed(side(selA, sa, forceSchema = false),
      side(selB, sb, forceSchema = bothEmpty), "row_id",
      updateImages = true)
  }

  /** Delta's RESTORE TABLE: roll the table back to historical
    * `version` — as a NEW commit (the rollback itself is auditable and
    * revertable; history is never rewritten). Metadata-only: the
    * restored snapshot's files are re-referenced, nothing is copied or
    * rewritten — O(files) regardless of table size. Requires the
    * target snapshot to still be reconstructible (vacuum prunes
    * pre-vacuum history). Restoring the current version is a no-op
    * commit-free. */
  def restore(version: Long): Long = {
    val head = latestVersion()
    require(version >= 1 && version <= head,
      s"cannot restore to $version: table is at $head")
    if (version == head) return head // already there — commit nothing
    retryingCommit("RESTORE",
      Map("version" -> version.toString)) { () =>
      val TableState(cur, live, _) = latest()
      val target = laidOutAt(version).entries
      val targetPaths = target.map(_.relPath).toSet
      val removed = live.filterNot(e => targetPaths(e.relPath))
      // Whole-ENTRY comparison, not path comparison: a file present in
      // both snapshots but with a different deletion vector (or stats)
      // must re-commit with the target's state — re-Adding the same
      // relPath replaces the live entry in the fold.
      val added = {
        val liveByPath = live.map(e => e.relPath -> e).toMap
        target.filterNot(e => liveByPath.get(e.relPath).contains(e))
      }
      (CommitDelta(added, removed.map(_.relPath)), cur)
    }
  }

  /** Delta's `CONVERT TO DELTA`: adopt a PLAIN parquet directory (flat,
    * or single-column hive-partitioned `pc=v/` dirs) as this table's
    * first commit — IN PLACE, zero bytes copied or rewritten at any
    * size. The commit references the existing files where they lie
    * (the manifest path machinery is layout-agnostic; partition values
    * come from the dir names exactly as a hive reader sees them) and
    * records the hive-inferred schema as the DECLARED log schema in
    * the same atomic commit, so every read takes the declared-schema
    * path (one scan node, manifest-attached partition column) and
    * every later feature — MERGE, DELETE, time travel, ADD COLUMN,
    * constraints — works immediately. Cost: one driver file listing +
    * one footer-only schema probe; O(files) metadata, never O(data).
    *
    * Converted files never carry per-file stats (stats appear on files
    * a later commit writes; compact() re-establishes them table-wide),
    * and [[vacuum]] never reaps them even when superseded — it only
    * deletes `commit-*` dirs, so adopted originals are structurally
    * safe from the engine (conservative; delete them out-of-band once
    * history no longer references them). */
  def convertInPlace(): Long = {
    require(latestVersion() == 0L,
      s"convertInPlace: $root already holds graft history " +
        s"(version ${latestVersion()})")
    val files = Using.resource(Files.walk(root)) { st =>
      st.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .map(p => root.relativize(p).toString)
        .filterNot(rel => rel.startsWith("_") || rel.startsWith("."))
        .toSeq.sorted
    }
    require(files.nonEmpty, s"convertInPlace: no parquet files under $root")
    val maxDepth = math.max(1, partitionCols.size)
    files.foreach { rel =>
      val depth = rel.count(_ == '/')
      require(depth <= maxDepth,
        s"convertInPlace: '$rel' nests deeper than the declared hive " +
          s"levels (${partitionCols.mkString("/")})")
      // with partition columns, EVERY file must sit under the full
      // pc0=/pc1=/... chain IN ORDER — a shallower file would read NULL
      // partition values (its value lives in a data column the scan's
      // manifest partition values shadow)
      if (partitionCols.nonEmpty) {
        val segs = rel.split('/')
        require(segs.length == partitionCols.size + 1 &&
          partitionCols.zip(segs).forall { case (pc, seg) =>
            seg.startsWith(pc + "=") },
          s"convertInPlace: '$rel' is not under a '" +
            partitionCols.map(_ + "=<v>").mkString("/") + "' directory chain")
      }
    }
    // A root-level file keys as "<table-dir>/<file>" ([[fileKey]]); a
    // one-level dir that HAPPENS to share the table dir's name would
    // produce the same key for a same-named file — reject the (purely
    // pathological) mixed layout rather than mis-correlate silently.
    files.filter(!_.contains('/')).foreach { f =>
      require(!files.contains(s"$rootDirName/$f"),
        s"convertInPlace: '$f' and '$rootDirName/$f' share a file key " +
          s"(the subdirectory is named like the table dir '$rootDirName')")
    }
    val entries = files.map { rel =>
      val segs = rel.split('/').toSeq
      val vals = partitionCols.map { pc =>
        segs.find(_.startsWith(pc + "="))
          .map(x => unescapePathValue(x.substring(pc.length + 1)))
          .filter(_ != HiveDefaultPartition)
      }
      FileEntry(rel, encodePartValues(vals))
    }
    // an unpartitioned handle must not adopt files under name= dirs:
    // every later read of the table would refuse them
    requireLaidOut(entries, "the converted directory")
    // one footer-only probe; hive inference types the partition columns
    val schema = spark.read
      .option("basePath", root.toString)
      .parquet(root.toString).schema
    partitionCols.foreach(pc => require(schema.fieldNames.contains(pc),
      s"convertInPlace: partition column '$pc' not inferred from the " +
        s"layout (schema: ${schema.fieldNames.mkString(", ")})"))
    retryingCommit("CONVERT") { () =>
      val TableState(v, live, _) = latest()
      require(v == 0L && live.isEmpty,
        s"convertInPlace: a concurrent writer committed at $root")
      (CommitDelta(entries, Nil, mSchema = Some(schema.json)), v)
    }
  }

  /** Delta's shallow CLONE: a new table at `dest` whose first commit
    * REFERENCES this table's live files (relative paths through the
    * common filesystem — zero data copied, metadata-only, O(files)
    * time at any table size). The clone then diverges copy-on-write:
    * its merges/deletes rewrite only touched files INTO ITS OWN root,
    * never the source's; untouched entries keep pointing at source
    * files. Same caveat as Delta: [[vacuum]] on the SOURCE removes
    * files a clone may still reference — vacuum sources only when no
    * clone needs them (or re-materialize the clone via
    * [[snapshotDir]
    *
    * The first commit carries the source's whole metadata, as a
    * checkpoint does ([[MergeTable.MetaState.asDelta]]): CHECK,
    * generated and identity rules, the column mapping, the declared
    * schema, the row-id high-water mark, the protocol, and the txn
    * ledger — identity allocation watermarks included, so identity
    * values continue past the source's instead of repeating. */
  def cloneTo(dest: String): MergeTable = {
    val destPath = Paths.get(dest)
    // An existing regular file must fail THIS require (not surface later
    // as createDirectories' FileAlreadyExistsException), and the listing
    // stream must close.
    require(!Files.exists(destPath) ||
      (Files.isDirectory(destPath) &&
        !Using.resource(Files.list(destPath))(_.findFirst().isPresent)),
      s"clone destination $dest is not an empty directory")
    val src = latest()
    // the clone carries the handle's whole layout
    val clone = MergeTable(spark, destPath, logStore, layout)
    Files.createDirectories(destPath)
    // Deletion-vector refs are root-relative paths exactly like data
    // relPaths — rebase both through the common filesystem.
    def rebase(p: String): String = destPath.toAbsolutePath.normalize
      .relativize(root.toAbsolutePath.normalize.resolve(p).normalize)
      .toString
    val rebased = src.entries.map { e =>
      e.copy(relPath = rebase(e.relPath),
        dv = e.dv.map(d => d.copy(relDir = rebase(d.relDir))),
        bloom = e.bloom.map(b => b.copy(relDir = rebase(b.relDir))))
    }
    // the PROTOCOL is the source's unioned with what the clone's own
    // delta introduces — this commit publishes through tryCommit
    // directly, so the retryingCommit auto-stamp never sees it, and a
    // clone of a feature-bearing table must not be
    // feature-bearing-undeclared
    val carried = src.meta.asDelta.copy(adds = rebased)
    val (fr, fw) = clone.featuresOf(carried)
    val (r0, w0) = src.meta.protocol
    val proto = (r0 ++ fr, w0 ++ r0 ++ fw ++ fr)
    val cloneDelta = carried.copy(protocol =
      Some(proto).filter(p => p._1.nonEmpty || p._2.nonEmpty))
    val v = clone.tryCommit(op = "CLONE",
      params = Map("source" -> root.toAbsolutePath.normalize.toString),
      delta = cloneDelta,
      expected = 0L)
    require(v.contains(1L), s"clone commit lost a race at fresh $dest")
    clone
  }

  /** DESCRIBE HISTORY parity: one row per commit — version, commit
    * time (the same in-commit-stamp clock [[readAsOf]] trusts), files
    * added/removed, whether a checkpoint exists at that version, and
    * the operation metrics the commit recorded (`k=v; …`, null when
    * none — a MERGE records `numSourceRows`).
    * Reads only the log directory (metadata-scale; never data files),
    * newest first. Vacuumed-away versions are listed only if their
    * delta survives. */
  def history(): DataFrame = {
    import spark.implicits._
    val rows = (1L to latestVersion()).reverse.flatMap { v =>
      val p = logDir.resolve(f"$v%020d.txt")
      if (!Files.exists(p)) None
      else {
        val actions = readLogFile(p)
        val hdr = headerOf(v)
        val opInfo = hdr.flatMap(_._2)
        Some((v,
          java.sql.Timestamp.from(java.time.Instant.ofEpochMilli(
            hdr.map(_._1).getOrElse(
              Files.getLastModifiedTime(p).toMillis))),
          opInfo.map(_._1).orNull,
          opInfo.map(_._2.toSeq.sortBy(_._1)
            .map { case (k, x) => s"$k=$x" }.mkString("; ")).orNull,
          actions.count(_.isInstanceOf[Add]).toLong,
          actions.count(_.isInstanceOf[Remove]).toLong,
          Files.exists(logDir.resolve(f"$v%020d$CkptSuffix")),
          hdr.map(_._3).filter(_.nonEmpty).map(_.toSeq.sortBy(_._1)
            .map { case (k, n) => s"$k=$n" }.mkString("; ")).orNull))
      }
    }
    rows.toDF("version", "committed_at", "operation",
      "operation_parameters", "n_added", "n_removed", "has_checkpoint",
      "operation_metrics")
  }

  /** Delta's `COPY INTO`: load files from `src` into this table,
    * EXACTLY ONCE PER FILE across any number of invocations — the
    * retryable, idempotent batch-ingestion front door. Two ledgers
    * compose to give the guarantee:
    *
    *  - WHICH FILES were already loaded: Spark's file-stream source
    *    under `Trigger.AvailableNow` tracks seen files in a checkpoint
    *    under `_graft_copy/<source-hash>` inside the table root — a
    *    re-invocation (or a retried failed one) picks up exactly the
    *    not-yet-committed files, at any backlog size
    *    (`maxFilesPerTrigger`-bounded batches);
    *  - WHICH BATCHES were already committed: each micro-batch lands
    *    through [[appendWithTxn]] under a per-source appId, so the
    *    crash-replay window between the engine's offset commit and
    *    the table commit is absorbed (X168's argument).
    *
    * Schema: the TABLE's schema once it has data (arriving files must
    * conform — [[append]]'s equality check); inferred from the source
    * files for the very first load (self-describing formats; CSV
    * first-loads read `header`). The checkpoint dir sits beside
    * `_graft_log` and is invisible to vacuum/manifest machinery. */
  def copyInto(src: String, format: String = "parquet",
      pattern: Option[String] = None,
      maxFilesPerTrigger: Option[Int] = None): Long = {
    val path = pattern.map(p => s"${src.stripSuffix("/")}/$p").getOrElse(src)
    val tableSchemaOpt =
      if (latestVersion() > 0L &&
          (liveEntries().nonEmpty || declaredSchema.isDefined))
        Some(read().schema)
      else None
    // The source-schema probe exists to find SOURCE-ABSENT columns to
    // default-fill. On a drained/empty source dir it fails — which
    // must stay a NO-OP for an established table (the scheduled
    // incremental-run pattern), and an error only for the FIRST load
    // (nothing to infer a schema from).
    val srcSchemaOpt =
      try Some(spark.read.format(format).option("header", "true")
        .load(path).schema)
      catch { case scala.util.control.NonFatal(e) =>
        if (tableSchemaOpt.isEmpty)
          throw new IllegalArgumentException(
            s"COPY INTO at $root: cannot infer a schema from '$path' " +
              "for the FIRST load into an empty table — the source " +
              "has no readable files", e)
        None
      }
    val srcSchema = srcSchemaOpt.getOrElse(tableSchemaOpt.get)
    val tableSchema = tableSchemaOpt.getOrElse(srcSchema)
    // Columns the SOURCE lacks are engine-filled: the declared DEFAULT
    // when one exists, else NULL (pre-defaults behavior). The stream
    // reads with the table types for the columns the source HAS, so
    // arriving files conform exactly as before.
    val srcHas = srcSchema.fieldNames.map(_.toLowerCase).toSet
    val missing = tableSchema.fields.toSeq
      .filterNot(f => srcHas.contains(f.name.toLowerCase))
    val defaults = columnDefaults
    val sch = org.apache.spark.sql.types.StructType(
      tableSchema.fields.filter(f => srcHas.contains(f.name.toLowerCase)))
    def fill(b: DataFrame): DataFrame =
      missing.foldLeft(b) { (d, f) =>
        d.withColumn(f.name, defaults.get(f.name)
          .map(x => expr(x).cast(f.dataType))
          .getOrElse(lit(null).cast(f.dataType)))
      }
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(path.getBytes("UTF-8")).map("%02x".format(_)).mkString
      .take(16)
    val ckpt = root.resolve("_graft_copy").resolve(key)
    val appId = s"copy-into:$key"
    var r = spark.readStream.schema(sch).format(format)
      .option("header", "true")
    maxFilesPerTrigger.foreach(n =>
      r = r.option("maxFilesPerTrigger", n.toString))
    val q = r.load(path)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (b: DataFrame, id: Long) =>
        if (!b.isEmpty) appendWithTxn(fill(b), appId, id)
        ()
      }
      .start()
    q.awaitTermination()
    latestVersion()
  }

  /** `SHOW PARTITIONS` (hive-parity surface Delta itself lacks): one
    * row per LIVE partition tuple with its file count — pure manifest
    * metadata, no data IO, O(live files) driver work at any table
    * size. Values are the hive dir strings (the null partition reads
    * as NULL), ordered by tuple for determinism. */
  def partitions(): DataFrame = {
    require(partitionCols.nonEmpty,
      s"MergeTable at $root: SHOW PARTITIONS needs a partitioned table")
    val live = latest().entries
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(
      partitionCols.map(c => org.apache.spark.sql.types.StructField(c,
        org.apache.spark.sql.types.StringType)) :+
        org.apache.spark.sql.types.StructField("num_files",
          org.apache.spark.sql.types.LongType, nullable = false))
    val rows = live.groupBy(_.partitionValue).toSeq
      .map { case (pv, es) =>
        (partValuesOf(pv).map(_.orNull), es.size.toLong)
      }
      .sortBy(_._1.map(v => if (v == null) "" else v).mkString("\u0000"))
      .map { case (vals, n) =>
        org.apache.spark.sql.Row.fromSeq(vals :+ n)
      }
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Delta's `DESCRIBE DETAIL`: ONE row of table-level metadata — all
    * of it driver-side manifest/log state plus one `Files.size` sweep
    * over live files (O(live files) metadata, no jobs). */
  def detail(): DataFrame = {
    val TableState(v, live, _) = latest()
    val bytes = live.map(e =>
      scala.util.Try(Files.size(root.resolve(e.relPath))).getOrElse(0L)).sum
    val gen = generatedColumns
    val checks = constraints.keys
      .count(!_.startsWith(GeneratedColumns.Prefix))
    import spark.implicits._
    Seq((
      "graft", root.toAbsolutePath.normalize.toString,
      (if (partitionCols.isEmpty) null
       else partitionCols.mkString(",")),
      v, live.size.toLong, bytes,
      live.count(_.dv.isDefined).toLong, checks.toLong, gen.size.toLong
    )).toDF("format", "location", "partition_column", "version",
      "num_files", "size_bytes", "num_files_with_deletion_vectors",
      "num_check_constraints", "num_generated_columns")
  }

  /** Time travel by timestamp (Delta's `timestampAsOf`; the reference's
    * DOC-ONLY time-travel claim, README.md:118): the snapshot at the
    * highest version whose manifest was published at or before `ts`.
    * Commit times come from IN-COMMIT timestamps (mtime fallback for
    * pre-feature history) — the clock Delta's timestamp travel trusts
    * with its inCommitTimestamp feature on. Presents the schema as of
    * the resolved version, like [[readVersion]]. */
  def readAsOf(ts: java.time.Instant): DataFrame =
    readVersion(versionAsOf(ts))

  /** The newest version committed at or before `ts` (the in-commit
    * stamp when present, else publish mtime — the same clock [[vacuum]]
    * retention trusts). Fails fast when the whole history is newer. */
  def versionAsOf(ts: java.time.Instant): Long = {
    val tsMs = ts.toEpochMilli
    val vs = (1L to latestVersion())
      .filter(v => commitTsOf(v).exists(_ <= tsMs))
    require(vs.nonEmpty, s"MergeTable at $root: no commit at or before $ts")
    vs.max
  }

  /** [[restore]] to the snapshot as of a wall-clock instant (Delta's
    * `RESTORE ... TO TIMESTAMP AS OF`). */
  def restoreAsOf(ts: java.time.Instant): Long = restore(versionAsOf(ts))

  /** A single directory holding EXACTLY the live snapshot in plain hive
    * layout — the shape external engines (and `CREATE TABLE ... USING
    * PARQUET LOCATION`) can read without understanding the manifest.
    * Compacts first iff the live files span multiple commit dirs. */
  def snapshotDir(): Path = {
    def state(): (Seq[String], Boolean) = {
      val live = latest().entries
      (live.map(e => commitDirOf(e.relPath)).distinct,
        live.exists(_.dv.isDefined))
    }
    val (dirs, vectored) = state()
    // The raw dir is the snapshot ONLY if nothing in it needs manifest
    // interpretation: deletion vectors must be MATERIALIZED (an external
    // engine knows nothing of the anti-join and would resurrect deleted
    // rows), and every physical parquet file in the dir must still be
    // LIVE (a fully-vectored or removed file stays on disk for time
    // travel until vacuum — the export must not include it).
    def physMatchesLive(dir: String): Boolean = {
      val live = latest().entries
      val phys = Using.resource(Files.walk(root.resolve(dir))) { s =>
        s.iterator().asScala
          .filter(p => Files.isRegularFile(p) &&
            p.getFileName.toString.endsWith(".parquet"))
          .map(p => root.relativize(p).toString).toSet
      }
      phys == live.map(_.relPath).toSet
    }
    val dir =
      if (dirs.size == 1 && !vectored && physMatchesLive(dirs.head))
        dirs.head
      else { compact(); state()._1.head }
    root.resolve(dir)
  }

  /** Delta's `GENERATE symlink_format_manifest`: write, under
    * `_symlink_format_manifest/[<pc>=<val>/]manifest`, one text file per
    * live partition whose lines are the ABSOLUTE URIs of that
    * partition's live data files — the zero-copy export for external
    * engines that read manifests instead of the commit log (Athena /
    * Presto / Trino via a `SymlinkTextInputFormat` external table; the
    * reference's own query layer is exactly this shape:
    * `README.md` queries curated parquet through Athena). Where
    * [[snapshotDir]] MATERIALIZES a snapshot (compacting if needed),
    * the manifest POINTS at live files in place: regeneration is one
    * driver-side metadata pass over the manifest — O(live files), no
    * jobs, no data movement — so a post-commit cron regen stays cheap
    * at any table size.
    *
    * Refusals mirror Delta's own (both are silent-wrong-results traps
    * for a log-blind reader, so they fail fast instead):
    *  - deletion vectors: a manifest reader knows nothing of the DV
    *    anti-join and would resurrect deleted rows → `purgeVectors()`
    *    (SQL `REORG ... APPLY (PURGE)`) first;
    *  - column mapping (renames/drops): the parquet carries PHYSICAL
    *    names the external reader would surface verbatim.
    *
    * Each partition's manifest is swapped in atomically (temp file +
    * atomic move) and manifests of vanished partitions are reaped, so
    * readers see per-partition-consistent views; cross-partition the
    * export is eventually consistent with the log — Delta's manifest
    * contract. Live files are never deleted by [[vacuum]], so a
    * manifest only ever dangles if regeneration is skipped across a
    * rewrite (compact/merge) AND the retention window passes — the
    * documented regen-after-write discipline. Partition subdirs reuse
    * the exact hive-escaped `<pc>=<value>` path components of the data
    * files themselves (no re-escaping round trip). */
  def generateSymlinkManifest(): Path = {
    val TableState(_, live, meta) = latest()
    require(live.forall(_.dv.isEmpty),
      "generateSymlinkManifest: snapshot carries deletion vectors — an " +
        "external manifest reader would resurrect deleted rows; run " +
        "purgeVectors() (REORG APPLY (PURGE)) first")
    require(meta.renames.isEmpty && meta.drops.isEmpty,
      "generateSymlinkManifest: table uses column mapping (renamed or " +
        "dropped columns) — parquet physical names would surface verbatim " +
        "to an external reader")
    val mroot = root.resolve(ManifestDirName)
    // partition components = the data file's own path between its
    // commit dir and file name (clone-rebased ../ prefixes included)
    def subdirOf(relPath: String): Seq[String] = {
      val parts = relPath.split('/')
      val i = parts.indexWhere(p => CommitDirName.matches(p))
      parts.slice(i + 1, parts.length - 1).toSeq
    }
    val groups: Map[Seq[String], Seq[FileEntry]] =
      if (live.isEmpty) Map(Seq.empty[String] -> Nil)
      else live.groupBy(e => subdirOf(e.relPath))
    // per-partition manifests are independent files — write them in
    // parallel (at object-store scale the cost is PUT round-trips, not
    // bytes; Delta ships these writes to executors for the same reason)
    groups.toSeq.asJava.parallelStream().forEach { kv =>
      val (sub, es) = kv
      val dir = sub.foldLeft(mroot)(_.resolve(_))
      Files.createDirectories(dir)
      val body = es.map(e => root.resolve(e.relPath)
          .toAbsolutePath.normalize.toUri.toString)
        .sorted.map(_ + "\n").mkString
      val tmp = Files.createTempFile(dir, ".manifest-", ".tmp")
      Files.write(tmp, body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      Files.move(tmp, dir.resolve(ManifestFileName),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    // reap manifests of partitions no longer live, then empty dirs
    val keep: Set[Path] = groups.keySet
      .map(sub => sub.foldLeft(mroot)(_.resolve(_)).resolve(ManifestFileName))
    Using.resource(Files.walk(mroot))(_.iterator().asScala.toSeq)
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString == ManifestFileName && !keep.contains(p))
      .foreach(Files.deleteIfExists(_))
    Using.resource(Files.walk(mroot))(_.iterator().asScala.toSeq).reverse
      .filter(p => Files.isDirectory(p) && p != mroot)
      .foreach { p =>
        val empty = Using.resource(Files.list(p))(!_.iterator().hasNext)
        if (empty) Files.deleteIfExists(p)
      }
    mroot
  }

  /** THE file reader: every read of the table's data files — current,
    * time travel, row tracking, and the MERGE/DELETE/OPTIMIZE rewrite
    * scans — is built here, as ONE manifest-backed scan of all
    * `entries` regardless of commit-dir count.
    *
    * The scan reads the DATA fields of [[readFields]] (the declared
    * schema, or the union of the per-dir footer schemas; a file lacking
    * a column reads NULL). Partition values come from the MANIFEST, not
    * the path layout — the log is the source of truth, as in Delta: the
    * typed partition fields are the relation's partition schema, and
    * the [[ManifestFileIndex]] hands the scan each file's values as
    * per-file constants, so partition predicates prune files at
    * planning and no join is needed. An all-null partition column
    * (NullType) reads as a null literal. The file key
    * ([[MergeTable.FileKeyCol]]) and the in-file row position
    * ([[MergeTable.PosCol]]) are captured AT THE SCAN from `_metadata`,
    * as real columns before any join or exchange, so they stay exact
    * downstream (an `input_file_name()` evaluated after a shuffle reads
    * empty); only deletion vectors, row ids and `keep` add them.
    *
    * Deletion vectors are anti-joined out here, which is why every
    * caller needing file identity (DELETE/UPDATE discovery,
    * [[compactSmall]]'s bin packing) passes `keep` instead of bolting a
    * file column onto a plain read. `rowIds` appends each row's
    * ABSOLUTE row id and commit version as [[MergeTable.RidCol]] /
    * [[MergeTable.RcvCol]]: the materialized columns where a rewrite
    * persisted them, else the manifest allotment (`base + row_index`,
    * the adding commit); every entry must then carry an allotment.
    *
    * `declared` is the schema to read under and `mapping` the physical →
    * logical presentation, applied exactly once, here
    * ([[MergeTable.NoMapping]] reads physically); both come from the
    * state the caller resolved, so a read never pairs one version's
    * files with another's schema ([[readVersion]] passes the AS-OF
    * state, so a later metadata-only addColumn does not appear). Result
    * columns: the visible columns in declared order, then the row-id
    * pair, then `keep`. `keep` needs non-empty `entries`. */
  private[lake] def readEntries(entries: Seq[FileEntry],
      declared: Option[org.apache.spark.sql.types.StructType],
      mapping: (Map[String, String], Set[String]),
      keep: Seq[String] = Nil,
      rowIds: Boolean = false): DataFrame = {
    import org.apache.spark.sql.types.{LongType, NullType, StructField, StructType}
    val idFields =
      if (rowIds) Seq(RidCol, RcvCol).map(StructField(_, LongType)) else Nil
    if (entries.isEmpty) {
      require(keep.isEmpty, s"MergeTable at $root: no files to tag")
      val empty = idFields.foldLeft(emptyLikePhys(declared)) {
        (d, f) => d.withColumn(f.name, lit(null).cast(LongType))
      }
      return presentLogicalAs(empty, mapping)
    }
    // Many dirs of small files still cost scan TASKS (not plan nodes);
    // compaction remains the small-file remedy.
    val dirs = entries.map(e => commitDirOf(e.relPath)).distinct.size
    if (dirs >= CompactionAdviceDirs)
      logger.warn(s"MergeTable at $root: live files span $dirs commit " +
        "dirs; run compact() to coalesce small files")
    val (dataFields, partFields) = readFields(declared, entries)
    val nullParts = partFields.filter(_.dataType == NullType)
    val vectored = entries.exists(_.dv.isDefined)
    val withPos = vectored || rowIds || keep.contains(PosCol)
    val withKey = withPos || keep.contains(FileKeyCol)
    val scan = manifestScan(indexOf(entries, partFields),
      StructType(dataFields ++ idFields))
    val keyed =
      if (!withKey) scan
      else scan.withColumn(FileKeyCol, fileTagExpr(col("_metadata.file_path")))
    val tagged =
      if (withPos) keyed.withColumn(PosCol, col("_metadata.row_index"))
      else keyed
    val restored =
      nullParts.foldLeft(tagged)((d, pf) => d.withColumn(pf.name, lit(null)))
    val masked = applyVectors(restored, entries)
    val withIds = if (rowIds) attachRowIds(masked, entries) else masked
    val visible = declaredColumnOrder(declared,
      (dataFields ++ partFields).map(_.name))
    presentLogicalAs(withIds.select(
      (visible ++ idFields.map(_.name) ++ keep).map(col): _*), mapping)
  }

  /** The scan's data fields and its partition fields, for
    * a non-empty read of `entries` under `declared`: data fields from
    * the declared schema or the per-commit-dir footer union; one field
    * per partition column (its declared type, else the hive-inferred
    * one), or none when some partition column has no field (a declared
    * schema without it, a layout not hive-partitioned by it). Dirs infer
    * from their own live values, so they can disagree (a MERGE that
    * leaves an old dir only small values narrows it to INT beside a
    * LONG dir): the type is the widest, as Spark's inference widens
    * across the values of one read. A dir whose every file sits in the
    * hive default (null) partition infers NullType for a partition
    * column and is skipped; all-null reads as a null literal. Partition
    * fields come back bare (nullable, no metadata), the shape the scan
    * yields. Groups by commitDirOf (not the first path component) so a
    * clone's rebased "../source/commit-x" entries resolve per SOURCE
    * commit dir. */
  private def readFields(
      declared: Option[org.apache.spark.sql.types.StructType],
      entries: Seq[FileEntry])
      : (Vector[org.apache.spark.sql.types.StructField],
         Seq[org.apache.spark.sql.types.StructField]) = {
    val (dataFields, partFields) = declared match {
      case Some(s) =>
        (s.fields.filterNot(f => partitionCols.contains(f.name)).toVector,
          partitionCols.flatMap(pc => s.fields.find(_.name == pc)))
      case None =>
        val dirSchemas = entries.groupBy(e => commitDirOf(e.relPath))
          .toSeq.sortBy(_._1).map { case (dir, es) => dirSchema(dir, es) }
        (dirSchemas.flatMap(_.fields)
          .filterNot(f => partitionCols.contains(f.name) ||
            HiddenCols.contains(f.name))
          .foldLeft(Vector.empty[org.apache.spark.sql.types.StructField]) {
            (acc, f) => if (acc.exists(_.name == f.name)) acc else acc :+ f
          },
          partitionCols.flatMap { pc =>
            val fs = dirSchemas.flatMap(_.fields.find(_.name == pc))
            fs.headOption.map(_.copy(dataType = fs.map(_.dataType)
              .filter(_ != org.apache.spark.sql.types.NullType)
              .reduceOption(MergeTable.widerPartitionType)
              .getOrElse(fs.head.dataType)))
          })
    }
    (dataFields,
      if (partFields.size == partitionCols.size)
        partFields.map(f => org.apache.spark.sql.types.StructField(
          f.name, f.dataType))
      else Nil)
  }

  /** Fill NULL [[MergeTable.RidCol]]/[[MergeTable.RcvCol]] of a keyed,
    * positioned read from the manifest allotment of each file, attached
    * through a broadcast of one metadata row per file. */
  private def attachRowIds(df: DataFrame,
      entries: Seq[FileEntry]): DataFrame = {
    val longT = org.apache.spark.sql.types.LongType
    val riSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(FileKeyCol,
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField(RiBaseCol, longT),
      org.apache.spark.sql.types.StructField(RiVerCol, longT)))
    val riRows = entries.map { e =>
      val ri = e.rowIds.getOrElse(throw new IllegalStateException(
        s"MergeTable at $root: file ${e.relPath} carries no row-id " +
          "allotment — row tracking must be enabled at table birth " +
          "(withRowTracking before the first data commit)"))
      org.apache.spark.sql.Row(fileKey(e.relPath), ri.base, ri.version)
    }
    df.join(broadcast(spark.createDataFrame(riRows.asJava, riSchema)),
        Seq(FileKeyCol), "left")
      .withColumn(RidCol, coalesce(col(RidCol), col(RiBaseCol) + col(PosCol)))
      .withColumn(RcvCol, coalesce(col(RcvCol), col(RiVerCol)))
  }

  /** The table with two extra columns, Delta's row-tracking surface:
    * `row_id` — a 64-bit identity minted when the row's file was
    * committed, UNIQUE over the table's whole history (never reused,
    * even across deletes and vacuum) and STABLE across every
    * content-preserving reorganization (the OPTIMIZE family
    * materializes it through rewrites; DV-based DELETE/UPDATE never
    * move surviving rows) — and `row_commit`, the version that last
    * wrote the row's bytes. Copy-on-write DML mints fresh ids for the
    * rows it rewrites (Delta's contract without
    * `rowTracking.preserved`). This is what incremental consumers key
    * on at 100 TB: a stable join key per row that survives OPTIMIZE,
    * which no expression over row CONTENT (and no
    * `monotonically_increasing_id`) can provide. */
  def readWithRowIds(): DataFrame = {
    val st = latest()
    readEntries(st.entries, st.meta.schema, st.meta.mapping, rowIds = true)
      .withColumnRenamed(RidCol, "row_id")
      .withColumnRenamed(RcvCol, "row_commit")
  }

  /** [[readWithRowIds]] under time travel: the snapshot AT `version`
    * with each row's identity — ids are assigned AT COMMIT and ride
    * the manifest, so a row visible at both versions carries the SAME
    * `row_id` in both reads (the lineage key across history), and
    * `row_commit` is at most `version` by construction. As-of schema
    * and column mapping apply exactly as in [[readVersion]]. */
  def readVersionWithRowIds(version: Long): DataFrame = {
    val st = laidOutAt(version)
    readEntries(st.entries, st.meta.schema, st.meta.mapping, rowIds = true)
      .withColumnRenamed(RidCol, "row_id")
      .withColumnRenamed(RcvCol, "row_commit")
  }

  /** The PHYSICAL schema of a plain [[readEntries]] of `entries`,
    * computed from (memoized) metadata alone — no throwaway scan plan
    * over the live paths. At 1000 live files a `readEntries(live).schema`
    * cost ~1.6 s of driver path resolution (r13), and append's schema
    * check paid it on EVERY commit. Built from the same [[readFields]]
    * split and column order as the read; the deletion-vector anti-join
    * is schema-neutral. */
  private[lake] def physicalSchemaOf(entries: Seq[FileEntry],
      declared: Option[org.apache.spark.sql.types.StructType])
      : org.apache.spark.sql.types.StructType = {
    if (entries.isEmpty) return emptyLikePhys(declared).schema
    val (dataFields, partFields) = readFields(declared, entries)
    val fields = dataFields ++ partFields
    org.apache.spark.sql.types.StructType(
      declaredColumnOrder(declared, fields.map(_.name))
        .map(n => fields.find(_.name == n).get))
  }

  /** Reorder a read's visible columns into DECLARED order when the
    * table declares a schema and the resolved column set matches it —
    * the partition column surfaces at its declared position, exactly
    * as the empty-table read presents it (so SQL positional
    * `INSERT INTO t VALUES ...` casts values against the right
    * columns whether or not the table holds data). */
  private def declaredColumnOrder(
      declared: Option[org.apache.spark.sql.types.StructType],
      cols: Seq[String]): Seq[String] = declared match {
    case Some(s) if s.fields.length == cols.length &&
        s.fieldNames.forall(cols.contains) => s.fieldNames.toSeq
    case _ => cols
  }

  /** The LOGICAL schema [[readEntries]] would produce under `m` — the
    * physical schema presented through its column mapping. Metadata
    * only; the schema-consumer paths (append's and MERGE's conformance
    * checks) use this instead of building a full scan plan they
    * immediately discard. */
  private def logicalSchemaOf(entries: Seq[FileEntry], m: MetaState)
      : org.apache.spark.sql.types.StructType =
    presentLogicalAs(spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      physicalSchemaOf(entries, m.schema)), m.mapping).schema

  /** Anti-join `df` (carrying scan-level [[FileKeyCol]]/[[PosCol]]) against
    * the deletion vectors of `entries`. Each vectored entry references
    * exactly ONE vector dir holding its complete position set; a dir is
    * loaded once, filtered to the files that reference IT (an entry
    * re-vectored by a later commit points elsewhere — its rows in an
    * older shared dir must not be trusted for OTHER snapshots' reads,
    * e.g. after [[restore]]). Broadcast while the manifest-recorded
    * cardinality stays small. */
  private def applyVectors(df: DataFrame,
      entries: Seq[FileEntry]): DataFrame = {
    val vectored = entries.filter(_.dv.isDefined)
    if (vectored.isEmpty) return df
    val perDir = vectored.groupBy(_.dv.get.relDir).toSeq.sortBy(_._1)
      .map { case (dir, es) =>
        val keys = es.map(e => fileKey(e.relPath))
        spark.read.parquet(root.resolve(dir).toString)
          .filter(col(DvFile).isin(keys: _*))
      }
    val dv = perDir.reduce(_ unionByName _)
    val hinted =
      if (vectored.map(_.dv.get.card).sum <= DvBroadcastMax) broadcast(dv)
      else dv
    df.join(hinted,
      df(FileKeyCol) === hinted(DvFile) && df(PosCol) === hinted(DvPos),
      "left_anti")
  }

  /** MANIFEST-BACKED scan of `entries` under an explicit data schema —
    * the zero-listing replacement for `spark.read.schema(s).parquet
    * (paths: _*)` on the multi-dir/declared read paths. Spark's
    * DataFrameReader resolves every path on the DRIVER (glob check +
    * file status, measured ~0.8 ms each — 16 s per read at 20k live
    * files, warm or cold); a [[ManifestFileIndex]] hands the scan
    * pre-built statuses straight from log metadata. The relation
    * outputs `schema` then the index's partition schema. */
  private def manifestScan(index: ManifestFileIndex,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val relation = org.apache.spark.sql.execution.datasources
      .HadoopFsRelation(index, partitionSchema = index.partitionSchema,
        dataSchema = schema, bucketSpec = None,
        fileFormat = new org.apache.spark.sql.execution.datasources
          .parquet.ParquetFileFormat,
        options = Map.empty)(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
    GraftStreamShim.ofRows(spark,
      org.apache.spark.sql.execution.datasources.LogicalRelation(
        relation,
        org.apache.spark.sql.catalyst.types.DataTypeUtils
          .toAttributes(relation.schema),
        None, isStreaming = false, None))
  }

  /** The [[ManifestFileIndex]] a read of `entries` plans over, built
    * from metadata alone (no scan plan): each file's exact length,
    * served by a JVM-wide memo over the immutable committed files (one
    * `stat` per file on a cold driver, none warm), and its typed
    * partition row — the manifest partition value cast once per
    * distinct value to `partFields`' types (a null slot stays null; an
    * all-null, NullType column gets no field). */
  private def indexOf(entries: Seq[FileEntry],
      partFields: Seq[org.apache.spark.sql.types.StructField])
      : ManifestFileIndex = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    val partSchema = org.apache.spark.sql.types.StructType(
      partFields.filter(_.dataType != org.apache.spark.sql.types.NullType))
    val tz = Some(spark.conf.get("spark.sql.session.timeZone"))
    val rowOf = entries.map(_.partitionValue).distinct.map { pv =>
      val vals = partValuesOf(pv)
      pv -> InternalRow.fromSeq(partSchema.fields.toSeq.map { f =>
        vals(partitionCols.indexOf(f.name)).map(v =>
          Cast(Literal(v), f.dataType, tz).eval()).orNull
      })
    }.toMap
    val files = entries.map { e =>
      val p = root.resolve(e.relPath)
      val len: Long = fileSizeMemo
        .get(p.toAbsolutePath.normalize.toString)(Files.size(p))
      ManifestFile(new org.apache.hadoop.fs.Path(p.toUri), len,
        rowOf(e.partitionValue), e)
    }
    new ManifestFileIndex(new org.apache.hadoop.fs.Path(root.toUri),
      partSchema, files, scanEntriesByCondition)
  }

  /** The index a read of `entries` under `declared` plans over. */
  private def indexOf(entries: Seq[FileEntry],
      declared: Option[org.apache.spark.sql.types.StructType])
      : ManifestFileIndex =
    indexOf(entries,
      if (entries.isEmpty) Nil else readFields(declared, entries)._2)

  /** MEMOIZED per-commit-dir schema resolution for the multi-dir read:
    * exactly what a hive-layout read of `es` under the dir
    * (`spark.read.option("basePath", dir).parquet(files).schema`)
    * resolves, built on the driver with NO Spark job. [[readFields]]
    * runs one per live commit dir PER READ, and that read's schema
    * costs a file listing plus a footer-merge Spark job (~80 ms; a
    * 100-commit streaming-append table measured 7.6 s cold for every
    * `read()` from exactly this, r13), so:
    *
    *   - data fields: the footer schema of the subset's first file in
    *     path order — the one file Spark's non-merging inference reads
    *     — nullable, memoized per file ([[dataSchemaMemo]]; the
    *     [[writeData]] seed makes a fresh commit's first read free);
    *   - partition fields: Spark's own hive partition inference over
    *     the subset's partition dirs ([[GraftStreamShim.hiveSchema]]),
    *     from the names alone.
    *
    * Commit dirs are immutable (a commit writes a fresh dir; vacuum
    * removes whole dirs), so the result is a pure function of (dir,
    * live subset, the inference settings): the subset is in the key
    * because partition-TYPE inference unions the VALUE strings of
    * precisely the listed files, and the type-inference flag and
    * session time zone because the inference reads them. JVM-wide on
    * purpose: queries open fresh handles per call, and the key makes
    * cross-handle and cross-session reuse exact. */
  private[lake] def dirSchema(dir: String,
      es: Seq[FileEntry]): org.apache.spark.sql.types.StructType = {
    val conf = spark.sessionState.conf
    val key = root.resolve(dir).toAbsolutePath.normalize.toString + "|" +
      es.map(_.relPath).sorted.mkString(",") + "|" +
      conf.partitionColumnTypeInferenceEnabled + "|" +
      conf.sessionLocalTimeZone
    dirSchemaMemo.get(key) {
      val files = es.map(e => root.resolve(e.relPath).toAbsolutePath
        .normalize)
      val first = files.map(_.toString).min
      val data = dataSchemaMemo.get(first)(MergeTable.allNullable(
        GraftStreamShim.parquetDataSchema(spark, first)))
      GraftStreamShim.hiveSchema(spark, data,
        files.map(_.getParent.toString).distinct,
        root.resolve(dir).toAbsolutePath.normalize.toString)
    }
  }

  /** Empty frame with the table's PHYSICAL schema under `declared`.
    * Stays physical on purpose: [[readEntries]] presents it for an
    * empty snapshot under the mapping ITS caller chose — the current
    * one, or [[readVersion]]'s as-of one. (Presenting here with the
    * current mapping made time travel to an empty version of a
    * since-renamed table show current names — the as-of re-mapping
    * keyed on physical names no-opped over already-renamed columns;
    * r10 ADVICE finding.) */
  private def emptyLikePhys(
      declared: Option[org.apache.spark.sql.types.StructType]): DataFrame = {
    // Declared schema first: a never-written CREATE'd table reads as a
    // correctly-typed empty frame straight from the log.
    declared.foreach { s =>
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
    }
    // No live files: derive schema from any historical snapshot that is
    // still reconstructible (vacuum prunes pre-latest history), else fail.
    val vs = (1L to latestVersion()).reverse
    vs.iterator
      .flatMap(v => scala.util.Try(stateAt(v).entries).toOption)
      .find(_.nonEmpty) match {
      case Some(entries) => readEntries(entries, None, NoMapping).limit(0)
      case None => throw new IllegalStateException(
        s"MergeTable at $root has no data and no history")
    }
  }

  // ---- partition-tuple encoding --------------------------------------

  /** Encode a per-column partition-value tuple (aligned with
    * [[partitionCols]]) into the single manifest field
    * ([[FileEntry.partitionValue]]). Single-column tables store the raw
    * value — byte-compatible with every pre-multi-column log — and
    * multi-column tables store the URL-escaped values joined with '/',
    * a null slot as the hive default token. The encoding is injective,
    * so grouping/equality on the encoded field IS grouping/equality on
    * the tuple. */
  private def encodePartValues(vals: Seq[Option[String]]): Option[String] =
    if (partitionCols.isEmpty) None
    else if (partitionCols.size == 1) vals.head
    else Some(vals.map(_.fold(HiveDefaultPartition)(escapePathValue))
      .mkString("/"))

  /** Decode the manifest field back into the per-column tuple. */
  private def partValuesOf(pv: Option[String]): Seq[Option[String]] =
    if (partitionCols.isEmpty) Nil
    else if (partitionCols.size == 1) Seq(pv)
    else pv match {
      case None => Seq.fill(partitionCols.size)(None)
      case Some(s) =>
        val parts = s.split("/", -1)
        require(parts.length == partitionCols.size,
          s"MergeTable at $root: manifest partition value '$s' does not " +
            s"decode against partition columns $partitionCols")
        parts.toSeq.map(t =>
          if (t == HiveDefaultPartition) None
          else Some(unescapePathValue(t)))
    }

  /** BOTH partition-discovery questions of a keyed merge in ONE action:
    * (source rows' distinct partition tuples, live partitions holding a
    * key of `keys`) — previously two separate collect jobs per
    * partitioned MERGE/CDC-apply commit (r15 job diet: at micro-batch
    * commit cadence each extra action costs a job plus its broadcast
    * materializations). With no `src` (a delete-only merge) only the
    * matched side runs. Tuples encode like the manifest field. */
  private def mergeTouchedParts(src: Option[DataFrame], keys: DataFrame,
      keyCols: Seq[String], live: Seq[FileEntry], meta: MetaState)
      : (Set[Option[String]], Set[Option[String]]) = {
    val tag = "__graft_src_side"
    def tuples(df: DataFrame, fromSrc: Boolean): DataFrame =
      df.select(partitionCols.map(c => col(c).cast("string")) :+
        lit(fromSrc).as(tag): _*)
    val matched = tuples(
      readEntries(live, meta.schema, meta.mapping)
        .join(keys, keyCols, "left_semi"), fromSrc = false)
    val rows = labeled("touchedParts")(src
      .fold(matched)(tuples(_, fromSrc = true).unionByName(matched))
      .distinct().collect())
    def side(fromSrc: Boolean): Set[Option[String]] = rows.iterator
      .filter(_.getBoolean(partitionCols.size) == fromSrc)
      .map(r => encodePartValues(
        partitionCols.indices.map(i => Option(r.getString(i)))))
      .toSet
    (side(fromSrc = true), side(fromSrc = false))
  }

  /** The last two path components — "<partition-or-commit-dir>/<part-file>"
    * — the file identity every path↔manifest correlation keys on.
    * Basenames ALONE are not unique: within one commit, two partition
    * dirs hold part files with the SAME task index + job UUID (e.g. a
    * single-task write into two date partitions both emits
    * `part-00000-<uuid>`), so a basename-keyed map would attach one
    * partition's value (or stats) to the other's file. Two components
    * disambiguate within a commit; across commits the job UUID does.
    *
    * A ROOT-LEVEL relPath (a flat [[convertInPlace]] adoption — the
    * only source of single-component relPaths) has no dir component,
    * but the scan-side tag is always the last two components of the
    * ABSOLUTE path, i.e. `<table-dir>/<file>`. Key it the same way, or
    * every path↔manifest correlation (DELETE/UPDATE touched-file
    * discovery, compactSmall bin maps, stats attach, deletion vectors)
    * would silently miss adopted files. */
  private def fileKey(path: String): String = {
    val parts = path.split('/')
    if (parts.length >= fileKeyDepth)
      parts.takeRight(fileKeyDepth).mkString("/")
    else (rootDirName +: parts.toSeq).takeRight(fileKeyDepth).mkString("/")
  }

  /** Components in a file key. Two suffice up through one partition
    * level; a MULTI-level layout needs every partition dir in the key —
    * one task writing (a=1,b=1) and (a=2,b=1) emits the same
    * `b=1/part-00000-<uuid>` tail under both parents, so a two-component
    * key would collide across sibling partitions (applying one file's
    * deletion vector or row-id allotment to the other, mis-binning
    * compaction). */
  private val fileKeyDepth: Int = math.max(2, partitionCols.size + 1)

  /** The scan-side file-identity tag — the same trailing components of
    * the ABSOLUTE path as [[fileKey]] keeps of the relPath. */
  private def fileTagExpr(pathCol: Column): Column =
    substring_index(pathCol, "/", -fileKeyDepth)

  /** The table directory's own name — the second-to-last component the
    * scan tag sees for root-level files. */
  private lazy val rootDirName: String = {
    val n = root.toAbsolutePath.normalize.getFileName
    require(n != null, s"MergeTable at filesystem root '$root' is not " +
      "supported (file identity needs a table dir name)")
    n.toString
  }
}

object MergeTable {
  private val LogDir = "_graft_log"
  private val NoPartition = "-"
  private val CkptSuffix = ".ckpt"
  /** Publish a full checkpoint every N commits: reads fold at most N
    * deltas; per-commit metadata stays O(changed files) with an amortized
    * O(live/N) checkpoint cost — Delta's log-compaction trade. */
  private[lake] val CheckpointInterval = 10L

  /** PARQUET checkpoints (r15, the r14 verdict's #1): past this many
    * live entries a checkpoint's FILE ENTRIES are written as a parquet
    * dir (`<v>.ckptpq/`, typed manifest columns — Delta's checkpoint
    * format) instead of O(live) text lines; the text checkpoint file
    * keeps the metadata actions plus a `Q` pointer at the dir. The
    * entries then load through a distributed parquet scan (columnar
    * decode; one Spark job) instead of a driver-side line parse —
    * what a 10^5–10^7-file table's cold open needs. Below the
    * threshold the text path is unchanged. Feature-gated: the commit
    * that first grows the table past the threshold auto-stamps the
    * `parquetCheckpoint` READER feature (X193's first-using-commit
    * pattern — vacuum can prune the deltas beneath a parquet
    * checkpoint, making it load-bearing, so a pre-feature reader must
    * refuse loudly rather than resolve an empty snapshot from the
    * A-line-less text file).
    *
    * The default sits at the MEASURED crossover's side of caution
    * (r15): at 100k entries the text fold costs
    * 0.126 s (~1.3 µs/line) while the parquet fold pays ~0.65 s of
    * fixed Spark-job overhead — text wins until roughly 5×10^5
    * entries, beyond which linear driver parse (and the O(live) text
    * serialization on every checkpoint PUBLISH) overtakes the flat
    * job cost. Tables headed past 10^6 files should opt in earlier
    * via [[MergeTable.withParquetCheckpointThreshold]] for the
    * driver-memory headroom. */
  private[graft] val DefaultPqCkptEntries = 500000L
  private val CkptPqSuffix = ".ckptpq"

  /** Max versions the per-handle state memo retains (LRU). */
  private[lake] val SnapMemoMax = 8

  /** Default checkpoint retention `(keep, retainMs)`: the newest 3
    * checkpoints always survive; older superseded ones are pruned 10
    * minutes after publish. 10 minutes dwarfs any fold in flight (a
    * reader that listed a checkpoint opens it within milliseconds), so
    * the window is in-flight-reader-safe the same way vacuum's data
    * window is; see [[MergeTable.withCheckpointRetention]]. */
  val DefaultCkptRetention: (Int, Long) = (3, 10L * 60L * 1000L)

  /** Log rendering of a protocol feature set: comma-joined names, '-'
    * for empty (the P line always carries both tokens). */
  private def protoFmt(fs: Set[String]): String =
    if (fs.isEmpty) "-" else fs.toSeq.sorted.mkString(",")

  private def protoFeats(tok: String): Set[String] =
    if (tok == "-") Set.empty else tok.split(',').toSet

  /** `(h1, h2)` of the bloom double-hashing scheme for a LONG value —
    * the write side's `pmod(hash(v).cast("long"), m)` and
    * `pmod(xxhash64(v), m) | 1`, evaluated through the engine's OWN
    * expression implementations (Murmur3Hash/XxHash64, both seed 42 —
    * the `functions.hash`/`functions.xxhash64` defaults), so probe and
    * filter can never drift. Driver-side: no plan, no job. */
  private[lake] def bloomHashes(value: Long, m: Int): (Long, Long) = {
    val in = Seq(cxp.Literal(value))
    val mm = m.toLong
    val h1raw = cxp.Murmur3Hash(in, 42).eval(null)
      .asInstanceOf[Int].toLong
    val h2raw = cxp.XxHash64(in, 42L).eval(null).asInstanceOf[Long]
    (((h1raw % mm) + mm) % mm, ((((h2raw % mm) + mm) % mm) | 1L))
  }

  /** Reader features THIS build implements — the set a table's
    * protocol action ([[MergeTable.upgradeProtocol]]) is checked
    * against before any metadata fold is trusted. A feature listed
    * here changes what bytes/actions MEAN to a reader (deletion
    * vectors anti-join rows away; column mapping retitles physical
    * columns; a declared schema overrides footers); a build missing
    * one would silently mis-read, which is exactly what the gate turns
    * into a fast, explicit refusal. */
  val SupportedReaderFeatures: Set[String] = Set(
    "deletionVectors", "columnMapping", "declaredSchema",
    "inCommitTimestamp", "bloomIndex", "typeWidening", "rowTracking",
    "stringStats", "parquetCheckpoint")

  /** Writer features THIS build implements. Write-side semantics a
    * reader may ignore (constraints are enforced at write time;
    * generated/identity columns are populated at write time) are
    * writer-only — Delta's split. Every reader feature is implicitly
    * a writer feature: a writer must understand everything it
    * republishes. */
  val SupportedWriterFeatures: Set[String] = SupportedReaderFeatures ++ Set(
    "checkConstraints", "generatedColumns", "identityColumns",
    "txnWatermark", "checkpointRetention")
  private val ZCol = "__graft_z"
  private val BinCol = "__graft_bin"
  /** The change-feed tag column, shared by [[MergeTable.changes]]
    * (producer) and [[MergeTable.mergeCdc]] (consumer). */
  val ChangeType = "_change_type"

  /** Clause-merge internals: the source-side match marker and the
    * per-row action values of the first-match-wins clause fold. */
  private val MergeMatchCol = "__graft_matched"
  private val MergeKeep = "keep"
  private val MergeUpdate = "update"
  private val MergeDelete = "delete"

  /** Default [[MergeTable.vacuum]] retention — Delta's 7-day
    * `deletedFileRetentionDuration` default, protecting in-flight
    * readers, recent time travel, and young shallow clones. */
  val DefaultVacuumRetainMs: Long = 7L * 24 * 3600 * 1000
  private val SeqRank = "__graft_seq_rank"
  private val SeqPeer = "__graft_seq_tierank"
  /** Message tag of the fused SEQUENCE-BY tie check ([[mergeCdc]]):
    * the raise_error fires inside a task, so the contract's
    * IllegalArgumentException is rebuilt from the cause chain by this
    * marker. */
  private[lake] val DupSeqMarker = "__graft_dup_seq"

  /** `dt` with every nullability flag — field, array element, map
    * value — set true: the schema parquet footer inference returns for
    * files written with `dt` (the write-side [[dirSchemaMemo]] seed's
    * equality contract, pinned by MergeTableSpec). */
  private[lake] def allNullable(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case st: StructType => StructType(st.map(f =>
        f.copy(dataType = allNullable(f.dataType), nullable = true)))
      case at: ArrayType =>
        at.copy(elementType = allNullable(at.elementType),
          containsNull = true)
      case mt: MapType =>
        mt.copy(keyType = allNullable(mt.keyType),
          valueType = allNullable(mt.valueType), valueContainsNull = true)
      case other => other
    }
  }

  /** Two partition types widened as Spark's partition inference widens
    * the values of one read (`PartitioningUtils`): LONG or DOUBLE
    * meeting a type that cannot hold both exactly, and any pair without
    * a wider type, become STRING. */
  private def widerPartitionType(a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    (a, b) match {
      case (DoubleType, _: DecimalType) | (_: DecimalType, DoubleType) |
           (DoubleType, LongType) | (LongType, DoubleType) => StringType
      case _ => org.apache.spark.sql.catalyst.analysis.TypeCoercion
        .findWiderTypeForTwo(a, b).getOrElse(StringType)
    }
  }

  private[lake] def allNullable(st: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    allNullable(st: org.apache.spark.sql.types.DataType)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
  /** The file-key column: a read's [[fileKey]] of the row's data file,
    * taken from `_metadata.file_path` at the scan. It keys the
    * deletion-vector anti-join, the row-id allotment join and
    * compaction's bin map; a read adds it only for those. */
  private[lake] val FileKeyCol = "__graft_file"
  /** The empty column mapping: a read presented physically. */
  private val NoMapping: (Map[String, String], Set[String]) =
    (Map.empty, Set.empty)

  /** StructField-metadata key carrying a declared column DEFAULT
    * expression (SQL text) in the log schema. */
  private[lake] val DefaultKey = "graft.default"

  /** Scan-level row position within the physical file
    * (`_metadata.row_index`) — the coordinate deletion vectors are
    * expressed in. Stable because committed files are immutable. */
  private val PosCol = "__graft_pos"
  /** Symlink-manifest export dir + per-partition file name — Delta's
    * exact layout, which is what SymlinkTextInputFormat readers
    * (Athena/Presto/Trino external tables) expect. */
  private val ManifestDirName = "_symlink_format_manifest"
  private val ManifestFileName = "manifest"
  /** Directory (under the table root) holding deletion-vector parquet
    * dirs, one per vectorizing commit. */
  private val DvDirName = "_graft_dv"
  /** Column names inside a deletion-vector parquet: the [[fileKey]] of
    * the data file and the deleted row position. Distinct from
    * [[FileKeyCol]]/[[PosCol]] so the read-side anti-join needs no
    * renames. */
  private val DvFile = "__graft_dv_file"
  private val DvPos = "__graft_dv_pos"
  /** Manifest token prefix for a file's deletion-vector ref:
    * `dv=<relDir>,<cardinality>`. */
  private[lake] val DvTok = "dv="
  /** Broadcast the deletion-vector anti-join while the snapshot's total
    * vectored cardinality stays under this many positions (~60 MB of
    * (fileKey, long) rows); beyond it the anti-join shuffles, which is
    * the right plan once vectors are that large. */
  private val DvBroadcastMax = 1L << 20
  /** Directory (under the table root) holding bloom-index parquet dirs,
    * one per bloom-writing commit. */
  private val BloomDirName = "_graft_bloom"
  /** Manifest token prefix for a file's bloom-index ref:
    * `bf=<relDir>,<m>,<colA+colB>`. */
  private val BfTok = "bf="
  /** Manifest token prefix for a file's row-tracking allotment:
    * `ri=<base>,<rows>,<addVersion>` (see [[RowIdInfo]]). */
  private val RiTok = "ri="
  /** MATERIALIZED row-tracking columns (Delta's materialized row-ID /
    * row-commit-version columns): content-preserving rewrites write the
    * absolute id / commit version physically so they survive the rows'
    * change of file and position. HIDDEN from every plain read — they
    * exist in footers but never in a read schema — and surfaced only by
    * [[MergeTable.readWithRowIds]] (as `row_id` / `row_commit`). */
  private[lake] val RidCol = "_graft_rid"
  private[lake] val RcvCol = "_graft_rcv"
  private val HiddenCols = Set(RidCol, RcvCol)
  /** Broadcast attach-frame column names for the per-file row-id
    * allotment ([[RowIdInfo.base]] / [[RowIdInfo.version]]). */
  private val RiBaseCol = "__graft_ri_base"
  private val RiVerCol = "__graft_ri_ver"
  /** Columns of a bloom-index parquet: the [[fileKey]] of the data
    * file, the indexed column name, the 64-bit word index, and the
    * word's bits. Sparse — only non-zero words are stored, and a probe
    * reads only its K words (parquet predicate pushdown on `word`). */
  private val BfFile = "__graft_bf_file"
  private val BfCol = "__graft_bf_col"
  private val BfWord = "__graft_bf_word"
  private val BfBits = "__graft_bf_bits"
  /** Hash functions per bloom filter (double hashing: murmur3 base +
    * i × (xxhash64|1) stride, both engines-native and codegen'd). */
  private val BloomK = 3

  /** Sidecar (dir, m) groups the relation-valued [[probeKeys]] bloom-
    * refines per probe; groups past the cap admit outright (sound
    * superset — each group is one Spark job over the key relation, so
    * an unbounded commit history must not turn one probe into
    * unbounded jobs; compaction folds old sidecars back under the
    * cap). */
  private val RelProbeBloomGroupCap = 32
  /** Target bits per row: m = nextPow2(16 × maxFileRows) ⇒ fill ≈ 3/16
    * per K=3 inserts/row ⇒ false-positive rate ≈ (1−e^(−3/16))³ ≈ 0.5%
    * — one in ~200 irrelevant files survives the prune. */
  private val BloomBitsPerRow = 16
  private val BloomMinBits = 1 << 12
  private val BloomMaxBits = 1 << 26
  private val HiveDefaultPartition = "__HIVE_DEFAULT_PARTITION__"
  private val MaxCommitRetries = 5

  /** `df` counted in-plan, as Delta's `IncrementMetric` counts: the
    * frame to consume in place of `df`, whose rows tick an accumulator
    * as an action reads them, and the count — the accumulator's value
    * at the FIRST call, so call it once the first action that reads the
    * frame whole has returned (later actions over the frame tick it
    * again; accumulator updates are merged before an action returns).
    * Counting adds no job. A partial action, like `isEmpty` or a
    * `limit`, must not run over the frame before that. */
  private[graft] def countedRows(df: DataFrame): (DataFrame, () => Long) = {
    val rows = df.sparkSession.sparkContext.longAccumulator("graft:rows")
    val tick = udf(() => { rows.add(1L); true }).asNondeterministic()
    lazy val first: Long = rows.value
    (df.filter(tick()), () => first)
  }

  /** See [[MergeTable.dirSchema]] — (dir + live subset + the session's
    * partition-type-inference flag and time zone) → resolved
    * footer/hive schema, exact by commit-dir immutability; the settings
    * in the key keep one JVM-wide memo sound across sessions. LRU-bounded
    * ([[LruMemo]]): overflow evicts only the least-recently-used dir,
    * so resolution cost stays monotonic past 65k dirs (the r13 bound
    * cleared the WHOLE memo at overflow). Package-visible so specs can
    * pin hit-rate survival across an overflow. */
  private[lake] val dirSchemaMemo =
    new LruMemo[String, org.apache.spark.sql.types.StructType](65536)

  /** Absolute data-file path → its nullable footer data schema, the
    * data half of [[MergeTable.dirSchema]]: exact by file
    * immutability, and independent of the live subset and of the
    * partition-inference settings, so a MERGE that shrinks an old
    * commit dir's subset re-resolves only its partition fields. */
  private[lake] val dataSchemaMemo =
    new LruMemo[String, org.apache.spark.sql.types.StructType](65536)

  /** Absolute committed-file path → exact byte length, for the
    * [[ManifestFileIndex]] scan (the parquet reader plans row-group
    * ranges from the length, so it must be exact). JVM-wide and exact
    * by the same immutability argument as [[dirSchemaMemo]]: a
    * committed file's bytes never change — rewrites mint new paths,
    * vacuum deletes whole dirs. Sized for 10^6 live files (~200 B per
    * entry ≈ 200 MB worst case is overcounted: the cap bounds it to
    * ~1M × (path + box) well under driver headroom). */
  private[lake] val fileSizeMemo = new LruMemo[String, Long](1 << 20)

  /** (absolute bloom-sidecar dir, column) → full word map, for SMALL
    * sidecars only (≤ [[BloomSliceMemoMaxBytes]] on disk — checked
    * before reading, so a big filter never materializes on the
    * driver). Exact by sidecar-dir immutability (fresh `bf-*` dir per
    * commit; vacuum removes whole dirs). 256 entries × ≤8 MB bounds
    * the worst case at 2 GB, realistically a few KB per entry — the
    * probes that hit this memo are CDC guards and join-view refreshes
    * re-reading the same recent commits' sidecars every batch. */
  private[lake] val bloomSliceMemo =
    new LruMemo[(String, String), Map[String, Map[Long, Long]]](256)

  private[lake] val BloomSliceMemoMaxBytes: Long = 8L << 20

  /** What a committing operation READ — the information [[canRebase]]
    * needs to decide whether a concurrent commit invalidated it. Pick the
    * NARROWEST true scope; `Everything` is always sound. */
  private[lake] sealed trait ReadScope
  private[lake] object ReadScope {
    /** The computation read no table data (blind append): any concurrent
      * file change coexists with it. Deltas under this scope must have no
      * removes — they add fresh files only. */
    case object Nothing extends ReadScope
    /** The computation read exactly the files its delta removes and its
      * output is a pure function of them (compaction, clustering,
      * deletion-vector purge): only a concurrent touch of THOSE files
      * conflicts, which the remove/re-add overlap checks already cover. */
    case object RemovedFiles extends ReadScope
    /** The computation read the whole logical table (merge / delete /
      * update / overwrite): only content-preserving reorganizations of
      * partitions it did not touch may rebase under it. */
    case object Everything extends ReadScope
  }

  /** Operation labels whose commits never change the table's LOGICAL
    * content — they reorganize bytes (bin-packing, clustering, DV
    * materialization) or attach derived metadata (stats, reclamation
    * audit records). Only these may rebase under a full-table read. */
  private val ContentPreservingOps =
    Set("OPTIMIZE", "ANALYZE", "PURGE", "VACUUM")
  /** Unpartitioned merges rewrite every live file; warn once the table is
    * big enough for that to matter. */
  private val FullRewriteWarnFiles = 64
  /** Advise compaction when live files span this many commit dirs. Reads
    * stay ONE scan node at any dir count (manifest-attached partition
    * values), but many dirs of small files still cost scan tasks and
    * listing time. */
  private val CompactionAdviceDirs = 32
  /** Distinct partition values collected to the driver per merge — log-scale
    * metadata (same contract as Delta's log), but guard the cardinality so a
    * mis-partitioned source (e.g. partitioned by a unique id) fails fast
    * instead of OOMing the driver. */
  private val MaxPartitionsPerMerge = 100000

  /** Per-file, per-column statistics: value range (absent when the
    * column is all-null in the file, or in legacy manifests that never
    * recorded it) and null/row counts (absent in legacy manifests). */
  private[lake] final case class ColStat(
      range: Option[(Long, Long)],
      nullsRows: Option[(Long, Long)] = None,
      strRange: Option[(String, Option[String])] = None) {
    def allNull: Boolean = nullsRows.exists { case (n, r) => n == r }
  }

  /** String file statistics (r14 verdict #4, Delta's truncated string
    * min/max): a STRING-typed stats column records a TRUNCATED range in
    * the manifest — `strRange = (minPrefix, maxBound)` where
    * `minPrefix` is the true minimum cut to [[MergeTable.StrStatLen]]
    * code points (a prefix is always <= the value it prefixes — a
    * valid lower bound) and `maxBound` is the true maximum when it
    * fits, else the truncated prefix with its last incrementable code
    * point bumped (Delta's max-side increment rule — strictly > any
    * value sharing the prefix, a valid upper bound), or None when no
    * code point can be bumped (every one is U+10FFFF) — unbounded
    * above, range pruning on the max side simply disengages. All
    * comparisons are BY CODE POINT ([[cpCompare]]) — the order
    * Spark's UTF8String binary comparison and DuckDB's UTF-8 byte
    * comparison both implement; java.lang.String's UTF-16 char order
    * disagrees above U+FFFF and must never decide a file skip. */
  private[lake] val StrStatLen = 32

  private[lake] def statsTruncMin(s: String): String =
    if (s.length <= StrStatLen) s
    else {
      // cut at a char boundary that is also a CODE POINT boundary — a
      // dangling high surrogate would re-encode as a replacement char
      val cut =
        if (Character.isHighSurrogate(s.charAt(StrStatLen - 1)))
          StrStatLen - 1
        else StrStatLen
      s.substring(0, cut)
    }

  private[lake] def statsTruncMax(s: String): Option[String] =
    if (s.length <= StrStatLen) Some(s)
    else {
      val cps = statsTruncMin(s).codePoints().toArray
      var i = cps.length - 1
      while (i >= 0) {
        if (cps(i) < 0x10FFFF) {
          // the successor must be a valid scalar value: bumping into
          // the surrogate block would not round-trip through UTF-8
          val next =
            if (cps(i) + 1 >= 0xD800 && cps(i) + 1 <= 0xDFFF) 0xE000
            else cps(i) + 1
          val out = cps.take(i) :+ next
          return Some(new String(out, 0, out.length))
        }
        i -= 1
      }
      None
    }

  /** Code-point order — identical to UTF-8 unsigned-byte order, which
    * is what Spark's UTF8String (and DuckDB) compare strings by. */
  private[lake] def cpCompare(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** A file's deletion vector: the root-relative parquet dir holding its
    * deleted row positions (as `(file, pos)` rows — [[DvFile]]/[[DvPos]]),
    * plus the CUMULATIVE deleted-row count, recorded in the manifest so
    * readers can size the anti-join (broadcast vs shuffle) without
    * touching the vector itself. The position set a ref points to is
    * complete — each new DELETE writes the union of the old vector and
    * the new hits, never an increment — so a reader consults exactly ONE
    * vector per file. */
  private[lake] final case class DvRef(relDir: String, card: Long)

  /** A file's row-tracking allotment (Delta's row-ID table feature):
    * `base` is the first fresh row id this file may mint — a row whose
    * materialized [[RidCol]] is NULL reads `base + row_index` — `rows`
    * the file's footer row count (the allotment width), and `version`
    * the commit that added the file (the default row-commit-version a
    * NULL [[RcvCol]] falls back to, Delta's defaultRowCommitVersion).
    * Rewrites that MATERIALIZE every row's id carry the token too; its
    * fallback range simply goes unused. */
  private[lake] final case class RowIdInfo(base: Long, rows: Long,
      version: Long)

  private[lake] final case class FileEntry(relPath: String,
      partitionValue: Option[String],
      stats: Map[String, ColStat] = Map.empty,
      dv: Option[DvRef] = None,
      bloom: Option[BloomRef] = None,
      rowIds: Option[RowIdInfo] = None)

  /** A file's bloom-filter index ref: the root-relative parquet dir
    * holding its sparse bloom words (`(file, col, word, bits)` rows —
    * one dir per commit), the filter's bit count `m` (a power of two,
    * sized from the commit's largest file), and the exact column list
    * the filter was built over — recorded per file so a probe on a
    * column that was NOT bloom'd when this file was written falls back
    * to scanning it instead of wrongly pruning. */
  private[lake] final case class BloomRef(relDir: String, m: Int,
      cols: Seq[String])

  /** One commit's log content: files it adds, relPaths it removes, plus
    * any CHECK-constraint metadata changes riding the same atomic
    * commit. */
  private[lake] final case class CommitDelta(adds: Seq[FileEntry],
      removes: Seq[String],
      cAdds: Seq[(String, String)] = Nil,
      cDrops: Seq[String] = Nil,
      mRenames: Seq[(String, String)] = Nil,
      mDrops: Seq[String] = Nil,
      txns: Seq[(String, Long)] = Nil,
      mSchema: Option[String] = None,
      protocol: Option[(Set[String], Set[String])] = None,
      rowIdHwm: Option[Long] = None,
      metrics: Map[String, Long] = Map.empty)

  /** The Hilbert xy2d fold as one SQL expression over 16-bit inputs
    * `xSql`/`ySql`: a codegen'd `aggregate` HOF over the bit levels
    * (highest first) carrying the classic algorithm's (d, x, y) state —
    * the per-level quadrant digit is `(3·rx) XOR ry`, and the rotation/
    * reflection uses two's-complement `&`, exactly like the reference
    * C loop (intermediate x/y may go negative; the masked bit stays
    * correct). Exposed for the spec's exhaustive check against an
    * independent JVM implementation. */
  private[lake] def hilbertSql(xSql: String, ySql: String): String =
    s"""aggregate(
          transform(sequence(15, 0, -1),
                    i -> shiftleft(CAST(1 AS BIGINT), i)),
          named_struct('d', CAST(0 AS BIGINT), 'x', $xSql, 'y', $ySql),
          (a, s) -> named_struct(
            'd', a.d + s * s *
              (IF((a.x & s) > 0, CAST(3 AS BIGINT), CAST(0 AS BIGINT)) ^
               IF((a.y & s) > 0, CAST(1 AS BIGINT), CAST(0 AS BIGINT))),
            'x', CASE WHEN (a.y & s) = 0 THEN
                   CASE WHEN (a.x & s) > 0 THEN s - 1 - a.y ELSE a.y END
                 ELSE a.x END,
            'y', CASE WHEN (a.y & s) = 0 THEN
                   CASE WHEN (a.x & s) > 0 THEN s - 1 - a.x ELSE a.x END
                 ELSE a.y END),
          a -> a.d)"""

  /** Control-flow sentinel: a txn-gated commit found its watermark
    * already recorded by a concurrent writer mid-loop. */
  private final class TxnAlreadyApplied extends RuntimeException

  /** Control-flow sentinel: an [[MergeTable.fsck]] attempt found a
    * concurrent commit already repaired every affected entry — commit
    * nothing (no spurious empty 'FSCK' version). */
  private final class FsckAlreadyClean extends RuntimeException

  private[lake] sealed trait LogAction
  private final case class Add(entry: FileEntry) extends LogAction
  private final case class Remove(relPath: String) extends LogAction
  private final case class AddConstraint(name: String,
      predicate: String) extends LogAction
  private final case class DropConstraint(name: String) extends LogAction
  private final case class RenameCol(physical: String,
      logical: String) extends LogAction
  private final case class DropCol(physical: String) extends LogAction
  private final case class SetTxn(appId: String, version: Long)
      extends LogAction
  private final case class InCommitTs(millis: Long) extends LogAction
  private final case class SetSchema(json: String) extends LogAction
  private final case class Protocol(reader: Set[String],
      writer: Set[String]) extends LogAction
  /** Row-id high-water mark: "W hwm" — MAX-folded (concurrent or
    * replayed allocators can only observe a mark at least as high as
    * any committed one); checkpoint-carried so vacuum never loses it
    * and ids are NEVER reused, even after every allocated-to file is
    * removed. */
  private final case class SetRowIdHwm(hwm: Long) extends LogAction
  /** Parquet-checkpoint pointer: "Q relDir count" — the checkpoint's
    * file entries live as typed parquet rows under `logDir/relDir`
    * (count = expected rows, a partial-dir guard); the text file
    * carrying the Q line holds only metadata actions. */
  private final case class PqEntries(relDir: String, count: Long)
      extends LogAction

  /** A version's non-file log state, folded action by action
    * ([[MetaState.folded]]): CHECK constraints (C adds, D drops),
    * column mapping (E renames, X drops), the txn ledger (T,
    * MAX-folded), the declared schema (M, last wins), the protocol (P,
    * last wins, Delta's) and the row-id high-water mark (W,
    * MAX-folded). The fold keeps each family in log order and exposes
    * it as the immutable collection a full replay's insertion-ordered
    * builders produce, so a checkpoint written from an incrementally
    * folded state lists the same lines as one written from a replay. */
  private[lake] final case class MetaState(
      constraintLog: VectorMap[String, String] = VectorMap.empty,
      renameLog: VectorMap[String, String] = VectorMap.empty,
      dropLog: Vector[String] = Vector.empty,
      txnLog: VectorMap[String, Long] = VectorMap.empty,
      schemaJson: Option[String] = None,
      protocol: (Set[String], Set[String]) = (Set.empty, Set.empty),
      rowIdHwm: Long = 0L) {
    lazy val constraints: Map[String, String] = constraintLog.toSeq.toMap
    lazy val renames: Map[String, String] = renameLog.toSeq.toMap
    lazy val drops: Set[String] = dropLog.toSet
    lazy val txns: Map[String, Long] = txnLog.toSeq.toMap
    lazy val schema: Option[org.apache.spark.sql.types.StructType] =
      schemaJson.map(j => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])

    /** (physical → logical renames, dropped physical names). */
    def mapping: (Map[String, String], Set[String]) = (renames, drops)

    /** This state after one more log action; file actions leave it. */
    def folded(a: LogAction): MetaState = a match {
      case AddConstraint(n, p) => copy(constraintLog = constraintLog.updated(n, p))
      case DropConstraint(n)   => copy(constraintLog = constraintLog - n)
      case RenameCol(ph, lg)   => copy(renameLog = renameLog.updated(ph, lg))
      case DropCol(ph)         => copy(renameLog = renameLog - ph,
        dropLog = if (dropLog.contains(ph)) dropLog else dropLog :+ ph)
      case SetTxn(app, bv)     => copy(txnLog = txnLog.updated(app,
        math.max(bv, txnLog.getOrElse(app, Long.MinValue))))
      case SetSchema(j)        => copy(schemaJson = Some(j))
      case Protocol(r, w)      => copy(protocol = (r, w))
      case SetRowIdHwm(h)      => copy(rowIdHwm = math.max(rowIdHwm, h))
      case _                   => this
    }

    /** This state as the metadata half of a [[CommitDelta]]: what a
      * checkpoint records beside its files and what a clone's first
      * commit carries. */
    def asDelta: CommitDelta = CommitDelta(Nil, Nil,
      cAdds = constraints.toSeq,
      mRenames = renames.toSeq, mDrops = drops.toSeq,
      txns = txns.toSeq,
      mSchema = schema.map(_.json),
      protocol = Some(protocol).filter(p => p._1.nonEmpty || p._2.nonEmpty),
      rowIdHwm = Some(rowIdHwm).filter(_ > 0L))
  }

  /** One table version, folded once from the log: its live files in
    * fold order and its metadata. */
  private[lake] final case class TableState(version: Long,
      entries: Seq[FileEntry], meta: MetaState)

  /** Version 0: the never-written table. */
  private val EmptyState = TableState(0L, Nil, MetaState())

  /** One manifest entry as a typed parquet-checkpoint row — the exact
    * [[FileEntry]] fields (dv/bloom/row-id refs, numeric and string
    * stats), plus `idx` to restore the snapshot's fold order on load
    * (parquet readers return files in nondeterministic order). The
    * mapping is bijective: entry → row → entry is identity, pinned by
    * ParquetCheckpointSpec's round-trip law. */
  private[lake] final case class PqStatRow(col: String,
      mn: Option[Long], mx: Option[Long],
      nulls: Option[Long], rows: Option[Long],
      smn: Option[String], smx: Option[String], smxOpen: Boolean)
  private[lake] final case class PqEntryRow(idx: Long, relPath: String,
      part: Option[String],
      dvDir: Option[String], dvCard: Option[Long],
      bfDir: Option[String], bfM: Option[Int], bfCols: Seq[String],
      riBase: Option[Long], riRows: Option[Long], riVer: Option[Long],
      stats: Seq[PqStatRow])

  private[lake] def toPqRow(idx: Long, e: FileEntry): PqEntryRow =
    PqEntryRow(idx, e.relPath, e.partitionValue,
      e.dv.map(_.relDir), e.dv.map(_.card),
      e.bloom.map(_.relDir), e.bloom.map(_.m),
      e.bloom.map(_.cols).getOrElse(Nil),
      e.rowIds.map(_.base), e.rowIds.map(_.rows), e.rowIds.map(_.version),
      e.stats.toSeq.sortBy(_._1).map { case (c, cs) =>
        PqStatRow(c, cs.range.map(_._1), cs.range.map(_._2),
          cs.nullsRows.map(_._1), cs.nullsRows.map(_._2),
          cs.strRange.map(_._1), cs.strRange.flatMap(_._2),
          cs.strRange.exists(_._2.isEmpty))
      })

  private[lake] def fromPqRow(r: PqEntryRow): FileEntry =
    FileEntry(r.relPath, r.part,
      r.stats.map(s => s.col -> ColStat(
        for { mn <- s.mn; mx <- s.mx } yield (mn, mx),
        for { nn <- s.nulls; rw <- s.rows } yield (nn, rw),
        s.smn.map(mn => (mn, if (s.smxOpen) None else s.smx)))).toMap,
      for { d <- r.dvDir; c <- r.dvCard } yield DvRef(d, c),
      for { d <- r.bfDir; m <- r.bfM } yield BloomRef(d, m, r.bfCols),
      for { b <- r.riBase; rw <- r.riRows; v <- r.riVer }
        yield RowIdInfo(b, rw, v))

  /** Open (or lazily create on first write) a table at `root`.
    * `statsCol` names a long-castable column whose per-file min/max is
    * recorded in the manifest, enabling [[MergeTable.readRange]] file
    * skipping (Delta-style data skipping). */
  def apply(spark: SparkSession, root: String,
      partitionCol: Option[String] = None,
      statsCol: Option[String] = None): MergeTable =
    apply(spark, root, partitionCol.toSeq, statsCol.toSeq,
      deletionVectors = false, bloomCols = Nil)

  /** As above with MULTIPLE stats columns (Delta's first-N-columns
    * stats contract, made explicit): every listed long-castable column
    * gets per-file min/max in the manifest, and [[MergeTable.readRange]]
    * can prune on any of them — including zorder's trailing clustering
    * columns. */
  def apply(spark: SparkSession, root: String,
      partitionCol: Option[String],
      statsCols: Seq[String]): MergeTable =
    apply(spark, root, partitionCol.toSeq, statsCols,
      deletionVectors = false, bloomCols = Nil)

  /** As above with DELETION VECTORS enabled (Delta's
    * `delta.enableDeletionVectors` table feature): [[MergeTable.delete]]
    * and [[MergeTable.update]] become merge-on-read — instead of
    * rewriting every file that holds a matched row, they record the
    * matched ROW POSITIONS in a per-file deletion vector and leave the
    * data files untouched. A 1-row DELETE against a 1 GB file costs one
    * tiny position write instead of a 1 GB rewrite — the difference
    * between O(matched rows) and O(touched-file bytes), which at 100 TB
    * is the difference between a metadata operation and a compaction
    * job. Reads anti-join the vectors back out (broadcast while small);
    * [[MergeTable.purgeVectors]] / [[MergeTable.compact]] fold them into
    * clean files. The flag gates only the WRITE path — any handle reads
    * vectored tables correctly, flag or not. */
  def apply(spark: SparkSession, root: String,
      partitionCol: Option[String],
      statsCols: Seq[String],
      deletionVectors: Boolean): MergeTable =
    apply(spark, root, partitionCol, statsCols, deletionVectors, Nil)

  /** As above with a per-file BLOOM-FILTER INDEX over `bloomCols`
    * (Delta's `delta.bloomFilter` column index): every commit writes a
    * sparse bloom sidecar for its new files, and [[MergeTable.readPoint]]
    * answers `c = value` lookups scanning only the files whose filter
    * admits the value. The stats columns' min/max prune RANGES on
    * roughly-clustered columns; the bloom index prunes POINT lookups on
    * columns with no ordering at all (the high-cardinality key case
    * zorder can't reach) — at 100 TB, ~0.5% of irrelevant files survive
    * the prune instead of 100%. */
  def apply(spark: SparkSession, root: String,
      partitionCol: Option[String],
      statsCols: Seq[String],
      deletionVectors: Boolean,
      bloomCols: Seq[String]): MergeTable =
    apply(spark, root, partitionCol.toSeq, statsCols, deletionVectors,
      bloomCols)

  /** Open a table partitioned on MULTIPLE columns (Delta's
    * `partitionBy(a, b, ...)`): the layout nests one hive level per
    * column (`a=x/b=y/part-*.parquet`), the manifest records the full
    * value tuple per file, and every partition-aware path — pruning
    * (manifest stats and partition values), OPTIMIZE WHERE, MERGE's
    * touched-partition probe, generated-column derivation — operates
    * per column. Every other public overload opens through this one;
    * the [[TableLayout]] it builds runs the layout input checks. */
  def apply(spark: SparkSession, root: String,
      partitionCols: Seq[String],
      statsCols: Seq[String],
      deletionVectors: Boolean,
      bloomCols: Seq[String]): MergeTable =
    MergeTable(spark, Paths.get(root), LogStore.forConf(spark),
      TableLayout(partitionCols, statsCols, deletionVectors, bloomCols))

  /** A handle on the table at `root` under `layout`, publishing through
    * `logStore` — every handle, its copies and clones are built here. */
  private[graft] def apply(spark: SparkSession, root: Path,
      logStore: LogStore, layout: TableLayout): MergeTable =
    new MergeTable(spark, root, logStore, layout)

  /** The exact dir-name shape [[writeData]] produces: `commit-` + the
    * first 12 chars of a random UUID string (8 hex, '-', 3 hex). An
    * exact match — not a `startsWith` — so a clone's rebased relPath
    * climbing through an ancestor that merely BEGINS with "commit-"
    * (e.g. `../commit-logs/...`) can't be mistaken for the commit dir. */
  private val CommitDirName = "commit-[0-9a-f]{8}-[0-9a-f]{3}".r

  /** The path prefix through the `commit-*` component — a file's commit
    * dir even when a clone's rebased relPath climbs through `..` first. */
  private def commitDirOf(relPath: String): String = {
    val parts = relPath.split('/')
    val i = parts.indexWhere(p => CommitDirName.matches(p))
    // converted-in-place files (convertInPlace) carry no commit-
    // component — group them by their containing dir ("" at root)
    if (i < 0) parts.init.mkString("/")
    else parts.take(i + 1).mkString("/")
  }

  /** Spark escapes special chars in partition dir names (URL-style). */
  private def unescapePathValue(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  /** Inverse of [[unescapePathValue]] — used by the multi-column
    * manifest tuple encoding (escapes '/', so the joined form splits
    * unambiguously). */
  private def escapePathValue(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")

  private def deleteRecursively(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (!Files.exists(p)) return
    Using.resource(Files.walk(p))(_.iterator().asScala.toSeq).reverse
      .foreach(Files.deleteIfExists(_))
  }
}

/** One `WHEN MATCHED [AND <condition>] THEN UPDATE|DELETE` clause of a
  * conditional [[MergeTable.merge]]. Conditions are evaluated over the
  * matched pair with the target aliased `t` and the source aliased `s`
  * (`col("s.qty") > col("t.qty")` / SQL `s.qty > t.qty`); a clause with
  * no condition always fires. Clauses apply first-match-wins; a matched
  * row satisfying none is kept unchanged. */
final case class MatchClause(condition: Option[Column], isUpdate: Boolean)

object MatchClause {
  /** `WHEN MATCHED THEN UPDATE` — unconditional update-all. */
  def update(): MatchClause = MatchClause(None, isUpdate = true)

  /** `WHEN MATCHED AND <cond> THEN UPDATE`. */
  def update(cond: Column): MatchClause =
    MatchClause(Some(cond), isUpdate = true)

  /** `WHEN MATCHED THEN DELETE`. */
  def delete(): MatchClause = MatchClause(None, isUpdate = false)

  /** `WHEN MATCHED AND <cond> THEN DELETE`. */
  def delete(cond: Column): MatchClause =
    MatchClause(Some(cond), isUpdate = false)
}

