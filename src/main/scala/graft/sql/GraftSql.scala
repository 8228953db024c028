package graft.sql

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute,
  UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference,
  Expression, Literal}
import org.apache.spark.sql.catalyst.parser.{CatalystSqlParser, ParseException,
  ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, CreateTable,
  DeleteFromTable, InsertIntoStatement, LogicalPlan, SubqueryAlias, UpdateTable}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.{col, expr, lit}
import org.apache.spark.sql.graftshim.GraftStreamShim
import org.apache.spark.sql.graftshim.GraftStreamShim.column
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

import graft.lake.{LogStore, MatchClause, MergeTable, TableLayout}

/** SQL front-end for the lake DML surface (the reference's consumers
  * speak SQL — Athena over the Glue catalog, README.md:98). A parser
  * injected via [[graft.functions.GraftExtensions]] routes statements
  * on REGISTERED graft tables to the existing MergeTable calls; every
  * other statement — including DML on non-graft tables — runs as
  * Spark's parser reads it.
  *
  * Spark's own grammar on graft names ([[dml]]):
  *
  *   UPDATE <name> SET c = e[, ...] [WHERE p]   → [[MergeTable.update]]
  *   DELETE FROM <name> [WHERE p]               → [[MergeTable.delete]]
  *   INSERT INTO <name> [(a, b, ...)] <query>   → [[MergeTable.append]]
  *
  * The graft grammar, hand-parsed ([[parse]]) because Spark's parser
  * does not take it — MERGE's key dialect (`ON k` with no WHEN is
  * MERGE_WITHOUT_WHEN, a bare `THEN UPDATE` a syntax error), INSERT
  * OVERWRITE's `WHERE` (a syntax error), and the lake operations:
  *
  *   MERGE INTO <name> USING <view|(subquery)>
  *     ON <pk> | ON (a, b[, ...])
  *     [WHEN MATCHED [AND p] THEN UPDATE|DELETE]*
  *     [WHEN NOT MATCHED [AND p] THEN INSERT]
  *     [WHEN NOT MATCHED BY SOURCE [AND p] THEN DELETE]
  *     [WITH SCHEMA EVOLUTION]                  → [[MergeTable.merge]]
  *   INSERT OVERWRITE <name> [WHERE <partition pred>] <query>
  *     → [[MergeTable.overwrite]] / [[MergeTable.overwriteWhere]]
  *       (Delta's replaceWhere: atomic partition-scoped replacement)
  *   OPTIMIZE <name> [WHERE <partition pred>]
  *     [ZORDER BY (c[, ...])]    → compact / zorder / compactWhere
  *       (a WHERE scope is OPTIMIZE over the partitions it selects,
  *       laid out as the unscoped statement lays them out)
  *   RESTORE <name> TO VERSION AS OF <v>        → [[MergeTable.restore]]
  *   RESTORE <name> TO TIMESTAMP AS OF 'ts'     → [[MergeTable.restoreAsOf]]
  *   VACUUM <name> [RETAIN n HOURS] [DRY RUN]   → [[MergeTable.vacuum]]
  *   FSCK REPAIR TABLE <name> [DRY RUN]         → [[MergeTable.fsck]]
  *   COPY INTO <name> FROM '<path>'
  *     [FILEFORMAT = PARQUET|CSV] [PATTERN = '<glob>']
  *                                         → [[MergeTable.copyInto]]
  *   GENERATE symlink_format_manifest
  *     FOR TABLE <name>              → [[MergeTable.generateSymlinkManifest]]
  *   REORG [TABLE] <name> APPLY (PURGE)   → [[MergeTable.purgeVectors]]
  *   DESCRIBE HISTORY | DETAIL <name>     → [[MergeTable.history]] / detail
  *   SHOW PARTITIONS <name>               → [[MergeTable.partitions]]
  *   SHOW GRAFT TABLES                    → the registry as rows
  *   CLONE GRAFT TABLE <name> TO '<path>' [AS <new>]
  *                                        → [[MergeTable.cloneTo]]
  *   REGISTER GRAFT TABLE <name> AT '<path>' [<clauses>]
  *   CREATE GRAFT TABLE <name> [(<col type [DEFAULT e], ...>)] AT '<path>'
  *     [<REGISTER clauses>] [AS <query>]    → declared-schema create / CTAS
  *   DROP | UNREGISTER GRAFT TABLE <name>   → unregister (data untouched)
  *   CONVERT TO GRAFT TABLE <name> AT '<path>' [PARTITIONED BY (c)]
  *                             → adopt a plain parquet dir in place
  *   ANALYZE TABLE <name> COMPUTE STATISTICS
  *                             → retrofit manifest file stats
  *   ALTER TABLE <name> ADD CONSTRAINT n CHECK (p) | DROP CONSTRAINT n
  *     | ADD COLUMN c <type> [DEFAULT <expr>]  (metadata-only; the
  *       default fills INSERT column lists / COPY INTO omissions)
  *     | ALTER COLUMN c TYPE <t>  (metadata-only type WIDENING)
  *     | RENAME COLUMN a TO b | DROP COLUMN c
  *     | ADD GENERATED COLUMN c AS (expr) | DROP GENERATED COLUMN c
  *     | ADD IDENTITY COLUMN c [START WITH s] [STEP k]
  *     | DROP IDENTITY COLUMN c
  *   REGISTER ... GENERATED (c AS expr)   → [[MergeTable.addGeneratedColumn]]
  *
  * A `<name>` is `t` or `db.t`, resolved by [[resolve]] for both
  * grammars and for reads: a temp view or session-catalog table of
  * that name wins. Column lists (CREATE, ADD COLUMN) are read by
  * Spark's own column-definition grammar. Spark's `INSERT INTO …
  * REPLACE WHERE`, `BY NAME`, `PARTITION (…)` specs and `EXPLAIN` of
  * graft DML are not supported.
  *
  * Tables are REGISTERED handles, not paths: a MergeTable's layout
  * contract (partition column, stats/bloom sidecar columns, deletion
  * vectors) lives on the handle, so resolving a bare path here would
  * silently write an unpartitioned, stats-less commit into a
  * partitioned table. `GraftSql.register(spark, name, table)` binds
  * the fully-configured handle once; SQL drives it by name from then
  * on — the same shape as Delta registering a table in the metastore
  * with its table features.
  *
  * Each statement executes eagerly inside `spark.sql(...)` (command
  * semantics) and returns the committed version as a 1-row result.
  */
object GraftSql {

  /** name → configured handle; names are case-insensitive (SQL
    * convention). The in-memory registry is per-JVM — shared by every
    * session the JVM holds, like Spark's own builtin function
    * registry — and, when `spark.graft.catalog.dir` names a
    * directory, backed by a PERSISTED catalog (r14 verdict #2): each
    * registration writes the handle's layout contract (its
    * [[graft.lake.TableLayout]], path and log store) as one small
    * file there, and a
    * lookup that misses in memory — a restarted JVM, a fresh Spark
    * Connect server — rebuilds the handle from that contract, so DML
    * keeps working without a re-issued `REGISTER GRAFT TABLE`. A
    * re-register whose layout CONTRADICTS the persisted contract is
    * refused (it would silently write, e.g., a stats-less commit into
    * a stats'd table); `DROP GRAFT TABLE` / [[unregister]] deletes
    * the persisted entry along with the in-memory one. With the conf
    * unset, behavior is the pre-r15 in-memory-only registry. */
  private val tables = TrieMap.empty[String, MergeTable]

  private val CatalogConf = "spark.graft.catalog.dir"
  private val CatalogSuffix = ".graft"

  private def catalogDir(s: SparkSession): Option[java.nio.file.Path] =
    s.conf.get(CatalogConf, "") match {
      case "" => None
      case d  => Some(java.nio.file.Paths.get(d))
    }

  private def sessionFor(): Option[SparkSession] =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)

  /** The log stores a catalog entry names. A custom store can't be
    * named across a restart: it is recorded as `conf` and re-resolves
    * from the session conf when the entry is rebuilt. */
  private val LogStores = Seq("posix" -> LogStore.Posix,
    "rename" -> LogStore.Rename, "memory" -> LogStore.Memory)

  /** The layout contract, serialized canonically (sorted k=v lines) —
    * what the persisted catalog stores and what the contradiction
    * check compares: the handle's [[TableLayout]] plus its path and
    * log store. Everything here is HANDLE configuration a bare path
    * cannot recover; table-log state (declared schema, generated
    * rules, constraints, protocol) deliberately stays in the log. */
  private[sql] def contractOf(t: MergeTable): String =
    (t.layout.render.linesIterator.toSeq ++ Seq(
      "logStore=" + LogStores.collectFirst {
        case (n, ls) if ls eq t.logStore => n }.getOrElse("conf"),
      s"path=${t.root.toAbsolutePath.normalize}")).sorted.mkString("\n")

  /** Rebuild a handle from a persisted contract, bound to `s`. */
  private def buildFromContract(s: SparkSession,
      contract: String): MergeTable = {
    val kv = TableLayout.fields(contract)
    MergeTable(s, java.nio.file.Paths.get(kv("path")),
      kv.get("logStore").flatMap(LogStores.toMap.get)
        .getOrElse(LogStore.forConf(s)),
      TableLayout.parse(contract))
  }

  private def catalogFile(dir: java.nio.file.Path,
      key: String): java.nio.file.Path = dir.resolve(key + CatalogSuffix)

  def register(name: String, table: MergeTable): Unit = {
    val key = name.toLowerCase
    catalogDir(table.spark).foreach { dir =>
      val f = catalogFile(dir, key)
      val contract = contractOf(table)
      def agree(persisted: String): Unit =
        if (persisted != contract) throw new IllegalArgumentException(
          s"REGISTER GRAFT TABLE $name: the persisted catalog at " +
            s"$dir records a DIFFERENT layout contract for this " +
            "name — registering over it could silently write " +
            "commits that violate the table's layout. Persisted:\n" +
            persisted.linesIterator.map("  " + _).mkString("\n") +
            "\nRequested:\n" +
            contract.linesIterator.map("  " + _).mkString("\n") +
            s"\nDROP GRAFT TABLE $name (or UNREGISTER) first if the " +
            "change is intentional")
      // an identical contract is an idempotent re-register
      if (java.nio.file.Files.exists(f))
        agree(java.nio.file.Files.readString(f))
      else {
        java.nio.file.Files.createDirectories(dir)
        // CREATE-IF-ABSENT publish (hard link, the LogStore.Posix
        // technique): two JVMs sharing the catalog dir may race this
        // registration — a replace-existing move would let the last
        // writer silently win with a CONTRADICTING layout (r15
        // review, the exact hazard the check above refuses). The
        // loser re-reads the winner's contract and either passes
        // (identical) or throws the same contradiction error.
        val tmp = dir.resolve(s".tmp-${java.util.UUID.randomUUID()}")
        java.nio.file.Files.writeString(tmp, contract)
        try java.nio.file.Files.createLink(f, tmp)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            agree(java.nio.file.Files.readString(f))
        } finally java.nio.file.Files.deleteIfExists(tmp)
      }
    }
    tables.put(key, table)
  }

  def unregister(name: String): Unit = {
    val key = name.toLowerCase
    // resolve the catalog dir from the REGISTERED handle's own session
    // first (r15 review): an unregister from a thread with no active
    // session — or one with a different conf — must still delete the
    // persisted entry, or the "dropped" name resurrects on the next
    // lookup
    val owner = tables.get(key).map(_.spark)
    tables.remove(key)
    for {
      s <- owner.orElse(sessionFor())
      dir <- catalogDir(s)
    } java.nio.file.Files.deleteIfExists(catalogFile(dir, key))
  }

  def table(name: String): Option[MergeTable] = {
    val key = name.toLowerCase
    tables.get(key).orElse {
      // persisted-catalog fallback: rebuild the handle from its
      // contract, bound to the session doing the lookup, and cache it
      for {
        s <- sessionFor()
        dir <- catalogDir(s)
        f = catalogFile(dir, key)
        if java.nio.file.Files.exists(f)
      } yield {
        val t = buildFromContract(s, java.nio.file.Files.readString(f))
        tables.putIfAbsent(key, t).getOrElse(t)
      }
    }
  }

  /** (name, path, layout) of every entry in the persisted catalog,
    * whether or not it is loaded in memory — SHOW GRAFT TABLES unions
    * these in. */
  private[sql] def persistedEntries(s: SparkSession)
      : Seq[(String, String, TableLayout)] =
    catalogDir(s).filter(java.nio.file.Files.isDirectory(_)).toSeq
      .flatMap { dir =>
        scala.util.Using.resource(java.nio.file.Files.list(dir)) { st =>
          import scala.jdk.CollectionConverters._
          st.iterator().asScala
            .filter(_.getFileName.toString.endsWith(CatalogSuffix))
            .map { p =>
              val contract = java.nio.file.Files.readString(p)
              (p.getFileName.toString.stripSuffix(CatalogSuffix),
                TableLayout.fields(contract).getOrElse("path", ""),
                TableLayout.parse(contract))
            }.toList
        }
      }

  /** Test hook: simulate a JVM restart — clear the in-memory registry
    * WITHOUT touching the persisted catalog. */
  private[graft] def resetInMemory(): Unit = tables.clear()

  /** Snapshot of the in-memory registry — the
    * [[graft.lake.GraftScanPruning]] optimizer rule sweeps it on every
    * query to recognize which relations are lake tables it may
    * file-prune, so this stays IO-free (persisted-but-unloaded names
    * enter it on first [[table]] lookup). */
  def registered: Seq[(String, MergeTable)] = tables.toSeq

  // ---- name resolution ----------------------------------------------------

  /** The registered table that `parts` (`t` or `db.t`) denotes in `s`:
    * None when the name has more than two parts, is not registered, or a
    * temp view or session-catalog table of that name exists — the
    * session catalog wins, as it does over Delta's path tables. Every
    * statement that acts on an existing table and every name read
    * ([[GraftRelationResolution]]) resolves through here, so a name
    * means the same object whether a statement reads or writes it. */
  private[sql] def resolve(s: SparkSession,
      parts: Seq[String]): Option[MergeTable] =
    if (parts.size > 2) None
    else table(parts.mkString(".")).filterNot(_ => inSessionCatalog(s, parts))

  private def inSessionCatalog(s: SparkSession, parts: Seq[String]): Boolean = {
    val catalog = s.sessionState.catalog
    catalog.isTempView(parts) || (parts match {
      case Seq(t)     => catalog.tableExists(TableIdentifier(t))
      case Seq(db, t) => catalog.databaseExists(db) &&
        catalog.tableExists(TableIdentifier(t, Some(db)))
    })
  }

  // ---- Spark's DML on graft names -----------------------------------------

  /** Spark's parsed UPDATE / DELETE / INSERT INTO whose target resolves
    * to a registered graft table, as the graft command that runs it;
    * any other plan unchanged. Built at parse time, not in an analyzer
    * rule: a Hive-catalog session drops injected hint rules but keeps
    * the injected parser. */
  private[sql] def dml(spark: SparkSession, plan: LogicalPlan): LogicalPlan = {
    object Target {
      def unapply(p: LogicalPlan): Option[(String, MergeTable)] = p match {
        case u: UnresolvedRelation => resolve(spark, u.multipartIdentifier)
          .map(u.multipartIdentifier.mkString(".") -> _)
        case SubqueryAlias(_, Target(name, _)) =>
          throw new IllegalArgumentException(
            s"$name is a graft table: DML on it takes no table alias")
        case _ => None
      }
    }
    plan match {
      case UpdateTable(Target(name, t0), assignments, cond) =>
        val sets = assignments.map {
          case Assignment(UnresolvedAttribute(c), e) =>
            c.mkString(".") -> column(e)
          case a => throw new IllegalArgumentException(
            s"UPDATE $name: unsupported SET target ${a.key.sql}")
        }.toMap
        GraftDmlCommand(s"UPDATE $name", s => t0.withSession(s)
          .update(column(cond.getOrElse(Literal.TrueLiteral)), sets))
      case DeleteFromTable(Target(name, t0), cond) =>
        GraftDmlCommand(s"DELETE FROM $name", s =>
          t0.withSession(s).delete(column(cond)))
      case i @ InsertIntoStatement(Target(name, t0), _, cols, query, _, _, _) =>
        require(!i.overwrite && !i.byName && i.partitionSpec.isEmpty,
          s"INSERT INTO $name: a graft table takes no PARTITION spec, BY " +
            "NAME or INSERT OVERWRITE TABLE — use INSERT OVERWRITE " +
            s"$name [WHERE <partition pred>] <query>")
        insertInto(name, t0, cols, query)
      case p => p
    }
  }

  /** INSERT INTO <name> [(a, b, ...)] <query> → [[MergeTable.append]].
    * Without a column list the query maps BY POSITION onto the table
    * schema, identity columns omittable (Delta's GENERATED BY DEFAULT);
    * with one, it maps onto the LISTED columns and every omitted column
    * fills in — its declared DEFAULT or NULL for plain columns,
    * engine-populated for generated and identity ones. */
  private def insertInto(name: String, t0: MergeTable, cols: Seq[String],
      query: LogicalPlan): LogicalPlan =
    GraftDmlCommand(s"INSERT INTO $name", s => {
      val t = t0.withSession(s)
      val df = GraftStreamShim.ofRows(s, query)
      val all = t.read().schema.fields.toSeq
      val idCols = t.identityColumns.keySet
      val label = s"INSERT INTO $name"
      if (cols.isEmpty) t.append(alignTo(label, df, all, idCols))
      else {
        val byName = all.map(f => f.name -> f).toMap
        val bad = cols.filterNot(byName.contains)
        require(bad.isEmpty,
          s"INSERT INTO $name: unknown column(s) ${bad.mkString(", ")}")
        require(cols.distinct.length == cols.length,
          s"INSERT INTO $name: duplicate column in list")
        require(df.columns.length == cols.length,
          s"INSERT INTO $name: query produces " +
            s"${df.columns.length} columns, list names ${cols.length}")
        // omitted generated / identity columns stay ABSENT so their
        // populators run (a null would fail the generated invariant)
        val engine = t.generatedColumns.keySet ++ idCols
        val dflts = t.columnDefaults
        val listed = alignTo(label, df, cols.map(byName), Set.empty)
        t.append(all.filterNot(f => cols.contains(f.name) ||
            engine.contains(f.name))
          .foldLeft(listed)((d, f) => d.withColumn(f.name,
            dflts.get(f.name).map(expr).getOrElse(lit(null))
              .cast(f.dataType))))
      }
    })

  /** `df`'s columns mapped BY POSITION onto `fields`, with
    * store-assignment casts (Spark INSERT semantics: a VALUES literal
    * arrives as DECIMAL and coerces to the table's type; under ANSI an
    * uncastable value fails the statement). A query may leave out the
    * engine-populated `omittable` fields; the write fills them in. The
    * one alignment INSERT INTO, INSERT OVERWRITE and CTAS onto a
    * declared schema share. */
  private def alignTo(label: String, df: DataFrame, fields: Seq[StructField],
      omittable: Set[String]): DataFrame = {
    val target =
      if (df.columns.length == fields.length) fields
      else fields.filterNot(f => omittable.contains(f.name))
    require(df.columns.length == target.length,
      s"$label: query produces ${df.columns.length} columns, table has " +
        s"${fields.length}" + (if (target.length == fields.length) ""
          else s" (${target.length} without the engine-populated " +
            s"column(s) ${omittable.mkString(", ")})"))
    df.toDF(target.map(_.name): _*).select(target.map(f =>
      col(s"`${f.name}`").cast(f.dataType).as(f.name)): _*)
  }

  // ---- the graft-only statement grammar -----------------------------------

  // Statement HEADS are matched by regex; clause BOUNDARIES inside a
  // statement (WHERE, ZORDER, USING/ON, WHEN/THEN, AS) are located with
  // the quote- and paren-aware [[scanTop]] — a bare-keyword regex split
  // mis-splits on a string literal containing ' WHERE '.
  /** A table name: `t` or `db.t`. */
  private val Name = """([A-Za-z_]\w*(?:\.[A-Za-z_]\w*)?)"""
  private val MergeHeadRe =
    raw"""(?is)^\s*MERGE\s+INTO\s+$Name\s+USING\s+(.+)$$""".r
  private val InsertOverwriteRe =
    raw"""(?is)^\s*INSERT\s+OVERWRITE\s+$Name\s+(.+)$$""".r
  private val OptimizeRe =
    raw"""(?is)^\s*OPTIMIZE\s+$Name\s*(.*?)\s*;?\s*$$""".r
  private val ZorderTailRe = """(?is)^ZORDER\s+BY\s*\((.*)\)\s*$""".r
  private val RestoreRe =
    raw"""(?is)^\s*RESTORE\s+$Name\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*$$""".r
  private val RestoreTsRe =
    raw"""(?is)^\s*RESTORE\s+$Name\s+TO\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'\s*$$""".r
  private val FsckRe =
    raw"""(?is)^\s*FSCK\s+REPAIR\s+TABLE\s+$Name(\s+DRY\s+RUN)?\s*$$""".r
  private val VacuumRe =
    raw"""(?is)^\s*VACUUM\s+$Name(?:\s+RETAIN\s+(\d+)\s+HOURS?)?(\s+DRY\s+RUN)?\s*$$""".r
  private val CopyIntoRe =
    raw"""(?is)^\s*COPY\s+INTO\s+$Name\s+FROM\s+'([^']+)'(?:\s+FILEFORMAT\s*=\s*([A-Za-z]+))?(?:\s+PATTERN\s*=\s*'([^']+)')?\s*;?\s*$$""".r
  private val GenerateRe =
    raw"""(?is)^\s*GENERATE\s+symlink_format_manifest\s+FOR\s+TABLE\s+$Name\s*;?\s*$$""".r
  private val ReorgRe =
    raw"""(?is)^\s*REORG\s+(?:TABLE\s+)?$Name\s+APPLY\s*\(\s*PURGE\s*\)\s*;?\s*$$""".r
  private val IdentRe = """(?s)^\s*([A-Za-z_][\w]*)\s*(.*)$""".r
  private val MatchedHeadRe = """(?is)^\s*MATCHED\b(.*)$""".r
  private val EvolveRe = """(?is)^\s*WITH\s+SCHEMA\s+EVOLUTION\s*$""".r
  private val HistoryRe =
    raw"""(?is)^\s*DESCRIBE\s+HISTORY\s+$Name\s*;?\s*$$""".r
  private val DetailRe =
    raw"""(?is)^\s*DESCRIBE\s+DETAIL\s+$Name\s*;?\s*$$""".r
  private val ShowPartsRe =
    raw"""(?is)^\s*SHOW\s+PARTITIONS\s+$Name\s*;?\s*$$""".r
  private val GenItemRe = """(?is)^\s*([A-Za-z_][\w]*)\s+AS\s+(.+?)\s*$""".r
  private val RegisterRe =
    raw"""(?is)^\s*REGISTER\s+GRAFT\s+TABLE\s+$Name\s+AT\s+'([^']+)'(.*?)\s*;?\s*$$""".r
  private val CreateRe =
    raw"""(?is)^\s*CREATE\s+GRAFT\s+TABLE\s+$Name\s+(.+?)\s*;?\s*$$""".r
  private val CreateTailRe =
    """(?is)^AT\s+'([^']+)'(.*)$""".r
  private val DropTableRe =
    raw"""(?is)^\s*DROP\s+GRAFT\s+TABLE\s+$Name\s*;?\s*$$""".r
  private val ConvertRe =
    raw"""(?is)^\s*CONVERT\s+TO\s+GRAFT\s+TABLE\s+$Name\s+AT\s+'([^']+)'(.*?)\s*;?\s*$$""".r
  private val AnalyzeRe =
    raw"""(?is)^\s*ANALYZE\s+TABLE\s+$Name\s+COMPUTE\s+STATISTICS\s*;?\s*$$""".r
  private val AlterRe =
    raw"""(?is)^\s*ALTER\s+TABLE\s+$Name\s+(.+?)\s*;?\s*$$""".r
  private val AlterAddConRe =
    """(?is)^ADD\s+CONSTRAINT\s+([A-Za-z_][\w]*)\s+CHECK\s*\(.*\)$""".r
  private val AlterDropConRe =
    """(?is)^DROP\s+CONSTRAINT\s+([A-Za-z_][\w]*)$""".r
  private val AlterRenameRe =
    """(?is)^RENAME\s+COLUMN\s+([A-Za-z_][\w]*)\s+TO\s+([A-Za-z_][\w]*)$""".r
  private val AlterDropColRe =
    """(?is)^DROP\s+COLUMN\s+([A-Za-z_][\w]*)$""".r
  private val AlterAddGenRe =
    """(?is)^ADD\s+GENERATED\s+COLUMN\s+([A-Za-z_][\w]*)\s+AS\s*\(.*\)$""".r
  private val AlterDropGenRe =
    """(?is)^DROP\s+GENERATED\s+COLUMN\s+([A-Za-z_][\w]*)$""".r
  private val AlterAddIdRe =
    """(?is)^ADD\s+IDENTITY\s+COLUMN\s+([A-Za-z_][\w]*)(?:\s+START\s+WITH\s+(-?\d+))?(?:\s+STEP\s+(-?\d+))?$""".r
  private val AlterDropIdRe =
    """(?is)^DROP\s+IDENTITY\s+COLUMN\s+([A-Za-z_][\w]*)$""".r
  private val AlterAddColumnRe = """(?is)^ADD\s+COLUMN\s+(.+)$""".r
  private val AlterColTypeRe =
    """(?is)^ALTER\s+COLUMN\s+([A-Za-z_][\w]*)\s+TYPE\s+(.+)$""".r
  private val ShowTablesRe =
    """(?is)^\s*SHOW\s+GRAFT\s+TABLES\s*;?\s*$""".r
  private val CloneRe =
    raw"""(?is)^\s*CLONE\s+GRAFT\s+TABLE\s+$Name\s+TO\s+'([^']+)'(?:\s+AS\s+$Name)?\s*;?\s*$$""".r
  private val UnregisterRe =
    raw"""(?is)^\s*UNREGISTER\s+GRAFT\s+TABLE\s+$Name\s*;?\s*$$""".r
  private val PartByRe = """(?is)PARTITIONED\s+BY\s*\(([^)]*)\)""".r
  private val StatsRe = """(?is)STATS\s*\(([^)]*)\)""".r
  private val BloomRe = """(?is)BLOOM\s*\(([^)]*)\)""".r
  private val DvRe = """(?is)WITH\s+DELETION\s+VECTORS""".r
  private val OwRe = """(?is)WITH\s+OPTIMIZED\s+WRITES""".r
  private val AcRe =
    """(?is)WITH\s+AUTO\s+COMPACT(?:\s*\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\))?""".r

  /** The one quote- and paren-aware scan of the hand grammar: `at(i,
    * depth)` sees every index of `s` outside a '…', "…" or `…` literal
    * (a backslash escapes the next character inside the first two, so
    * `\'` does not close a string) with the paren depth before it. The
    * first index where `at` holds is the result; -1 when none does. */
  private def scanTop(s: String)(at: (Int, Int) => Boolean): Int = {
    var depth = 0
    var quote: Char = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) {
        if (c == '\\' && quote != '`') i += 1
        else if (c == quote) quote = 0
      } else if (at(i, depth)) return i
      else c match {
        case '\'' | '"' | '`' => quote = c
        case '('              => depth += 1
        case ')'              => depth -= 1
        case _                => ()
      }
      i += 1
    }
    -1
  }

  /** Split `s` on commas at paren depth zero, outside literals:
    * `a, round(x, 2)` → `a`, `round(x, 2)`. */
  private def splitTop(s: String): Seq[String] = {
    var cuts = Vector(-1)
    scanTop(s) { (i, d) =>
      if (d == 0 && s.charAt(i) == ',') cuts :+= i
      false
    }
    (cuts :+ s.length).sliding(2).map(c => s.substring(c(0) + 1, c(1)).trim)
      .filter(_.nonEmpty).toSeq
  }

  /** A LEADING paren group: "(body) rest" → ("body", "rest"); the body
    * may nest parens and literals, which a regex group cannot express. */
  private def groupAt(s: String): (String, String) = {
    require(s.startsWith("("), s"expected a parenthesized group: $s")
    val close = scanTop(s)((i, d) => d == 1 && s.charAt(i) == ')')
    require(close > 0, s"unbalanced parentheses: $s")
    (s.substring(1, close), s.substring(close + 1))
  }

  /** The paren group right after top-level keyword `kw`:
    * `GENERATED (day AS to_date(ts))` → `day AS to_date(ts)`. */
  private def groupAfter(s: String, kw: String): Option[String] = {
    val i = indexOfTop(s, kw)
    val rest = if (i < 0) "" else s.substring(i + kw.length).trim
    if (rest.startsWith("(")) Some(groupAt(rest)._1) else None
  }

  /** Index of the first occurrence of keyword `kw` in `s`, at or after
    * `from`, at paren depth zero outside literals, as a WHOLE word
    * (case-insensitive); -1 when absent: `OPTIMIZE t WHERE d = 'x
    * ZORDER y' ZORDER BY (a)` locates the SECOND `ZORDER`. */
  private def indexOfTop(s: String, kw: String, from: Int = 0): Int = {
    def identAt(j: Int) = j >= 0 && j < s.length &&
      (s.charAt(j).isLetterOrDigit || s.charAt(j) == '_')
    scanTop(s)((i, d) => i >= from && d == 0 &&
      s.regionMatches(true, i, kw, 0, kw.length) &&
      !identAt(i - 1) && !identAt(i + kw.length))
  }

  /** `'yyyy-MM-dd[ HH:mm:ss]'` or ISO-instant timestamp literal →
    * Instant (session-independent: SQL timestamps here are wall-clock
    * UTC, matching the commit-publish mtimes the as-of fold reads). */
  private[graft] def parseTs(ts: String): java.time.Instant = {
    val t = ts.trim
    try java.time.Instant.parse(t)
    catch { case _: java.time.format.DateTimeParseException =>
      val norm = if (t.contains(" ") || t.contains("T")) t.replace(' ', 'T')
        else t + "T00:00:00"
      java.time.LocalDateTime.parse(norm)
        .toInstant(java.time.ZoneOffset.UTC)
    }
  }

  /** Build a MergeTable from the REGISTER/CREATE clause tail
    * (PARTITIONED BY / STATS / BLOOM / WITH DELETION VECTORS /
    * WITH OPTIMIZED WRITES / WITH AUTO COMPACT / GENERATED) and bind
    * it in the registry. `requireFresh` is CREATE's contract: the
    * location must hold no existing table history. */
  private def buildAndRegister(name: String, path: String, tail: String,
      s: SparkSession, verb: String = "REGISTER",
      requireFresh: Boolean = false): MergeTable = {
    def cols(m: Option[scala.util.matching.Regex.Match]): Seq[String] =
      m.map(_.group(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Nil)
    val t = MergeTable(s, java.nio.file.Paths.get(path),
      LogStore.forConf(s), TableLayout(
        partitionCols = cols(PartByRe.findFirstMatchIn(tail)),
        statsCols = cols(StatsRe.findFirstMatchIn(tail)),
        deletionVectors = DvRe.findFirstIn(tail).isDefined,
        bloomCols = cols(BloomRe.findFirstMatchIn(tail)),
        optimizeWrite = OwRe.findFirstIn(tail).isDefined,
        // WITH AUTO COMPACT [(targetBytes[, minFiles])] — defaults match
        // the Scala API's (32 MiB target, 4-file trigger)
        autoCompact = AcRe.findFirstMatchIn(tail).map(m => (
          Option(m.group(1)).map(_.toLong).getOrElse(32L << 20),
          Option(m.group(2)).map(_.toInt).getOrElse(4)))))
    if (requireFresh) require(t.latestVersion() == 0L,
      s"$verb GRAFT TABLE $name: '$path' already holds table history " +
        s"(version ${t.latestVersion()}) — use REGISTER to attach")
    register(name, t)
    // GENERATED (c AS expr[, ...]) — idempotent on re-register:
    // an existing identical rule is kept, a conflicting one fails
    groupAfter(tail, "GENERATED").toSeq
      .flatMap(g => splitTop(g)).foreach {
        case GenItemRe(c, g) => t.generatedColumns.get(c) match {
          case Some(existing) => require(existing == g,
            s"$verb GRAFT TABLE $name: generated column $c is " +
              s"already ($existing), not ($g) — drop the rule first")
          case None => t.addGeneratedColumn(c, g)
        }
        case item => throw new IllegalArgumentException(
          s"$verb GRAFT TABLE $name: GENERATED items are " +
            s"'<col> AS <expr>', got: $item")
      }
    t
  }

  /** A column-definition list (`a INT, b MAP<STRING, INT> DEFAULT
    * map(), ...`) read by Spark's own CREATE TABLE grammar: each
    * column's name, type and DEFAULT expression as written. */
  private def columnDefs(
      list: String): Seq[(String, DataType, Option[String])] =
    CatalystSqlParser.parsePlan(
        s"CREATE TABLE __graft ($list) USING parquet") match {
      case c: CreateTable => c.columns.map { d =>
        require(d.generationExpression.isEmpty && d.identityColumnSpec.isEmpty,
          s"column ${d.name}: declare generated and identity columns with " +
            "GENERATED (c AS expr) / ALTER TABLE ... ADD IDENTITY COLUMN")
        (d.name, d.dataType, d.defaultValue.map(_.originalSQL))
      }
      case _ => throw new IllegalArgumentException(
        s"malformed column list: $list")
    }

  /** Strip one trailing top-level `;`. A trailing semicolon of a valid
    * (quote-balanced) statement is top-level by construction; a
    * semicolon INSIDE a literal is followed by the closing quote, so
    * the regex can't touch it. */
  private def stripSemi(s: String): String =
    s.replaceAll("""(?s)\s*;\s*$""", "")

  /** The MERGE source: `(subquery)` → run it; bare identifier → the
    * session's resolved table/view. */
  private def sourceDf(spark: SparkSession, src: String): DataFrame = {
    val t = src.trim
    if (t.startsWith("(") && t.endsWith(")"))
      spark.sql(t.drop(1).dropRight(1))
    else spark.table(t)
  }

  /** Parse `sqlText` as a statement of the graft-only grammar. None =
    * not ours: Spark's parser takes it, and [[dml]] routes its UPDATE /
    * DELETE / INSERT INTO on a graft name. A statement whose table name
    * does not [[resolve]] to a registered graft table also delegates —
    * Spark's own MERGE, OPTIMIZE, ALTER … handle catalog tables. */
  private[sql] def parse(spark: SparkSession,
      sqlText: String): Option[LogicalPlan] = {
    def existing(name: String) = resolve(spark, name.split('.').toSeq)
    stripSemi(sqlText) match {
    case MergeHeadRe(name, rest) =>
      existing(name).flatMap(t => parseMerge(name, t, rest))
    // INSERT OVERWRITE <name> [WHERE <partition pred>] <query> —
    // without WHERE a full overwrite; with WHERE Delta's replaceWhere
    // (atomic partition-scoped replacement). The predicate ends where
    // the top-level SELECT/VALUES begins.
    case InsertOverwriteRe(name, rest0) =>
      existing(name).map { t0 =>
        val rest = stripSemi(rest0).trim
        val (pred, queryStr) =
          if (indexOfTop(rest, "WHERE") == 0) {
            val after = rest.substring(5).trim
            val qi = {
              val si = indexOfTop(after, "SELECT")
              val vi = indexOfTop(after, "VALUES")
              if (si < 0) vi else if (vi < 0) si else math.min(si, vi)
            }
            require(qi > 0,
              s"INSERT OVERWRITE $name: expected WHERE <pred> " +
                "SELECT|VALUES <query>")
            (Some(after.substring(0, qi).trim), after.substring(qi))
          } else (None, rest)
        GraftDmlCommand(s"INSERT OVERWRITE $name", s => {
          val t = t0.withSession(s)
          val df = s.sql(
            if (indexOfTop(queryStr, "VALUES") == 0)
              s"SELECT * FROM ($queryStr)"
            else queryStr)
          // an EMPTY table without a declared schema has nothing to
          // align onto — the first overwrite defines the schema
          val aligned = scala.util.Try(t.read().schema.fields.toSeq)
            .toOption.fold(df)(alignTo(s"INSERT OVERWRITE $name", df, _,
              t.identityColumns.keySet))
          pred match {
            case Some(px) => t.overwriteWhere(aligned, expr(px))
            case None     => t.overwrite(aligned)
          }
        })
      }
    // OPTIMIZE <name> [WHERE <partition pred>] [ZORDER BY (c[, ...])]
    // — the WHERE/ZORDER boundary found by the quote-aware scan (a
    // string literal inside the predicate may contain either keyword).
    case OptimizeRe(name, tail) =>
      existing(name).map { t0 =>
        val zIdx = indexOfTop(tail, "ZORDER")
        val (head, zPart) =
          if (zIdx >= 0) (tail.substring(0, zIdx).trim,
            tail.substring(zIdx).trim)
          else (tail.trim, "")
        val zCols: Seq[String] = zPart match {
          case ""                => Nil
          case ZorderTailRe(cs)  => splitTop(cs)
          case other => throw new IllegalArgumentException(
            s"OPTIMIZE $name: expected ZORDER BY (cols), got: $other")
        }
        val pred: Option[String] =
          if (head.isEmpty) None
          else if (indexOfTop(head, "WHERE") == 0)
            Some(head.substring(5).trim)
          else throw new IllegalArgumentException(
            s"OPTIMIZE $name: expected [WHERE <pred>] [ZORDER BY " +
              s"(cols)], got: $head")
        GraftDmlCommand(s"OPTIMIZE $name", s => (pred, zCols) match {
          case (None, Nil)    => t0.withSession(s).compact()
          case (None, cs)     => t0.withSession(s).zorder(cs)
          case (Some(p), cs)  =>
            t0.withSession(s).compactWhere(expr(p), zorderCols = cs)
        })
      }
    case RestoreRe(name, v) =>
      existing(name).map { t0 =>
        GraftDmlCommand(s"RESTORE $name", s =>
          t0.withSession(s).restore(v.toLong))
      }
    case RestoreTsRe(name, ts) =>
      existing(name).map { t0 =>
        GraftDmlCommand(s"RESTORE $name", s =>
          t0.withSession(s).restoreAsOf(parseTs(ts)))
      }
    case FsckRe(name, dryRun) =>
      // Delta's FSCK REPAIR TABLE: drop live entries whose backing
      // storage is gone (see MergeTable.fsck's availability-over-
      // completeness contract; DRY RUN lists what a repair would drop)
      existing(name).map { t0 =>
        if (dryRun != null)
          GraftPathListCommand(s"FSCK REPAIR TABLE $name DRY RUN",
            s => t0.withSession(s).fsckDryRun())
        else GraftDmlCommand(s"FSCK REPAIR TABLE $name",
          s => t0.withSession(s).fsck())
      }
    case VacuumRe(name, hours, dryRun) =>
      existing(name).map { t0 =>
        val retainMs = Option(hours).map(_.toLong * 3600000L)
          .getOrElse(MergeTable.DefaultVacuumRetainMs)
        if (dryRun != null)
          GraftPathListCommand(s"VACUUM $name DRY RUN",
            s => t0.withSession(s).vacuumDryRun(retainMs))
        else GraftDmlCommand(s"VACUUM $name", s => {
          val t = t0.withSession(s)
          t.vacuum(retainMs)
          t.latestVersion()
        })
      }
    case CopyIntoRe(name, src, fmt, pattern) =>
      existing(name).map { t0 =>
        GraftDmlCommand(s"COPY INTO $name", s =>
          t0.withSession(s).copyInto(src,
            Option(fmt).map(_.toLowerCase).getOrElse("parquet"),
            Option(pattern)))
      }
    case GenerateRe(name) =>
      existing(name).map { t0 =>
        GraftDmlCommand(s"GENERATE symlink_format_manifest FOR TABLE $name",
          s => {
            val t = t0.withSession(s)
            t.generateSymlinkManifest()
            t.latestVersion() // the version the manifest reflects
          })
      }
    case ReorgRe(name) =>
      existing(name).map { t0 =>
        GraftDmlCommand(s"REORG TABLE $name APPLY (PURGE)", s =>
          t0.withSession(s).purgeVectors())
      }
    case HistoryRe(name) =>
      existing(name).map(t => GraftHistoryCommand(name, t))
    case DetailRe(name) =>
      existing(name).map(t => GraftDetailCommand(name, t))
    // SHOW PARTITIONS over a registered graft name reads the MANIFEST
    // (one row per live partition tuple); unregistered names delegate
    // to Spark's own SHOW PARTITIONS
    case ShowPartsRe(name) =>
      existing(name).map(t => GraftPartitionsCommand(name, t))
    // SQL-only registration path, so a consumer needs zero Scala:
    //   REGISTER GRAFT TABLE t AT '/path' [PARTITIONED BY (c)]
    //     [STATS (c1, c2)] [BLOOM (c1)] [WITH DELETION VECTORS]
    //     [WITH OPTIMIZED WRITES] [WITH AUTO COMPACT [(bytes[, files])]]
    // The clauses ARE the handle's layout contract (partition column,
    // stats/bloom sidecars, deletion vectors) — the same reason DML
    // statements resolve registered handles instead of bare paths.
    case RegisterRe(name, path, tail) =>
      Some(GraftDmlCommand(s"REGISTER GRAFT TABLE $name", s => {
        val t = buildAndRegister(name, path, tail, s)
        t.latestVersion()
      }))
    // CREATE GRAFT TABLE <name> [(<col type, ...>)] AT '<path>'
    //   [<REGISTER clauses>] [AS <query>]
    // — the table-creation front door (Delta's CREATE TABLE /
    // CTAS): a column list declares the SCHEMA IN THE LOG (the M
    // action — the table is readable, typed, and append-checked
    // before any data lands); AS <query> seeds the first commit
    // (schema declared from the query when no list is given, so
    // every CTAS table is schema-enforced from birth). Requires a
    // FRESH location — attaching to existing history is REGISTER's
    // job.
    case CreateRe(name, rest0) =>
      val asIdx = indexOfTop(rest0, "AS")
      val (declPart, query) =
        if (asIdx >= 0) (rest0.substring(0, asIdx).trim,
          Some(rest0.substring(asIdx + 2).trim))
        else (rest0.trim, None)
      val (schemaDdl, afterSchema) =
        if (declPart.startsWith("(")) {
          val g = groupAt(declPart)
          (Some(g._1), g._2.trim)
        } else (None, declPart)
      afterSchema match {
        case CreateTailRe(path, tail) =>
          require(schemaDdl.isDefined || query.isDefined,
            s"CREATE GRAFT TABLE $name: give a column list, an AS " +
              "<query>, or both")
          Some(GraftDmlCommand(s"CREATE GRAFT TABLE $name", s => {
            val t = buildAndRegister(name, path, tail, s,
              verb = "CREATE", requireFresh = true)
            schemaDdl.foreach(ddl => t.declareSchema(StructType(
              columnDefs(ddl).map { case (c, tpe, d) =>
                t.defaultField(c, tpe, d) })))
            query.foreach { q =>
              val df = s.sql(q)
              t.overwrite(t.declaredSchema match {
                // declareSchema expanded the declared schema with
                // ENGINE-POPULATED columns (GENERATED rules, identity)
                // — the query may produce all of them, or just the
                // user columns (overwrite fills the rest)
                case Some(d) => alignTo(s"CREATE GRAFT TABLE $name", df,
                  d.fields.toSeq,
                  t.generatedColumns.keySet ++ t.identityColumns.keySet)
                case None =>
                  t.declareSchema(df.schema) // CTAS: schema from query
                  df
              })
            }
            t.latestVersion()
          }))
        case _ => throw new IllegalArgumentException(
          s"CREATE GRAFT TABLE $name: expected [(<col type, ...>)] " +
            s"AT '<path>' [clauses] [AS <query>], got: $afterSchema")
      }
    case DropTableRe(name) =>
      Some(GraftDmlCommand(s"DROP GRAFT TABLE $name", _ => {
        val had = table(name).isDefined
        unregister(name)
        if (had) 1L else 0L
      }))
    // CONVERT TO GRAFT TABLE <name> AT '<path>' [PARTITIONED BY (c)]
    //   [clauses] — adopt a plain parquet directory in place (Delta's
    // CONVERT TO DELTA): zero bytes moved, the first commit references
    // the files where they lie and declares the hive-inferred schema.
    case ConvertRe(name, path, tail) =>
      Some(GraftDmlCommand(s"CONVERT TO GRAFT TABLE $name", s => {
        val t = buildAndRegister(name, path, tail, s,
          verb = "CONVERT", requireFresh = true)
        t.convertInPlace()
      }))
    // ANALYZE TABLE <registered graft name> COMPUTE STATISTICS →
    // retrofit manifest file stats (collectStats); any other ANALYZE
    // (unregistered names, column variants) delegates to Spark's own.
    case AnalyzeRe(name) =>
      existing(name).map { t0 =>
        GraftDmlCommand(s"ANALYZE TABLE $name", s =>
          t0.withSession(s).collectStats())
      }
    // ALTER TABLE intercepts only REGISTERED graft names (the table
    // does not exist in Spark's catalog, so delegation could only
    // produce a misleading not-found error); an unsupported action on
    // a registered name fails loudly with OUR message.
    case AlterRe(name, action) => existing(name).map { t0 =>
      def cmd(label: String, body: MergeTable => Long) =
        GraftDmlCommand(s"ALTER TABLE $name $label",
          s => body(t0.withSession(s)))
      action match {
        case AlterAddConRe(cn) =>
          val pred = groupAfter(action, "CHECK").getOrElse(
            throw new IllegalArgumentException(
              s"ALTER TABLE $name: malformed CHECK (...) group"))
          cmd(s"ADD CONSTRAINT $cn", _.addConstraint(cn, pred))
        case AlterDropConRe(cn) => cmd(s"DROP CONSTRAINT $cn",
          _.dropConstraint(cn))
        case AlterRenameRe(a, b) => cmd(s"RENAME COLUMN $a TO $b",
          _.renameColumn(a, b))
        case AlterDropColRe(c) => cmd(s"DROP COLUMN $c", _.dropColumn(c))
        case AlterAddGenRe(c) =>
          val g = groupAfter(action, "AS").getOrElse(
            throw new IllegalArgumentException(
              s"ALTER TABLE $name: malformed AS (...) group"))
          cmd(s"ADD GENERATED COLUMN $c", _.addGeneratedColumn(c, g))
        case AlterDropGenRe(c) => cmd(s"DROP GENERATED COLUMN $c",
          _.dropGeneratedColumn(c))
        case AlterAddIdRe(c, start, step) =>
          cmd(s"ADD IDENTITY COLUMN $c", _.addIdentityColumn(c,
            Option(start).map(_.toLong).getOrElse(1L),
            Option(step).map(_.toLong).getOrElse(1L)))
        case AlterDropIdRe(c) => cmd(s"DROP IDENTITY COLUMN $c",
          _.dropIdentityColumn(c))
        case AlterColTypeRe(c, tpe) => cmd(s"ALTER COLUMN $c TYPE",
          _.alterColumnType(c, DataType.fromDDL(tpe.trim)))
        // ADD COLUMN c <type> [DEFAULT <expr>]: one column definition
        case AlterAddColumnRe(defn) => columnDefs(defn) match {
          case Seq((c, tpe, dflt)) =>
            cmd(s"ADD COLUMN $c", _.addColumn(c, tpe, dflt))
          case _ => throw new IllegalArgumentException(
            s"ALTER TABLE $name: ADD COLUMN takes one column, got: $defn")
        }
        case other => throw new IllegalArgumentException(
          s"ALTER TABLE $name (a registered graft table): unsupported " +
            s"action '$other' — supported: ADD/DROP CONSTRAINT, " +
            "ADD/RENAME/DROP COLUMN, ALTER COLUMN TYPE, " +
            "ADD/DROP GENERATED COLUMN, " +
            "ADD/DROP IDENTITY COLUMN")
      }
    }
    case ShowTablesRe() =>
      Some(GraftShowTablesCommand())
    case CloneRe(name, dest, asName) =>
      existing(name).map { t0 =>
        GraftDmlCommand(s"CLONE GRAFT TABLE $name", s => {
          val c = t0.withSession(s).cloneTo(dest)
          Option(asName).foreach(n => register(n, c))
          c.latestVersion()
        })
      }
    case UnregisterRe(name) =>
      Some(GraftDmlCommand(s"UNREGISTER GRAFT TABLE $name", _ => {
        val had = table(name).isDefined
        unregister(name)
        if (had) 1L else 0L
      }))
    case _ => None
    }
  }

  private val KeyListRe = """(?s)^\s*\(([^)]*)\)\s*(.*)$""".r
  private val AndCondRe = """(?is)^AND\s+(.+)$""".r
  private val NotMatchedBySourceRe =
    """(?is)^\s*NOT\s+MATCHED\s+BY\s+SOURCE\b(.*)$""".r
  private val NotMatchedRe = """(?is)^\s*NOT\s+MATCHED\b(.*)$""".r

  /** The MERGE tail after `MERGE INTO <name> USING `: locate the
    * top-level ON (a subquery source's own JOIN ... ON sits inside
    * parens; literals are quote-guarded), then parse
    *
    *   ON <pk> | ON (a, b[, ...])
    *   [WHEN MATCHED [AND <cond>] THEN UPDATE|DELETE]*
    *   [WHEN NOT MATCHED [AND <cond>] THEN INSERT]
    *   [WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN DELETE]
    *   [WITH SCHEMA EVOLUTION]
    *
    * No WHEN clause at all and a single key routes through the
    * ORIGINAL single-pk `merge` (the reference's degenerate
    * update-all/insert-all path stays bit-identical); anything else
    * takes the [[MatchClause]] API — and then Delta's insert rule
    * applies: unmatched source rows insert ONLY when a `WHEN NOT
    * MATCHED THEN INSERT` clause is present. Clause conditions
    * reference the two sides as `t` (target) and `s` (source). */
  private def parseMerge(name: String, t0: MergeTable,
      rest: String): Option[LogicalPlan] = {
    val onIdx = indexOfTop(rest, "ON")
    if (onIdx < 0) return None // not our shape — delegate untouched
    val src = rest.substring(0, onIdx).trim
    if (src.isEmpty) return None
    val tail = rest.substring(onIdx + 2)
    val (keys, afterKeys) = tail match {
      case KeyListRe(cols, after) =>
        (splitTop(cols).map(_.trim).filter(_.nonEmpty), after)
      case IdentRe(k, after) => (Seq(k), after)
      case _                 => return None
    }
    require(keys.nonEmpty, s"MERGE INTO $name: empty key list")
    // optional trailing WITH SCHEMA EVOLUTION
    val wIdx = indexOfTop(afterKeys, "WITH")
    val (clausePart, evolve) =
      if (wIdx < 0) (afterKeys, false)
      else {
        require(EvolveRe.matches(afterKeys.substring(wIdx)),
          s"MERGE INTO $name: expected WITH SCHEMA EVOLUTION at " +
            s"'${afterKeys.substring(wIdx).trim.take(40)}'")
        (afterKeys.substring(0, wIdx), true)
      }
    // WHEN clauses, in statement order (first-match-wins downstream)
    var whenIdxs = List.empty[Int]
    var i = indexOfTop(clausePart, "WHEN")
    while (i >= 0) {
      whenIdxs ::= i
      i = indexOfTop(clausePart, "WHEN", i + 4)
    }
    val ps = whenIdxs.reverse
    require(ps.headOption.forall(h => clausePart.substring(0, h).trim.isEmpty)
        && (ps.nonEmpty || clausePart.trim.isEmpty),
      s"MERGE INTO $name: unexpected text " +
        s"'${clausePart.trim.take(40)}' after the ON keys")
    var matched = Vector.empty[(Option[String], Boolean)]
    var insertClause: Option[Option[String]] = None
    var nmbsClause: Option[Option[String]] = None
    ps.zip(ps.drop(1) :+ clausePart.length).foreach { case (a, b) =>
      val seg = clausePart.substring(a + 4, b)
      // (kind, clause body after the head keyword[s])
      val (kind, body) = seg match {
        case NotMatchedBySourceRe(r) => ("nmbs", r)
        case NotMatchedRe(r)         => ("ins", r)
        case MatchedHeadRe(r)        => ("matched", r)
        case _ => throw new IllegalArgumentException(
          s"MERGE INTO $name: expected WHEN [NOT] MATCHED at " +
            s"'${seg.trim.take(40)}'")
      }
      val thenIdx = indexOfTop(body, "THEN")
      require(thenIdx >= 0, s"MERGE INTO $name: WHEN clause missing THEN")
      val condPart = body.substring(0, thenIdx).trim
      val cond = condPart match {
        case ""           => None
        case AndCondRe(c) => Some(c)
        case other => throw new IllegalArgumentException(
          s"MERGE INTO $name: expected AND <condition> before THEN, " +
            s"got '${other.take(40)}'")
      }
      val action = body.substring(thenIdx + 4).trim
      kind match {
        case "matched" =>
          require(action.equalsIgnoreCase("UPDATE") ||
              action.equalsIgnoreCase("DELETE"),
            s"MERGE INTO $name: WHEN MATCHED THEN must be UPDATE or " +
              s"DELETE, got '${action.take(40)}'")
          matched :+= ((cond, action.equalsIgnoreCase("UPDATE")))
        case "ins" =>
          require(action.equalsIgnoreCase("INSERT"),
            s"MERGE INTO $name: WHEN NOT MATCHED THEN must be INSERT, " +
              s"got '${action.take(40)}'")
          require(insertClause.isEmpty,
            s"MERGE INTO $name: duplicate WHEN NOT MATCHED clause")
          insertClause = Some(cond)
        case "nmbs" =>
          require(action.equalsIgnoreCase("DELETE"),
            s"MERGE INTO $name: WHEN NOT MATCHED BY SOURCE THEN must " +
              s"be DELETE, got '${action.take(40)}'")
          require(nmbsClause.isEmpty,
            s"MERGE INTO $name: duplicate WHEN NOT MATCHED BY SOURCE " +
              "clause")
          nmbsClause = Some(cond)
      }
    }
    val anyClause = ps.nonEmpty
    Some(GraftDmlCommand(s"MERGE INTO $name", s => {
      val t = t0.withSession(s)
      val srcDf = sourceDf(s, src)
      if (!anyClause)
        t.merge(srcDf, keys, Seq(MatchClause.update()),
          insertUnmatched = true, evolveSchema = evolve)
      else
        // Delta's rule: with explicit clauses, inserts happen only
        // under a WHEN NOT MATCHED THEN INSERT clause
        t.merge(srcDf, keys,
          matched.map { case (c, isUpd) =>
            MatchClause(c.map(expr), isUpdate = isUpd)
          },
          insertUnmatched = insertClause.isDefined,
          evolveSchema = evolve,
          insertCondition = insertClause.flatMap(_.map(expr)),
          notMatchedBySourceDelete = nmbsClause.map(
            _.map(expr).getOrElse(
              org.apache.spark.sql.functions.lit(true))))
    }))
  }

  /** The `graft_table(name[, version|timestamp])` table-valued
    * function's plan builder — SQL-side time travel:
    * `SELECT ... FROM graft_table('t')` reads the live snapshot,
    * `graft_table('t', 3)` reads version 3, and
    * `graft_table('t', TIMESTAMP '...')` (or an ISO-8601 string)
    * resolves Delta's `timestampAsOf`. Arguments must be literals —
    * the relation is resolved at analysis time, exactly like a view
    * expansion. The returned plan is the SAME logical plan the Scala
    * API builds, so predicate pushdown / partition pruning / the scan
    * planner all apply untouched. */
  def tableFunction(args: Seq[Expression]): LogicalPlan = {
    require(args.nonEmpty && args.size <= 2,
      "graft_table(name[, version|timestamp]) takes 1 or 2 arguments")
    def lit(e: Expression): Any = {
      require(e.foldable, s"graft_table arguments must be literals, got $e")
      e.eval()
    }
    val name = String.valueOf(lit(args.head))
    val t = table(name).getOrElse(throw new IllegalArgumentException(
      s"graft_table: no table registered as '$name' — call " +
        "GraftSql.register first"))
    val df = args.lift(1).map(a => (lit(a), a.dataType)) match {
      case None => t.read()
      case Some((v, org.apache.spark.sql.types.TimestampType)) =>
        // a timestamp literal evals to epoch MICROS
        t.readAsOf(java.time.Instant.EPOCH.plusNanos(
          v.asInstanceOf[Long] * 1000L))
      case Some((v, _: org.apache.spark.sql.types.StringType)) =>
        t.readAsOf(java.time.Instant.parse(String.valueOf(v)))
      case Some((v, _)) =>
        t.readVersion(v.asInstanceOf[Number].longValue())
    }
    df.queryExecution.logical
  }

  /** The `graft_changes(name, pk, fromVersion, toVersion)` table-valued
    * function — the change data feed as SQL (Databricks'
    * `table_changes` parity): every insert/update/delete between the
    * two versions, tagged `_change_type`, log-pruned to partitions
    * whose file sets differ. `pk` is the key column the feed diffs on
    * (a string literal), same contract as [[MergeTable.changes]]. */
  def changesFunction(args: Seq[Expression]): LogicalPlan = {
    require(args.size == 4,
      "graft_changes(name, pk, fromVersion, toVersion) takes 4 arguments")
    def lit(e: Expression): Any = {
      require(e.foldable, s"graft_changes arguments must be literals, got $e")
      e.eval()
    }
    val name = String.valueOf(lit(args(0)))
    val t = table(name).getOrElse(throw new IllegalArgumentException(
      s"graft_changes: no table registered as '$name' — call " +
        "GraftSql.register first"))
    val pk = String.valueOf(lit(args(1)))
    val fromV = lit(args(2)).asInstanceOf[Number].longValue()
    val toV = lit(args(3)).asInstanceOf[Number].longValue()
    t.changes(fromV, toV, pk).queryExecution.logical
  }

  /** The `graft_rows(name)` table-valued function — the ROW-TRACKING
    * read surface as SQL ([[MergeTable.readWithRowIds]]): the table's
    * columns plus `row_id` (the stable, never-reused 64-bit row
    * identity) and `row_commit` (the version that last wrote the row's
    * bytes). Requires a row-tracked table (enabled at birth via
    * `withRowTracking`); same literal-argument / analysis-time
    * resolution contract as `graft_table`. */
  def rowsFunction(args: Seq[Expression]): LogicalPlan = {
    require(args.size == 1, "graft_rows(name) takes 1 argument")
    require(args.head.foldable,
      s"graft_rows arguments must be literals, got ${args.head}")
    val name = String.valueOf(args.head.eval())
    val t = table(name).getOrElse(throw new IllegalArgumentException(
      s"graft_rows: no table registered as '$name' — call " +
        "GraftSql.register first"))
    t.readWithRowIds().queryExecution.logical
  }
}

/** `DESCRIBE HISTORY <name>` — the commit log as a result set
  * (version, committed_at, operation and parameters, files
  * added/removed, checkpoint marker, operation metrics).
  * Metadata-scale by construction: [[MergeTable.history]] reads only
  * the log directory, never data files, so collecting it to the
  * driver is a few rows per commit. */
case class GraftHistoryCommand(name: String, t: MergeTable)
    extends LeafRunnableCommand {
  // the history schema is FIXED — deriving it from t.history() made
  // merely parsing (or EXPLAINing) the statement read the whole log on
  // the driver, twice per execution (r10 ADVICE finding)
  override val output: Seq[Attribute] =
    org.apache.spark.sql.catalyst.types.DataTypeUtils
      .toAttributes(GraftHistoryCommand.Schema)
  override def run(sparkSession: SparkSession): Seq[Row] =
    t.withSession(sparkSession).history().collect().toSeq
  override def simpleString(maxFields: Int): String =
    s"GraftDml(DESCRIBE HISTORY $name)"
}

object GraftHistoryCommand {
  import org.apache.spark.sql.types.{BooleanType, StructField, TimestampType}
  /** Must stay in sync with [[MergeTable.history]]'s `toDF` columns. */
  private[sql] val Schema: StructType = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("committed_at", TimestampType, nullable = true),
    StructField("operation", org.apache.spark.sql.types.StringType,
      nullable = true),
    StructField("operation_parameters",
      org.apache.spark.sql.types.StringType, nullable = true),
    StructField("n_added", LongType, nullable = false),
    StructField("n_removed", LongType, nullable = false),
    StructField("has_checkpoint", BooleanType, nullable = false),
    StructField("operation_metrics",
      org.apache.spark.sql.types.StringType, nullable = true)))
}

/** `SHOW PARTITIONS` over the manifest — output columns depend on
  * the table's partition columns, which the REGISTERED handle knows
  * at parse time (no log read at parse; the run() call reads it). */
case class GraftPartitionsCommand(name: String, t: MergeTable)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(
      StructType(t.partitionCols.map(c =>
        org.apache.spark.sql.types.StructField(c,
          org.apache.spark.sql.types.StringType)) :+
        org.apache.spark.sql.types.StructField("num_files", LongType,
          nullable = false)))
  override def run(sparkSession: SparkSession): Seq[Row] =
    t.withSession(sparkSession).partitions().collect().toSeq
  override def simpleString(maxFields: Int): String =
    s"GraftDml(SHOW PARTITIONS $name)"
}

/** Delta's `DESCRIBE DETAIL` — one metadata row; schema fixed
  * statically so parsing/EXPLAIN reads no log (same discipline as
  * [[GraftHistoryCommand]]). */
case class GraftDetailCommand(name: String, t: MergeTable)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    org.apache.spark.sql.catalyst.types.DataTypeUtils
      .toAttributes(GraftDetailCommand.Schema)
  override def run(sparkSession: SparkSession): Seq[Row] =
    t.withSession(sparkSession).detail().collect().toSeq
  override def simpleString(maxFields: Int): String =
    s"GraftDml(DESCRIBE DETAIL $name)"
}

object GraftDetailCommand {
  import org.apache.spark.sql.types.{StringType, StructField}
  /** Must stay in sync with [[MergeTable.detail]]'s `toDF` columns. */
  private[sql] val Schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("location", StringType, nullable = false),
    StructField("partition_column", StringType, nullable = true),
    StructField("version", LongType, nullable = false),
    StructField("num_files", LongType, nullable = false),
    StructField("size_bytes", LongType, nullable = false),
    StructField("num_files_with_deletion_vectors", LongType, nullable = false),
    StructField("num_check_constraints", LongType, nullable = false),
    StructField("num_generated_columns", LongType, nullable = false)))
}

/** `SHOW GRAFT TABLES`: the registry as rows — name, location, and
  * the layout contract a consumer needs to know what DML will do. */
case class GraftShowTablesCommand() extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    org.apache.spark.sql.catalyst.types.DataTypeUtils
      .toAttributes(GraftShowTablesCommand.Schema)
  override def run(sparkSession: SparkSession): Seq[Row] = {
    def row(name: String, path: String, l: TableLayout) = Row(name, path,
      if (l.partitionCols.isEmpty) null else l.partitionCols.mkString(","),
      l.deletionVectors, l.optimizeWrite)
    val inMem = GraftSql.registered.toMap
    // persisted-but-unloaded names (a restarted JVM before any lookup)
    // surface from their catalog contracts without building handles
    val persistedOnly = GraftSql.persistedEntries(sparkSession)
      .collect { case (n, path, l) if !inMem.contains(n) =>
        n -> row(n, path, l) }
    (inMem.toSeq.map { case (n, t) =>
      n -> row(n, t.root.toAbsolutePath.normalize.toString, t.layout)
    } ++ persistedOnly).sortBy(_._1).map(_._2)
  }
  override def simpleString(maxFields: Int): String =
    "GraftDml(SHOW GRAFT TABLES)"
}

object GraftShowTablesCommand {
  import org.apache.spark.sql.types.{BooleanType, StringType, StructField}
  private[sql] val Schema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("location", StringType, nullable = false),
    StructField("partition_column", StringType, nullable = true),
    StructField("deletion_vectors", BooleanType, nullable = false),
    StructField("optimized_writes", BooleanType, nullable = false)))
}

/** A statement returning a PATH LIST (VACUUM DRY RUN): one
  * root-relative path per row, nothing mutated. */
case class GraftPathListCommand(label: String,
    body: SparkSession => Seq[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("path",
      org.apache.spark.sql.types.StringType, nullable = false)())
  override def run(sparkSession: SparkSession): Seq[Row] =
    body(sparkSession).map(Row(_))
  override def simpleString(maxFields: Int): String = s"GraftDml($label)"
}

/** An eagerly-executed lake DML statement: `spark.sql(...)` runs
  * commands at call time, so the MergeTable call commits before
  * `sql()` returns — DML semantics, not lazy-frame semantics. Returns
  * the committed (or latest, for VACUUM) version as one row. */
case class GraftDmlCommand(label: String, body: SparkSession => Long)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(sparkSession: SparkSession): Seq[Row] =
    Seq(Row(body(sparkSession)))
  override def simpleString(maxFields: Int): String = s"GraftDml($label)"
}

/** The injected parser: the graft grammar on registered tables is
  * ours; everything else goes to the delegate, and Spark's UPDATE /
  * DELETE / INSERT INTO plans whose target is a registered table become
  * graft commands ([[GraftSql.dml]]). Injected by
  * [[graft.functions.GraftExtensions]]
  * (`spark.sql.extensions=graft.functions.GraftExtensions`). */
class GraftSqlParser(spark: SparkSession, delegate: ParserInterface)
    extends ParserInterface {
  @throws[ParseException]
  override def parsePlan(sqlText: String): LogicalPlan =
    GraftSql.parse(spark, sqlText)
      .getOrElse(GraftSql.dml(spark, delegate.parsePlan(sqlText)))
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}
