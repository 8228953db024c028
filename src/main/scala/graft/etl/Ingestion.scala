package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.{Sources, Validation}
import graft.lake.MergeTable
import graft.model.Schemas

/** The reference's three Glue jobs re-expressed as one distributed library.
  *
  * Each job is: scan → validate (quarantine complement) → dedup (PK) →
  * conform (casts + derived partition date + audit timestamp) →
  * [FK semi-joins for order_items] → MERGE upsert into the lake table
  * (refs: product_etl.py, orders_etl.py, order_items_etl.py end-to-end).
  *
  * Unlike the reference, validation/quarantine is written for ALL three
  * datasets (the reference silently discards invalid orders/order_items
  * rows — orders_etl.py:60-62; README.md:108 claims otherwise; SURVEY §1.1),
  * malformed CSV lines included (rejected as "Malformed record" with the
  * raw line).
  *
  * A job's counts cost no Spark job of their own: `validRows` is the
  * `numSourceRows` its MERGE recorded in the commit it just made
  * (counted inside the MERGE's own actions), and `rejectedRows` is
  * counted as the quarantine write consumes the rejects
  * ([[graft.ingest.Validation.writeQuarantine]]). Nothing runs between
  * the MERGE commit and the [[JobResult]].
  */
object Ingestion {

  final case class JobResult(tableVersion: Long, validRows: Long,
      rejectedRows: Long)

  /** MERGE `deduped` into `table` on `pk`: the result with the source-row
    * count the commit recorded. */
  private def mergeInto(table: MergeTable, deduped: DataFrame, pk: String,
      rejected: Long): JobResult = {
    val v = table.merge(deduped, pk)
    JobResult(v, table.operationMetrics(v)("numSourceRows"), rejected)
  }

  /** Write `rejected` to the quarantine at `path` under the
    * `graft:quarantine:<table>` job label; how many rows it wrote. */
  private def quarantine(spark: SparkSession, rejected: DataFrame,
      path: String, tableRoot: String): Long = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(
      s"graft:quarantine:${java.nio.file.Paths.get(tableRoot).getFileName}")
    try Validation.writeQuarantine(rejected, path)
    finally sc.setJobDescription(prev)
  }

  /** The layout of every ingestion target, decided here once: one
    * partition column and optimized writes (one file per touched
    * partition per commit). */
  private def target(spark: SparkSession, root: String,
      partition: String): MergeTable =
    MergeTable(spark, root, Some(partition)).withOptimizeWrite

  /** products: CSV → validate all-4-required → quarantine → dedup →
    * audit column → MERGE on product_id, partitioned by department
    * (ref: product_etl.py:42-93). */
  def productsJob(spark: SparkSession, rawPath: String, tableRoot: String,
      quarantinePath: String): JobResult = {
    val raw = Sources.csv(spark, rawPath, Schemas.productsRaw)
    val split = Validation.requireNotNull(raw, Schemas.productsRequired)
    try {
      val rejected = quarantine(spark, split.rejected, quarantinePath,
        tableRoot)
      val conformed = split.valid
        .withColumn("department_id", col("department_id").cast("int"))
        .withColumn("ingestion_timestamp", current_timestamp())
      val deduped = Validation.dedupByKey(conformed, Schemas.productsPk,
        Seq(col("department_id"), col("product_name")))
      mergeInto(target(spark, tableRoot, Schemas.productsPartition),
        deduped, Schemas.productsPk, rejected)
    } finally split.unpersist()
  }

  /** orders: multi-file permissive CSV (≙ the reference's Excel sheets) →
    * well-formed + required-field + value rules → conform/derive date →
    * dedup → MERGE on order_id, partitioned by date (ref:
    * orders_etl.py:41-103). Includes the DOC-ONLY `total_amount > 0` and
    * timestamp-range rules for real
    * (docs/full_implementation_guide.md:142-143). */
  def ordersJob(spark: SparkSession, rawDir: String, tableRoot: String,
      quarantinePath: String): JobResult =
    runOrders(spark, Sources.csvWithCorrupt(spark, rawDir, Schemas.ordersRaw),
      tableRoot, quarantinePath)

  /** orders from a REAL `.xlsx` workbook — the reference's actual input
    * format (`orders_etl.py:41-64`): [[graft.ingest.Excel.readXlsx]]
    * unions header-matched sheets (skipping bad ones, like the per-sheet
    * try/except), the string cells conform to the typed raw schema, and
    * the SAME validate → dedup → MERGE chain as the CSV path runs. */
  def ordersJobXlsx(spark: SparkSession, xlsxPath: String, tableRoot: String,
      quarantinePath: String): JobResult = {
    val sheets = graft.ingest.Excel.readXlsx(spark, xlsxPath)
    // A skipped sheet is silently-dropped data unless surfaced: warn with
    // names (the reference prints its per-sheet failures the same way).
    if (sheets.skippedSheets.nonEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"ordersJobXlsx($xlsxPath): skipped header-mismatched sheets " +
          sheets.skippedSheets.mkString("[", ", ", "]") +
          " — their rows are in neither the table nor the quarantine")
    val raw = sheets.df.select(Schemas.ordersRaw.fields.toSeq
      .map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
    runOrders(spark, raw, tableRoot, quarantinePath)
  }

  /** Shared orders chain: conform → rules/quarantine → dedup → MERGE
    * (ref: orders_etl.py:57-96; `total_amount > 0` and timestamp-range
    * rules are the DOC-ONLY claims of
    * docs/full_implementation_guide.md:142-143, implemented for real).
    * A `raw` from a permissive scan carries [[Sources.CorruptCol]]; its
    * malformed rows are rejected first. */
  private def runOrders(spark: SparkSession, raw: DataFrame,
      tableRoot: String, quarantinePath: String): JobResult = {
    val conformed = raw
      .withColumn("order_timestamp", col("order_timestamp").cast("timestamp"))
      .withColumn("date", to_date(col("order_timestamp")))
      .withColumn("ingestion_timestamp", current_timestamp())
    val split = Validation.withRules(conformed, wellFormed(raw) ++ Seq(
      Schemas.ordersRequired.map(col(_).isNotNull).reduce(_ && _) ->
        "Missing required fields",
      (col("order_timestamp") >= lit("1990-01-01").cast("timestamp") &&
        col("order_timestamp") < lit("2100-01-01").cast("timestamp")) ->
        "order_timestamp out of range",
      (col("total_amount").isNull || col("total_amount") > 0) ->
        "total_amount must be positive",
    ))
    try {
      val rejected = quarantine(spark, split.rejected, quarantinePath,
        tableRoot)
      val deduped = Validation.dedupByKey(
        split.valid.drop(Sources.CorruptCol), Schemas.ordersPk,
        Seq(col("order_timestamp")))
      mergeInto(target(spark, tableRoot, Schemas.ordersPartition), deduped,
        Schemas.ordersPk, rejected)
    } finally split.unpersist()
  }

  /** The malformed-record rule when `raw` comes from a permissive scan. */
  private def wellFormed(raw: DataFrame): Seq[(Column, String)] =
    if (raw.columns.contains(Sources.CorruptCol)) Seq(Validation.wellFormed)
    else Nil

  /** order_items: permissive CSV scan → well-formed + required fields →
    * conform → FK-integrity left-semi joins against orders + products →
    * dedup → MERGE on id, partitioned by date (ref:
    * order_items_etl.py:44-130). */
  def orderItemsJob(spark: SparkSession, rawDir: String,
      ordersTableRoot: String, productsTableRoot: String, tableRoot: String,
      quarantinePath: String): JobResult = {
    val raw = Sources.csvWithCorrupt(spark, rawDir, Schemas.orderItemsRaw)
    val conformed = raw
      .withColumn("order_timestamp", col("order_timestamp").cast("timestamp"))
      .withColumn("date", to_date(col("order_timestamp")))
      .withColumn("ingestion_timestamp", current_timestamp())
    val split = Validation.withRules(conformed, Seq(Validation.wellFormed,
      Schemas.orderItemsRequired.map(col(_).isNotNull).reduce(_ && _) ->
        "Missing required fields"))
    try {
      val rejected = quarantine(spark, split.rejected, quarantinePath,
        tableRoot)

      // FK key sets — column-pruned before the join; broadcast-size dimension
      // key sets never shuffle the fact side (ref: order_items_etl.py:45-56).
      val orderKeys = MergeTable(spark, ordersTableRoot,
        Some(Schemas.ordersPartition)).read()
        .select(col(Schemas.ordersPk).as("order_id")).distinct()
      val productKeys = MergeTable(spark, productsTableRoot,
        Some(Schemas.productsPartition)).read()
        .select(col(Schemas.productsPk).as("product_id")).distinct()

      val withFk = split.valid.drop(Sources.CorruptCol)
        .join(orderKeys, Seq("order_id"), "left_semi")
        .join(broadcast(productKeys), Seq("product_id"), "left_semi")
      val deduped = Validation.dedupByKey(withFk, Schemas.orderItemsPk,
        Seq(col("order_timestamp")))
      mergeInto(target(spark, tableRoot, Schemas.orderItemsPartition),
        deduped, Schemas.orderItemsPk, rejected)
    } finally split.unpersist()
  }

  /** S8 — catalog registration, the reference's `CREATE TABLE ... USING
    * DELTA LOCATION` (product_etl.py:88-93): a zero-copy binding of
    * `database.name` to the table's manifest through
    * [[graft.sql.GraftSql.register]] — no write, no DDL. `FROM
    * database.name` in any session of the JVM reads the live snapshot,
    * and SQL `UPDATE` / `DELETE` / `INSERT INTO` / `MERGE INTO` on the
    * name write it; a session-catalog table of that name still wins.
    * The binding carries the jobs' layout — optimized writes on, so
    * SQL DML writes one file per touched partition, as the jobs do,
    * whatever handle the caller passes. With
    * `spark.graft.catalog.dir` set, the persisted-catalog contract guard
    * applies: re-binding the name to a different layout is refused.
    * No metastore table is created, so `database.name` is visible only
    * to sessions that load [[graft.functions.GraftExtensions]], in a JVM
    * that registered the name or that sets `spark.graft.catalog.dir`;
    * plain Spark sessions, other engines sharing the metastore and
    * `SHOW TABLES IN database` do not see it. Such log-blind readers
    * read the table through
    * [[graft.lake.MergeTable.generateSymlinkManifest]] instead. A
    * Hive-catalog session (`spark.sql.catalogImplementation=hive`, the
    * spark-shell default) drops the injected name-read rule: there
    * `FROM database.name` fails while the DML statements still run, so
    * read through `graft_table('database.name')`. */
  def register(spark: SparkSession, table: MergeTable, name: String,
      database: String = "graft"): Unit =
    graft.sql.GraftSql.register(s"$database.$name",
      table.withOptimizeWrite.withSession(spark))
}
