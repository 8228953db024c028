package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Distributed source readers replacing the reference's driver-local ingest.
  *
  * The reference fetches bytes with boto3 and parses Excel in pandas on the
  * driver (`orders_etl.py:41-64` — its single-node bottleneck, SURVEY §3.1
  * step 5). Here every read is a distributed Spark scan from the first byte:
  * at 100 TB the driver never sees row data.
  */
object Sources {

  /** S1 — CSV scan with explicit schema + header
    * (ref: product_etl.py:49-52). */
  def csv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .format("csv")
      .option("header", "true")
      .schema(schema)
      .load(path)

  /** S2 — multi-file union scan with per-record corruption tolerance.
    *
    * The reference iterates Excel sheets and `try/except`-skips ones that
    * fail to parse (`orders_etl.py:57-64`). Modeled as a directory scan in
    * PERMISSIVE mode: malformed rows land in `_corrupt_record` instead of
    * killing the job, and the caller splits them off. One file ≙ one sheet;
    * a whole-directory scan parallelizes across executors.
    */
  /** Both branches of a permissive scan share one cached read; callers MUST
    * [[PermissiveScan.unpersist]] after consuming them (a leaked cache of
    * `read(dir)` serves stale data to later identical reads of the dir). */
  final case class PermissiveScan(good: DataFrame, corrupt: DataFrame,
      private val cached: DataFrame) {
    def unpersist(): Unit = { cached.unpersist(); () }
  }

  def csvPermissive(spark: SparkSession, dir: String,
      schema: StructType): PermissiveScan = {
    // one scan serves both branches (ref re-scans; SURVEY §3.2)
    val raw = csvWithCorrupt(spark, dir, schema).cache()
    val good = raw.filter(raw(CorruptCol).isNull).drop(CorruptCol)
    val bad = raw.filter(raw(CorruptCol).isNotNull).select(CorruptCol)
    PermissiveScan(good, bad, raw)
  }

  /** The uncached PERMISSIVE scan behind [[csvPermissive]]: `schema`
    * plus [[CorruptCol]], which holds the raw line of a malformed row
    * (its typed fields read NULL) and is NULL otherwise. Spark refuses
    * a query that reads ONLY the corrupt column straight from the
    * file, so consume it through a cache that also reads the others
    * (as [[graft.ingest.Validation.withRules]] does). */
  def csvWithCorrupt(spark: SparkSession, dir: String,
      schema: StructType): DataFrame =
    spark.read
      .format("csv")
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .schema(schema.add(CorruptCol, "string"))
      .load(dir)

  /** The column a permissive scan puts a malformed row's raw line in. */
  val CorruptCol = "_corrupt_record"

  /** S4 — parquet table scan (replaces Delta scan,
    * ref: order_items_etl.py:45,53-55). */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** JSON-lines scan with explicit schema + PERMISSIVE corruption
    * tolerance (same contract as [[csvPermissive]]: malformed lines land
    * in `_corrupt_record`). Explicit schema keeps the read single-pass —
    * schema inference would scan the data twice, a non-starter at
    * 100 TB. */
  def jsonLines(spark: SparkSession, dir: String,
      schema: StructType): PermissiveScan = {
    val withCorrupt = schema.add("_corrupt_record", "string")
    val raw = spark.read
      .format("json")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(withCorrupt)
      .load(dir)
      .cache()
    val good = raw.filter(raw("_corrupt_record").isNull)
      .drop("_corrupt_record")
    val bad = raw.filter(raw("_corrupt_record").isNotNull)
      .select("_corrupt_record")
    PermissiveScan(good, bad, raw)
  }

  /** ORC table scan — same columnar contract as parquet (predicate
    * pushdown + column pruning reach the stripe reader). */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** S10 — raw-zone file detection: prefix/suffix filter + dataset from the
    * 2nd path segment (ref:
    * lambda/trigger_lakehouse_stepfn_on_upload/lambda_function.py:12-31).
    * Returns (datasetName, path) pairs for files that qualify.
    */
  def detectRawFiles(root: java.nio.file.Path,
      suffixes: Seq[String] = Seq(".csv", ".xlsx")): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    val rawDir = root.resolve("raw")
    if (!java.nio.file.Files.isDirectory(rawDir)) return Seq.empty
    scala.util.Using.resource(java.nio.file.Files.walk(rawDir)) { stream =>
      stream.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .filter(p => suffixes.exists(p.getFileName.toString.endsWith))
        .flatMap { p =>
          val rel = rawDir.relativize(p)
          // raw/<dataset>/<file> — dataset is the first segment under raw/
          if (rel.getNameCount >= 2) Some(rel.getName(0).toString -> p.toString)
          else None
        }
        .toSeq.sortBy(_._2)
    }
  }
}
