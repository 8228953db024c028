package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Row-validation + dedup, one pass, fully distributed.
  *
  * The reference computes the valid set then re-derives the rejects with
  * `DataFrame.subtract` — a second scan plus an EXCEPT-DISTINCT shuffle
  * (ref: product_etl.py:54-58). Here a single predicate splits the cached
  * scan into complements, and the reject branch carries its reason column
  * (ref: product_etl.py:65-67).
  */
object Validation {

  /** Validation outcome: `valid` and `rejected` are complements of `input`
    * (rejected carries `rejection_reason`). The split shares one cached scan;
    * callers MUST [[Split.unpersist]] once both branches are consumed —
    * Spark's cache manager matches by logical plan, so a leaked cache of
    * `read(dir)` silently serves STALE data to a later identical read of the
    * same dir (re-ingestion would see the previous batch). */
  final case class Split(valid: DataFrame, rejected: DataFrame,
      private val cached: DataFrame) {
    def unpersist(): Unit = { cached.unpersist(); () }
  }

  /** P2/P3/P7 — NOT-NULL validation on a required-column subset
    * (ref: product_etl.py:54-57, orders_etl.py:57-59). */
  def requireNotNull(df: DataFrame, required: Seq[String]): Split = {
    val pred = required.map(col(_).isNotNull).reduce(_ && _)
    split(df, pred, "Missing required fields")
  }

  /** General rule-based split; rules are (predicate, reasonIfViolated).
    * Rows violating several rules report the first reason (stable order).
    * Includes the DOC-ONLY rules implemented for real: value ranges
    * (docs/full_implementation_guide.md:142-143). */
  def withRules(df: DataFrame, rules: Seq[(Column, String)]): Split = {
    val reason = rules.foldRight(lit(null: String)) {
      case ((pred, why), acc) => when(!coalesce(pred, lit(false)), why)
        .otherwise(acc)
    }
    val tagged = df.withColumn("rejection_reason", reason).cache()
    Split(
      valid = tagged.filter(col("rejection_reason").isNull)
        .drop("rejection_reason"),
      rejected = tagged.filter(col("rejection_reason").isNotNull),
      cached = tagged)
  }

  private def split(df: DataFrame, pred: Column, why: String): Split =
    withRules(df, Seq(pred -> why))

  /** A1 — deterministic key-dedup. `dropDuplicates(pk)` keeps an arbitrary
    * row per key (partition-order dependent — breaks idempotent re-runs and
    * hash-compared oracles); rank by an explicit tiebreak instead.
    * `tiebreak` columns order ascending; first row per key wins.
    */
  def dedupByKey(df: DataFrame, pk: String, tiebreak: Seq[Column]): DataFrame = {
    val order = if (tiebreak.nonEmpty) tiebreak else Seq(lit(1))
    val w = Window.partitionBy(col(pk)).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** DLT-style expectations report: evaluate every named rule in ONE
    * pass over the data — each rule becomes a conditional-sum aggregate
    * (map-side combinable, no per-rule scan, no shuffle beyond the
    * single 1-row agg) — and return one row per rule with the total,
    * failure count and failure fraction. Null rule results count as
    * failures (SQL three-valued logic would otherwise let an
    * unvalidatable row pass silently). The per-rule relation is
    * rules-sized; `explode` of the packed struct array keeps it one
    * job. Complements [[withRules]], which materializes the
    * passing/failing ROWS — this is the monitoring half (the numbers a
    * DLT pipeline graphs per batch). */
  def expectationsOf(df: DataFrame,
      rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "expectations need at least one rule")
    val aggs = rules.zipWithIndex.map { case ((_, rule), i) =>
      sum(when(coalesce(rule, lit(false)), 0L).otherwise(1L)).as(s"__f$i")
    }
    val one = df.agg(count(lit(1)).as("__n"), aggs: _*)
    one.select(explode(array(rules.zipWithIndex.map { case ((nm, _), i) =>
        struct(lit(nm).as("rule"), col("__n").as("n_rows"),
          col(s"__f$i").as("n_fail"))
      }: _*)).as("e"))
      .select(col("e.rule").as("rule"), col("e.n_rows").as("n_rows"),
        col("e.n_fail").as("n_fail"),
        round(col("e.n_fail") /
          when(col("e.n_rows") === 0L, lit(1L))
            .otherwise(col("e.n_rows")).cast("double"), 6).as("fail_frac"))
  }

  /** The quarantine column holding a malformed row's raw line. */
  val RawRecordCol = "raw_record"

  /** The first rule of a split over a permissive scan
    * ([[Sources.csvWithCorrupt]]): a malformed row is rejected with its
    * raw line, which the quarantine keeps as [[RawRecordCol]]. */
  val wellFormed: (Column, String) =
    col(Sources.CorruptCol).isNull -> "Malformed record"

  /** S7 — quarantine sink for rejected rows (ref: product_etl.py:64-70 —
    * CSV, header, overwrite); returns how many it wrote. The rows are
    * counted as the write consumes them
    * ([[graft.lake.MergeTable.countedRows]]), so the count runs no job;
    * with no rejected row (the `isEmpty` probe) nothing is written and
    * the count is 0. A malformed row's raw line is written as
    * [[RawRecordCol]]: a CSV reader takes a `_corrupt_record` header
    * column for its own corrupt-record slot and misaligns the rest. */
  def writeQuarantine(rejected: DataFrame, path: String): Long =
    if (rejected.isEmpty) 0L
    else {
      val (counted, rows) = graft.lake.MergeTable.countedRows(
        rejected.withColumnRenamed(Sources.CorruptCol, RawRecordCol))
      counted.write.mode("overwrite").option("header", "true").csv(path)
      rows()
    }
}
