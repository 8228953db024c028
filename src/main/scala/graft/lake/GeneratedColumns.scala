package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions.{Cast, Divide, Expression, IntegralDivide, Literal}
import org.apache.spark.sql.types.{ByteType, DateType, IntegerType, LongType, ShortType, StringType}

/** GENERATED ALWAYS AS columns (Delta's generated columns), stored and
  * enforced through the CHECK-constraint channel: the rule for
  * `c GENERATED ALWAYS AS (g)` is the constraint `` `c` <=> (g) `` under
  * a reserved name prefix — one mechanism buys three behaviors:
  *
  *  - METADATA: the rule rides the same atomic log commits, checkpoint
  *    folds, and clone/restore/time-travel semantics constraints
  *    already have (no new log action type, no format change);
  *  - ENFORCEMENT: a write that CARRIES the column must carry exactly
  *    the generated values — the null-safe equality IS the check, run
  *    by the existing per-write constraint pass (Delta enforces
  *    generated columns as invariants the same way);
  *  - POPULATION: a write MISSING the column gets it computed
  *    ([[MergeTable.withGenerated]]), which then satisfies the check
  *    trivially.
  *
  * The optimizer payoff is [[MergeTable]]'s derived partition pruning
  * (Delta's "partition pruning from generation expressions",
  * `delta.generatedColumn` docs): when the PARTITION column is
  * generated from a source column by a [[formOf recognized]] shape, a
  * predicate on the SOURCE column is rewritten into a predicate on the
  * partition column (the shape of Delta's `OptimizeGeneratedColumn`) —
  * `ts >= T` becomes `date >= to_date(T)` for `date = to_date(ts)` —
  * which the file-skipping compiler evaluates on each file's typed
  * partition row like any other partition predicate. So the natural
  * query (filter on the event time) gets partition-level file skipping
  * without ever mentioning the partition column. Reference anchor: the
  * derived partition date the reference computes on ingest (SURVEY P4)
  * is exactly this shape, done by hand.
  *
  * Rewrite soundness tiers (`G(v)` is computed on the driver and cast to
  * the partition column's type from its partition-string rendering,
  * exactly as the partition rows are):
  *  - EQUALITY (`src = v`, `src IN (...)`) becomes `pc = G(v)` /
  *    `pc IN (G(v)...)` for every recognized shape — recognition implies
  *    determinism, and `src = v ⟹ G(src) = G(v)`;
  *  - RANGES transfer only for shapes marked MONOTONIC (non-decreasing:
  *    `x ≤ y ⟹ G(x) ≤ G(y)`), by `src ≥ L ⟹ G(src) ≥ G(L)` — strict
  *    bounds relax to inclusive — and only when the cast into the
  *    partition type keeps `G`'s order (same type, integral into
  *    integral, or a [[GenForm.castsInOrder]] rendering);
  *  - anything else becomes `true` (keep-everything), never a wrong
  *    prune.
  *
  * Timezone note: date-of-timestamp shapes evaluate in the SESSION
  * timezone on both the write and the prune side; like Delta, a reader
  * pruning under a different session timezone than the writer's could
  * mis-prune — the runtime mains all pin UTC. */
private[lake] object GeneratedColumns {

  /** Constraint-name prefix marking a generated-column rule
    * (constraint names are `[A-Za-z0-9_]+`, so the prefix survives the
    * name guard). */
  val Prefix = "__gen__"

  /** The CHECK predicate recording `name GENERATED ALWAYS AS (exprSql)`. */
  def predicateOf(name: String, exprSql: String): String =
    s"`$name` <=> ($exprSql)"

  /** Exact inverse of [[predicateOf]] — only our own rendering is ever
    * parsed back. */
  def exprOf(name: String, predicate: String): String = {
    val head = s"`$name` <=> ("
    require(predicate.startsWith(head) && predicate.endsWith(")"),
      s"not a generated-column predicate: $predicate")
    predicate.substring(head.length, predicate.length - 1)
  }

  /** A recognized generation shape: the single source column the
    * expression reads, whether the expression is monotonic
    * non-decreasing in it, and whether its string outputs are
    * fixed-width chronological renderings, whose order survives a cast
    * to whatever type the partition column reads as. */
  final case class GenForm(src: String, monotonic: Boolean,
      castsInOrder: Boolean = false)

  /** `date_format` patterns whose output ORDER is chronological under
    * plain string comparison — the only ones ranges may transfer
    * through. */
  private val ChronologicalFormats =
    Set("yyyy-MM-dd", "yyyy-MM", "yyyy", "yyyy-MM-dd HH")

  /** Recognize a generation expression (parsed, unresolved — this runs
    * once per scan, driver-side). The whitelist is closed on purpose:
    * admission means "deterministic, single-source, and the monotonic
    * flag is PROVEN", because a wrong admission is a wrong prune. */
  def formOf(spark: SparkSession, exprSql: String): Option[GenForm] =
    try shape(spark.sessionState.sqlParser.parseExpression(exprSql))
    catch { case scala.util.control.NonFatal(_) => None }

  private def shape(e: Expression): Option[GenForm] = {
    def attr(x: Expression): Option[String] = x match {
      case a: UnresolvedAttribute if a.nameParts.length == 1 => Some(a.name)
      case _ => None
    }
    def intLit(x: Expression): Option[Long] = x match {
      case Literal(v: Int, IntegerType)  => Some(v.toLong)
      case Literal(v: Long, LongType)    => Some(v)
      case Literal(v: Short, ShortType)  => Some(v.toLong)
      case Literal(v: Byte, ByteType)    => Some(v.toLong)
      case _                             => None
    }
    def strLit(x: Expression): Option[String] = x match {
      case Literal(v, StringType) if v != null => Some(v.toString)
      case _ => None
    }
    e match {
      case c: Cast if c.dataType == DateType =>
        attr(c.child).map(GenForm(_, monotonic = true))
      case f: UnresolvedFunction if f.nameParts.length == 1 =>
        val name = f.nameParts.head.toLowerCase
        val args = f.arguments
        (name, args) match {
          case ("to_date" | "date", Seq(a)) =>
            attr(a).map(GenForm(_, monotonic = true))
          case ("year", Seq(a)) =>
            attr(a).map(GenForm(_, monotonic = true))
          // within-period fields cycle — equality-only
          case ("month" | "day" | "dayofmonth" | "hour" | "minute" |
                "quarter" | "dayofweek" | "weekofyear", Seq(a)) =>
            attr(a).map(GenForm(_, monotonic = false))
          case ("date_format", Seq(a, fmt)) =>
            strLit(fmt).flatMap { p =>
              val chrono = ChronologicalFormats.contains(p)
              attr(a).map(GenForm(_, monotonic = chrono,
                castsInOrder = chrono))
            }
          // prefix from position 1 (or 0 — Spark treats it as 1):
          // lexicographic order is preserved by prefixing
          case ("substring" | "substr", Seq(a, pos, _)) =>
            intLit(pos).filter(p => p == 0L || p == 1L)
              .flatMap(_ => attr(a).map(GenForm(_, monotonic = true)))
          // numeric bucketing: `floor(src / k)` with k > 0 is monotonic
          // non-decreasing (`/` parses as fractional Divide)
          case ("floor", Seq(Divide(a, k, _))) =>
            for { src <- attr(a); kk <- intLit(k) if kk > 0 }
              yield GenForm(src, monotonic = true)
          case _ => None
        }
      // `src div k` (truncating toward zero) with k > 0: also monotonic
      // non-decreasing over the integers
      case IntegralDivide(a, k, _) =>
        for { src <- attr(a); kk <- intLit(k) if kk > 0 }
          yield GenForm(src, monotonic = true)
      case _ => None
    }
  }
}
