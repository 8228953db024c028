package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression: sequential-fold double dot product of two
  * `ArrayType(FloatType)` columns.
  *
  * Why a custom Expression (SURVEY.md §7.4 escalation ladder): Spark's
  * higher-order functions (`aggregate`, `zip_with`) do not participate in
  * codegen — each element evaluates an interpreted lambda with boxing. For
  * 64-float embeddings that interpretive overhead dominates the actual
  * arithmetic. This expression compiles to a tight primitive loop via
  * `doGenCode` while producing BIT-IDENTICAL results to
  * `aggregate(zip_with(a, b, (x,y) -> double(x)*double(y)), 0d, (s,v) -> s+v)`
  * — the same left-to-right double accumulation — so the DuckDB oracle
  * parity of the similarity queries is unchanged.
  *
  * Null contract: null input array → null; elements are read primitively
  * (fixture arrays contain no null elements); lengths are folded to the
  * shorter side.
  */
case class DotProductF(left: Expression, right: Expression)
    extends BinaryExpression {

  // No ExpectsInputTypes: AbstractDataType is private[sql] in Spark 4.
  // Inputs are produced by this library (ArrayType(FloatType) columns);
  // a wrong type fails at ArrayData access rather than analysis.
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_f"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var sum = 0.0
    var i = 0
    while (i < n) {
      sum += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val sum = ctx.freshName("sum")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $sum = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $sum += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductF =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {
  private[functions] val DotFBuilder: Seq[Expression] => Expression =
    exprs => DotProductF(exprs(0), exprs(1))

  /** Idempotently register `dot_f` in the session so `expr("dot_f(a,b)")`
    * resolves (the classic-Spark registration path;
    * [[GraftExtensions]] does the same for externally-built sessions via
    * `spark.sql.extensions`). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(FunctionIdentifier("dot_f")))
      reg.createOrReplaceTempFunction("dot_f", DotFBuilder, "built-in")
  }
}

/** SparkSessionExtensions hook: `--conf
  * spark.sql.extensions=graft.functions.GraftExtensions` injects ALL of
  * this library's native functions (`dot_f`, `simhash16`, and
  * `minhash_sig` bound to the canonical [[HashFamily]]) AND the lake
  * SQL parser ([[graft.sql.GraftSqlParser]], built with the session:
  * Spark's own UPDATE / DELETE / INSERT INTO, plus the graft grammar —
  * MERGE INTO / INSERT OVERWRITE / OPTIMIZE / RESTORE / VACUUM /
  * DESCRIBE HISTORY … — on [[graft.sql.GraftSql.register]]ed tables,
  * named `t` or `db.t`) AND the
  * `graft_table(name[, version|timestamp])` table-valued function
  * (SQL-side snapshot + time-travel reads) AND name reads of
  * registered tables (`FROM t`, `FROM db.t`,
  * [[graft.sql.GraftRelationResolution]]) AND two optimizer rules —
  * manifest file skipping for every lake read
  * ([[graft.lake.GraftScanPruning]]) and eager aggregation of the fact
  * side of an aggregate over a fact ⋈ broadcast-dimension join
  * ([[graft.sql.GraftEagerAggregation]]) — into ANY session at build
  * time — the registration path for sessions this library does not
  * construct (spark-submit jobs, notebooks, Spark Connect servers).
  * A Hive-catalog session drops injected hint-resolution rules, so
  * there name reads fail while the parser's statements still run;
  * read through `graft_table('<db>.<name>')` in such a session. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectParser((s, delegate) => new graft.sql.GraftSqlParser(s, delegate))
    ext.injectOptimizerRule(s => new graft.lake.GraftScanPruning(s))
    ext.injectOptimizerRule(_ => new graft.sql.GraftEagerAggregation)
    ext.injectHintResolutionRule(s => new graft.sql.GraftRelationResolution(s))
    ext.injectTableFunction((
      FunctionIdentifier("graft_table"),
      new ExpressionInfo(graft.sql.GraftSql.getClass.getName, "graft_table"),
      graft.sql.GraftSql.tableFunction))
    ext.injectTableFunction((
      FunctionIdentifier("graft_changes"),
      new ExpressionInfo(graft.sql.GraftSql.getClass.getName, "graft_changes"),
      graft.sql.GraftSql.changesFunction))
    ext.injectTableFunction((
      FunctionIdentifier("graft_rows"),
      new ExpressionInfo(graft.sql.GraftSql.getClass.getName, "graft_rows"),
      graft.sql.GraftSql.rowsFunction))
    ext.injectFunction((
      FunctionIdentifier("dot_f"),
      new ExpressionInfo(classOf[DotProductF].getName, "dot_f"),
      VectorFunctions.DotFBuilder))
    ext.injectFunction((
      FunctionIdentifier("simhash16"),
      new ExpressionInfo(classOf[SimHash16].getName, "simhash16"),
      exprs => SimHash16(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      exprs => MinHashSig(exprs.head, HashFamily.AB, HashFamily.P)))
  }
}
