package graft.lake

import java.sql.Date

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Pruning soundness for partition predicates, as a ScalaCheck
  * property: over a table partitioned on INT, DOUBLE, DATE and STRING
  * columns (with NULL partitions) plus one stats'd data column, a
  * pruned read of any generated predicate returns exactly the rows the
  * same predicate keeps from the table's collected rows in a
  * LocalRelation — file skipping may never drop a matching row. The
  * predicates cover `=`, `<=>`, short and long (InSet) IN, ranges,
  * IS [NOT] NULL, NOT, LIKE and casts of partition columns, under
  * AND/OR with data-column disjuncts. Fixed seed. */
class PartitionPruningPropsSpec extends SparkSpec {

  private def day(i: Int): Date =
    Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong))

  private val ints = Seq[Any](1, 3, null)
  private val doubles = Seq[Any](5.0, 7.0, 5.5, null)
  private val dates = Seq[Any](day(0), day(2), null)
  private val strs = Seq[Any]("a", "5", "07", "b7", null)

  private lazy val table: MergeTable = {
    import org.apache.spark.sql.types._
    val rows = (0 until 48).map { i =>
      Row(if (i % 11 == 0) null else i.toLong, ints(i % 3),
        doubles((i / 3) % 4), dates((i / 2) % 3), strs((i / 5) % 5))
    }
    val schema = StructType(Seq(StructField("x", LongType),
      StructField("pi", IntegerType), StructField("pd", DoubleType),
      StructField("pdt", DateType), StructField("ps", StringType)))
    val t = MergeTable(spark, tmpDir("prune_props").toString,
      Seq("pi", "pd", "pdt", "ps"), Seq("x"), deletionVectors = false,
      bloomCols = Nil)
    t.overwrite(spark.createDataFrame(rows.asJava, schema).coalesce(1))
    t
  }

  /** The table's rows as a LocalRelation: the unpruned oracle. */
  private lazy val oracle: DataFrame = {
    val read = table.read()
    spark.createDataFrame(read.collect().toSeq.asJava, read.schema)
  }

  private val cmps: Seq[(Column, Column) => Column] = Seq(
    _ === _, _ <=> _, _ < _, _ <= _, _ > _, _ >= _)

  /** An atom comparing `c` with values of `vals` (plus a long IN-list
    * drawn from `wide`, past the optimizer's InSet threshold). */
  private def atoms(c: Column, vals: Gen[Any], wide: Seq[Any]): Gen[Column] =
    Gen.oneOf(
      for { op <- Gen.oneOf(cmps); v <- vals } yield op(c, lit(v)),
      Gen.listOfN(3, vals).map(vs => c.isin(vs: _*)),
      Gen.pick(12, wide).map(vs => c.isin(vs.toSeq: _*)),
      Gen.const(c.isNull),
      Gen.const(c.isNotNull))

  private val intVal = Gen.choose(0, 8)
  private val partAtom: Gen[Column] = Gen.oneOf(
    atoms(col("pi"), intVal, 0 to 30),
    atoms(col("pd"), Gen.oneOf(4.9, 5.0, 5.5, 6.0, 7.0),
      (0 to 30).map(_ * 0.5)),
    atoms(col("pdt"), Gen.choose(-1, 4).map(day), (0 to 30).map(day)),
    atoms(col("ps"), Gen.oneOf("a", "5", "07", "b7", "c", "zz"),
      Seq("a", "5", "07", "b7") ++ (0 to 12).map(i => s"s$i")),
    // casts of partition columns: the double one must keep 5.0 for 5
    for { op <- Gen.oneOf(cmps); k <- intVal }
      yield op(col("pd").cast("int"), lit(k)),
    intVal.map(k => col("ps").try_cast("int") === k),
    Gen.choose(-1, 4).map(i => col("ps").try_cast("date") === lit(day(i))),
    Gen.oneOf("1", "3", "7").map(v => col("pi").cast("string") === v),
    Gen.oneOf("2024-01-0%", "%-03", "2024-01-01")
      .map(p => col("pdt").cast("string").like(p)),
    Gen.oneOf("b%", "_", "%7", "0%").map(p => col("ps").like(p)))

  private val dataAtom: Gen[Column] = Gen.oneOf(
    Gen.choose(-2, 50).map(v => col("x") === v.toLong),
    Gen.choose(-2, 50).map(v => col("x") > v.toLong),
    Gen.const(col("x").isNull),
    Gen.listOfN(3, Gen.choose(0, 60)).map(vs => col("x").isin(vs: _*)))

  private def pred(depth: Int): Gen[Column] =
    if (depth == 0) Gen.frequency(4 -> partAtom, 1 -> dataAtom)
    else Gen.frequency(
      2 -> pred(0),
      2 -> Gen.zip(pred(depth - 1), pred(depth - 1)).map { case (a, b) => a && b },
      2 -> Gen.zip(pred(depth - 1), pred(depth - 1)).map { case (a, b) => a || b },
      1 -> pred(depth - 1).map(p => !p))

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("a pruned read of any partition predicate returns the rows the " +
      "predicate keeps from the unpruned rows") {
    assert(table.liveEntries().size > 10, "need a many-file table")
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(150)
      .withInitialSeed(Seed(20261019L))
      .withWorkers(1)
    val res = SCTest.check(params, Prop.forAll(pred(3)) { p =>
      val got = sorted(table.read().filter(p))
      val want = sorted(oracle.filter(p))
      (got == want) :|
        s"$p: the pruned read returned ${got.size} rows, expected ${want.size}"
    })
    assert(res.passed, res.status.toString)
  }
}
