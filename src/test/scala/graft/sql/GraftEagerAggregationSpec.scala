package graft.sql

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join,
  LogicalPlan, Project}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream,
  StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

import graft.SparkSpec
import graft.lake.MergeTable

/** The [[GraftEagerAggregation]] optimizer rule: an aggregate over a
  * fact ⋈ broadcast-dimension join aggregates the fact side per join
  * key first, with the results of the plain join aggregate (checked
  * against an oracle computed in Scala from the collected inputs), and
  * every shape outside its gates keeps the plan the optimizer builds
  * without it. */
class GraftEagerAggregationSpec extends SparkSpec {
  import GraftEagerAggregationSpec._
  import spark.implicits._

  private val RuleName = classOf[GraftEagerAggregation].getName

  /** 3,000 fact rows over keys 0-8 with NULL keys and NULL values; key 8
    * holds only NULL `v`s, keys 0 and 5-7 match no dimension row. */
  private lazy val factRows: Seq[F] = (0 until 3000).map { i =>
    val fk = if (i % 37 == 0) None else Some(i % 9)
    F(fk, if (i % 11 == 0 || fk.contains(8)) None else Some((i * 7919) % 1000 - 500),
      if (i % 13 == 0) None else Some(i * 1000003L), i * 0.5)
  }

  /** Keys 1 and 2 repeat (2 with the same name twice), a NULL key, and a
    * NULL name. */
  private lazy val dimRows: Seq[D] = Seq(D(Some(1), "a"), D(Some(1), "b"),
    D(Some(2), "a"), D(Some(2), "a"), D(Some(3), "c"), D(Some(4), null),
    D(Some(8), "h"), D(None, "n"))

  private lazy val fact: DataFrame = parquet("ea_fact", factRows.toDF())
  private lazy val dim: DataFrame = parquet("ea_dim", dimRows.toDF())

  private def parquet(tag: String, df: DataFrame): DataFrame = {
    val p = tmpDir(tag).resolve("t").toString
    df.coalesce(1).write.parquet(p)
    spark.read.parquet(p)
  }

  private def joined(f: DataFrame = fact, d: DataFrame = dim): DataFrame =
    f.join(d, col("fk") === col("dk"))

  private val aggs = Seq(count(lit(1)).as("n"), count("v").as("nv"),
    min("v").as("mn"), max("v").as("mx"), sum("v").as("sv"), sum("x").as("sx"))

  /** The oracle row of `aggs` over the fact rows of a join bucket. */
  private def oracle(rows: Seq[F]): Seq[Any] = {
    val vs = rows.flatMap(_.v)
    val xs = rows.flatMap(_.x)
    Seq(rows.size.toLong, vs.size.toLong, vs.minOption.orNull, vs.maxOption.orNull,
      if (vs.isEmpty) null else vs.map(_.toLong).sum,
      if (xs.isEmpty) null else xs.sum)
  }

  /** The inner join of `facts` and `dimRows` in Scala: NULL keys match
    * nothing. */
  private def oracleJoin(facts: Seq[F]): Seq[(F, D)] = for {
    f <- facts; d <- dimRows if f.fk.isDefined && f.fk == d.dk
  } yield (f, d)

  /** The grouped oracle: one row per dimension name. */
  private def oracleByName(facts: Seq[F]): Set[Seq[Any]] =
    oracleJoin(facts).groupBy(_._2.name).map { case (name, fs) =>
      name +: oracle(fs.map(_._1))
    }.toSet

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  /** The plan `df` gets from the optimizer, with or without the rule. */
  private def optimized(df: DataFrame, withRule: Boolean): LogicalPlan =
    withConf(SQLConf.OPTIMIZER_EXCLUDED_RULES.key ->
        Option.when(!withRule)(RuleName)) {
      spark.sessionState.optimizer.execute(df.queryExecution.analyzed)
    }

  private def assertEager(df: DataFrame): Unit = {
    val p = df.queryExecution.optimizedPlan
    assert(eager(p), s"no pre-join fact aggregate in\n${p.treeString}")
    assert(new GraftEagerAggregation().apply(p) == p, "the rule is not idempotent")
  }

  private def assertUnchanged(df: DataFrame): Unit = {
    val p = optimized(df, withRule = true)
    assert(!eager(p), s"rewritten:\n${p.treeString}")
    assert(p == optimized(df, withRule = false))
  }

  private def withConf[T](kv: (String, Option[String]))(body: => T): T = {
    val (k, v) = kv
    val old = spark.conf.getOption(k)
    def put(x: Option[String]) = x.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    put(v)
    try body finally put(old)
  }

  test("a grouped aggregate over a fact ⋈ dimension join matches the " +
      "oracle: repeated and NULL keys on both sides, NULL values") {
    val q = joined().groupBy("name").agg(aggs.head, aggs.tail: _*)
    assertEager(q)
    assert(rows(q) === oracleByName(factRows))
    // the key-8 bucket has only NULL values: count 0, min/max/sum NULL
    assert(rows(q).exists(r => r.head == "h" && r(2) == 0L && r(3) == null))
  }

  test("a global aggregate matches the oracle") {
    val q = joined().agg(aggs.head, aggs.tail: _*)
    assertEager(q)
    assert(rows(q) === Set(oracle(oracleJoin(factRows).map(_._1))))
  }

  test("an empty fact side: grouped gives no rows, global COUNT(*) gives 0") {
    val empty = fact.filter(col("d") < 0)
    val grouped = joined(empty).groupBy("name").agg(aggs.head, aggs.tail: _*)
    val global = joined(empty).agg(aggs.head, aggs.tail: _*)
    assertEager(grouped)
    assertEager(global)
    assert(grouped.collect().isEmpty)
    assert(rows(global) === Set(Seq(0L, 0L, null, null, null, null)))
  }

  test("the reference's top-5 query, as a DataFrame and as SQL over " +
      "graft_table, aggregates order items per product before the join") {
    val items = MergeTable(spark, tmpDir("ea_items").toString)
    items.overwrite((0 until 4000).map(i => (i.toLong, i % 50, i % 7))
      .toDF("order_id", "product_id", "qty"))
    val products = MergeTable(spark, tmpDir("ea_products").toString)
    products.overwrite((0 until 40).map(i => (i, s"p${i % 30}"))
      .toDF("product_id", "product_name"))
    GraftSql.register("ea_items", items)
    GraftSql.register("ea_products", products)
    val top5 = items.read()
      .join(products.read().select("product_id", "product_name"), "product_id")
      .groupBy("product_name").agg(count(lit(1)).as("total_orders"))
      .orderBy(col("total_orders").desc, col("product_name")).limit(5)
    val sqlTop5 = spark.sql("SELECT p.product_name, count(*) AS total_orders " +
      "FROM graft_table('ea_items') i " +
      "JOIN graft_table('ea_products') p ON i.product_id = p.product_id " +
      "GROUP BY p.product_name ORDER BY total_orders DESC, p.product_name LIMIT 5")
    // products 0-39 are ordered 80 times each; names p0-p9 cover two
    // products, so they lead with 160 and the tie breaks on the name
    val want = Seq("p0", "p1", "p2", "p3", "p4").map(n => Row(n, 160L))
    for (q <- Seq(top5, sqlTop5)) {
      assertEager(q)
      assert(q.collect().toSeq === want)
    }
  }

  test("shapes outside the gates keep the plan built without the rule") {
    val byName = Seq(col("name"))
    assertUnchanged(fact.join(dim, col("fk") === col("dk"), "left_outer")
      .groupBy(byName: _*).agg(count(lit(1))))
    assertUnchanged(joined().groupBy(byName: _*).agg(countDistinct("v")))
    fact.createOrReplaceTempView("ea_fact")
    dim.createOrReplaceTempView("ea_dim")
    assertUnchanged(spark.sql("SELECT name, count(*) FILTER (WHERE v > 0) " +
      "FROM ea_fact JOIN ea_dim ON fk = dk GROUP BY name"))
    assertUnchanged(joined().groupBy(byName: _*).agg(sum("d")))
    assertUnchanged(joined().groupBy(byName: _*).agg(avg("v")))
    // a fact-side hint, and a grouping column of the fact side
    assertUnchanged(joined(broadcast(fact)).groupBy(byName: _*).agg(count(lit(1))))
    assertUnchanged(joined().groupBy("v").agg(count(lit(1))))
    // a DataFrame keeps the plan it was first optimized with, so each
    // threshold gets its own
    def counted = joined().groupBy(byName: _*).agg(count(lit(1)))
    for (threshold <- Seq("1", "-1"))
      withConf(SQLConf.AUTO_BROADCASTJOIN_THRESHOLD.key -> Some(threshold)) {
        val q = counted
        assertUnchanged(q)
        assert(rows(q) === oracleByName(factRows).map(r => Seq(r(0), r(1))))
      }
    // the same query at the default threshold
    assertEager(counted)
  }

  test("a stream-static join aggregate is left alone") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Int, Int)]
    val q = in.toDF().toDF("fk", "v").join(dim, col("fk") === col("dk"))
      .groupBy("name").agg(count(lit(1)).as("n"))
    val sq = q.writeStream.format("memory").queryName("ea_stream")
      .outputMode("complete").start()
    try {
      in.addData((0 until 3000).map(i => (1 + i % 2, i)))
      sq.processAllAvailable()
      val last = sq.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.optimizedPlan
      assert(!eager(last), last.treeString)
      // keys 1 and 2 hold 1,500 rows each: a = 1,500 (key 1) + 2 × 1,500
      assert(rows(spark.table("ea_stream")) ===
        Set(Seq("a", 4500L), Seq("b", 1500L)))
    } finally sq.stop()
  }
}

object GraftEagerAggregationSpec {
  case class F(fk: Option[Int], v: Option[Int], x: Option[Long], d: Double)
  case class D(dk: Option[Int], name: String)

  /** A join with an aggregate under one of its sides (through
    * projections and filters): the pre-join fact aggregate. */
  def eager(plan: LogicalPlan): Boolean = plan.exists {
    case j: Join => j.children.exists { c =>
      def under(p: LogicalPlan): LogicalPlan = p match {
        case Project(_, x) => under(x)
        case Filter(_, x) => under(x)
        case x => x
      }
      under(c).isInstanceOf[Aggregate]
    }
    case _ => false
  }
}
