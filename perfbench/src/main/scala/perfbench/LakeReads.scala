package perfbench

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.MergeTable
import graft.model.Schemas
import graft.sql.GraftSql

/** `lake_reads`: the Athena side. Set-up builds products, orders and
  * order_items through the lake's public write path (`MergeTable.append`),
  * orders with one commit per day so its log is deep and crosses a
  * checkpoint. Timed steps are rounds (the unit op) of a seeded mix of
  * the top-5-products query, partition-pruned date range aggregates,
  * point and key-set lookups, time travel, and the same shapes as SQL
  * text. */
final class LakeReads(spark: SparkSession, rec: Recorder, man: JsonNode,
    work: Path) extends Workload {
  private val commits = man.get("commits").elements().asScala.toVector
  private val warmOps = man.get("warm_ops").elements().asScala.toVector
  private val ops = man.get("ops").elements().asScala.toVector
  private val root = work.resolve("state")
  private var nextOp = 0
  private var versions = Vector.empty[Long]
  private var built: Recorder.Storage = _

  private def tableRoot(t: String) = root.resolve("tables").resolve(t).toString
  private def partitionOf(t: String) =
    if (t == "products") Schemas.productsPartition else Schemas.ordersPartition

  /** The build: each commit appends one generated parquet file to its
    * table; the orders version after each build day is recorded for time
    * travel. */
  override def prepare(): Unit = {
    versions = commits.flatMap { c =>
      val t = c.get("table").asText
      val df = spark.read.parquet(work.resolve(c.get("path").asText).toString)
      val v = open(t).append(df)
      if (t == "orders") Some(v) else None
    }
    built = Recorder.storage(Seq(root.resolve("tables")))
  }

  def setup(rep: Int): Unit = {
    for (t <- Seq("orders", "order_items", "products"))
      GraftSql.register(t, open(t))
    warmOps.zipWithIndex.foreach { case (w, i) => run(w, i) }
  }

  def hasNext: Boolean = nextOp < ops.size

  /** Ops come in cycles holding every read kind once. */
  override def atBoundary: Boolean = nextOp % man.get("cycle").asInt == 0

  def next(): Unit = {
    run(ops(nextOp), warmOps.size + nextOp)
    nextOp += 1
  }

  private def open(t: String): MergeTable =
    MergeTable(spark, tableRoot(t), Some(partitionOf(t)))

  private def opened(t: String): MergeTable = rec.span("lake.open") {
    val m = open(t)
    m.latestVersion()
    m
  }

  private def plan(df: => DataFrame): DataFrame = rec.span("lake.plan")(df)

  private def sql(text: String): DataFrame =
    rec.span("sql.analyze")(spark.sql(text))

  private val amountAgg = Seq(count(lit(1)).as("n"),
    round(sum(col("total_amount")), 2).as("amount"))

  private def run(spec: JsonNode, specIdx: Int): Unit = {
    val kind = spec.get("kind").asText
    var read: Option[(DataFrame, Seq[String])] = None
    rec.op(kind, spec.get("rows").asLong) { res =>
      res.put("spec", specIdx)
      val (df, tables) = kind match {
        case "top5" =>
          val items = opened("order_items")
          val products = opened("products")
          val i = plan(items.read())
          val p = plan(products.read())
          (i.join(p.select("product_id", "product_name"), "product_id")
            .groupBy("product_name").agg(count(lit(1)).as("total_orders"))
            .orderBy(col("total_orders").desc, col("product_name"))
            .limit(5), Seq("order_items", "products"))
        case "range" =>
          val o = opened("orders")
          val lo = spec.get("lo").asText
          val hi = spec.get("hi").asText
          (plan(o.scan(col("date").between(lo, hi))).agg(amountAgg.head,
            amountAgg.tail: _*), Seq("orders"))
        case "point" =>
          val o = opened("orders")
          (plan(o.readPoint("order_id", spec.get("id").asText.toLong))
            .select("order_id", "user_id", "total_amount"), Seq("orders"))
        case "probe" =>
          val o = opened("orders")
          val ids = spec.get("ids").elements().asScala.map(_.asText).toSeq
          (plan(o.probeKeys("order_id", ids))
            .filter(col("order_id").isin(ids: _*))
            .select("order_id", "user_id", "total_amount"), Seq("orders"))
        case "travel" =>
          val o = opened("orders")
          (plan(o.readVersion(versions(spec.get("day").asInt)))
            .agg(amountAgg.head, amountAgg.tail: _*), Seq("orders"))
        case "sql_top5" =>
          (sql("SELECT p.product_name, count(*) AS total_orders " +
            "FROM graft_table('order_items') i " +
            "JOIN graft_table('products') p ON i.product_id = p.product_id " +
            "GROUP BY p.product_name " +
            "ORDER BY total_orders DESC, p.product_name LIMIT 5"),
            Seq("order_items", "products"))
        case "sql_range" =>
          (sql("SELECT count(*) AS n, round(sum(total_amount), 2) AS amount " +
            "FROM graft_table('orders') WHERE date BETWEEN " +
            s"DATE'${spec.get("lo").asText}' AND DATE'${spec.get("hi").asText}'"),
            Seq("orders"))
        case "sql_travel" =>
          (sql("SELECT count(*) AS n, round(sum(total_amount), 2) AS amount " +
            s"FROM graft_table('orders', ${versions(spec.get("day").asInt)})"),
            Seq("orders"))
      }
      Main.collectJson(df, rec, "lake.exec", res)
      read = Some((df, tables))
    }
    // traced runs only, outside the op: how many of the live files the
    // plan reads
    if (rec.traceOn) read.foreach { case (df, tables) =>
      rec.ops.last.put("files_read", df.inputFiles.length)
        .put("files_live", tables.map(t => open(t).read().inputFiles.length).sum)
    }
  }

  def finish(extra: ObjectNode, out: Path): Unit = {
    val v = extra.putArray("versions")
    versions.foreach(v.add(_))
    built.toJson(extra.putObject("storage_built"))
    extra.put("ops_done", nextOp)
  }
}
