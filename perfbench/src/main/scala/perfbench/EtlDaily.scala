package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.etl.Ingestion
import graft.lake.MergeTable
import graft.model.Schemas
import graft.pipeline.Pipeline
import graft.pipeline.Pipeline.{Done, Retry, Stage}

/** `etl_daily`: the reference's event-driven path, one pipeline execution
  * per landed raw file. One step lands one file and runs `Pipeline.run`
  * over it: the dataset's ingestion job, catalog registration, the
  * validation COUNT(*) and the archive step, timed from landing until the
  * count returns. A day (the unit op) brings a products, an orders and an
  * order_items file, and the previous day's orders file again, which its
  * marker must skip. */
final class EtlDaily(spark: SparkSession, rec: Recorder, man: JsonNode,
    work: Path) extends Workload {
  private val files = man.get("ops").elements().asScala.toVector
  private var root: Path = _
  private var nextFile = 0
  private var before: Recorder.Storage = _

  private def tableRoot(ds: String) = root.resolve("tables").resolve(ds).toString
  private def partitionOf(ds: String) = ds match {
    case "products" => Schemas.productsPartition
    case _          => Schemas.ordersPartition
  }

  /** Each repetition lands day 0's products file on fresh tables. */
  def setup(rep: Int): Unit = {
    root = work.resolve(s"state-$rep")
    nextFile = 0
    next()
  }

  /** The rest of day 0, so the timed phase starts on a whole day and
    * every ingestion job has run once. */
  override def finishSetup(): Unit =
    while (!atBoundary) next()

  override def beforeTimed(): Unit =
    before = Recorder.storage(Seq(root.resolve("tables")))

  def hasNext: Boolean = nextFile < files.size

  /** A day starts with its products file. */
  override def atBoundary: Boolean =
    files(nextFile).get("ds").asText == "products"

  def next(): Unit = {
    val f = files(nextFile)
    nextFile += 1
    rec.op(f.get("ds").asText, f.get("rows").asLong) { res =>
      res.put("file", nextFile - 1)
      land(f.get("ds").asText, work.resolve(f.get("path").asText), res)
    }
    if (rec.traceOn) Recorder.storage(Seq(root.resolve("tables")))
      .toJson(rec.ops.last.putObject("storage"))
  }

  private def job(ds: String, file: Path): Ingestion.JobResult = {
    val q = root.resolve("quarantine").resolve(ds)
      .resolve(file.getFileName.toString.stripSuffix(".csv")).toString
    ds match {
      case "products" => rec.span("etl.products_job")(
        Ingestion.productsJob(spark, file.toString, tableRoot(ds), q))
      case "orders" => rec.span("etl.orders_job")(
        Ingestion.ordersJob(spark, file.toString, tableRoot(ds), q))
      case "order_items" => rec.span("etl.order_items_job")(
        Ingestion.orderItemsJob(spark, file.toString, tableRoot("orders"),
          tableRoot("products"), tableRoot(ds), q))
    }
  }

  private def land(ds: String, src: Path, res: ObjectNode): Unit = {
    val landed = Files.createDirectories(root.resolve("landing").resolve(ds))
      .resolve(src.getFileName)
    Files.copy(src, landed)
    var count = -1L
    val once = Retry(maxAttempts = 1, baseDelayMs = 0L)
    val stages = Seq(
      Stage(ds, Some(src.getFileName.toString), once, () => {
        val r = job(ds, landed)
        res.putArray("job").add(r.validRows).add(r.rejectedRows)
        Done
      }),
      Stage("register", None, once, () => {
        rec.span("etl.register")(Ingestion.register(spark,
          MergeTable(spark, tableRoot("products"),
            Some(Schemas.productsPartition)), "products"))
        Done
      }),
      Stage("validate", None, once, () => {
        count = rec.span("etl.validate_query")(
          spark.sql("SELECT COUNT(*) FROM graft.products").head().getLong(0))
        Done
      }),
      Stage("archive", None, once, () => {
        rec.span("pipeline.archive")(
          Pipeline.archive(landed, root.resolve("archived").resolve(ds)))
        Done
      }))
    val reports = rec.span("pipeline.run")(Pipeline.run(stages,
      root.resolve("processed").resolve("_processed_log"),
      sleep = _ => ()))
    reports.find(_.status == "failed").foreach(r =>
      throw new RuntimeException(s"stage ${r.name} failed: ${r.error.orNull}"))
    res.put("skipped", reports.count(_.status == "already_processed"))
    res.put("count", count)
  }

  def finish(extra: ObjectNode, out: Path): Unit = {
    extra.put("files_done", nextFile)
    before.toJson(extra.putObject("storage_before"))
    Recorder.storage(Seq(root.resolve("tables")))
      .toJson(extra.putObject("storage_after"))
    val tsFmt = "yyyy-MM-dd HH:mm:ss"
    for (ds <- Seq("products", "orders", "order_items")) {
      val df = MergeTable(spark, tableRoot(ds), Some(partitionOf(ds))).read()
      val cols = ds match {
        case "products" => Seq(col("product_id"), col("department_id"),
          col("department"), col("product_name"))
        case "orders" => Seq(col("order_id"), col("user_id"),
          date_format(col("order_timestamp"), tsFmt).as("order_timestamp"),
          col("total_amount"), col("date").cast("string").as("date"))
        case _ => Seq(col("id"), col("order_id"), col("user_id"),
          col("days_since_prior_order"), col("product_id"),
          col("add_to_cart_order"), col("reordered"),
          date_format(col("order_timestamp"), tsFmt).as("order_timestamp"),
          col("date").cast("string").as("date"))
      }
      df.select(cols: _*).coalesce(1).write.parquet(
        out.resolve(s"final_$ds").toString)
    }
  }
}
