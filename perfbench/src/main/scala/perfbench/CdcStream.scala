package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.MergeTable
import graft.streaming.StreamIngest

/** `cdc_stream`: one op is one landed file of change events (inserts,
  * updates, deletes, late and out-of-order events) drained by
  * `StreamIngest.runCdcAvailableNow` into an orders-like table
  * partitioned by date, with a checkpoint that persists across ops. */
final class CdcStream(spark: SparkSession, rec: Recorder, man: JsonNode,
    work: Path) extends Workload {
  private val files = man.get("files").elements().asScala.toVector
  private val warm = man.get("warmup_files").asInt
  private var root: Path = _
  private var table: MergeTable = _
  private var nextFile = 0
  private var before: Recorder.Storage = _

  private val schema = StructType(Seq(
    StructField("order_id", LongType),
    StructField("user_id", StringType),
    StructField("total_amount", DoubleType),
    StructField("date", DateType),
    StructField("seq", LongType),
    StructField(MergeTable.ChangeType, StringType)))

  def setup(rep: Int): Unit = {
    root = work.resolve(s"state-$rep")
    Files.createDirectories(root.resolve("landing"))
    table = MergeTable(spark, root.resolve("table").toString, Some("date"))
    nextFile = 0
    (0 until warm).foreach(_ => next())
  }

  override def beforeTimed(): Unit =
    before = Recorder.storage(Seq(root.resolve("table")))

  def hasNext: Boolean = nextFile < files.size

  def next(): Unit = {
    val f = files(nextFile)
    nextFile += 1
    rec.op("cdc_file", f.get("rows").asLong) { res =>
      res.put("file", nextFile - 1)
      val src = work.resolve(f.get("path").asText)
      Files.copy(src, root.resolve("landing").resolve(src.getFileName))
      val applied = rec.span("stream.run")(StreamIngest.runCdcAvailableNow(
        spark, root.resolve("landing").toString, schema, table, "order_id",
        "seq", root.resolve("checkpoint").toString))
      res.put("applied", applied)
    }
    if (rec.traceOn) Recorder.storage(Seq(root.resolve("table")))
      .toJson(rec.ops.last.putObject("storage"))
  }

  def finish(extra: ObjectNode, out: Path): Unit = {
    extra.put("files_done", nextFile)
    before.toJson(extra.putObject("storage_before"))
    Recorder.storage(Seq(root.resolve("table")))
      .toJson(extra.putObject("storage_after"))
    table.read().select(col("order_id"), col("user_id"), col("total_amount"),
      col("date").cast("string").as("date"), col("seq"))
      .coalesce(1).write.parquet(out.resolve("final_table").toString)
  }
}
