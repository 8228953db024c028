package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One workload of the benchmark, in its own JVM, as a closed loop: one
  * client on `local[4]`, each op sent after the previous one returns.
  *
  * Usage: perfbench.Main <workload> <workDir> <seconds> <trace 0|1> <setupReps>
  *
  * Reads `<workDir>/manifest.json` (written by the input generator) and
  * writes `<workDir>/out/record.json` (ops, listener events, heap
  * samples) plus, when tracing, `<workDir>/out/spans.jsonl`. Metrics and
  * the correctness check are computed from that record by run.py. */
object Main {
  private val MinUnits = 2

  def main(args: Array[String]): Unit = {
    val Array(name, workArg, secondsArg, traceArg, repsArg) = args
    val work = Paths.get(workArg).toAbsolutePath
    val out = Files.createDirectories(work.resolve("out"))
    val manifest = new ObjectMapper().readTree(work.resolve("manifest.json").toFile)

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      // bounded driver-side history, so the live heap tracks the
      // workload and not the number of ops a run happens to complete
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val probe = new Probe(spark)
    val rec = new Recorder(traceArg == "1", probe)
    val sessionReadyMs = rec.nowMs

    val wl: Workload = name match {
      case "etl_daily"     => new EtlDaily(spark, rec, manifest, work)
      case "lake_reads"    => new LakeReads(spark, rec, manifest, work)
      case "cdc_stream"    => new CdcStream(spark, rec, manifest, work)
      case "corpus_curate" => new CorpusCurate(spark, rec, manifest, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // One-off set-up, plus the repeatable part run several times on fresh
    // state; the timed phase continues from the last repetition's state.
    var onceS = timedS(wl.prepare())
    val setupS = (0 until repsArg.toInt).map { r =>
      timedS { wl.setup(r); spark.catalog.clearCache() }
    }
    onceS += timedS(wl.finishSetup())

    rec.setPhase("timed")
    val heap = JsonNodeFactory.instance.arrayNode()
    heap.add(probe.liveHeapMb())
    wl.beforeTimed()
    val timedStart = rec.nowMs
    val deadline = timedStart + secondsArg.toDouble * 1000.0
    // A run measures at least two whole unit ops, so a slow host does not
    // change the mix a run measures.
    var unitsDone = 0
    while (wl.hasNext &&
        (rec.nowMs < deadline || !wl.atBoundary || unitsDone < MinUnits)) {
      wl.next()
      // untimed between ops: drop cached relations (no state debt from
      // one op to the next); after each unit op, sample the live heap, so
      // every unit op starts right after the same full collections
      spark.catalog.clearCache()
      if (wl.atBoundary) {
        unitsDone += 1
        heap.add(probe.liveHeapMb())
      }
    }
    val timedEnd = rec.nowMs

    val record = JsonNodeFactory.instance.objectNode()
    record.put("workload", name)
      .put("jvm_start_ms",
        ManagementFactory.getRuntimeMXBean.getStartTime.toDouble)
      .put("session_ready_ms", sessionReadyMs)
      .put("setup_once_s", onceS)
      .put("timed_start_ms", timedStart)
      .put("timed_end_ms", timedEnd)
    val reps = record.putArray("setup_rep_s")
    setupS.foreach(reps.add(_))
    record.set[JsonNode]("heap_samples_mb", heap)
    wl.finish(record.putObject("extra"), out)
    val ops = record.putArray("ops")
    rec.ops.foreach(ops.add(_))
    probe.toJson(record)
    if (rec.traceOn) rec.writeSpans(out.resolve("spans.jsonl"))
    Files.writeString(out.resolve("record.json"), record.toString)
    spark.stop()
  }

  private def timedS(body: => Unit): Double = {
    val t = System.nanoTime()
    body
    (System.nanoTime() - t) / 1e9
  }

  /** Collected rows as JSON: column names plus one array per row. */
  def rowsJson(rows: Array[Row], cols: Seq[String], into: ObjectNode): Unit = {
    val c = into.putArray("cols")
    cols.foreach(c.add)
    val rs = into.putArray("rows")
    rows.foreach { r =>
      val a = rs.addArray()
      (0 until r.length).foreach(i => put(a, r.get(i)))
    }
  }

  /** Builds and collects `df` inside one span (building a frame can run
    * jobs of its own), then records the rows. */
  def collectJson(df: => DataFrame, rec: Recorder, span: String,
      into: ObjectNode): DataFrame = {
    val (frame, rows) = rec.span(span) {
      val f = df
      (f, f.collect())
    }
    rowsJson(rows, frame.columns.toSeq, into)
    frame
  }

  private def put(a: ArrayNode, v: Any): Unit = v match {
    case null          => a.addNull()
    case x: String     => a.add(x)
    case x: Int        => a.add(x)
    case x: Long       => a.add(x)
    case x: Short      => a.add(x.toInt)
    case x: Double     => a.add(x)
    case x: Float      => a.add(x.toDouble)
    case x: Boolean    => a.add(x)
    case x             => a.add(x.toString)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      scala.util.Using.resource(Files.walk(p)) { s =>
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      }
}

/** A workload's life cycle inside one JVM. */
trait Workload {
  /** Set-up done once per run (e.g. building the tables a read workload
    * queries). */
  def prepare(): Unit = ()
  /** Fresh state plus untimed warm-up ops; called once per set-up
    * repetition. */
  def setup(rep: Int): Unit
  /** Set-up done once after the repetitions, on the state the timed phase
    * continues from. */
  def finishSetup(): Unit = ()
  /** Untimed work just before the timed phase (e.g. a storage walk). */
  def beforeTimed(): Unit = ()
  def hasNext: Boolean
  /** Whether the timed phase may end before the next op: a workload whose
    * ops come in cycles of different kinds ends on a whole cycle, so every
    * run measures the same mix. */
  def atBoundary: Boolean = true
  /** One timed op. */
  def next(): Unit
  /** Untimed: dumps the final state for the oracle and adds
    * workload-specific facts to the record. */
  def finish(extra: ObjectNode, out: Path): Unit
}
