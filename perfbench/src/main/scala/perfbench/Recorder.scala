package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}

/** Op and span record of a run, kept in memory and written at exit.
  *
  * An op here is one step of the workload's closed loop (one file's
  * pipeline execution, one read), timed from outside the program; run.py
  * groups steps into the workload's unit op. With tracing on, every call
  * the benchmark makes into a program layer is also wrapped in a span
  * (name, start, end, parent span, op); with tracing off [[span]] only
  * runs its body. */
final class Recorder(val traceOn: Boolean, probe: Probe) {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()

  /** Wall clock in epoch ms with nanoTime resolution — the same clock the
    * listener timestamps use, so jobs and tasks can be placed in ops. */
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  val ops = ArrayBuffer.empty[ObjectNode]
  private val spans = ArrayBuffer.empty[(Int, Int, Int, String, Double, Double)]
  private var stack: List[Int] = Nil
  private var curOp = -1
  private var phase = "warm"

  def setPhase(p: String): Unit = phase = p

  def span[T](name: String)(body: => T): T =
    if (!traceOn) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += ((id, parent, curOp, name, nowMs, Double.NaN))
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        val s = spans(id)
        spans(id) = s.copy(_6 = nowMs)
      }
    }

  /** Runs one op; `body` fills the op's result object. An op that throws
    * is recorded as failed (the loop goes on); returns whether it
    * succeeded. */
  def op(kind: String, rows: Long)(body: ObjectNode => Unit): Boolean = {
    val rec = JsonNodeFactory.instance.objectNode()
    curOp = ops.size
    rec.put("idx", curOp).put("kind", kind).put("phase", phase)
      .put("rows", rows)
    val res = rec.putObject("result")
    val gc0 = probe.gcMs()
    val t0 = nowMs
    val n0 = System.nanoTime()
    val ok =
      try { span("op")(body(res)); true }
      catch {
        case NonFatal(e) =>
          rec.put("error", e.toString.take(2000))
          System.err.println(s"[perfbench] op $curOp ($kind) failed: $e")
          false
      }
    val n1 = System.nanoTime()
    rec.put("t0_ms", t0).put("t1_ms", nowMs)
      .put("wall_s", (n1 - n0) / 1e9)
      .put("gc_ms", probe.gcMs() - gc0).put("ok", ok)
    ops += rec
    curOp = -1
    ok
  }

  def writeSpans(p: Path): Unit = {
    val lines = spans.map { case (id, parent, op, name, a, b) =>
      val o = JsonNodeFactory.instance.objectNode()
      o.put("id", id).put("parent", parent).put("op", op).put("name", name)
        .put("start_ms", a).put("end_ms", b)
      o.toString
    }
    Files.write(p, lines.asJava)
  }
}

object Recorder {
  /** Bytes, parquet files, commit-log files and log bytes under `root`. */
  final case class Storage(bytes: Long, dataFiles: Long, commits: Long,
      logBytes: Long) {
    def toJson(o: ObjectNode): ObjectNode =
      o.put("bytes", bytes).put("data_files", dataFiles)
        .put("commits", commits).put("log_bytes", logBytes)
  }

  def storage(roots: Seq[Path]): Storage = {
    var bytes, files, commits, logBytes = 0L
    for (r <- roots if Files.exists(r))
      scala.util.Using.resource(Files.walk(r)) { s =>
        s.iterator().asScala.filter(Files.isRegularFile(_)).foreach { p =>
          val n = Files.size(p)
          val name = p.getFileName.toString
          val inLog = p.toString.contains("/_graft_log/")
          bytes += n
          if (inLog) {
            logBytes += n
            if (name.endsWith(".txt")) commits += 1
          } else if (name.endsWith(".parquet")) files += 1
        }
      }
    Storage(bytes, files, commits, logBytes)
  }
}
