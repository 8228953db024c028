package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Listener-side record of a run: every Spark job, stage and task, and
  * every streaming progress report, with wall-clock (epoch ms) bounds so
  * the analysis can attribute them to the op whose interval holds them.
  * Events arrive on Spark's asynchronous listener bus; [[drain]] waits
  * for it before the record is read. */
final class Probe(spark: SparkSession) {
  private val jobs = ArrayBuffer.empty[(Long, Long, String)]
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]
  private val stages = ArrayBuffer.empty[(Long, Long)]
  // launch ms, finish ms, run ms, shuffle write, shuffle read, spill, input bytes
  private val tasks = ArrayBuffer.empty[Array[Long]]
  private val progress = ArrayBuffer.empty[ObjectNode]

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val label = Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      jobStarts.put(j.jobId, (j.time, label))
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = {
      val st = jobStarts.remove(j.jobId)
      if (st != null) jobs.synchronized { jobs += ((st._1, j.time, st._2)) }
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val i = s.stageInfo
      for (a <- i.submissionTime; b <- i.completionTime)
        stages.synchronized { stages += ((a, b)) }
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) tasks.synchronized {
        tasks += Array(t.taskInfo.launchTime, t.taskInfo.finishTime,
          m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead)
      }
    }
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val o = JsonNodeFactory.instance.objectNode()
      o.put("start_ms", java.time.Instant.parse(p.timestamp).toEpochMilli)
      o.put("rows", p.numInputRows)
      val d = o.putObject("duration_ms")
      p.durationMs.asScala.foreach { case (k, v) => d.put(k, v.longValue) }
      progress.synchronized { progress += o }
    }
  })

  def drain(): Unit =
    org.apache.spark.PerfbenchShim.drainListenerBus(spark.sparkContext)

  /** Total GC time of this JVM so far, in ms (local mode: the executors
    * are this JVM too). */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Heap in use right after a full collection, in MB: the live set.
    * The least of three collections a moment apart, so blocks that Spark's
    * cleaner thread releases only after their owner is collected (a
    * finished join's broadcast) are not counted as live. */
  def liveHeapMb(): Double =
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

  def toJson(into: ObjectNode): Unit = {
    drain()
    val js = into.putArray("jobs")
    jobs.synchronized(jobs.foreach { case (a, b, l) =>
      js.addArray().add(a).add(b).add(l)
    })
    val ss = into.putArray("stages")
    stages.synchronized(stages.foreach { case (a, b) => ss.addArray().add(a).add(b) })
    val ts = into.putArray("tasks")
    tasks.synchronized(tasks.foreach { t =>
      val a: ArrayNode = ts.addArray()
      t.foreach(a.add(_))
    })
    val ps = into.putArray("stream_progress")
    progress.synchronized(progress.foreach(ps.add(_)))
  }
}
