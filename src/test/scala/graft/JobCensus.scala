package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The Spark jobs a block starts, as a listener sees them. The block is
  * bracketed by two marker jobs; the listener bus delivers events in
  * order, so once the second marker is seen every job the block started
  * has been recorded. */
object JobCensus {
  /** A started job: id, submission time (epoch ms) and description. */
  final case class Job(id: Int, time: Long, description: String)

  def jobsOf[T](spark: SparkSession)(f: => T): (T, Seq[Job]) = {
    val seen = new ConcurrentLinkedQueue[Job]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Job(e.jobId, e.time, Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")))
    }
    val sc = spark.sparkContext
    val tag = s"census-${java.util.UUID.randomUUID()}"
    def marker(end: String): Unit = {
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(s"$tag-$end")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(prev)
    }
    sc.addSparkListener(listener)
    try {
      marker("start")
      val r = f
      marker("end")
      val deadline = System.currentTimeMillis() + 60000L
      while (!seen.asScala.exists(_.description == s"$tag-end")) {
        require(System.currentTimeMillis() < deadline,
          "the end marker job never reached the listener")
        Thread.sleep(10)
      }
      val jobs = seen.asScala.toSeq.sortBy(_.id)
      (r, jobs.slice(jobs.indexWhere(_.description == s"$tag-start") + 1,
        jobs.indexWhere(_.description == s"$tag-end")))
    } finally sc.removeSparkListener(listener)
  }
}
