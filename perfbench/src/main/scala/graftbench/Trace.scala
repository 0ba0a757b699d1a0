package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark-side accounting for the traced run. Each traced operation tags
  * its jobs with `gb:<request id>` (Spark job tags; the program's own job
  * groups are left alone), and this listener folds every job and task
  * under that tag.
  */
final class JobListener extends SparkListener {
  final class Job(val id: Int, val tag: String, val start: Long) {
    @volatile var end: Long = -1L
    var tasks = 0L
    var runMs = 0L
    var gcMs = 0L
    var inputBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
  }

  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  @volatile var sentinelSeen = false

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq).getOrElse(Nil)
    tags.find(_.startsWith("gb:")).foreach { t =>
      val j = new Job(e.jobId, t, e.time)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, j))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = stageJob.get(e.stageId)
    if (j != null && e.taskMetrics != null) j.synchronized {
      val m = e.taskMetrics
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.gcMs += m.jvmGCTime
      j.inputBytes += m.inputMetrics.bytesRead
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = jobs.get(e.jobId)
    if (j != null) {
      j.end = e.time
      if (j.tag == JobListener.Sentinel) sentinelSeen = true
    }
  }

  /** Block until every event posted so far has reached this listener:
    * run one tagged job and wait for its end event, which the bus
    * delivers after everything queued before it.
    */
  def drain(sc: SparkContext): Unit = {
    sc.addJobTag(JobListener.Sentinel)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.removeJobTag(JobListener.Sentinel)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!sentinelSeen && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def jobsOf(tag: String): Seq[Job] =
    jobs.values.asScala.filter(_.tag == tag).toSeq.sortBy(_.id)
}

object JobListener {
  val Sentinel = "gb:drain"
}

/** In-memory spans: name, start, end, parent; the spans of one request
  * share its id. Times are epoch milliseconds so Spark's job events line
  * up with the benchmark's own spans.
  */
final class Spans {
  case class Span(id: Int, request: String, name: String, parent: Int, start: Double, end: Double)

  private val origin = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  val all = ArrayBuffer.empty[Span]

  def now(): Double = origin + (System.nanoTime() - nano0) / 1e6

  def add(request: String, name: String, parent: Int, start: Double, end: Double): Int =
    synchronized {
      val id = all.size + 1
      all += Span(id, request, name, parent, start, end)
      id
    }

  /** Self time per span name: a span's duration minus the part of its
    * interval that its children cover.
    */
  def selfTimes: Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val iv = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0.0
        var curA = Double.NaN
        var curB = Double.NaN
        iv.foreach { case (a, b) =>
          if (curA.isNaN) { curA = a; curB = b }
          else if (a <= curB) curB = math.max(curB, b)
          else { covered += curB - curA; curA = a; curB = b }
        }
        if (!curA.isNaN) covered += curB - curA
        (s.end - s.start) - covered
      }.sum
    }
  }

  def toJson: String = {
    def q(s: String) = "\"" + s.replace("\"", "'") + "\""
    all.map(s =>
      s"""{"id": ${s.id}, "request": ${q(s.request)}, "name": ${q(s.name)}, "parent": ${s.parent}, "start_ms": ${"%.3f".format(s.start)}, "end_ms": ${"%.3f".format(s.end)}}""")
      .mkString("[\n", ",\n", "\n]\n")
  }
}
