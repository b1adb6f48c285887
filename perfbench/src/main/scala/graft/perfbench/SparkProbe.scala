package graft.perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The `spark` layer, observed through the public listener API: job spans
  * (with the long call site of the job's first stage, which names the graft
  * function that ran it, and the bench span that submitted it) and task
  * metrics summed per stage. Registered only for traced repetitions.
  */
final class SparkProbe extends SparkListener {
  import SparkProbe._

  final case class Job(id: Int, start: Long, end: Long, site: String, parent: Int, stages: Seq[Int])

  private val starts = TrieMap.empty[Int, Job]
  private val jobs = TrieMap.empty[Int, Job]
  private val stages = TrieMap.empty[Int, Array[Long]]
  private val started = new AtomicInteger

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    started.incrementAndGet()
    val site = e.stageInfos.sortBy(_.stageId).headOption.map(_.details).getOrElse("")
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).fold(0)(_.toInt)
    starts.put(e.jobId, Job(e.jobId, e.time, 0L, site, parent, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    starts.remove(e.jobId).foreach(j => jobs.put(j.id, j.copy(end = e.time)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val v = Array[Long](1L, if (e.taskInfo.successful) 0L else 1L,
      if (m == null) 0L else m.executorRunTime * 1000000L,
      if (m == null) 0L else m.executorCpuTime,
      if (m == null) 0L else m.jvmGCTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled)
    val acc = stages.getOrElseUpdate(e.stageId, new Array[Long](Fields))
    acc.synchronized { var i = 0; while (i < Fields) { acc(i) += v(i); i += 1 } }
  }

  /** Wait (bounded) until every started job's end event has been delivered. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    Thread.sleep(50)
    while ((jobs.size < started.get || starts.nonEmpty) && System.nanoTime() < deadline) Thread.sleep(10)
  }

  def jobList: Seq[Job] = jobs.values.toSeq.sortBy(_.id)

  /** Seconds of the union of job spans whose call site matches `p`. */
  def jobSeconds(p: String => Boolean): Double =
    Trace.unionNs(jobList.filter(j => p(j.site)).map(j => (j.start * 1000000L, j.end * 1000000L))) / 1e9

  /** Task-metric totals over the stages of `js`: tasks, failed tasks, run ns,
    * CPU ns, GC ms, shuffle write bytes, shuffle read bytes, spill bytes. */
  def totals(js: Seq[Job]): Array[Long] = {
    val out = new Array[Long](Fields)
    js.flatMap(_.stages).distinct.flatMap(stages.get).foreach(a => a.synchronized {
      var i = 0; while (i < Fields) { out(i) += a(i); i += 1 }
    })
    out
  }
}

object SparkProbe {
  val SpanKey = "perfbench.span"
  private val Fields = 8

  def attach(spark: SparkSession, trace: Trace): SparkProbe = {
    val p = new SparkProbe
    val sc = spark.sparkContext
    trace.onSwitch = id => sc.setLocalProperty(SpanKey, if (id == 0) null else id.toString)
    sc.addSparkListener(p)
    p
  }

  def detach(spark: SparkSession, trace: Trace, p: SparkProbe): Unit = {
    p.drain()
    spark.sparkContext.removeSparkListener(p)
    trace.onSwitch = _ => ()
    spark.sparkContext.setLocalProperty(SpanKey, null)
    p.jobList.foreach(j => trace.addEpochSpan("spark.job", j.parent, j.start, j.end))
  }

  /** Bytes held by persisted RDDs and cached frames right now. */
  def persistBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}
