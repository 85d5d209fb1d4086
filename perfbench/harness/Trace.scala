package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. Times are epoch milliseconds with
  * sub-millisecond fractions, so they line up with listener job times. */
final case class Span(id: Long, parent: Long, req: Long, name: String,
    layer: String, start: Double, end: Double, gcMs: Long) {
  def ms: Double = end - start
}

/** Spark work observed for one job, summed over its tasks. */
final class JobRec(val group: String, val start: Long) {
  @volatile var end: Long = -1L
  val tasks = new AtomicLong
  val cpuNs = new AtomicLong
  val inputRows = new AtomicLong
  val shuffleBytes = new AtomicLong
  val resultBytes = new AtomicLong
  val schedDelayMs = new AtomicLong
}

/** Collects job, stage and task metrics keyed by the job group the tracer
  * sets around each call. */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Trace.JobGroupKey))).getOrElse("")
    val rec = new JobRec(g, e.time)
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(s => stageJob.put(s, rec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { rec =>
      rec.tasks.incrementAndGet()
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) {
        rec.cpuNs.addAndGet(m.executorCpuTime)
        rec.inputRows.addAndGet(m.inputMetrics.recordsRead)
        rec.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten)
        rec.resultBytes.addAndGet(m.resultSize)
        if (info != null) {
          val busy = m.executorRunTime + m.executorDeserializeTime +
            m.resultSerializationTime + info.gettingResultTime
          rec.schedDelayMs.addAndGet(math.max(0L, info.duration - busy))
        }
      }
    }

  def byGroup: Map[String, Seq[JobRec]] =
    jobs.values().asScala.toSeq.groupBy(_.group)
}

/** In-memory span recorder. When disabled, [[span]] only runs its body: the
  * untraced runs that give the end-to-end numbers pay nothing for it. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  val listener = new JobListener
  if (enabled) sc.addSparkListener(listener)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  def gcMillis: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  def span[T](name: String, layer: String, req: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      val prevGroup = sc.getLocalProperty(Trace.JobGroupKey)
      sc.setJobGroup(s"pb$id", name)
      stack.set(id :: outer)
      val gc0 = gcMillis
      val t0 = System.nanoTime()
      val wall0 = System.currentTimeMillis().toDouble
      try body
      finally {
        val ms = (System.nanoTime() - t0) / 1e6
        spans.add(Span(id, outer.headOption.getOrElse(0L), req, name, layer,
          wall0, wall0 + ms, gcMillis - gc0))
        stack.set(outer)
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, "")
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  /** Jobs started under a span's own job group. */
  def jobsOf(s: Span, groups: Map[String, Seq[JobRec]]): Seq[JobRec] =
    groups.getOrElse(s"pb${s.id}", Nil)

  /** Block until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchShim.drain(sc)
}

object Trace {
  /** Spark's local-property key for the job group. */
  val JobGroupKey = "spark.jobGroup.id"

  /** Length of the union of [lo, hi] intervals, clipped to [from, to]. */
  def covered(iv: Seq[(Double, Double)], from: Double, to: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    for ((a, b) <- clipped) {
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Self time of each span: its duration minus the part of it that its
    * child spans cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.ms - covered(ch, s.start, s.end))
    }.toMap
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
