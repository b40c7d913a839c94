package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Wall clock in epoch nanoseconds: monotonic within the run and on the same
  * scale as the millisecond times Spark stamps on job events.
  */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  def now(): Long = baseEpochNs + (System.nanoTime() - baseNano)
}

/** One traced interval. `layer` is the engine module the call enters. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    start: Long, end: Long)

/** Spans recorded by the benchmark around each call into a layer. They stay
  * in memory until the run ends. Disabled, [[span]] only runs its body.
  */
final class Tracer(@volatile var enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[(Int, String, String, Long)] = Nil
  private var nextId = 1

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(0)
      open = (id, name, layer, Clock.now()) :: open
      try body
      finally {
        val (_, _, _, start) = open.head
        open = open.tail
        done += Span(id, parent, name, layer, start, Clock.now())
      }
    }

  def spans: Seq[Span] = done.toSeq.sortBy(_.start)
}

/** Per-task facts kept for traced runs. */
final case class TaskRec(stageId: Int, durMs: Long, shuffleWrite: Long)

/** One Spark job as the listener saw it. `callSite` is the short form of
  * the user call that ran it (`parquet at ExtractJob.scala:164`), `stack`
  * the long form.
  */
final case class JobRec(jobId: Int, start: Long, end: Long, callSite: String,
    stack: String, stageIds: Seq[Int], succeeded: Boolean)

/** The benchmark's SparkListener. Always on: cumulative shuffle, input and
  * peak-memory counters plus the files-read SQL metric, read as deltas
  * around each operation. Traced runs also keep every job and task so jobs
  * can be attached to the span open when they started.
  */
final class Recorder(@volatile var keepDetail: Boolean) extends SparkListener {
  @volatile var shuffleWrite = 0L
  @volatile var inputBytes = 0L
  @volatile var peakMem = 0L
  @volatile var filesRead = 0L
  private val filesReadAccs = mutable.HashSet.empty[Long]
  private val starts = mutable.HashMap.empty[Int, (Long, (String, String), Seq[Int])]
  private val sqlSites = mutable.HashMap.empty[Long, (String, String)]
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]

  /** Reset the running maximum of task peak execution memory. */
  def resetPeak(): Unit = peakMem = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // SQL jobs carry their execution's call site (adaptive stages are
    // submitted from a pool thread, so their own stage names say nothing);
    // other jobs are named by the call site of their final stage
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    val site = exec.flatMap(id => sqlSites.get(id.toLong)).getOrElse {
      if (e.stageInfos.isEmpty) ("?", "")
      else { val st = e.stageInfos.maxBy(_.stageId); (st.name, st.details) }
    }
    starts(e.jobId) = (e.time, site, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    starts.remove(e.jobId).filter(_ => keepDetail).foreach { case (t, site, stages) =>
      // Spark stamps milliseconds: place the job mid-millisecond
      jobs += JobRec(e.jobId, t * 1000000L + 500000L, e.time * 1000000L + 500000L, site._1, site._2, stages,
        e.jobResult == JobSucceeded)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      inputBytes += m.inputMetrics.bytesRead
      peakMem = math.max(peakMem, m.peakExecutionMemory)
      if (keepDetail) tasks += TaskRec(e.stageId, e.taskInfo.duration,
        m.shuffleWriteMetrics.bytesWritten)
    }
  }

  private def register(plan: SparkPlanInfo): Unit = {
    plan.metrics.foreach(mi => if (mi.name == "number of files read") filesReadAccs += mi.accumulatorId)
    plan.children.foreach(register)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        sqlSites(s.executionId) = (s.description, s.details)
        register(s.sparkPlanInfo)
      case a: SparkListenerSQLAdaptiveExecutionUpdate => register(a.sparkPlanInfo)
      case d: SparkListenerDriverAccumUpdates =>
        d.accumUpdates.foreach { case (id, v) => if (filesReadAccs.contains(id)) filesRead += v }
      case _ => ()
    }
  }

  /** A consistent copy of the cumulative counters, after every posted event
    * has been delivered.
    */
  def snapshot(sc: SparkContext): Counters = {
    org.apache.spark.PerfbenchShim.drainListeners(sc)
    synchronized(Counters(shuffleWrite, inputBytes, peakMem, filesRead))
  }
}

/** Listener totals; the difference of two keeps the later running peak. */
final case class Counters(shuffleWrite: Long, inputBytes: Long, peakMem: Long, filesRead: Long) {
  def -(o: Counters): Counters = Counters(shuffleWrite - o.shuffleWrite,
    inputBytes - o.inputBytes, peakMem, filesRead - o.filesRead)
}

/** Offline analysis of a traced run: attach jobs to spans, self time per
  * layer, and time no span explains.
  */
object Analysis {

  /** Total length of the union of intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Intervals clipped to [lo, hi]. */
  def clip(iv: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._2 > x._1)

  /** The deepest span open at time `t` (the span a job started under). */
  def owner(spans: Seq[Span], t: Long): Option[Span] = {
    val depth = mutable.HashMap.empty[Int, Int]
    val byId = spans.map(s => s.id -> s).toMap
    def d(s: Span): Int = depth.getOrElseUpdate(s.id,
      if (s.parent == 0) 0 else byId.get(s.parent).map(d).getOrElse(0) + 1)
    spans.filter(s => s.start <= t && t <= s.end).sortBy(s => -d(s)).headOption
  }
}
