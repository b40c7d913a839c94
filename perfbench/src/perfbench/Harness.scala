package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import graft.spark.SnapshotLog

/** What every workload gets: the session, its scratch directory, the seed,
  * the Spark thread count, whether the run is traced, the listener and the
  * span recorder.
  */
final case class Ctx(spark: SparkSession, work: String, seed: Long, threads: Int,
    traced: Boolean, rec: Recorder, tracer: Tracer) {
  /** Bucket count for extract jobs: the value `graft.Bench` uses per core. */
  def buckets: Int = threads * 4
  /** Threads for the extract oracle: one where its per-page times feed the
    * kernel metrics (traced runs), all otherwise.
    */
  def oracleThreads: Int = if (traced) 1 else threads
  def dir(rel: String): String = s"$work/$rel"
}

/** One timed operation of a closed loop. */
final case class Sample(ms: Double, c: Counters, docs: Long, start: Long, end: Long)

/** Times the part of an operation the user waits for; a workload calls it
  * once per operation and checks the output outside it.
  */
final class Timer(ctx: Ctx, opName: String) {
  var sample: Sample = _
  def apply[T](docs: Long)(body: => T): T = {
    val sc = ctx.spark.sparkContext
    val before = ctx.rec.snapshot(sc)
    ctx.rec.resetPeak()
    val start = Clock.now()
    val t0 = System.nanoTime()
    try ctx.tracer.span(opName, "op")(body)
    finally {
      val ns = System.nanoTime() - t0
      sample = Sample(ns / 1e6, ctx.rec.snapshot(sc) - before, docs, start, Clock.now())
    }
  }
}

object Harness {

  /** Closed loop with one client: the next operation starts when the last
    * one returns, until `seconds` have passed (at least one operation).
    * Each operation returns a deferred output check, run after the loop so
    * checking never eats into the measured window.
    */
  def closedLoop(ctx: Ctx, seconds: Double, opName: String)(
      op: (Int, Timer) => (() => Boolean)): (Seq[Sample], Seq[() => Boolean]) = {
    val samples = mutable.ArrayBuffer.empty[Sample]
    val checks = mutable.ArrayBuffer.empty[() => Boolean]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i == 0 || System.nanoTime() < deadline) {
      val t = new Timer(ctx, opName)
      checks += op(i, t)
      require(t.sample != null, s"$opName $i was never timed")
      samples += t.sample
      i += 1
    }
    (samples.toSeq, checks.toSeq)
  }

  /** Set up `reps` times; returns the median seconds. The state of the last
    * repetition is the one measured.
    */
  def timedSetup(reps: Int)(body: Int => Unit): (Double, Seq[Double]) = {
    val secs = (0 until reps).map { r =>
      val t0 = System.nanoTime()
      body(r)
      (System.nanoTime() - t0) / 1e9
    }
    (Util.median(secs), secs)
  }

  /** The end-to-end metrics shared by all workloads. `mem_peak_mb` moves in
    * steps of Spark's memory page, whose size follows from the (fixed) heap.
    */
  def e2e(setupS: Double, samples: Seq[Sample], storedBytes: Long): (Map[String, Double], Map[String, Any]) = {
    val ms = samples.map(_.ms)
    val (tailMs, tailRule) = Util.tail(ms)
    val metrics = Map(
      "setup_s" -> setupS,
      "op_p50_ms" -> Util.median(ms),
      "op_tail_ms" -> tailMs,
      "docs_per_s" -> samples.map(_.docs).sum / (ms.sum / 1000.0),
      "shuffle_mb" -> Util.median(samples.map(_.c.shuffleWrite / 1e6)),
      "stored_mb" -> storedBytes / 1e6,
      "mem_peak_mb" -> samples.map(_.c.peakMem).max / 1e6)
    (metrics, Map("ops" -> samples.size, "tail_rule" -> tailRule,
      "op_ms" -> ms.map(x => math.round(x * 10) / 10.0)))
  }

  /** Manifest-level facts and timings of a table's current snapshot:
    * (segments, files, currentSnapshot ms, metaAt ms, scan planning ms).
    */
  def tableProbe(ctx: Ctx, dir: String, schema: StructType): Seq[Double] = {
    val t = ctx.tracer
    val log = new SnapshotLog(dir)
    def ms[T](name: String)(b: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = t.span(name, "table")(b)
      (r, (System.nanoTime() - t0) / 1e6)
    }
    val (cur, curMs) = ms("SnapshotLog.currentSnapshot")(log.currentSnapshot())
    val id = cur.getOrElse(sys.error(s"table $dir has no snapshot"))
    val (meta, metaMs) = ms("SnapshotLog.metaAt")(log.metaAt(id))
    val (_, planMs) = ms("SnapshotLog.scan.plan")(
      log.scan(ctx.spark, schema, Some(id)).queryExecution.executedPlan)
    val manifest = new java.io.File(s"$dir/meta/snap-$id.txt")
    val segments = scala.io.Source.fromFile(manifest, "UTF-8")
    val nSeg = try segments.getLines().count(_.startsWith("manifest\t")) finally segments.close()
    Seq(nSeg.toDouble, meta.size.toDouble, curMs, metaMs, planMs)
  }

  /** Per-layer table metrics: medians of the probes, element-wise. */
  def tableLayer(probes: Seq[Seq[Double]]): Map[String, Double] = {
    val names = Seq("table.segments", "table.files", "table.current_ms", "table.meta_ms",
      "table.plan_ms")
    if (probes.isEmpty) names.map(_ -> 0.0).toMap
    else names.zipWithIndex.map { case (n, i) => n -> Util.median(probes.map(_(i))) }.toMap
  }

  /** Median seconds of `reps` runs of `body`. */
  def medianSecs(reps: Int)(body: => Unit): Double =
    Util.median((0 until reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    })
}
