package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.spark.{ManifestEntry, ManifestFileIndex, Pipelines, SnapshotLog}

/** Dev measurement runner, outside the driver contract (Bench, Verify,
  * SparkEntry): `graft.Probe <scenario> [args]`, e.g.
  * `sbt "runMain graft.Probe turn 10000 200"`. Every scenario shares the
  * session builder (Bench's), the timer, the listener and the scratch-dir
  * helper below, so two scenarios differ only in what they measure.
  *
  * Thread count: `SPARK_GRAFT_CPUS`, else every core this JVM may use. A
  * higher count is refused — an oversubscribed local[N] measures the OS
  * time-slicing threads, not the engine — and sweeps report the levels
  * above it as unmeasured.
  */
object Probe {

  private val scenarios: Seq[(String, String, Seq[String] => Unit)] = Seq(
    ("kernel", "", probe.Engine.kernel),
    ("operator", "[mult=400]  (2M docs, 28 GB; time grows with mult; mult=1: 25 s on 4 cores)", probe.Engine.operator),
    ("queries", "[sfDir=sf0.1] [runs=3] [name,...|all] [outDir]", probe.Engine.queries),
    ("turn", "[baseRows=400000] [batchRows=2000]", probe.Tables.turn),
    ("decay", "[baseRows=400000] [batchRows=2000] [turns=24]", probe.Tables.decay),
    ("resume", "", probe.Tables.resume),
    ("turn-steps", "", probe.Tables.turnSteps),
    ("manifest", "", probe.Tables.manifest),
    ("compact", "", probe.Tables.compact),
    ("plans", "[sfDir=sf0.01]", probe.Engine.plans),
    ("recall", "[sfDir=sf0.1]", probe.Engine.recall),
    ("components", "", probe.Engine.components),
    ("lsh", "[sfDir=sf0.1]", probe.Engine.lsh),
    ("stream", "", probe.Tables.stream))

  private val hostCores = Runtime.getRuntime.availableProcessors

  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(hostCores)(_.toInt)

  def main(args: Array[String]): Unit =
    scenarios.find(s => args.headOption.contains(s._1)) match {
      case None =>
        System.err.println("usage: graft.Probe <scenario> [args]   (threads: SPARK_GRAFT_CPUS)")
        scenarios.foreach { case (name, usage, _) =>
          System.err.println(f"  $name%-11s $usage".stripTrailing)
        }
        sys.exit(2)
      case Some(_) if cpus < 1 || cpus > hostCores =>
        System.err.println(s"SPARK_GRAFT_CPUS=$cpus: must be 1..$hostCores, " +
          "the cores this JVM may use")
        sys.exit(2)
      case Some((_, _, run)) => run(args.toSeq.drop(1))
    }

  /** A scale factor's directory of the generated test data (`sfDir` default). */
  def testData(sf: String): String = s"/root/testdata/$sf"

  /** A session with Bench's settings at `threads` local threads, stopped
    * when `body` returns.
    */
  def withSession[A](threads: Int = cpus)(body: SparkSession => A): A = {
    val spark = Bench.newSession(threads)
    try body(spark) finally spark.stop()
  }

  /** Thread-scaling levels; the host's own count is always one of them. */
  def sweep(measure: Int => Unit): Unit =
    (Seq(1, 4, 8, 16, 32) :+ cpus).distinct.sorted.foreach { n =>
      if (n <= cpus) measure(n) else println(f"level=$n%2d unmeasured (needs $n cores)")
    }

  /** Seconds of the timed runs; spread is max - min. */
  final case class Timing(secs: Seq[Double]) {
    private val sorted = secs.sorted
    def min: Double = sorted.head
    def median: Double = (sorted(sorted.length / 2) + sorted((sorted.length - 1) / 2)) / 2
    override def toString: String =
      f"min=$min%.3f s median=$median%.3f s spread=${sorted.last - min}%.3f s"
  }

  /** One untimed warm-up call (JIT, page cache), then `runs` timed calls;
    * returns their timing and the last call's result.
    */
  def timed[A](runs: Int = 3)(body: => A): (Timing, A) = {
    var last = body
    val secs = (1 to runs).map { _ =>
      val (s, r) = clock(body); last = r; s
    }
    (Timing(secs), last)
  }

  /** Seconds of ONE call, for operations that change the state they time
    * (a commit, a compaction, a stream turn) and so cannot be repeated.
    */
  def clock[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** The runner's one listener: jobs (with a line each), shuffle write bytes
    * and records, and the most tasks running at once. Read it only after
    * [[metered]] has drained the (asynchronous) listener bus.
    */
  final class Meter extends SparkListener {
    val jobs = new AtomicInteger
    val shuffleBytes = new AtomicLong
    val shuffleRecords = new AtomicLong
    val jobLines = new java.util.concurrent.ConcurrentLinkedQueue[String]
    private val started = new ConcurrentHashMap[Int, (Long, String)]
    private val taskSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]

    /** Most tasks running at once, each task spanning its launch time plus
      * its executor-side deserialize and run time. Counting TaskStart and
      * TaskEnd events, or using the driver's finishTime, overcounts: a freed
      * slot's next task launches before the driver has fetched the previous
      * task's result, which is when it posts TaskEnd and stamps finishTime.
      */
    def maxRunning: Int = {
      import scala.jdk.CollectionConverters._
      // at equal times a finish (-1) sorts before a launch (+1)
      val edges = taskSpans.asScala.toSeq.flatMap { case (a, b) => Seq((a, 1), (b, -1)) }.sorted
      edges.scanLeft(0)(_ + _._2).max
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val desc = prop("spark.job.description").getOrElse("") + " | " +
        prop("callSite.short").getOrElse("") + s" | stages=${e.stageInfos.size}:" +
        e.stageInfos.map(si => s"${si.numTasks}(${si.name.take(40)})").mkString(",")
      started.put(e.jobId, (System.nanoTime(), desc)): Unit
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(started.remove(e.jobId)).foreach { case (t0, desc) =>
        jobLines.add(f"job ${e.jobId}%3d ${(System.nanoTime() - t0) / 1e9}%7.3f s  $desc"): Unit
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(e.stageInfo.taskMetrics).foreach { m =>
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten): Unit
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        val t = e.taskInfo.launchTime
        taskSpans.add((t, t + m.executorDeserializeTime + m.executorRunTime)): Unit
      }
  }

  /** Run `body` under a fresh [[Meter]]; the bus is drained before the
    * meter is returned, so every event of `body`'s jobs is counted.
    */
  def metered[A](spark: SparkSession)(body: => A): (A, Meter) = {
    val meter = new Meter
    spark.sparkContext.addSparkListener(meter)
    try {
      val r = body
      GraftShim.drainListeners(spark.sparkContext)
      (r, meter)
    } finally spark.sparkContext.removeSparkListener(meter)
  }

  /** The processes this JVM starts while `body` runs (any thread), one
    * line each: the command and the frames that started it. Counted from a
    * JFR recording of `jdk.ProcessStart` events, so nothing is patched or
    * wrapped. The engine's local-disk I/O must start none (see GraftIo).
    * Spark's one start per JVM of its process-metrics getter is made first,
    * outside the recording. Left out: the `rm -rf` of a session's artifact
    * directory that Spark's `ArtifactManager` runs, from a
    * `java.lang.ref.Cleaner` thread, when an earlier session is
    * garbage-collected: it can land in any window and is never started on
    * behalf of `body`.
    */
  def processStarts[A](body: => A): (A, Seq[String]) = {
    GraftShim.initProcessMetrics()
    val rec = new jdk.jfr.Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      val r = try body finally rec.stop()
      val f = java.nio.file.Files.createTempFile("process-starts", ".jfr")
      try {
        rec.dump(f)
        val starts = jdk.jfr.consumer.RecordingFile.readAllEvents(f).asScala.toSeq.map { e =>
          (e.getString("command"), Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
            .map(fr => s"${fr.getMethod.getType.getName}.${fr.getMethod.getName}"))
        }
        (r, starts.filterNot(_._2.exists(_.startsWith(
            "org.apache.spark.sql.artifact.ArtifactManager")))
          .map { case (command, frames) =>
            val shown = frames
              .filterNot(f => f.startsWith("java.") || f.startsWith("org.apache.hadoop.util.Shell"))
              .take(4)
            s"$command <- ${shown.mkString(" <- ")}"
          })
      } finally java.nio.file.Files.deleteIfExists(f): Unit
    } finally rec.close()
  }

  /** A fresh scratch dir under target/probe (CWD-relative, like every sbt
    * runMain), deleted when `body` returns or throws.
    */
  def withTempDir[A](name: String)(body: String => A): A = {
    val parent = java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target", "probe"))
    val dir = java.nio.file.Files.createTempDirectory(parent, name)
    try body(dir.toAbsolutePath.toString) finally SparkEntry.deleteRecursively(dir.toFile)
  }

  /** Extracted-schema rows for ids [lo, hi), each with a distinct text. */
  def extractedRange(spark: SparkSession, lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(
      concat(lit("https://probe/"), col("id")).as("url"),
      (col("id") % 32).cast("int").as("bucket"),
      lit("html").as("kind"),
      array(concat(lit("probe text body "), col("id"))).as("pages"),
      concat(lit("probe text body "), col("id")).as("text"),
      (col("id") + 10L).as("n_bytes"),
      col("id").as("checksum"))

  /** The batch's distinct fp64 digests, sorted, derived through the SAME
    * fp/fp64 definition the dedup probe pushes (a hand-rolled MD5 copy would
    * silently diverge from fp64Of and fake the skipping numbers). Sorted
    * because distinct().collect() order depends on partition scheduling.
    */
  def fp64sOf(batch: DataFrame): IndexedSeq[Long] =
    batch.select(Pipelines.fp64Of(md5(col("text").cast("binary"))).as("fp64"))
      .distinct().collect().map(_.getLong(0)).sorted.toIndexedSeq

  /** An even-stride, deterministic sample of 16 digests. A plain take(16)
    * of the sorted digests picks range-ADJACENT ones, which overstates file
    * skipping on a range-clustered table.
    */
  def sample16(fp64s: IndexedSeq[Long]): Seq[Long] =
    fp64s.indices.by(math.max(1, fp64s.length / 16)).take(16).map(fp64s)

  /** (live files, files an `fp64 IN (fp64s)` probe plans) on the table's
    * current snapshot, through the ManifestFileIndex the scan itself uses.
    */
  def plannedFiles(dir: String, fp64s: Seq[Long]): (Int, Int) = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, In, Literal}
    val log = new SnapshotLog(dir)
    val meta = log.metaAt(log.currentSnapshot().get)
    val idx = new ManifestFileIndex(dir,
      meta.map(m => ManifestEntry(m.path, m.size, m.stats)))
    val fp64 = AttributeReference("fp64", org.apache.spark.sql.types.LongType)()
    (meta.size, idx.listFiles(Nil, Seq(In(fp64, fp64s.map(Literal(_))))).map(_.files.size).sum)
  }
}
