package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import org.apache.spark.sql.SparkSession

/** Benchmark entry point (one workload per JVM):
  *
  * {{{
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                --nproc P --work DIR --trace-out FILE
  *                --source SHA --git-sha SHA
  * }}}
  *
  * Prints a context line, then as its last line one JSON object with
  * `correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
  * untraced, the per-layer metrics traced. Spark runs `local[P]`.
  */
object Main {

  val E2eUnits: Seq[(String, String)] = Seq("setup_s" -> "s", "op_p50_ms" -> "ms",
    "op_tail_ms" -> "ms", "docs_per_s" -> "1/s", "shuffle_mb" -> "MB", "stored_mb" -> "MB",
    "mem_peak_mb" -> "MB")

  /** Unit of a per-layer metric, from its name. */
  def layerUnit(name: String): String =
    if (name.endsWith("mb_per_s")) "MB/s"
    else if (name.endsWith("us_per_page") || name.endsWith("us_per_doc")) "us"
    else if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("_s")) "s"
    else if (name.endsWith("_mb")) "MB"
    else if (Seq("share", "useful", "frac", "skew").exists(name.endsWith)) "ratio"
    else "count"

  private def arg(args: Array[String], key: String): String = {
    val i = args.indexOf(s"--$key")
    require(i >= 0 && i + 1 < args.length, s"missing --$key")
    args(i + 1)
  }

  def session(threads: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val t0 = System.nanoTime()
  private def phase(what: String): Unit =
    System.err.println(f"perfbench: ${(System.nanoTime() - t0) / 1e9}%7.2f s  $what")

  def main(args: Array[String]): Unit =
    try run(args)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1) // the shutdown hook stops Spark; no result is printed
    }

  private def run(args: Array[String]): Unit = {
    val name = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val threads = arg(args, "nproc").toInt
    val nproc = Runtime.getRuntime.availableProcessors
    val work = new File(arg(args, "work")).getAbsolutePath
    require(seconds > 0, "--seconds must be positive")
    require(threads >= 1 && threads <= nproc, s"refusing $threads Spark threads on $nproc cores")

    val w = Workload(name)
    phase("jvm up")
    val spark = session(threads, work)
    val rec = new Recorder(keepDetail = false)
    spark.sparkContext.addSparkListener(rec)
    val tracer = new Tracer(enabled = false)
    val ctx = Ctx(spark, work, seed, threads, traced, rec, tracer)

    phase("session up")
    val (setupS, setupAll) = Harness.timedSetup(Workload.SetupReps)(r => w.setup(ctx, r))
    phase("set-up done")
    w.prepare(ctx)
    phase("prepared")

    // a traced run measures half its window untraced, for the tracing overhead
    val plainSeconds = if (traced) seconds / 2 else seconds
    val (plain, plainChecks) = Harness.closedLoop(ctx, plainSeconds, name)((i, t) => w.op(ctx, i, t))
    val (tracedSamples, tracedChecks) =
      if (!traced) (Seq.empty[Sample], Seq.empty[() => Boolean])
      else {
        tracer.enabled = true
        rec.keepDetail = true
        try Harness.closedLoop(ctx, seconds / 2, name)((i, t) => w.op(ctx, plain.size + i, t))
        finally { tracer.enabled = false; rec.keepDetail = false }
      }
    val sc = spark.sparkContext
    org.apache.spark.PerfbenchShim.drainListeners(sc)
    val (rddBlocks, broadcasts) = org.apache.spark.PerfbenchShim.heldBlocks()
    val persisted = sc.getPersistentRDDs.size

    val samples = plain ++ tracedSamples
    val checks = plainChecks ++ tracedChecks
    phase("measured")
    val finalOk = w.finalCheck(ctx)
    val opFailed = checks.count(c => !c())
    val failed = if (finalOk) opFailed else samples.size
    val gateOk = w.checkerOk.contains(true)
    phase("checked")
    val (e2e, tailInfo) = Harness.e2e(setupS, plain, w.storedBytes(ctx))

    val metrics: Seq[(String, Double, String)] =
      if (!traced) E2eUnits.map { case (n, u) => (n, e2e(n), u) }
      else {
        val spans = tracer.spans
        val jobs = rec.jobs.toSeq
        val ops = Layers.opTraces(spans, jobs)
        val overhead = Util.median(tracedSamples.map(_.ms)) / Util.median(plain.map(_.ms)) - 1.0
        val m = w.layers(ctx, tracedSamples, ops) ++ Layers.selfTimes(ops, jobs, spans) ++
          Layers.exchange(ops, rec.tasks.toSeq) ++ Map(
            "trace.overhead_frac" -> overhead,
            "leak.rdd_blocks" -> rddBlocks.toDouble,
            "leak.broadcasts" -> broadcasts.toDouble,
            "leak.persisted_rdds" -> persisted.toDouble)
        val out = new File(arg(args, "trace-out"))
        out.getParentFile.mkdirs()
        Files.write(out.toPath, Layers.spansJson(spans, jobs).getBytes(StandardCharsets.UTF_8))
        Layers.complete(m).toSeq.sortBy(_._1).map { case (n, v) => (n, v, layerUnit(n)) }
      }

    val context = Map(
      "workload" -> name, "seed" -> seed, "traced" -> traced, "nproc" -> nproc,
      "spark_threads" -> threads, "git_sha" -> arg(args, "git-sha"),
      "source_sha" -> arg(args, "source"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576L,
      "input_pages" -> w.inputPages, "input_mb" -> w.inputBytes / 1e6,
      "setup_reps_s" -> setupAll, "checker_self_test" -> gateOk,
      "ops_failed_frac" -> failed.toDouble / samples.size,
      "spark_version" -> spark.version) ++ tailInfo
    phase("done")
    println(Util.json(Map("context" -> context)))
    spark.stop()
    println(Util.json(scala.collection.immutable.ListMap(
      "correct" -> (gateOk && failed == 0),
      "attempted" -> samples.size,
      "failed" -> failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics.map { case (n, v, u) =>
        n -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u) }: _*))))
  }
}
