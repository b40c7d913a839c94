package perfbench

import scala.collection.mutable
import graft.kernel.{Extract, SearchKernels}
import graft.spark.{ExtractJob, Schemas}

/** Per-layer metrics of a traced run, computed from the spans, the jobs the
  * listener saw and single-threaded kernel timings.
  */
object Layers {

  private def s(ns: Long): Double = ns / 1e9

  /** Jobs attached to the span open when they started, per op span. */
  final case class OpTrace(op: Span, inner: Seq[Span], jobs: Seq[JobRec])

  def opTraces(spans: Seq[Span], jobs: Seq[JobRec]): Seq[OpTrace] = {
    val children = spans.groupBy(_.parent)
    def below(id: Int): Seq[Span] = children.getOrElse(id, Nil).flatMap(c => c +: below(c.id))
    spans.filter(_.layer == "op").map { op =>
      val inner = below(op.id)
      val ids = (inner.map(_.id) :+ op.id).toSet
      val owned = jobs.filter(j => Analysis.owner(op +: inner, j.start).exists(o => ids(o.id)))
      OpTrace(op, inner, owned)
    }
  }

  private def jobIv(js: Seq[JobRec]) = js.map(j => (j.start, j.end))

  /** Self time per layer (span minus its child spans and its own jobs), the
    * op time no span or job explains, and the Spark-job time, all per op.
    * The spans are the benchmark's own, opened around each call into a
    * layer, so the unexplained time only covers the gaps between them (the
    * op span directly wraps one layer span); time inside a layer call that
    * no Spark job covers is that layer's self time.
    */
  def selfTimes(ops: Seq[OpTrace], jobs: Seq[JobRec], spans: Seq[Span]): Map[String, Double] = {
    val n = math.max(1, ops.size).toDouble
    val byLayer = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    var unexplained = 0.0
    var spark = 0.0
    for (t <- ops) {
      val all = t.op +: t.inner
      for (sp <- t.inner) {
        val kids = t.inner.filter(_.parent == sp.id).map(c => (c.start, c.end)) ++
          jobIv(t.jobs.filter(j => Analysis.owner(all, j.start).exists(_.id == sp.id)))
        byLayer(sp.layer) += s(sp.end - sp.start - Analysis.covered(Analysis.clip(kids, sp.start, sp.end)))
      }
      val everything = t.inner.map(c => (c.start, c.end)) ++ jobIv(t.jobs)
      unexplained += s(t.op.end - t.op.start -
        Analysis.covered(Analysis.clip(everything, t.op.start, t.op.end)))
      spark += s(Analysis.covered(Analysis.clip(jobIv(t.jobs), t.op.start, t.op.end)))
    }
    byLayer.map { case (l, secs) => s"self.${l}_s" -> secs / n }.toMap ++
      Map("self.spark_s" -> spark / n, "trace.unexplained_s" -> unexplained / n,
        "trace.spans" -> (spans.size + jobs.size).toDouble)
  }

  /** Task skew and bytes per exchange, medians over ops. */
  def exchange(ops: Seq[OpTrace], tasks: Seq[TaskRec]): Map[String, Double] = {
    val byStage = tasks.groupBy(_.stageId)
    val perOp = ops.map { t =>
      val stages = t.jobs.flatMap(_.stageIds).distinct.flatMap(byStage.get)
      val skew = if (stages.isEmpty) 1.0 else {
        val longest = stages.maxBy(_.map(_.durMs).sum)
        val d = longest.map(_.durMs.toDouble)
        d.max / math.max(1.0, Util.median(d))
      }
      val shuffles = stages.map(_.map(_.shuffleWrite).sum).filter(_ > 0)
      (skew, if (shuffles.isEmpty) 0.0 else shuffles.max / 1e6, shuffles.size.toDouble)
    }
    def med(f: ((Double, Double, Double)) => Double) =
      if (perOp.isEmpty) 0.0 else Util.median(perOp.map(f))
    Map("task.skew" -> med(_._1), "exchange.shuffle_mb" -> med(_._2),
      "exchange.count" -> med(_._3))
  }

  private val ExtractFrame = "graft\\.spark\\.ExtractJob\\$\\.(\\w+)\\(ExtractJob\\.scala:(\\d+)\\)".r

  /** The innermost `ExtractJob` frame of a job's call stack, if any. */
  def extractFrame(j: JobRec): Option[(String, Int)] =
    ExtractFrame.findFirstMatchIn(j.stack).map(m => (m.group(1), m.group(2).toInt))

  /** `ExtractJob.run` stages, per op, from each job's innermost ExtractJob
    * frame. run() writes the staged files with its first action and the
    * lineage rows with its last, so of the jobs run() itself starts the
    * lowest line is the write and the highest the lineage. Jobs started in
    * its resume helpers, plus the driver time before the first job, are the
    * resume. `job.driver_s` is the time in the scope no Spark job covers.
    */
  def jobLayer(scopes: Seq[(Long, Long, Seq[JobRec])]): Map[String, Double] = {
    val per = scopes.map { case (start, end, js) =>
      val frames = js.map(j => j -> extractFrame(j))
      val runLines = frames.collect { case (_, Some(("run", l))) => l }.distinct.sorted
      def dur(f: Option[(String, Int)] => Boolean) =
        s(Analysis.covered(jobIv(frames.filter(x => f(x._2)).map(_._1))))
      val write = if (runLines.isEmpty) 0.0 else dur(_.contains(("run", runLines.head)))
      val lineage = if (runLines.size < 2) 0.0 else dur(_.contains(("run", runLines.last)))
      val firstJob = if (js.isEmpty) end else js.map(_.start).min
      val resume = s(firstJob - start) + dur(f => !f.exists(_._1 == "run"))
      val driver = s(end - start - Analysis.covered(Analysis.clip(jobIv(js), start, end)))
      Seq(js.size.toDouble, write, lineage, resume, driver)
    }
    val names = Seq("job.jobs", "job.write_s", "job.lineage_s", "job.resume_s", "job.driver_s")
    names.zipWithIndex.map { case (n, i) =>
      n -> (if (per.isEmpty) 0.0 else Util.median(per.map(_(i))))
    }.toMap
  }

  /** Single-thread kernel rates from the oracle's per-page timings. */
  def kernel(oracle: Seq[Check.Oracle]): Map[String, Double] = {
    def of(kind: String) = oracle.filter(_.kind == kind)
    def mbPerS(xs: Seq[Check.Oracle]) =
      if (xs.isEmpty) 0.0 else xs.map(_.bytes).sum / 1e6 / s(xs.map(_.nanos).sum)
    val scanned = of(Extract.KindPdfScanned)
    Map(
      "kernel.html.mb_per_s" -> mbPerS(of(Extract.KindHtml)),
      "kernel.pdf_digital.mb_per_s" -> mbPerS(of(Extract.KindPdfDigital)),
      "kernel.pdf_scanned.us_per_page" ->
        (if (scanned.isEmpty) 0.0 else scanned.map(_.nanos).sum / 1e3 / scanned.size))
  }

  /** Single-thread `docMatches` cost per document for each search field,
    * over up to 150 of the workload's oracle texts.
    */
  def searchKernel(texts: Seq[String], ids: IndexedSeq[Long], seed: Long): Map[String, Double] = {
    val sample = texts.take(150)
    val r = new java.util.SplittableRandom(seed)
    Seq("vin", "contract", "claim", "dealer", "any").map { f =>
      val q = Gen.query(f, ids, r)
      sample.foreach(SearchKernels.docMatches(_, q)) // warm the field's code path
      val t0 = System.nanoTime()
      sample.foreach(SearchKernels.docMatches(_, q))
      s"searchkernel.$f.us_per_doc" -> (System.nanoTime() - t0) / 1e3 / math.max(1, sample.size)
    }.toMap
  }

  /** Noop-sink scan of `pagesPath`, then `extractDF` to a noop sink, medians
    * of three; the overhead is what remains after the kernel's CPU seconds
    * spread over the Spark threads.
    */
  def operator(ctx: Ctx, pagesPath: String, kernelCpuS: Double): Map[String, Double] = {
    val spark = ctx.spark
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val scan = Harness.medianSecs(3)(noop(Gen.read(spark, pagesPath).toDF()))
    val extract = Harness.medianSecs(3)(
      noop(ExtractJob.extractDF(Gen.read(spark, pagesPath), ctx.buckets)))
    Map("operator.scan_floor_s" -> scan, "operator.extract_s" -> extract,
      "operator.overhead_s" -> (extract - kernelCpuS / ctx.threads))
  }

  /** Every layer metric name, so each traced run reports all of them; a
    * layer a workload never enters reads 0.
    */
  val Names: Seq[String] = Seq(
    "kernel.html.mb_per_s", "kernel.pdf_digital.mb_per_s", "kernel.pdf_scanned.us_per_page",
    "kernel.cpu_s", "kernel.share",
    "searchkernel.vin.us_per_doc", "searchkernel.contract.us_per_doc",
    "searchkernel.claim.us_per_doc", "searchkernel.dealer.us_per_doc",
    "searchkernel.any.us_per_doc",
    "operator.scan_floor_s", "operator.extract_s", "operator.overhead_s",
    "job.jobs", "job.write_s", "job.lineage_s", "job.resume_s", "job.driver_s",
    "table.segments", "table.files", "table.current_ms", "table.meta_ms", "table.plan_ms",
    "pipeline.jobs", "pipeline.extract_s", "pipeline.dedup_s", "pipeline.driver_gap_s",
    "pipeline.shuffle_mb", "pipeline.resume_useful", "pipeline.dedup_useful",
    "search.plan_ms", "search.scan_mb", "search.files_read", "search.match_frac",
    "task.skew", "exchange.shuffle_mb", "exchange.count",
    "self.job_s", "self.pipeline_s", "self.search_s", "self.table_s", "self.spark_s",
    "trace.unexplained_s", "trace.spans", "trace.overhead_frac",
    "leak.rdd_blocks", "leak.broadcasts", "leak.persisted_rdds")

  def complete(m: Map[String, Double]): Map[String, Double] = {
    val unknown = m.keySet -- Names
    require(unknown.isEmpty, s"unlisted layer metrics: $unknown")
    Names.map(n => n -> m.getOrElse(n, 0.0)).toMap
  }

  /** Spans and jobs of a traced run as JSON, for offline inspection. */
  def spansJson(spans: Seq[Span], jobs: Seq[JobRec]): String = {
    val sp = spans.map(x => Map("id" -> x.id, "parent" -> x.parent, "name" -> x.name,
      "layer" -> x.layer, "start_ns" -> x.start, "end_ns" -> x.end))
    val js = jobs.map { j =>
      val owner = Analysis.owner(spans, j.start).map(_.id).getOrElse(0)
      Map("job" -> j.jobId, "parent" -> owner, "call_site" -> j.callSite,
        "extract_frame" -> Layers.extractFrame(j).map { case (m, l) => s"$m:$l" },
        "start_ns" -> j.start, "end_ns" -> j.end, "ok" -> j.succeeded)
    }
    Util.json(Map("spans" -> sp, "jobs" -> js))
  }
}
