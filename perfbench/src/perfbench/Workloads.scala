package perfbench

import java.io.File
import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import graft.spark.{ExtractJob, Pipelines, Schemas, SearchJob, SnapshotLog, Synth}

/** A workload: set-up (repeated, timed), preparation outside timing (oracles,
  * warm-up), one closed-loop operation, and its per-layer metrics.
  */
trait Workload {
  /** Result of the checker's self-test, made on this workload's output. */
  var checkerOk: Option[Boolean] = None
  protected def checked(expected: Map[String, String], actual: Seq[(String, String)]): Boolean = {
    if (checkerOk.isEmpty) checkerOk = Some(Check.selfTest(expected, actual))
    Check.diff(expected, actual) == 0
  }
  def setup(ctx: Ctx, rep: Int): Unit
  def prepare(ctx: Ctx): Unit
  def op(ctx: Ctx, i: Int, t: Timer): () => Boolean
  /** Table bytes on disk per operation: the table an extract job writes,
    * what a turn adds to both tables, or the table a search reads.
    */
  def storedBytes(ctx: Ctx): Long
  /** A check of the state all operations left behind, run after the loop. */
  def finalCheck(ctx: Ctx): Boolean = true
  def inputPages: Long
  def inputBytes: Long
  /** Layer metrics particular to the workload, from its traced operations. */
  def layers(ctx: Ctx, traced: Seq[Sample], ops: Seq[Layers.OpTrace]): Map[String, Double]
}

object Workload {
  def apply(name: String): Workload = name match {
    case "extract_batch" => new ExtractBatch
    case "turn_incremental" => new TurnIncremental
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
  /** Set-up runs this often per run; `setup_s` is the median. */
  val SetupReps = 3

  private[perfbench] def collectPages(ctx: Ctx, path: String): Seq[Schemas.Page] =
    Gen.read(ctx.spark, path).collect().toSeq

  private[perfbench] def textsOf(df: DataFrame): Seq[(String, String)] =
    df.select("url", "text").collect().map(r => (r.getString(0), r.getString(1))).toSeq

  private[perfbench] def sizeOf(pages: Seq[Schemas.Page]): Long =
    pages.map(p => Option(p.html).map(_.length.toLong).getOrElse(0L) +
      Option(p.text).map(_.length.toLong).getOrElse(0L)).sum
}

/** One `ExtractJob.run` over a fresh table per operation: the kernel and the
  * operator do most of the work, the table layer almost none (one commit,
  * empty done set).
  */
final class ExtractBatch extends Workload {
  val Pages = 4000
  private var pages: org.apache.spark.sql.Dataset[Schemas.Page] = _
  private var oracle: Seq[Check.Oracle] = Nil
  private var expected: Map[String, String] = Map.empty
  private var bytes = 0L
  private val stored = mutable.ArrayBuffer.empty[Long]
  private val probes = mutable.ArrayBuffer.empty[Seq[Double]]
  private var search: Map[String, Double] = Map.empty

  def inputPages: Long = Pages
  def inputBytes: Long = bytes

  def setup(ctx: Ctx, rep: Int): Unit = {
    val base = Gen.baseId(ctx.seed)
    Gen.write(ctx.spark, ctx.seed, (0 until Pages).map(i => Gen.Spec(base + i, base + i, 0)),
      ctx.dir("pages"), partitioned = false)
  }

  def prepare(ctx: Ctx): Unit = {
    pages = Gen.read(ctx.spark, ctx.dir("pages"))
    val local = Workload.collectPages(ctx, ctx.dir("pages"))
    bytes = Workload.sizeOf(local)
    oracle = Check.extractOracle(local, ctx.oracleThreads)
    expected = oracle.map(o => o.url -> o.text).toMap
    // untimed jobs: after four, the JIT was still compiling through the
    // first four or five timed jobs (up to 1.3x the later ones)
    for (k <- 0 until 8) {
      ExtractJob.run(ctx.spark, pages, ctx.dir(s"ext/warmup$k"), ctx.buckets)
      Util.rmrf(new File(ctx.dir(s"ext/warmup$k")))
    }
  }

  def op(ctx: Ctx, i: Int, t: Timer): () => Boolean = {
    val dir = ctx.dir(s"ext/op$i")
    t(Pages)(ctx.tracer.span("ExtractJob.run", "job")(
      ExtractJob.run(ctx.spark, pages, dir, ctx.buckets)))
    stored += Util.dirBytes(new File(dir))
    if (ctx.tracer.enabled) probes += Harness.tableProbe(ctx, dir, Schemas.extractedSchema)
    () => {
      val ok = checked(expected, Workload.textsOf(ExtractJob.readExtracted(ctx.spark, dir)))
      Util.rmrf(new File(dir))
      ok
    }
  }

  def storedBytes(ctx: Ctx): Long = Util.median(stored.map(_.toDouble).toSeq).toLong

  /** Traced runs also measure, and check, the search layer. */
  override def finalCheck(ctx: Ctx): Boolean = !ctx.traced || {
    val (ok, m) = SearchProbe.run(ctx, oracle)
    search = m
    ok
  }

  def layers(ctx: Ctx, traced: Seq[Sample], ops: Seq[Layers.OpTrace]): Map[String, Double] = {
    val cpu = oracle.map(_.nanos).sum / 1e9
    val p50 = Util.median(traced.map(_.ms)) / 1000.0
    val jobScopes = ops.flatMap(t => t.inner.find(_.name == "ExtractJob.run").map(s =>
      (s.start, s.end, t.jobs.filter(j => j.start >= s.start && j.start <= s.end))))
    Layers.kernel(oracle) ++ Layers.jobLayer(jobScopes) ++ Harness.tableLayer(probes.toSeq) ++
      Layers.operator(ctx, ctx.dir("pages"), cpu) ++
      Layers.searchKernel(oracle.map(_.text), (0 until Pages).map(Gen.baseId(ctx.seed) + _), ctx.seed) ++
      search ++ Map("kernel.cpu_s" -> cpu, "kernel.share" -> cpu / ctx.threads / p50)
  }
}

/** A closed loop of `Pipelines.incrementalDedup` turns over tables seeded by
  * one set-up turn and aged by every turn after it (one commit per table per
  * turn; set-up is repeated three times, so more seeding turns would not fit
  * the run's time). Each turn gets its own small batch: redelivered
  * urls (resume skips them), new urls carrying a text the deduped table
  * already holds (dedup drops them) and a few fresh pages. The 40/40/20
  * split is an assumption, not measured traffic: no redelivery or
  * duplication rates exist for the reference service. Resume, commit,
  * lineage, the dedup probe, per-job overhead and manifest metadata do most
  * of the work; the kernel does little.
  */
final class TurnIncremental extends Workload {
  val SeedPages = 300
  val Redelivered = 40
  val Copies = 40
  val Fresh = 20
  /** Untimed turns before the loop. With three, the JIT was still
    * compiling through the first five timed turns (up to 1.6x the later
    * ones), so a run's median mixed cold and warm turns.
    */
  val WarmupTurns = 8
  /** Batches generated ahead of the loop; later turns generate their own. */
  val Pregenerated = 24
  def batchSize: Int = Redelivered + Copies + Fresh

  private var dedup: Check.DedupOracle = _
  private var seedIds: IndexedSeq[Long] = IndexedSeq.empty
  private var bytes = 0L
  private var offered = 0L
  private val ready = mutable.HashMap.empty[Int, Seq[Schemas.Page]]
  private val texts = mutable.HashMap.empty[String, String]
  private val oracle = mutable.ArrayBuffer.empty[Check.Oracle]
  private val probes = mutable.ArrayBuffer.empty[Seq[Double]]
  private val turnFacts = mutable.ArrayBuffer.empty[(Double, Double)]
  private val growth = mutable.ArrayBuffer.empty[Long]
  private var ext = ""
  private var dd = ""

  def inputPages: Long = offered
  def inputBytes: Long = bytes

  private def base(ctx: Ctx) = Gen.baseId(ctx.seed)

  def setup(ctx: Ctx, rep: Int): Unit = {
    val b = base(ctx)
    seedIds = (0 until SeedPages).map(b + _)
    val pagesDir = ctx.dir(s"turn/seed$rep")
    Gen.write(ctx.spark, ctx.seed, seedIds.map(id => Gen.Spec(id, id, 0)), pagesDir,
      partitioned = false)
    ext = ctx.dir(s"turn/ext$rep")
    dd = ctx.dir(s"turn/dd$rep")
    Pipelines.incrementalDedup(ctx.spark, Gen.read(ctx.spark, pagesDir), ext, dd, ctx.buckets)
    if (rep > 0) Seq(s"turn/seed${rep - 1}", s"turn/ext${rep - 1}", s"turn/dd${rep - 1}")
      .foreach(d => Util.rmrf(new File(ctx.dir(d))))
  }

  /** Oracle texts of `pages`, timed per page, remembered by url. */
  private def learn(ctx: Ctx, pages: Seq[Schemas.Page]): Seq[(String, String)] = {
    bytes += Workload.sizeOf(pages)
    val o = Check.extractOracle(pages, ctx.oracleThreads)
    oracle ++= o
    o.foreach(x => texts(x.url) = x.text)
    o.map(x => x.url -> x.text)
  }

  /** Turn `i`'s batch: redelivered seed urls, copies of seed texts under new
    * urls, and fresh pages. Negative turns are the warm-up.
    */
  private def specs(ctx: Ctx, i: Int): Seq[Gen.Spec] = {
    val r = new SplittableRandom(ctx.seed * 7919L + i)
    val pick = () => seedIds(r.nextInt(seedIds.size))
    val part = i + WarmupTurns
    val redeliver = Iterator.continually(pick()).distinct.take(Redelivered)
      .map(id => Gen.Spec(id, id, part))
    val copies = Iterator.continually(pick()).distinct.take(Copies)
      .map(id => Gen.Spec(id + Gen.CopyShift * (part + 1), id, part))
    val fresh = (0 until Fresh).map(j => base(ctx) + 1000000L + part.toLong * batchSize + j)
      .map(id => Gen.Spec(id, id, part))
    (redeliver ++ copies ++ fresh).toSeq
  }

  def prepare(ctx: Ctx): Unit = {
    dedup = new Check.DedupOracle
    dedup.offer(learn(ctx, Workload.collectPages(ctx, ctx.dir(s"turn/seed${Workload.SetupReps - 1}"))))
    oracle.clear()
    bytes = 0L
    val pre = ctx.dir("turn/batches")
    Gen.write(ctx.spark, ctx.seed,
      (-WarmupTurns until Pregenerated - WarmupTurns).flatMap(specs(ctx, _)), pre,
      partitioned = true)
    import ctx.spark.implicits._
    ctx.spark.read.parquet(pre).as[(String, java.sql.Timestamp, Array[Byte], String, String, Int)]
      .collect().groupBy(_._6).foreach { case (part, rows) =>
        ready(part - WarmupTurns) = rows.toSeq.map(x => Schemas.Page(x._1, x._2, x._3, x._4, x._5))
      }
    for (i <- -WarmupTurns until 0) runTurn(ctx, i, None)
  }

  /** Turn `i`'s input directory and oracle texts, made outside any timing. */
  private def batch(ctx: Ctx, i: Int): (String, Seq[(String, String)]) =
    ready.remove(i) match {
      case Some(pages) => (ctx.dir(s"turn/batches/part=${i + WarmupTurns}"), learn(ctx, pages))
      case None =>
        val path = ctx.dir(s"turn/batch$i")
        Gen.write(ctx.spark, ctx.seed, specs(ctx, i), path, partitioned = false)
        (path, learn(ctx, Workload.collectPages(ctx, path)))
    }

  private def runTurn(ctx: Ctx, i: Int, t: Option[Timer]): () => Boolean = {
    val (path, pages) = batch(ctx, i)
    val (expExtracted, expAppended) = dedup.offer(pages)
    val log = new SnapshotLog(ext)
    val before = log.currentSnapshot()
    val in = Gen.read(ctx.spark, path)
    val sizeBefore = tablesBytes
    def call() = ctx.tracer.span("Pipelines.incrementalDedup", "pipeline")(
      Pipelines.incrementalDedup(ctx.spark, in, ext, dd, ctx.buckets))
    val res = t match {
      case Some(timer) => timer(batchSize.toLong)(call())
      case None => call()
    }
    offered += batchSize
    if (t.isDefined) growth += tablesBytes - sizeBefore
    val extracted = res.extractedSnapshot.map(id =>
      SnapshotLog.rowCountOf(log.metaAddedBetween(before.getOrElse(-1L), id)).getOrElse(-1L))
      .getOrElse(0L)
    if (ctx.tracer.enabled) {
      probes += Harness.tableProbe(ctx, ext, Schemas.extractedSchema)
        .zip(Harness.tableProbe(ctx, dd, Pipelines.dedupedSchema)).map { case (a, b) => a + b }
      turnFacts += ((extracted.toDouble / batchSize,
        if (extracted == 0) 0.0 else res.appendedRows.toDouble / extracted))
    }
    val ok = extracted == expExtracted && res.appendedRows == expAppended
    () => ok
  }

  def op(ctx: Ctx, i: Int, t: Timer): () => Boolean = runTurn(ctx, i, Some(t))

  /** The deduped table must equal first-committed-wins over every batch. */
  override def finalCheck(ctx: Ctx): Boolean =
    checked(dedup.expected, Workload.textsOf(new SnapshotLog(dd).scan(ctx.spark,
      Pipelines.dedupedSchema)))

  private def tablesBytes: Long = Util.dirBytes(new File(ext)) + Util.dirBytes(new File(dd))

  def storedBytes(ctx: Ctx): Long = Util.median(growth.map(_.toDouble).toSeq).toLong

  def layers(ctx: Ctx, traced: Seq[Sample], ops: Seq[Layers.OpTrace]): Map[String, Double] = {
    val isExtract = (j: JobRec) => Layers.extractFrame(j).isDefined
    val perTurn = ops.zip(traced).map { case (t, smp) =>
      val (s0, e0) = (t.op.start, t.op.end)
      val ex = t.jobs.filter(isExtract)
      val rest = t.jobs.filterNot(isExtract)
      val union = Analysis.covered(Analysis.clip(t.jobs.map(j => (j.start, j.end)), s0, e0))
      val gap = (e0 - s0 - union) / 1e9
      Seq(t.jobs.size.toDouble, ex.map(j => j.end - j.start).sum / 1e9,
        rest.map(j => j.end - j.start).sum / 1e9, gap, smp.c.shuffleWrite / 1e6)
    }
    val names = Seq("pipeline.jobs", "pipeline.extract_s", "pipeline.dedup_s",
      "pipeline.driver_gap_s", "pipeline.shuffle_mb")
    val pipeline = names.zipWithIndex.map { case (n, k) =>
      n -> (if (perTurn.isEmpty) 0.0 else Util.median(perTurn.map(_(k))))
    }.toMap
    val facts = turnFacts.toSeq
    val jobScopes = ops.map { t =>
      val ex = t.jobs.filter(isExtract)
      (t.op.start, if (ex.isEmpty) t.op.start else ex.map(_.end).max, ex)
    }
    // the kernel's share of a turn: only pages not yet extracted reach it
    val seedUrls = seedIds.map(Synth.urlFor).toSet
    val pending = oracle.filterNot(o => seedUrls.contains(o.url))
    val cpuPerTurn = pending.map(_.nanos).sum / 1e9 / math.max(1, offered / batchSize)
    val p50 = Util.median(traced.map(_.ms)) / 1000.0
    val one = ctx.dir("turn/layer_batch")
    Gen.write(ctx.spark, ctx.seed, (0 until batchSize).map(j => Gen.Spec(seedIds(j), seedIds(j), 0)),
      one, partitioned = false)
    pipeline ++ Layers.kernel(oracle.toSeq) ++ Layers.jobLayer(jobScopes) ++
      Harness.tableLayer(probes.toSeq) ++ Layers.operator(ctx, one, cpuPerTurn) ++
      Layers.searchKernel(texts.toSeq.sortBy(_._1).map(_._2), seedIds, ctx.seed) ++
      Map("kernel.cpu_s" -> cpuPerTurn, "kernel.share" -> cpuPerTurn / ctx.threads / p50,
        "pipeline.resume_useful" -> (if (facts.isEmpty) 0.0 else Util.median(facts.map(_._1))),
        "pipeline.dedup_useful" -> (if (facts.isEmpty) 0.0 else Util.median(facts.map(_._2))))
  }
}

/** The search layer, measured only in traced `extract_batch` runs. Search
  * has no workload of its own: with three workloads, a series of repeated
  * runs fit its time limit only at 10 s per run, and the medians of 10 s
  * runs spread too much from run to run. One
  * `SearchJob.run` per field over a 600-page extracted table built from the
  * first pages of the workload's input; the VIN search is the slow one. Each
  * match set (count, sample and the written rows) is checked against
  * `SearchKernels.docMatches` over the oracle texts; a `NoMatchFound` on the
  * expected miss counts as correct.
  */
object SearchProbe {
  val Docs = 600
  val Fields = Seq("vin", "contract", "claim", "dealer", "any", "contract-miss")

  /** (every search correct, the `search.*` and `self.search_s` metrics). */
  def run(ctx: Ctx, oracle: Seq[Check.Oracle]): (Boolean, Map[String, Double]) = {
    val spark = ctx.spark
    val ids = (0 until Docs).map(Gen.baseId(ctx.seed) + _)
    val pagesDir = ctx.dir("search/pages")
    val extDir = ctx.dir("search/ext")
    Gen.write(spark, ctx.seed, ids.map(id => Gen.Spec(id, id, 0)), pagesDir, partitioned = false)
    ExtractJob.run(spark, Gen.read(spark, pagesDir), extDir, ctx.buckets)
    val pagesDf = spark.read.schema(Schemas.pagesSchema).parquet(pagesDir)
    val urls = ids.map(Synth.urlFor).toSet
    val texts = oracle.filter(o => urls(o.url)).map(o => o.url -> o.text)
    val r = new SplittableRandom(ctx.seed)
    ctx.rec.keepDetail = true
    val per = try Fields.zipWithIndex.map { case (f, i) =>
      val q = Gen.query(f, ids, r)
      val expected = Check.searchOracle(texts, q)
      val extracted = ExtractJob.readExtracted(spark, extDir)
      val t0 = System.nanoTime()
      SearchJob.matches(extracted, q).queryExecution.executedPlan
      val planMs = (System.nanoTime() - t0) / 1e6
      val out = ctx.dir(s"search/match$i")
      val before = ctx.rec.snapshot(spark.sparkContext)
      val firstJob = ctx.rec.synchronized(ctx.rec.jobs.size)
      val s0 = Clock.now()
      val res = try Some(SearchJob.run(spark, extracted, pagesDf, q, out))
        catch { case _: SearchJob.NoMatchFound => None }
      val s1 = Clock.now()
      val c = ctx.rec.snapshot(spark.sparkContext) - before
      val jobs = ctx.rec.synchronized(ctx.rec.jobs.drop(firstJob).toList)
      val selfS = (s1 - s0 -
        Analysis.covered(Analysis.clip(jobs.map(j => (j.start, j.end)), s0, s1))) / 1e9
      val ok = res match {
        case None => expected.isEmpty
        case Some(m) =>
          m.count == expected.size && m.sample == expected.toSeq.sorted.take(m.sample.size) &&
            m.sample.size == math.min(20, expected.size) &&
            Check.diff(expected.map(_ -> "").toMap, Check.asSet(
              spark.read.parquet(out).select("url").collect().map(_.getString(0)))) == 0
      }
      Util.rmrf(new File(out))
      (ok, Seq(planMs, c.inputBytes / 1e6, c.filesRead.toDouble,
        expected.size.toDouble / Docs, selfS))
    } finally ctx.rec.keepDetail = false
    val names = Seq("search.plan_ms", "search.scan_mb", "search.files_read", "search.match_frac",
      "self.search_s")
    (per.forall(_._1), names.zipWithIndex.map { case (n, k) => n -> Util.median(per.map(_._2(k))) }.toMap)
  }
}
