package graft.probe

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Bench, Probe, SubmitMain}
import graft.spark.{ExtractJob, Pipelines, Schemas, SnapshotLog, Synth}
import scala.jdk.CollectionConverters._

/** `graft.Probe` scenarios over the snapshot table, the resume and dedup
  * stages of a pipeline turn, and the continuous pipeline CLI.
  */
object Tables {

  private def hasBenchPages: Boolean = new java.io.File(Bench.pagesPath).isDirectory

  /** graft.Bench's pages table when a bench run left it behind, else a
    * 40k-page synthetic stand-in written to parquet under `dir` — a file
    * scan, as a pipeline reads pages: a local relation would ship its whole
    * payload inside the task closures of every evaluation.
    */
  private def benchPages(spark: SparkSession, dir: String): Dataset[Schemas.Page] = {
    import spark.implicits._
    val path = if (hasBenchPages) Bench.pagesPath else {
      println(s"${Bench.pagesPath} missing: synthesizing a 40k stand-in")
      spark.createDataset(Synth.corpus(40000)).write.parquet(s"$dir/pages")
      s"$dir/pages"
    }
    spark.read.schema(Schemas.pagesSchema).parquet(path).as[Schemas.Page]
  }

  /** Seed `dir` with extracted rows [0, rows) as ONE commit range-clustered
    * on fp64 into `files` files, with per-file (bucket, fp64) bounds — the
    * layout `compact(sortBy = fp64)` maintains on a real table, so probes
    * run against the documented long-term layout, not a lucky fresh one.
    */
  private def seedClustered(spark: SparkSession, dir: String, rows: Long, files: Int): Unit = {
    val log = new SnapshotLog(dir)
    val stage = log.stageUniqueDataDir()
    Probe.extractedRange(spark, 0L, rows)
      .withColumn("fp", md5(col("text").cast("binary")))
      .withColumn("fp64", Pipelines.fp64Of(col("fp")))
      .repartitionByRange(files, col("fp64"))
      .write.mode("overwrite").parquet(stage)
    log.commitOptimistic(stage, statsColumns = Seq("bucket", "fp64")): Unit
  }

  /** An all-duplicate batch: `n` committed texts strided across [0, rows),
    * so their digests land in many distinct files.
    */
  private def dupBatch(spark: SparkSession, rows: Long, n: Int) = {
    val stride = math.max(1L, rows / n)
    val ids = (0 until n).map(i => (i * stride) % rows).distinct
    Probe.extractedRange(spark, 0L, rows).filter(col("checksum").isin(ids.map(Long.box): _*))
  }

  /** Per-turn cost of the steady-state pipeline turn (a batch that is
    * entirely duplicates — the probe runs, nothing commits) as the
    * accumulated deduped corpus grows 1x -> 4x -> 16x -> 64x, against the
    * ROUND-5 shape (batch anti-joined against the corpus's full digest
    * column) timed over the same corpus.
    *
    * The claim under test: the inverted probe is O(batch) per turn — seconds
    * stay near-flat as the corpus grows, because the corpus side never
    * shuffles and, on a digest-clustered layout, the manifest's per-file fp64
    * bounds prune the scan to the files that can hold a batch digest at all —
    * while the round-5 anti-join is O(corpus) per turn (the full digest
    * column rides a sort-merge exchange every time). Also prints the file
    * skipping the batch's IN probe plans.
    */
  def turn(args: Seq[String]): Unit = {
    val baseRows = args.lift(0).fold(400000L)(_.toLong)
    val batchRows = args.lift(1).fold(2000)(_.toInt)
    // past the small-regime limit (slice rows) a turn takes the big regime,
    // checkpointed winners and broadcast joins — the turn_new numbers would
    // silently measure a different shape than the probe-only cost this
    // scenario claims
    require(batchRows <= Pipelines.DefaultProbeFilterLimit,
      s"batchRows=$batchRows would leave the small-batch regime " +
        s"(limit ${Pipelines.DefaultProbeFilterLimit}) and change what turn_new measures")
    Probe.withSession() { spark =>
      for (mult <- Seq(1, 4, 16, 64)) Probe.withTempDir(s"turn_$mult") { dd =>
        val total = baseRows * mult
        seedClustered(spark, dd, total, files = 8 * mult)
        val batch = dupBatch(spark, total, batchRows).persist()
        require(batch.count() == math.min(batchRows.toLong, total))
        // round-6 shape: the full turn through the public API. An all-dup
        // batch probes, counts zero survivors and commits nothing — it
        // writes no stage either, so turn_new is the probe evaluation plus
        // fixed job overhead
        val ((newT, appended), meter) = Probe.metered(spark)(
          Probe.timed()(Pipelines.appendDeduped(spark, batch, dd)._2))
        require(appended == 0L, s"steady-state turn must append nothing, got $appended")
        // the meter also saw timed's warm-up call; every call runs the same jobs
        val jobs = meter.jobs.get.toDouble / (newT.secs.size + 1)
        // round-5 shape on the same corpus: anti-join the batch's digest reps
        // against the corpus digest column (the build side of a left-anti can
        // never broadcast -> sort-merge join, full corpus digest shuffle)
        val (oldT, oldSurv) = Probe.timed() {
          val reps = batch
            .withColumn("fp", md5(col("text").cast("binary")))
            .withColumn("rn", row_number().over(org.apache.spark.sql.expressions
              .Window.partitionBy(col("fp")).orderBy(col("url"))))
            .filter(col("rn") === 1).drop("rn")
          val corpus = new SnapshotLog(dd).scan(spark, Pipelines.dedupedSchema).select("fp")
          reps.join(corpus, Seq("fp"), "left_anti").count()
        }
        require(oldSurv == 0L, s"old-shape survivors must be 0, got $oldSurv")
        // the full batch's digests are md5-uniform, so at batch >> files every
        // file's range is hit — manifest skipping is the SMALL-batch win
        // (interactive upserts, low-rate streaming ticks); the big-batch win
        // is the shuffle-free corpus side. Both planned counts are printed.
        val fp64s = Probe.fp64sOf(batch)
        val (files, planned) = Probe.plannedFiles(dd, fp64s)
        val (_, planned16) = Probe.plannedFiles(dd, Probe.sample16(fp64s))
        println(f"mult=$mult%2d rows=$total%8d files=$files%4d " +
          f"planned=$planned%4d planned16=$planned16%3d  turn_new $newT jobs=$jobs%.1f  " +
          s"antijoin_old $oldT")
        batch.unpersist()
      }
    }
  }

  /** Layout decay: every pipeline turn appends [[Pipelines.clusterParts]]
    * files (one, below `graft.dedup.clusterRowsPerPart` rows) whose fp64
    * ranges together span ~the full digest domain (survivor digests are
    * uniform), so the file count — and the membership probe's planned file
    * set — grows linearly with turns until an operator runs
    * `compact(sortBy = fp64)`. Measures that decay and the compact's effect,
    * so the compact cadence rule rests on numbers instead of a guess:
    * seed a clustered corpus, run append turns of fresh batches, sample
    * (files, probe-planned files, all-dup turn seconds) every 4 turns, then
    * compact and sample again. Each sample also lists the data files each
    * append turn since the last sample added, so a write-layout regression
    * shows next to the file count it inflates.
    */
  def decay(args: Seq[String]): Unit = {
    val baseRows = args.lift(0).fold(400000L)(_.toLong)
    val batchRows = args.lift(1).fold(2000)(_.toInt)
    val turns = args.lift(2).fold(24)(_.toInt)
    require(batchRows <= Pipelines.DefaultProbeFilterLimit)
    Probe.withSession() { spark =>
      Probe.withTempDir("decay") { dd =>
        seedClustered(spark, dd, baseRows, files = 8)
        // one fixed all-dup probe batch — its turn time isolates probe cost
        // from append cost
        val probeBatch = dupBatch(spark, baseRows, batchRows).localCheckpoint(true)
        val probe16 = Probe.sample16(Probe.fp64sOf(probeBatch))
        val added = scala.collection.mutable.ArrayBuffer.empty[Int]
        def fileCount = new SnapshotLog(dd).currentFiles().size
        def sample(label: String): Unit = {
          val (files, planned16) = Probe.plannedFiles(dd, probe16)
          val (t, n) = Probe.timed(runs = 1)(Pipelines.appendDeduped(spark, probeBatch, dd)._2)
          require(n == 0L)
          println(f"$label: files=$files%4d planned16=$planned16%4d " +
            f"added=${added.mkString("[", ",", "]")} dup_turn=${t.min}%6.3f s")
          added.clear()
        }
        sample("turn  0")
        (1 to turns).foreach { t =>
          val lo = baseRows + (t - 1).toLong * batchRows
          val before = fileCount
          Pipelines.appendDeduped(spark, Probe.extractedRange(spark, lo, lo + batchRows), dd)
          added += fileCount - before
          if (t % 4 == 0) sample(f"turn $t%2d")
        }
        val (compactSec, _) = Probe.clock(new SnapshotLog(dd).compact(spark,
          Pipelines.dedupedSchema, targetFiles = 8 + turns * batchRows / 50000,
          statsColumns = Seq("bucket", "fp64"), sortBy = Seq("fp64")))
        sample(f"post-compact ($compactSec%.1f s)")
      }
    }
  }

  /** The resume anti-join's three regimes (OPTIMIZATION_r07.md §9): the
    * pending set evaluated under each FORCED regime, with wall time AND
    * shuffle write bytes/records — bytes are the claim that matters (which
    * exchange, if any, carries the pages payload) and, unlike seconds, do
    * not depend on the host's load. Two shapes, by url-hash slices:
    *  - "thirds": done = third 0, batch = every page (the 1/3 overlap of
    *    the round-7 measurement); broadcast and shuffle;
    *  - "quarters": done = quarters {0,1,2}, batch = quarters {2,3}, so
    *    |batch| < |done| and a budget between the two selects hits;
    *    broadcast, hits and shuffle.
    */
  def resume(args: Seq[String]): Unit = Probe.withSession() { spark =>
    Probe.withTempDir("resume") { work =>
      val pages = benchPages(spark, work)
      def shape(label: String, done: Column, batchRows: Column)(
          budgets: (Long, Long) => Seq[Option[Long]]): Unit = {
        val table = s"$work/$label"
        ExtractJob.run(spark, pages.filter(done), table,
          numBuckets = Probe.cpus * 4)
        val log = new SnapshotLog(table)
        val batch = pages.filter(batchRows)
        val nBatch = batch.count()
        val nDone = SnapshotLog.rowCountOf(log.metaAt(log.currentSnapshot().get)).get
        println(s"shape=$label: batch=$nBatch doneRows=$nDone")
        budgets(nBatch, nDone).foreach { budget =>
          // auto-broadcast off: only a regime's own hints broadcast, so the
          // shuffle regime is a real sort-merge join even on the stand-in
          val confs = budget.map("graft.extract.broadcastDoneRows" -> _.toString).toSeq :+
            ("spark.sql.autoBroadcastJoinThreshold" -> "-1")
          confs.foreach { case (k, v) => spark.conf.set(k, v) }
          try {
            val ((t, tag), m) = Probe.metered(spark)(Probe.timed(runs = 5) {
              val (df, tag) = ExtractJob.pendingPages(spark, batch, log, log.currentSnapshot())
              df.write.mode("overwrite").format("noop").save()
              tag
            })
            // the meter also saw timed's warm-up pass; every pass moves the same bytes
            val passes = t.secs.size + 1
            println(f"  regime=$tag%-10s " +
              f"shuffleMB/run=${m.shuffleBytes.get / passes / 1e6}%9.1f  " +
              f"shuffleRows/run=${m.shuffleRecords.get / passes}%10d  ($t)")
          } finally confs.foreach { case (k, _) => spark.conf.unset(k) }
        }
      }
      // None = the default budget (broadcast); Some(0) forces shuffle
      val third = pmod(hash(col("url")), lit(3))
      shape("thirds", third === 0, lit(true))((_, _) => Seq(None, Some(0L)))
      val quarter = pmod(hash(col("url")), lit(4))
      shape("quarters", quarter <= 2, quarter >= 2)((nBatch, nDone) =>
        Seq(None, Some((nBatch + nDone) / 2), Some(0L)))
    }
  }

  /** graft.Bench's pipeline phase (same pages table, same three url-hash
    * thirds, same numBuckets), with each of a turn's two steps (the extract,
    * then the dedup-append and its commit) timed and its Spark jobs listed,
    * so a turn's cost is attributed to a specific step instead of guessed at.
    */
  def turnSteps(args: Seq[String]): Unit = {
    // no stand-in: it would print the same fields over a different corpus
    require(hasBenchPages, s"${Bench.pagesPath} missing: run graft.Bench first to materialize it")
    Probe.withSession()(turnStepsOn)
  }

  private def turnStepsOn(spark: SparkSession): Unit = {
    Probe.withTempDir("turn_steps") { work =>
      val pages = benchPages(spark, work)
      val table = s"$work/extracted"; val dd = s"$work/deduped"
      val turns = 3
      def step[T](label: String)(body: => T): T = {
        spark.sparkContext.setJobDescription(label)
        val ((sec, r), m) =
          try Probe.metered(spark)(Probe.clock(body))
          finally spark.sparkContext.setJobDescription(null)
        m.jobLines.forEach(l => println(s"      $l"))
        println(f"    $label%-28s $sec%7.3f s  jobs=${m.jobs.get}%d")
        r
      }
      (0 until turns).foreach { t =>
        println(s"turn $t:")
        val (turnSec, _) = Probe.clock {
          val batch = pages.filter(pmod(hash(col("url")), lit(turns)) === t)
          // --- the incrementalDedup body, step by step: the pipeline's own
          // calls, not a copy (a hand-copied commit would silently de-sync
          // the probe from the pipeline) ---
          step("extract.run")(ExtractJob.run(spark, batch, table, numBuckets = Probe.cpus * 4))
          val (_, n) = step("dedupExtracted")(Pipelines.dedupExtracted(spark, table, dd))
          println(f"  appended=$n")
        }
        println(f"  turn total $turnSec%7.3f s")
      }
    }
  }

  /** Append-commit cost must be FLAT in table size (O(staged files +
    * commits)), not O(live files): each commit appends one immutable segment
    * plus a small pointer list, so per-commit wall time and bytes written
    * stay constant as the table grows from 1k to 100k data files. Stages are
    * empty `.parquet` part files (commit never reads data bytes — only the
    * staging listing matters), so this isolates pure metadata cost.
    * `spawns` counts the processes each commit starts (its stage's mkdirs
    * included); on local disk it must read 0 (see GraftIo).
    */
  def manifest(args: Seq[String]): Unit = Probe.withTempDir("manifest") { dir =>
    val log = new SnapshotLog(dir)
    val filesPerCommit = 1000
    val commits = 100
    val milestones = Set(1, 2, 5, 10, 20, 50, 75, 100)
    println(f"${"commit#"}%8s ${"tableFiles"}%11s ${"commitMs"}%9s ${"spawns"}%7s ${"listBytes"}%10s ${"segBytes"}%9s ${"scanListMs"}%11s")
    var spawnsTotal = 0
    for (c <- 1 to commits) {
      val (stage, stageSpawns) = Probe.processStarts(log.stageUniqueDataDir())
      (0 until filesPerCommit).foreach(i => Files.createFile(Paths.get(stage, f"part-$i%05d.parquet")))
      val ((commitSec, id), commitSpawns) =
        Probe.processStarts(Probe.clock(log.commitOptimistic(stage)))
      val spawns = stageSpawns.size + commitSpawns.size
      spawnsTotal += spawns
      if (milestones(c)) {
        val list = Paths.get(dir, "meta", s"snap-$id.txt")
        // the fresh segment is the list's last manifest line
        val seg = Files.readAllLines(list).asScala.filter(_.startsWith("manifest\t"))
          .last.split('\t')(1)
        val (listSec, n) = Probe.clock(log.currentFiles().size)
        println(f"$c%8d $n%11d ${commitSec * 1e3}%9.1f $spawns%7d ${Files.size(list)}%10d " +
          f"${Files.size(Paths.get(dir, seg))}%9d ${listSec * 1e3}%11.1f")
      }
    }
    // cumulative metadata bytes on disk: with sharding this is O(files +
    // commits²·pointer), vs O(files·commits) for the round-3 inline format
    val metaBytes = {
      val s = Files.list(Paths.get(dir, "meta"))
      try s.mapToLong(Files.size(_)).sum finally s.close()
    }
    println(f"total meta bytes: $metaBytes%d (${metaBytes / 1e6}%.2f MB) " +
      f"for ${commits * filesPerCommit}%d files across $commits%d commits")
    println(f"processes started: $spawnsTotal%d (${spawnsTotal.toDouble / commits}%.1f per commit)")
  }

  /** Size-binned compaction on a table of SKEWED file sizes (a handful of
    * large files among many tiny ones — the organic shape after mixed append
    * cadences), compacted to a small target. Records output balance
    * (max/median output file size: the round-4 `coalesce(targetFiles)`
    * rewrite binned by FILE COUNT, so size skew passed straight through) and
    * rewrite parallelism, the most tasks running at once — it must reach
    * min(cores, bins), where `coalesce(targetFiles)` by construction capped
    * it at one task per OUTPUT file over the whole table.
    */
  def compact(args: Seq[String]): Unit = Probe.withSession() { spark =>
    Probe.withTempDir("compact") { dir =>
      val log = new SnapshotLog(dir)
      // skewed stage: 4 large files (400k rows each) + 60 tiny ones (2k rows)
      // committed across two appends — manifest sizes drive the binning
      def stage(name: String, rows: Seq[(Long, Long)]): Unit = {
        val d = log.stageUniqueDataDir()
        for (((lo, hi), i) <- rows.zipWithIndex)
          spark.range(lo, hi).select(col("id"), (col("id") % 97).as("v"))
            .coalesce(1).write.mode("overwrite").parquet(s"$d/$name-$i")
        log.commitOptimistic(d): Unit
      }
      stage("big", (0 until 4).map(i => (i * 400000L, (i + 1) * 400000L)))
      stage("small", (0 until 60).map(i => (1600000L + i * 2000L, 1600000L + (i + 1) * 2000L)))
      val schema = spark.range(1).select(col("id"), (col("id") % 97).as("v")).schema
      val inSizes = log.metaAt(log.currentSnapshot().get).map(_.size).sorted
      println(s"input: ${inSizes.size} files, " +
        f"min ${inSizes.head / 1024}%d KB / median ${inSizes(inSizes.size / 2) / 1024}%d KB / " +
        f"max ${inSizes.last / 1024}%d KB")
      val ((wall, id), meter) = Probe.metered(spark)(Probe.clock(log.compact(spark, schema, targetFiles = 8)))
      val outSizes = log.metaAt(id.get).map(_.size).sorted
      val total = log.scan(spark, schema).count()
      require(total == 1720000L, s"row count drifted: $total")
      println(s"compacted -> ${outSizes.size} files in " + f"$wall%.1f s; " +
        f"output min ${outSizes.head / 1024}%d KB / median ${outSizes(outSizes.size / 2) / 1024}%d KB / " +
        f"max ${outSizes.last / 1024}%d KB " +
        f"(balance max/median ${outSizes.last.toDouble / outSizes(outSizes.size / 2)}%.2f)")
      val required = math.min(Probe.cpus, outSizes.size)
      println(s"max concurrent rewrite tasks: ${meter.maxRunning} " +
        s"(bins=${outSizes.size}, cores=${Probe.cpus} -> required >= $required)")
      require(meter.maxRunning >= required,
        s"rewrite parallelism ${meter.maxRunning} below min(cores, bins)")
    }
  }

  /** The CONTINUOUS pipeline CLI (`SubmitMain stream`) through the exact
    * process surface an operator crons — three invocations of the real
    * subcommand against one checkpoint root:
    *
    *   - turn 1: initial drain (full pages table -> extracted -> deduped);
    *   - turn 2: nothing new -> both stages no-op (no snapshot movement);
    *   - turn 3: new pages appended (incl. duplicate payloads) -> exactly the
    *     fresh extracts flow through, duplicates dropped at the dedup stage;
    *
    * asserting snapshot heads, row counts, and digest-uniqueness after each
    * turn. Each timed invocation builds its OWN SparkSession (SubmitMain
    * stops it on exit, and no other session is alive meanwhile), so
    * cross-invocation state lives only in the checkpoint and the snapshot
    * logs — cross-process offset recovery is exactly what this exercises.
    * One JVM though: timings include session construction, not JVM startup.
    * The process-level twin of SnapshotStreamSpec's in-JVM composition test.
    */
  def stream(args: Seq[String]): Unit = {
    // what `spark-submit --master local[N]` would set: SubmitMain's builder
    // deliberately names no master of its own
    System.setProperty("spark.master", s"local[${Probe.cpus}]")
    Probe.withTempDir("stream") { root =>
      val (pagesDir, extDir, dedupDir, ck) = (s"$root/pages", s"$root/extracted", s"$root/deduped", s"$root/ck")
      val fixture = Synth.corpus(400)
      def appendPages(ps: Seq[Schemas.Page]): Unit = Probe.withSession() { spark =>
        import spark.implicits._
        val log = new SnapshotLog(pagesDir)
        val d = log.stageUniqueDataDir()
        spark.createDataset(ps).repartition(4).write.mode("overwrite").parquet(d)
        log.commitOptimistic(d): Unit
      }
      def run(): Long = (Probe.clock(SubmitMain.main(Array("stream", pagesDir, extDir,
        dedupDir, ck, Probe.cpus.toString)))._1 * 1000).toLong
      def deduped[A](f: org.apache.spark.sql.DataFrame => A): A = Probe.withSession() { spark =>
        f(new SnapshotLog(dedupDir).scan(spark, Pipelines.dedupedSchema))
      }
      def head(dir: String) = new SnapshotLog(dir).currentSnapshot()

      // turn 1: 300 pages, 20 of them duplicate payloads under new urls
      appendPages(fixture.take(280) ++ fixture.take(20).map(p => p.copy(url = p.url + "?dup")))
      val t1 = run()
      val n1 = deduped(_.count())
      println(s"turn1: $t1 ms, deduped rows = $n1 (300 pages, 20 known dups)")
      assert(n1 <= 280, s"duplicates must not land: $n1")

      // turn 2: nothing new — both stages must be no-ops
      val headBefore = head(dedupDir)
      val t2 = run()
      assert(head(dedupDir) == headBefore, "no-op turn moved the head")
      println(s"turn2: $t2 ms, no new pages -> no snapshot movement")

      // turn 3: 100 fresh pages + 10 repeats of turn-1 payloads
      appendPages(fixture.slice(280, 380) ++
        fixture.slice(30, 40).map(p => p.copy(url = p.url + "?again")))
      val t3 = run()
      val n3 = deduped(_.count())
      println(s"turn3: $t3 ms, deduped rows = $n3 (+100 fresh, 10 repeats)")
      assert(n3 - n1 <= 100, s"repeats must not land: $n1 -> $n3")
      val dupFp = deduped(_.groupBy("fp").count().filter(col("count") > 1).count())
      assert(dupFp == 0, s"$dupFp digests duplicated")
      println(s"digest-unique across $n3 rows; extracted head = ${head(extDir)}, " +
        s"deduped head = ${head(dedupDir)}")
    }
  }
}
