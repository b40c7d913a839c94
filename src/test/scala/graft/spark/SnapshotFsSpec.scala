package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import TestCommits._

/** Round-5 snapshot-protocol coverage: the Hadoop-FileSystem routing (every
  * table operation against an explicit `file:`-scheme URI — the offline stand-
  * in for `hdfs://`, exercising exactly the scheme'd code paths round 4
  * rejected), the optimistic-concurrency commit (racing appenders both land),
  * the CAS primitive itself, and manifest-stats file skipping.
  */
class SnapshotFsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  override def beforeAll(): Unit = { spark = SparkTestSession.create(4) }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), prefix).toAbsolutePath.toString

  test("file:-scheme table: full lifecycle through the Hadoop FileSystem API") {
    val dir = "file:" + tmpDir("snap_fs")
    val log = new SnapshotLog(dir)
    val rows = spark.range(300).select(col("id"), (col("id") % 7).as("v"))

    log.append(rows.filter(col("id") < 100).repartition(4))
    assert(log.currentSnapshot().contains(0L))
    assert(log.scan(spark, rows.schema).count() == 100)
    // every externalized path keeps the caller's scheme
    assert(log.currentFiles().forall(_.startsWith("file:/")), log.currentFiles().head)

    log.append(rows.filter(col("id") >= 100 && col("id") < 200).repartition(4))
    assert(log.scan(spark, rows.schema).count() == 200)
    // time travel + incremental diff across the scheme'd store
    assert(log.scan(spark, rows.schema, asOf = Some(0L)).count() == 100)
    assert(log.scanIncremental(spark, rows.schema, 0L)
      .select("id").collect().map(_.getLong(0)).toSet == (100L until 200L).toSet)

    // maintenance trio over file: URIs
    val compacted = log.compact(spark, rows.schema, targetFiles = 2)
    assert(compacted.contains(2L))
    assert(log.scan(spark, rows.schema).count() == 200)
    log.expireSnapshots(keepLast = 1)
    assert(log.snapshots() == Seq(2L))
    assert(log.removeOrphanFiles(minAgeMs = 3600000L) == 0)
    assert(log.scan(spark, rows.schema).count() == 200)

    // the same directory read via the scheme-less path sees the same table
    // (the manifest stores root-relative paths, so the addressing is free)
    val plain = new SnapshotLog(dir.stripPrefix("file:"))
    assert(plain.scan(spark, rows.schema).count() == 200)
    assert(plain.currentFiles().forall(!_.startsWith("file:")))
  }

  test("casPromoteFile: exclusive create — exactly one of N racers wins") {
    val dir = tmpDir("cas")
    val io = new GraftIo(dir, SnapshotLog.defaultHadoopConf())
    val dst = io.path("meta/winner.txt")
    io.mkdirs(io.path("meta"))
    val srcs = (0 until 8).map { i =>
      val src = io.path(s"meta/stage-$i.tmp")
      io.writeDirect(src, s"writer-$i")
      src
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val latch = new java.util.concurrent.CountDownLatch(1)
    val results = srcs.map { src =>
      pool.submit(new java.util.concurrent.Callable[Boolean] {
        def call(): Boolean = { latch.await(); io.casPromoteFile(src, dst) }
      })
    }
    latch.countDown()
    val outcomes = results.map(_.get(30, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    assert(outcomes.count(identity) == 1, s"exactly one CAS must win, got $outcomes")
    // the winner's content landed whole; losers' staged files remain theirs
    assert(io.readString(dst).startsWith("writer-"))
    assert((0 until 8).count(i => io.exists(io.path(s"meta/stage-$i.tmp"))) == 7,
      "losers keep their staged file for cleanup")
  }

  test("fork-free local I/O keeps Hadoop's mode bits (umask 022 and 077) and data .crc sidecars") {
    import java.nio.file.{Files, Path => NPath, Paths}
    import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path => HPath, RawLocalFileSystem}
    import scala.jdk.CollectionConverters._
    def perms(p: NPath): String = java.nio.file.attribute.PosixFilePermissions
      .toString(Files.getPosixFilePermissions(p))
    // every path under root (root excluded) -> its rwx string
    def modes(root: String): Map[String, String] = {
      val r = Paths.get(root)
      val s = Files.walk(r)
      try s.iterator.asScala.filter(_ != r)
        .map(p => r.relativize(p).toString -> perms(p)).toMap
      finally s.close()
    }
    // a stage's file names carry write uuids: compare the modes per kind,
    // the stage directory itself included
    def kinds(stage: String): Map[String, Set[String]] =
      (modes(stage).toSeq.map { case (rel, m) =>
        val n = Paths.get(rel).getFileName.toString
        (if (Files.isDirectory(Paths.get(stage, rel))) "dir"
          else if (n.endsWith(".parquet.crc")) "crc"
          else if (n.endsWith(".parquet")) "parquet"
          else n) -> m
      } :+ ("dir" -> perms(Paths.get(stage))))
        .groupMap(_._1)(_._2).map { case (k, v) => k -> v.toSet }
    def sparkLocal = FileSystem.get(java.net.URI.create("file:///"),
      spark.sparkContext.hadoopConfiguration)
    val before = sparkLocal
    val rows = spark.range(50).select(col("id"), (col("id") % 7).as("v")).repartition(2)
    for (umask <- Seq("022", "077")) {
      val conf = SnapshotLog.defaultHadoopConf()
      conf.set("fs.permissions.umask-mode", umask)
      val (ours, ref) = (tmpDir("modes_nio"), tmpDir("modes_raw"))
      // reference first: Hadoop's RawLocalFileSystem (chmod processes)
      val raw = new RawLocalFileSystem()
      raw.initialize(java.net.URI.create("file:///"), conf)
      raw.mkdirs(new HPath(ref, "meta/a/b"))
      Seq("meta/a/b/f.txt", "meta/g.txt", "meta/c/h.txt")
        .foreach(f => raw.create(new HPath(ref, f)).close())
      val refStage = s"$ref/data/stage-ref"
      rows.write.option("fs.file.impl.disable.cache", "true")
        .option("fs.permissions.umask-mode", umask).mode("overwrite").parquet(refStage)
      // the same through GraftIo and an engine stage write, with no process
      val io = new GraftIo(ours, conf)
      val log = new SnapshotLog(ours, conf)
      val (stage, spawned) = graft.Probe.processStarts {
        io.mkdirs(io.path("meta/a/b"))
        io.writeDirect(io.path("meta/a/b/f.txt"), "x")
        io.writeAtomic(io.path("meta/g.txt"), "x")
        io.writeDirect(io.path("meta/c/h.txt"), "x") // create's own mkdirs
        log.writeStage(GraftIo.writer(rows).option("fs.permissions.umask-mode", umask)
          .mode("overwrite").parquet(_))
      }
      assert(spawned.isEmpty, spawned.mkString("\n"))
      val (file, dir) =
        if (umask == "022") ("rw-r--r--", "rwxr-xr-x") else ("rw-------", "rwx------")
      val meta = modes(s"$ref/meta")
      assert(meta.values.toSet == Set(file, dir), s"umask $umask: $meta")
      assert(modes(s"$ours/meta") == meta, s"umask $umask")
      val refKinds = kinds(refStage)
      assert(refKinds("parquet") == Set(file) && refKinds("dir") == Set(dir), s"$refKinds")
      assert(kinds(stage) == refKinds, s"umask $umask")
      // the checksummed filesystem: every staged data file has its sidecar
      val staged = modes(stage).keySet
      val data = staged.filter(_.endsWith(".parquet"))
      assert(data.nonEmpty && data.forall { f =>
        val p = Paths.get(f)
        staged(Option(p.getParent).fold("")(_.toString + "/") + s".${p.getFileName}.crc")
      }, s"$staged")
      assert(log.commitOptimistic(stage) == 0L)
      assert(log.scan(spark, rows.schema).count() == 50L)
    }
    // the engine's options never reached Hadoop's process-wide cache: Spark
    // still gets its own checksummed LocalFileSystem
    assert(sparkLocal eq before)
    assert(before.isInstanceOf[LocalFileSystem] &&
      !before.isInstanceOf[GraftIo.NioLocalFileSystem], before.getClass)
  }

  test("commitOptimistic: racing appenders all land, one per retry-resolved id") {
    val dir = tmpDir("occ")
    val base = new SnapshotLog(dir)
    val rows = spark.range(700).select(col("id"), (col("id") % 5).as("v"))
    base.append(rows.filter(col("id") < 100).repartition(2))

    // six appenders, each its own SnapshotLog instance and unique staging
    // dir, all data PRE-STAGED so the racing section is metadata-only (the
    // tightest contention on the CAS); a latch releases them together
    val writers = (0 until 6).map { i =>
      val log = new SnapshotLog(dir)
      val stage = log.stageUniqueDataDir()
      rows.filter(col("id") >= 100 + i * 100 && col("id") < 200 + i * 100)
        .repartition(2).write.mode("overwrite").parquet(stage)
      (log, stage)
    }
    val latch = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    val futures = writers.map { case (log, stage) =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = { latch.await(); log.commitOptimistic(stage) }
      })
    }
    latch.countDown()
    val ids = futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()

    // every appender landed, on a distinct contiguous id — the losers of each
    // CAS retried against the new parent and re-derived their segment list
    assert(ids.toSet == (1L to 6L).toSet, s"got $ids")
    assert(base.currentSnapshot().contains(6L))
    for (id <- 1L to 6L)
      assert(isAppendOf(dir, id, id - 1), s"snapshot $id must be a pure append")
    // union content: nothing lost, nothing duplicated
    assert(base.scan(spark, rows.schema).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq == (0L until 700L).toSeq)
    // each appender's rows are exactly one snapshot's incremental diff
    val incCounts = (1L to 6L).map(id =>
      base.scanIncremental(spark, rows.schema, id - 1, Some(id)).count())
    assert(incCounts.forall(_ == 100L), s"per-append diffs: $incCounts")
  }

  test("commitOptimistic: lost CAS leaves no orphan segment behind on retry") {
    val dir = tmpDir("occ_seg")
    val log = new SnapshotLog(dir)
    val rows = spark.range(50).select(col("id"), (col("id") % 3).as("v"))
    log.append(rows.limit(10).repartition(1))
    val a = new SnapshotLog(dir)
    val b = new SnapshotLog(dir)
    val stageA = a.stageUniqueDataDir()
    val stageB = b.stageUniqueDataDir()
    rows.filter(col("id") >= 10 && col("id") < 20).repartition(1)
      .write.mode("overwrite").parquet(stageA)
    rows.filter(col("id") >= 20 && col("id") < 30).repartition(1)
      .write.mode("overwrite").parquet(stageB)
    val latch = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val fa = pool.submit(new java.util.concurrent.Callable[Long] {
      def call(): Long = { latch.await(); a.commitOptimistic(stageA) } })
    val fb = pool.submit(new java.util.concurrent.Callable[Long] {
      def call(): Long = { latch.await(); b.commitOptimistic(stageB) } })
    latch.countDown()
    val ids = Seq(fa.get(), fb.get())
    pool.shutdown()
    assert(ids.toSet == Set(1L, 2L))
    // every segment under meta/ is referenced by some snapshot: the CAS
    // loser's abandoned segment was deleted inside the retry loop
    val referenced = log.snapshots().flatMap(id =>
      log.metaAt(id).map(_.path)).toSet // resolves through every segment
    val segs = new java.io.File(dir, "meta").listFiles()
      .map(_.getName).filter(n => n.startsWith("seg-") && n.endsWith(".txt"))
    val referencedSegs = (1L to 2L).flatMap { id =>
      Seq(s"seg-$id") }.toSet
    assert(segs.forall(s => s.startsWith("seg-0") ||
      referencedSegs.exists(p => s.startsWith(p))),
      s"unreferenced segment residue: ${segs.mkString(",")}")
    assert(referenced.nonEmpty)
    assert(log.scan(spark, rows.schema).count() == 30)
  }

  test("commitOptimistic(requireParent): an append derived from a stale snapshot fails loudly") {
    val sp = spark; import sp.implicits._
    val dir = tmpDir("occ_guard")
    val log = new SnapshotLog(dir)
    val rows = spark.range(40).select(col("id"), (col("id") % 3).as("v"))
    log.append(rows.limit(10).repartition(1))
    // two "turns" both derive from snapshot 0 (the overlapping-pipeline
    // shape: each anti-joined its slice against snapshot 0's digests)
    val s1 = log.stageUniqueDataDir(); val s2 = log.stageUniqueDataDir()
    rows.filter(col("id") >= 10 && col("id") < 20).repartition(1)
      .write.mode("overwrite").parquet(s1)
    rows.filter(col("id") >= 10 && col("id") < 20).repartition(1)
      .write.mode("overwrite").parquet(s2) // same rows: the double-append hazard
    assert(log.commitOptimistic(s1, requireParent = Some(0L)) == 1L)
    val e = intercept[IllegalStateException](
      log.commitOptimistic(s2, requireParent = Some(0L)))
    assert(e.getMessage.contains("advanced"), e.getMessage)
    assert(log.scan(spark, rows.schema).count() == 20, "no double append")
    // the failed conditional commit deleted its stage (no manifest lists
    // it), so committing it again fails loudly instead of landing nothing
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s2)))
    intercept[IllegalArgumentException](log.commitOptimistic(s2))
    // a plain (unconditional) append still lands on the new parent
    assert(log.append(rows.filter(col("id") >= 20 && col("id") < 30).repartition(1)) == 2L)
    assert(log.scan(spark, rows.schema).count() == 30)
  }

  test("manifest column stats: commit records bucket min/max; scan skips files") {
    val sp = spark; import sp.implicits._
    val dir = tmpDir("stats")
    val log = new SnapshotLog(dir)
    // four staged files with disjoint, KNOWN bucket ranges (one write each)
    log.appendWith(Seq("bucket")) { stage =>
      for (b <- 0 until 4) {
        (0 until 25).map(i => (b * 25 + i.toLong, b)).toDF("id", "bucket")
          .coalesce(1).write.mode("overwrite").parquet(s"$stage/part-b$b")
      }
    }
    val meta = log.metaAt(0L)
    assert(meta.size == 4)
    assert(meta.forall(_.stats.get("bucket").isDefined),
      s"every file must carry bucket stats: $meta")
    assert(meta.flatMap(_.stats("bucket").longs).toSet ==
      (0 until 4).map(b => (b.toLong, b.toLong)).toSet)

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("bucket", org.apache.spark.sql.types.IntegerType)))

    // row-level correctness through the pruned plan
    val got = log.scan(spark, schema).filter(col("bucket") === 2)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (50L until 75L).toSeq)

    // file-level skipping, asserted on the index directly
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.IntegerType
    val idx = new ManifestFileIndex(dir,
      meta.map(m => ManifestEntry(m.path, m.size, m.stats)))
    val bucketAttr = AttributeReference("bucket", IntegerType)()
    def files(f: Expression): Seq[String] =
      idx.listFiles(Nil, Seq(f)).flatMap(_.files.map(_.getPath.toString))
    assert(files(EqualTo(bucketAttr, Literal(2))).size == 1, "bucket=2 -> one file")
    assert(files(EqualTo(Literal(2), bucketAttr)).size == 1)
    assert(files(GreaterThanOrEqual(bucketAttr, Literal(2))).size == 2)
    assert(files(LessThan(bucketAttr, Literal(1))).size == 1)
    // literal-on-left shapes: each `v op col` must keep exactly the files
    // whose [min,max] intersects the half-line (the round-5 review caught
    // `2 <= bucket` pruning inverted — it dropped every COVERING file)
    assert(files(LessThanOrEqual(Literal(2), bucketAttr)).size == 2, "2 <= bucket -> buckets 2,3")
    assert(files(LessThan(Literal(2), bucketAttr)).size == 1, "2 < bucket -> bucket 3")
    assert(files(GreaterThanOrEqual(Literal(1), bucketAttr)).size == 2, "1 >= bucket -> buckets 0,1")
    assert(files(GreaterThan(Literal(1), bucketAttr)).size == 1, "1 > bucket -> bucket 0")
    assert(files(LessThanOrEqual(Literal(9), bucketAttr)).isEmpty, "9 <= bucket -> none")
    assert(files(GreaterThan(Literal(0), bucketAttr)).isEmpty, "0 > bucket -> none")
    assert(files(In(bucketAttr, Seq(Literal(0), Literal(3)))).size == 2)
    assert(files(And(GreaterThan(bucketAttr, Literal(0)),
      LessThan(bucketAttr, Literal(3)))).size == 2)
    assert(files(Or(EqualTo(bucketAttr, Literal(0)),
      EqualTo(bucketAttr, Literal(9)))).size == 1)
    assert(files(EqualTo(bucketAttr, Literal(9))).isEmpty, "out of range -> zero files")
    // conservative shapes never prune
    assert(files(IsNotNull(bucketAttr)).size == 4)
    // IS NULL: refuted only by the proven-zero-nulls marker (round 6) — the
    // fixture's bucket column has no nulls, so footer counts prove all four
    assert(meta.forall(_.stats("bucket").noNulls),
      "footer null counts must prove the null-free column")
    assert(files(IsNull(bucketAttr)).isEmpty,
      "IS NULL on a proven null-free column -> zero files")
    val idxUnproven = new ManifestFileIndex(dir,
      meta.map(m => ManifestEntry(m.path, m.size,
        m.stats.map { case (c, LongBounds(mn, mx, _)) => c -> LongBounds(mn, mx)
                      case kv => kv })))
    assert(idxUnproven.listFiles(Nil, Seq(IsNull(bucketAttr)))
      .flatMap(_.files).size == 4,
      "IS NULL without the proof marker keeps every file")
    val otherAttr = AttributeReference("id", org.apache.spark.sql.types.LongType)()
    assert(files(EqualTo(otherAttr, Literal(-1L))).size == 4,
      "stats exist only for bucket — id filters keep every file") // id stats not recorded
    // a stats-free commit (e.g. the metadata probe's empty part files) keeps
    // every file under any filter
    val idxNoStats = new ManifestFileIndex(dir,
      meta.map(m => ManifestEntry(m.path, m.size, Map.empty)))
    assert(idxNoStats.listFiles(Nil, Seq(EqualTo(bucketAttr, Literal(9))))
      .flatMap(_.files).size == 4)
  }

  test("manifest row counts: stats commits record #n; rowCountOf is exact or None") {
    val sp = spark; import sp.implicits._
    val dir = tmpDir("rowcount")
    val log = new SnapshotLog(dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("bucket", org.apache.spark.sql.types.IntegerType)))

    // stats commit: the row count rides the footer open the stats pay for
    log.append((0L until 120L).map(i => (i, (i % 5).toInt)).toDF("id", "bucket")
      .repartition(3), statsColumns = Seq("bucket"))
    val m0 = log.metaAt(0L)
    assert(m0.nonEmpty && m0.forall(_.rows.isDefined),
      s"a stats commit must record per-file rows: $m0")
    assert(SnapshotLog.rowCountOf(m0).contains(120L),
      s"manifest row count must equal the true count: ${SnapshotLog.rowCountOf(m0)}")
    assert(SnapshotLog.rowCountOf(Seq.empty).contains(0L), "empty table = 0 rows")

    // stats-free commit: rows deliberately unrecorded (no footer IO), and a
    // partial inventory must degrade to None — a sum over it would be a
    // wrong answer, not an estimate
    log.append((0L until 30L).map(i => (1000L + i, 9)).toDF("id", "bucket")
      .repartition(2))
    val m1 = log.metaAt(1L)
    assert(m1.exists(_.rows.isEmpty), s"stats-free entries must not carry rows: $m1")
    assert(m1.exists(_.rows.isDefined), "parent's counted entries are carried")
    assert(SnapshotLog.rowCountOf(m1).isEmpty,
      "any uncounted entry must force the counting fallback")
    assert(log.scan(spark, schema).count() == 150L) // ground truth intact

    // a NEGATIVE count — the size field's `-1 = unknown` convention, which
    // a foreign writer could plausibly extend to #n — must read as
    // "uncounted" (None), never be summed into rowCountOf
    val metaP = java.nio.file.Paths.get(dir, "meta")
    val seg0 = java.nio.file.Files.list(metaP)
      .filter(p => p.getFileName.toString.startsWith("seg-0"))
      .findFirst().get()
    val poisoned = new String(java.nio.file.Files.readAllBytes(seg0), "UTF-8")
      .replaceAll("\t#n=\\d+", "\t#n=-1")
    java.nio.file.Files.write(seg0, poisoned.getBytes("UTF-8"))
    val m0p = log.metaAt(0L)
    assert(m0p.forall(_.rows.isEmpty),
      s"negative #n must parse as uncounted: $m0p")
    assert(SnapshotLog.rowCountOf(m0p).isEmpty)
  }

  test("file:-scheme ANN index: publish, manifest serving, and GC through Hadoop FS") {
    val sp = spark; import sp.implicits._
    val emb = Seq.tabulate(200)(i =>
      (i.toLong, Array.tabulate(16)(d => math.sin(i * 0.37 + d * 1.3).toFloat), i % 5))
      .toDF("vec_id", "embedding", "label")
    val base = tmpDir("fs_idx")
    val path = "file:" + base + "/idx"
    // building and serving an index on local disk starts no OS process
    val q3 = Array.tabulate(16)(d => math.sin(3 * 0.37 + d * 1.3).toFloat)
    val (_, spawned) = graft.Probe.processStarts {
      Embeddings.lshBuildIndex(emb, path)
      Embeddings.lshTopKIndexed(spark, path, q3, 5).collect()
    }
    assert(spawned.isEmpty, spawned.mkString("\n"))
    Embeddings.lshBuildIndex(emb, path) // idempotent: the path holds a commit
    assert(new SnapshotLog(path).snapshots() == Seq(0L))
    for (qi <- Seq(3, 11)) {
      val q = Array.tabulate(16)(d => math.sin(qi * 0.37 + d * 1.3).toFloat)
      val scanned = Embeddings.lshTopK(emb, q, 5)
        .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
      val indexed = Embeddings.lshTopKIndexed(spark, path, q, 5)
        .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
      assert(indexed == scanned, s"query $qi over file: index diverged")
    }
    // IVF over a scheme'd path: ensure-index round-trips the sidecar too
    val ivfPath = "file:" + base + "/ivf"
    val (cents, trained) = Embeddings.ivfEnsureIndex(emb, ivfPath, k = 4)
    assert(trained)
    val (cents2, trained2) = Embeddings.ivfEnsureIndex(emb, ivfPath, k = 4)
    assert(!trained2 && cents2.map(_.toSeq).toSeq == cents.map(_.toSeq).toSeq)
    val q = Array.tabulate(16)(d => math.sin(7 * 0.37 + d * 1.3).toFloat)
    assert(Embeddings.ivfTopKIndexed(spark, ivfPath, cents, q, k = 3, nProbe = 2)
      .collect().nonEmpty)
    // an empty corpus commits an index with no file, which serves no row
    val emptyPath = "file:" + base + "/empty"
    Embeddings.lshBuildIndex(emb.limit(0), emptyPath)
    assert(new SnapshotLog(emptyPath).currentFiles().isEmpty)
    assert(Embeddings.lshTopKIndexed(spark, emptyPath, q, 3).collect().isEmpty)
    // GC across the scheme'd base dir
    Embeddings.pruneStaleIndexes("file:" + base, "i", keep = "idx", minAgeMs = 0L)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(base, "ivf")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(base, "idx")))
  }

  test("non-atomic store protocol: an index commits under the commit lock") {
    val sp = spark; import sp.implicits._
    // force the object-store branch on local disk: an index commit is a
    // snapshot commit, so it needs a commit lock (or the unsafe opt-in)
    val hc = spark.sparkContext.hadoopConfiguration
    hc.setBoolean("graft.fs.atomic.rename", false)
    try {
      val emb = Seq.tabulate(150)(i =>
        (i.toLong, Array.tabulate(16)(d => math.sin(i * 0.37 + d * 1.3).toFloat), i % 5))
        .toDF("vec_id", "embedding", "label")
      val base = tmpDir("nonatomic_idx")
      val refused = intercept[RuntimeException](Embeddings.lshBuildIndex(emb, base + "/idx_nolock"))
      assert(refused.getMessage.contains("graft.fs.cas.lock"), refused.getMessage)
      hc.set("graft.fs.cas.lock", "lease")
      hc.setLong("graft.fs.cas.lock.settle.ms", 25L)
      val path = base + "/idx"
      Embeddings.lshBuildIndex(emb, path)
      Embeddings.lshBuildIndex(emb, path) // idempotent: the path holds a commit
      assert(new SnapshotLog(path).snapshots() == Seq(0L))
      val q = Array.tabulate(16)(d => math.sin(11 * 0.37 + d * 1.3).toFloat)
      val scanned = Embeddings.lshTopK(emb, q, 5)
        .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
      val indexed = Embeddings.lshTopKIndexed(spark, path, q, 5)
        .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
      assert(indexed == scanned)
      // metadata was PUT at final names, and every lease was released
      val metaNames = new java.io.File(path, "meta").listFiles().map(_.getName)
      assert(!metaNames.exists(_.endsWith(".tmp")), metaNames.mkString(","))
      val lockDir = new java.io.File(path, "_locks")
      assert(!lockDir.isDirectory || lockDir.listFiles().isEmpty)
      // GC: an aged-out sibling goes, the live index stays
      val dead = java.nio.file.Paths.get(base, "idx_dead")
      java.nio.file.Files.createDirectories(dead)
      Embeddings.pruneStaleIndexes(base, "idx", keep = "idx", minAgeMs = 0L)
      assert(!java.nio.file.Files.exists(dead), "stale sibling reclaimed")
      assert(Embeddings.lshTopKIndexed(spark, path, q, 5).collect().nonEmpty)
      // a path never committed must fail LOUDLY, never scan a directory
      intercept[IllegalArgumentException](
        Embeddings.lshTopKIndexed(spark, base + "/never-published", q, 3).collect())
    } finally {
      hc.unset("graft.fs.atomic.rename")
      hc.unset("graft.fs.cas.lock")
      hc.unset("graft.fs.cas.lock.settle.ms")
    }
  }

  test("readOrCreate: a concurrent creator's value wins and no stage file remains") {
    val dir = tmpDir("marker_race")
    val io = new GraftIo(dir, SnapshotLog.defaultHadoopConf())
    val marker = io.path("ck/graft-app-id")
    // the value thunk lands a concurrent creator's marker before this
    // creator stages and promotes its own
    val got = io.readOrCreate(marker, { io.writeDirect(marker, "theirs\n"); "mine" })
    assert(got == "theirs")
    assert(io.readOrCreate(marker, sys.error("an existing marker is never re-created")) == "theirs")
    assert(new java.io.File(dir, "ck").list().toSeq == Seq("graft-app-id"))
    // first creation: the fresh value is persisted and returned
    assert(io.readOrCreate(io.path("ck/stream-id"), "stream-1") == "stream-1")
    assert(io.readString(io.path("ck/stream-id")) == "stream-1")
  }

  test("two concurrent builds of one index path commit one snapshot; both serve the winner") {
    val sp = spark; import sp.implicits._
    // two corpora train different centroids, so the winner is visible
    def corpus(phase: Double) = Seq.tabulate(120)(i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 0.61 + d + phase).toFloat), i % 4))
      .toDF("vec_id", "embedding", "label")
    val (a, b) = (corpus(0.0), corpus(1.7))
    val trained = Seq(a, b).map(e => Embeddings.ivfTrain(e, k = 4).map(_.toSeq).toSeq)
    assert(trained(0) != trained(1))
    val path = tmpDir("ivf_race") + "/idx"
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val got = try {
      Seq(a, b).map { e =>
        pool.submit(new java.util.concurrent.Callable[Seq[Seq[Float]]] {
          def call(): Seq[Seq[Float]] = {
            start.await()
            Embeddings.ivfEnsureIndex(e, path, k = 4)._1.map(_.toSeq).toSeq
          }
        })
      }.map { f => start.countDown(); f.get(120, java.util.concurrent.TimeUnit.SECONDS) }
    } finally pool.shutdown()
    val log = new SnapshotLog(path)
    assert(log.snapshots() == Seq(0L), "exactly one build commits")
    val committed = Embeddings.ivfLoadCentroids(path).get.map(_.toSeq).toSeq
    assert(trained.contains(committed))
    assert(got == Seq(committed, committed), "both builds return the winner's centroids")
    // the loser's stage is gone: one stage, the committed one
    val stages = new java.io.File(path, "data").listFiles().map(_.getName).toSeq
    assert(stages.size == 1, stages.mkString(","))
    assert(log.currentFiles().forall(_.contains(stages.head)))
  }

  test("an index stage with no commit is never served") {
    val sp = spark; import sp.implicits._
    val emb = Seq.tabulate(100)(i =>
      (i.toLong, Array.tabulate(16)(d => math.sin(i * 0.37 + d * 1.3).toFloat), i % 5))
      .toDF("vec_id", "embedding", "label")
    val path = tmpDir("idx_uncommitted") + "/idx"
    // a crashed build: its bucket-partitioned stage is written, its
    // commit never ran
    val crashed = new SnapshotLog(path).writeStage(
      Embeddings.lshBuckets(emb).join(emb.select("vec_id", "embedding"), "vec_id")
        .write.mode("overwrite").partitionBy("bucket").parquet(_))
    val q = Array.tabulate(16)(d => math.sin(5 * 0.37 + d * 1.3).toFloat)
    intercept[IllegalArgumentException](Embeddings.lshTopKIndexed(spark, path, q, 5))
    // a later build commits its own stage; the crashed one stays unread
    Embeddings.lshBuildIndex(emb, path)
    val served = Embeddings.lshTopKIndexed(spark, path, q, 5)
    assert(served.collect().nonEmpty)
    assert(served.inputFiles.nonEmpty && served.inputFiles.forall(!_.contains(crashed)),
      served.inputFiles.mkString(","))
  }

  test("non-atomic store protocol: snapshot commits PUT metadata directly; CAS refused without opt-in") {
    val sp = spark; import sp.implicits._
    val hc = spark.sparkContext.hadoopConfiguration
    hc.setBoolean("graft.fs.atomic.rename", false)
    try {
      val rows = spark.range(120).select(col("id"), (col("id") % 7).as("v"))
      // without the opt-in, the commit CAS must fail LOUDLY: object stores
      // have no exclusive-create through this API
      val dirStrict = tmpDir("nonatomic_strict")
      val logStrict = new SnapshotLog(dirStrict)
      val e = intercept[RuntimeException](logStrict.append(rows.limit(10).repartition(1)))
      assert(e.getMessage.contains("graft.fs.cas.unsafe"), e.getMessage)
      // with the documented last-writer-wins opt-in, the single-writer
      // lifecycle works end-to-end on direct-PUT metadata
      hc.setBoolean("graft.fs.cas.unsafe", true)
      val dir = tmpDir("nonatomic_snap")
      val log = new SnapshotLog(dir)
      log.append(rows.filter(col("id") < 60).repartition(3))
      log.append(rows.filter(col("id") >= 60).repartition(3))
      assert(log.scan(spark, rows.schema).count() == 120)
      assert(log.scanIncremental(spark, rows.schema, 0L)
        .select("id").collect().map(_.getLong(0)).toSet == (60L until 120L).toSet)
      assert(log.compact(spark, rows.schema, targetFiles = 2).contains(2L))
      log.expireSnapshots(keepLast = 1)
      assert(log.scan(spark, rows.schema).count() == 120)
      // no .tmp staging residue: metadata was written directly at final names
      val metaNames = new java.io.File(dir, "meta").listFiles().map(_.getName)
      assert(!metaNames.exists(_.endsWith(".tmp")), metaNames.mkString(","))
    } finally { hc.unset("graft.fs.atomic.rename"); hc.unset("graft.fs.cas.unsafe") }
  }

  test("lease lock: an unreadable queue-head member gets a lease of grace, then GC") {
    // round-6 fix under test: a member whose content can't be read (store
    // error on a live holder, or a PUT caught mid-write on create-then-chmod
    // stores) must NOT read as vanished — that let a waiter jump the queue
    // and acquire while the lock was held. It counts as live for a full
    // lease, then the normal expiry GC reclaims it (a crashed mid-PUT
    // writer stalls the queue no longer than a crashed holder).
    val dir = tmpDir("lease_grace")
    val io = new GraftIo(dir, SnapshotLog.defaultHadoopConf())
    val locks = new org.apache.hadoop.fs.Path(io.root, "_locks")
    io.mkdirs(locks)
    // a queue-HEAD member (past self-sequenced timestamp sorts first) with
    // unparseable content — the shape a crashed mid-PUT writer leaves
    io.writeDirect(
      new org.apache.hadoop.fs.Path(locks, "00000001700000000000-abcdef012345"),
      "not-a-lease-expiry")
    val leaseMs = 600L
    val lock = new FileLeaseCommitLock(io, locks,
      leaseMs = leaseMs, settleMs = 25L, timeoutMs = 10000L)
    val t0 = System.nanoTime()
    val lease = lock.acquire()
    val waitedMs = (System.nanoTime() - t0) / 1000000L
    try {
      assert(waitedMs >= leaseMs,
        s"the unreadable head must hold the queue for a full lease of " +
          s"grace before GC — acquired after only ${waitedMs}ms (the old " +
          "treat-as-vanished behavior acquired immediately)")
      assert(io.list(locks).count(_.getPath.getName.startsWith("00000001700")) == 0,
        "the aged-out unreadable member must be reclaimed, not leak forever")
    } finally lease.release()
  }

  test("non-atomic store protocol: racing appenders all land through the lease commit lock") {
    // the round-5 gap: s3a:// deployments chose between single-writer and
    // unsafe last-writer-wins. With graft.fs.cas.lock=lease the commit CAS
    // serializes through the member-file queue and the 6-appender latch
    // scenario lands exactly as on a rename-atomic store.
    val hc = spark.sparkContext.hadoopConfiguration
    hc.setBoolean("graft.fs.atomic.rename", false)
    hc.set("graft.fs.cas.lock", "lease")
    hc.setLong("graft.fs.cas.lock.settle.ms", 25L)
    try {
      val dir = tmpDir("nonatomic_lock")
      val base = new SnapshotLog(dir)
      val rows = spark.range(700).select(col("id"), (col("id") % 5).as("v"))
      base.append(rows.filter(col("id") < 100).repartition(2))
      val writers = (0 until 6).map { i =>
        val log = new SnapshotLog(dir)
        val stage = log.stageUniqueDataDir()
        rows.filter(col("id") >= 100 + i * 100 && col("id") < 200 + i * 100)
          .repartition(2).write.mode("overwrite").parquet(stage)
        (log, stage)
      }
      val latch = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
      val futures = writers.map { case (log, stage) =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = { latch.await(); log.commitOptimistic(stage) }
        })
      }
      latch.countDown()
      val ids = futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      pool.shutdown()
      assert(ids.toSet == (1L to 6L).toSet, s"got $ids")
      assert(base.currentSnapshot().contains(6L))
      for (id <- 1L to 6L)
        assert(isAppendOf(dir, id, id - 1), s"snapshot $id must be a pure append")
      assert(base.scan(spark, rows.schema).select("id").collect()
        .map(_.getLong(0)).sorted.toSeq == (0L until 700L).toSeq)
      val incCounts = (1L to 6L).map(id =>
        base.scanIncremental(spark, rows.schema, id - 1, Some(id)).count())
      assert(incCounts.forall(_ == 100L), s"per-append diffs: $incCounts")
      // every lease released: the queue directory drained
      val lockDir = new java.io.File(dir, "_locks")
      assert(!lockDir.isDirectory || lockDir.listFiles().isEmpty,
        Option(lockDir.listFiles()).map(_.mkString(",")).getOrElse(""))
      // no .tmp metadata residue: everything was PUT at final names
      val metaNames = new java.io.File(dir, "meta").listFiles().map(_.getName)
      assert(!metaNames.exists(_.endsWith(".tmp")), metaNames.mkString(","))
    } finally {
      hc.unset("graft.fs.atomic.rename")
      hc.unset("graft.fs.cas.lock")
      hc.unset("graft.fs.cas.lock.settle.ms")
    }
  }

  test("string/timestamp manifest stats: lang and warc_ts filters plan fewer files") {
    val dir = tmpDir("stats_str_ts")
    val log = new SnapshotLog(dir)
    val langs = Seq("de", "en", "fr")
    log.appendWith(Seq("lang", "warc_ts", "url")) { stage =>
      for ((lang, i) <- langs.zipWithIndex) {
        spark.range(20).select(
          concat(lit(s"https://site-$lang.example/page/padding/"), col("id")).as("url"),
          (lit(1700000000L + i * 100000L) + col("id")).cast("timestamp").as("warc_ts"),
          lit(lang).as("lang"))
          .coalesce(1).write.mode("overwrite").parquet(s"$stage/part-$i")
      }
    }
    val meta = log.metaAt(0L)
    assert(meta.size == 3)
    assert(meta.forall(_.stats.get("lang").exists(_.isInstanceOf[StrBounds])),
      s"lang must record string bounds: $meta")
    assert(meta.forall(_.stats.get("warc_ts").exists(_.isInstanceOf[LongBounds])),
      s"warc_ts must record micros bounds: $meta")
    // url is longer than the 16-byte truncation: lower/upper bounds present
    // (upper incremented), pruning stays sound below
    assert(meta.forall(_.stats.get("url").exists {
      case StrBounds(mn, mx, _) => mn.length == 32 && mx.isDefined
      case _ => false
    }), s"url must record truncated string bounds: $meta")

    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.unsafe.types.UTF8String
    val idx = new ManifestFileIndex(dir,
      meta.map(m => ManifestEntry(m.path, m.size, m.stats)))
    def planned(f: Expression): Int = idx.listFiles(Nil, Seq(f)).map(_.files.size).sum
    def str(s: String) = Literal(UTF8String.fromString(s),
      org.apache.spark.sql.types.StringType)
    val langA = AttributeReference("lang",
      org.apache.spark.sql.types.StringType)()
    assert(planned(EqualTo(langA, str("en"))) == 1, "lang = 'en' is one file")
    assert(planned(EqualTo(str("en"), langA)) == 1, "literal-on-left too")
    assert(planned(GreaterThan(langA, str("de"))) == 2, "en + fr")
    assert(planned(LessThanOrEqual(str("en"), langA)) == 2, "'en' <= lang is en + fr")
    assert(planned(In(langA, Seq(str("de"), str("fr")))) == 2)
    val tsA = AttributeReference("warc_ts",
      org.apache.spark.sql.types.TimestampType)()
    val cutMicros = (1700000000L + 100000L) * 1000000L
    assert(planned(GreaterThanOrEqual(tsA,
      Literal(cutMicros, org.apache.spark.sql.types.TimestampType))) == 2,
      "warc_ts >= file-1 start plans files 1 and 2")
    assert(planned(LessThan(tsA,
      Literal(cutMicros, org.apache.spark.sql.types.TimestampType))) == 1)
    // end-to-end soundness through the real scan: pruning loses no rows
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("url",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("warc_ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType)))
    assert(log.scan(spark, schema).filter(col("lang") === "en").count() == 20)
    assert(log.scan(spark, schema)
      .filter(col("url") === "https://site-fr.example/page/padding/7").count() == 1,
      "truncated url bounds must keep the file holding the value")
    assert(log.scan(spark, schema)
      .filter(col("warc_ts") >= (lit(1700100000L).cast("timestamp"))).count() == 40)
  }

  test("extract pipeline records bucket stats and a bucket read plans fewer files") {
    val sp = spark; import sp.implicits._
    val dir = tmpDir("stats_e2e")
    val pages = spark.createDataset(Synth.corpus(200))
    // 200 pages are one file by default: a 1-byte coalesce floor spreads
    // them over all 8 buckets' files
    val minSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    spark.conf.set(minSize, "1")
    try ExtractJob.run(spark, pages, dir, numBuckets = 8)
    finally spark.conf.unset(minSize)
    val log = new SnapshotLog(dir)
    val meta = log.metaAt(log.currentSnapshot().get)
    val withStats = meta.filter(_.stats.contains("bucket"))
    assert(withStats.nonEmpty, "extract commit must record bucket stats")
    // at least one file's range excludes bucket 0 (8 buckets over >=8 files)
    val q = log.scan(spark, Schemas.extractedSchema).filter(col("bucket") === 0)
    val total = q.count()
    assert(total > 0)
    val planned = q.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.asInstanceOf[ManifestFileIndex]
    }.head
    import org.apache.spark.sql.catalyst.expressions._
    val kept = planned.listFiles(Nil, Seq(EqualTo(
      AttributeReference("bucket", org.apache.spark.sql.types.IntegerType)(),
      Literal(0)))).flatMap(_.files)
    assert(kept.size < meta.size,
      s"bucket=0 must plan fewer than all ${meta.size} files, got ${kept.size}")
  }

  test("clustered compaction: disjoint sort ranges make file skipping precise") {
    val sp = spark; import sp.implicits._
    val dir = tmpDir("snap_sorted")
    val log = new SnapshotLog(dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType)))
    // 4 append commits, each striping the FULL k domain: every file's
    // [min,max] covers everything, so stats prune nothing before clustering
    for (i <- 0 until 4) {
      val stage = log.stageUniqueDataDir()
      (0 until 250).map(j => (i * 250 + j.toLong, (j * 4 + i).toLong))
        .toDF("id", "k").coalesce(1).write.mode("overwrite").parquet(stage)
      log.commitOptimistic(stage, statsColumns = Seq("k")): Unit
    }
    import org.apache.spark.sql.catalyst.expressions._
    val kAttr = AttributeReference("k", org.apache.spark.sql.types.LongType)()
    def planned(id: Long, f: Expression): Int = {
      val meta = log.metaAt(id)
      new ManifestFileIndex(dir,
        meta.map(m => ManifestEntry(m.path, m.size, m.stats)))
        .listFiles(Nil, Seq(f)).map(_.files.size).sum
    }
    val before = log.currentSnapshot().get
    assert(planned(before, LessThan(kAttr, Literal(100L))) == 4,
      "interleaved arrival order: every file covers every k — nothing prunes")

    val sorted = log.compact(spark, schema, targetFiles = 4,
      statsColumns = Seq("k"), sortBy = Seq("k"))
    assert(sorted.isDefined,
      "a sorted compaction must run even at-or-under the file target")
    val id = sorted.get
    // content identical, ranges now disjoint: a selective filter plans ~1/4
    val all = log.scan(spark, schema)
    assert(all.count() == 1000)
    assert(all.select(org.apache.spark.sql.functions.sum(col("k")))
      .first().getLong(0) == (0L until 1000L).sum)
    val kept = planned(id, LessThan(kAttr, Literal(100L)))
    assert(kept < 4 && kept >= 1,
      s"after clustering, k < 100 must plan a strict subset of files, got $kept")
    // row-level correctness through the pruned plan
    assert(log.scan(spark, schema).filter(col("k") < 100L).count() == 100)
  }

  test("additive schema evolution: old files null-fill new columns, pruning stays sound") {
    val dir = tmpDir("snap_evo")
    val log = new SnapshotLog(dir)
    val v1 = spark.range(10).select(col("id"), (col("id") % 3).as("v"))
    log.append(v1.repartition(2))
    // widen the table: later commits carry an `extra` column (+ its stats)
    val v2 = spark.range(10, 20)
      .select(col("id"), (col("id") % 3).as("v"), (col("id") * 2).as("extra"))
    log.append(v2.repartition(2), statsColumns = Seq("extra"))

    // read at the widened schema: pre-evolution files null-fill the column
    // (parquet read-schema reconciliation — the additive half of Iceberg
    // schema evolution; renames/drops need column ids the log does not keep)
    val all = log.scan(spark, v2.schema)
    assert(all.count() == 20)
    assert(all.filter(col("extra").isNull).select("id")
      .collect().map(_.getLong(0)).toSet == (0L until 10L).toSet)
    // the old, narrower schema still reads both file generations
    assert(log.scan(spark, v1.schema).count() == 20)
    // a filter on the evolved column: stat-less pre-evolution files are KEPT
    // (stats absent = never pruned), new files prune by their recorded
    // min/max — correctness does not depend on stats existing
    assert(all.filter(col("extra") === 38L).select("id")
      .collect().map(_.getLong(0)).toSeq == Seq(19L))
    // the streaming tail sees evolved batches under the widened schema too
    val inc = log.scanIncremental(spark, v2.schema, 0L)
    assert(inc.count() == 10 && inc.filter(col("extra").isNotNull).count() == 10)

    // REWRITES guard the evolution: compacting (or deleting) through the
    // pre-evolution schema would silently drop `extra` for every row once
    // expire reclaims history — it must fail loudly instead
    val e = intercept[IllegalArgumentException] {
      log.compact(spark, v1.schema, targetFiles = 1)
    }
    assert(e.getMessage.contains("extra") && e.getMessage.contains("DROP"),
      e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      log.deleteWhere(spark, v1.schema, col("id") === 15L)
    }
    assert(e2.getMessage.contains("extra"), e2.getMessage)
    // with the widened schema both rewrites run and preserve the column
    assert(log.compact(spark, v2.schema, targetFiles = 1).isDefined)
    assert(log.scan(spark, v2.schema).filter(col("extra").isNotNull).count() == 10)
    assert(log.deleteWhere(spark, v2.schema, col("id") === 15L).isDefined)
    val after = log.scan(spark, v2.schema)
    assert(after.count() == 19 &&
      after.filter(col("extra").isNotNull).count() == 9)
  }

  test("commitIdempotent: replayed versions skip; watermarks survive rewrites") {
    val dir = tmpDir("snap_txn")
    val log = new SnapshotLog(dir)
    val rows = spark.range(100).select(col("id"), (col("id") % 4).as("v"))
    def stage(lo: Long, hi: Long): String = {
      val d = log.stageUniqueDataDir()
      rows.filter(col("id") >= lo && col("id") < hi).repartition(2)
        .write.mode("overwrite").parquet(d)
      d
    }
    assert(log.commitIdempotent(stage(0, 40), "appA", 0L).contains(0L))
    assert(log.txnVersion("appA").contains(0L))
    // replay of batch 0: skipped, staged files aborted, table unchanged
    val replay = stage(0, 40)
    assert(log.commitIdempotent(replay, "appA", 0L).isEmpty)
    assert(log.currentSnapshot().contains(0L))
    assert(!new java.io.File(replay).exists(),
      "a skipped replay must abort its staged files")
    assert(log.scan(spark, rows.schema).count() == 40)
    // the next version lands; each app has its own watermark
    assert(log.commitIdempotent(stage(40, 80), "appA", 1L).isDefined)
    assert(log.commitIdempotent(stage(80, 100), "appB", 0L).isDefined)
    assert(log.txnVersion("appA").contains(1L))
    assert(log.txnVersion("appB").contains(0L))
    assert(log.scan(spark, rows.schema).count() == 100)
    // compaction (a rewrite commit) carries every watermark forward —
    // without this, maintenance between a crash and its replay would
    // double-append the replayed batch
    assert(log.compact(spark, rows.schema, targetFiles = 2).isDefined)
    assert(log.txnVersion("appA").contains(1L))
    assert(log.txnVersion("appB").contains(0L))
    assert(log.txnWatermarks() == Map("appA" -> 1L, "appB" -> 0L))
    // a second replayer (fresh SnapshotLog instance = fresh cache) still
    // observes the winner's txn line and skips
    val log2 = new SnapshotLog(dir)
    assert(log2.commitIdempotent(stage(0, 40), "appA", 1L).isEmpty)
    assert(log2.scan(spark, rows.schema).count() == 100)
  }

  test("old layouts fail loudly: inline list entries, size-less segment entries, manifest-less indexes") {
    import java.nio.file.{Files => F, Paths => P}
    val sp = spark; import sp.implicits._
    val rows = spark.range(100).select(col("id"), (col("id") % 7).as("v"))
    // a normally committed table whose metadata is then hand-written in an
    // old layout: every read must name the offending file, never plan it
    def table(name: String): (String, SnapshotLog) = {
      val dir = tmpDir(name)
      val log = new SnapshotLog(dir)
      log.append(rows.repartition(2))
      (dir, log)
    }
    def fileLines(dir: String, log: SnapshotLog): Seq[String] =
      log.filesAt(0L).map(f => s"file\t${P.get(dir).relativize(P.get(f))}")
    def readsLoudly(log: SnapshotLog, offending: java.nio.file.Path): Unit = {
      val e1 = intercept[IllegalStateException](log.metaAt(0L))
      assert(e1.getMessage.contains(offending.toString), e1.getMessage)
      val e2 = intercept[IllegalStateException](log.scan(spark, rows.schema))
      assert(e2.getMessage.contains(offending.toString), e2.getMessage)
    }
    // a snapshot list holding its data files inline (no segments)
    val (inlineDir, inlineLog) = table("old_inline")
    val list = P.get(inlineDir, "meta", "snap-0.txt")
    F.writeString(list, ("snapshot\t0\tparent\t-1" +: fileLines(inlineDir, inlineLog))
      .mkString("", "\n", "\n"))
    readsLoudly(inlineLog, list)
    // a segment whose entries carry no size
    val (sizelessDir, sizelessLog) = table("old_sizeless")
    val Seq(seg) = segmentsOf(sizelessDir, 0L)
    F.writeString(seg, fileLines(sizelessDir, sizelessLog).mkString("", "\n", "\n"))
    readsLoudly(sizelessLog, seg)
    // lineage in the parquet `metrics/` directory earlier writers appended
    val (metricsDir, metricsLog) = table("old_metrics")
    val metrics = P.get(metricsDir, "metrics")
    F.createDirectories(metrics)
    val em = intercept[IllegalStateException](metricsLog.lineage())
    assert(em.getMessage.contains(metrics.toString), em.getMessage)
    // a deduped table whose extract progress is a watermark file, not a txn
    val pages = spark.createDataset(Synth.corpus(20))
    val ext = tmpDir("old_wm_ext"); val dd = tmpDir("old_wm_dd")
    ExtractJob.run(spark, pages, ext, 4)
    Pipelines.appendDeduped(spark, ExtractJob.readExtracted(spark, ext), dd)
    val wm = P.get(dd, "meta", "_extract_watermark")
    F.writeString(wm, "0")
    val ew = intercept[IllegalStateException](
      Pipelines.incrementalDedup(spark, pages, ext, dd, 4))
    assert(ew.getMessage.contains(wm.toString), ew.getMessage)
    // an ANN index directory of the format before indexes were snapshot
    // tables: a serving manifest at its root, no snapshot log
    val emb = Seq.tabulate(50)(i =>
      (i.toLong, Array.tabulate(16)(d => math.sin(i * 0.37 + d * 1.3).toFloat), i % 5))
      .toDF("vec_id", "embedding", "label")
    val path = tmpDir("old_index") + "/idx"
    Embeddings.lshBuckets(emb).join(emb.select("vec_id", "embedding"), "vec_id")
      .write.partitionBy("bucket").parquet(path)
    val oldManifest = P.get(path, "_index_manifest.txt")
    F.writeString(oldManifest, "schema\t{}\n")
    val q = Array.tabulate(16)(d => math.sin(d * 1.3).toFloat)
    val eServe = intercept[IllegalStateException](Embeddings.lshTopKIndexed(spark, path, q, 5))
    assert(eServe.getMessage.contains(oldManifest.toString), eServe.getMessage)
    val eBuild = intercept[IllegalStateException](Embeddings.lshBuildIndex(emb, path))
    assert(eBuild.getMessage.contains(oldManifest.toString), eBuild.getMessage)
    assert(!F.exists(P.get(path, "meta")), "a refused build commits nothing")
  }

  test("a commit that loses its CAS and retries leaves its lineage only in the winning list") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.setBoolean("graft.fs.atomic.rename", false)
    hc.set("graft.fs.cas.lock", classOf[RacerOnAcquireLock].getName)
    try {
      val dir = tmpDir("lineage_retry")
      val log = new SnapshotLog(dir)
      val rows = spark.range(30).select(col("id"), (col("id") % 3).as("v"))
      log.append(rows.filter(col("id") < 10).repartition(1))
      val stage = log.writeStage(
        rows.filter(col("id") >= 20).repartition(1).write.mode("overwrite").parquet(_))
      val mine = Schemas.MetricsRow(-1L, 2, 10L, 80L, 12345L, 7L)
      // a racer commits snapshot 1 after this commit wrote its list for id
      // 1 and before its CAS: the CAS is lost, the retry lands at 2
      RacerOnAcquireLock.racer.set(() =>
        new SnapshotLog(dir).append(rows.filter(col("id") >= 10 && col("id") < 20)
          .repartition(1)): Unit)
      assert(log.commitOptimistic(stage, lineage = Seq(mine)) == 2L)
      assert(RacerOnAcquireLock.racer.get == null, "the racer never ran")
      assert(lineageLinesOf(dir, 1L).isEmpty)
      assert(lineageLinesOf(dir, 2L) == Seq("lineage\t2\t10\t80\t12345\t7"))
      assert(log.lineage() == Seq(mine.copy(snapshot_id = 2L)))
      assert(!new java.io.File(dir, "meta").list().exists(_.endsWith(".tmp")))
      assert(log.scan(spark, rows.schema).count() == 30L)
    } finally {
      RacerOnAcquireLock.racer.set(null)
      hc.unset("graft.fs.atomic.rename")
      hc.unset("graft.fs.cas.lock")
    }
  }

  test("stage names carry a whole random UUID") {
    val log = new SnapshotLog(tmpDir("stage_name"))
    val names = Seq.fill(3)(new java.io.File(log.stageUniqueDataDir()).getName)
    for (n <- names) {
      assert(n.startsWith("stage-"), n)
      // only a full canonical UUID round-trips through fromString
      val u = n.stripPrefix("stage-")
      assert(scala.util.Try(java.util.UUID.fromString(u).toString).toOption.contains(u), n)
    }
    assert(names.distinct.size == names.size)
  }

  test("a commit that throws after the manifest CAS keeps its files: dedup append, streaming batch, compact, delete") {
    val sp = spark; import sp.implicits._
    val hc = spark.sparkContext.hadoopConfiguration
    hc.setBoolean("graft.fs.atomic.rename", false)
    hc.set("graft.fs.cas.lock", classOf[ReleaseFailsOnceLock].getName)
    def causes(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: causes(x.getCause))
    // the next commit's lock release throws, AFTER its manifest PUT: the
    // snapshot is committed, so the files it lists must stay
    def failsAfterCas(body: => Any): Unit = {
      ReleaseFailsOnceLock.armed.set(true)
      val e = intercept[Exception](body)
      assert(causes(e).exists(_.getMessage == ReleaseFailsOnceLock.Message), e)
      assert(!ReleaseFailsOnceLock.armed.get, "the armed release never ran")
    }
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("id").as[Long].collect().toSeq.sorted
    try {
      // an extract run: its lineage rides the list the CAS published, once
      val ext = tmpDir("release_extract")
      val pages = spark.createDataset(Synth.corpus(40))
      failsAfterCas(ExtractJob.run(spark, pages, ext, 8))
      val elog = new SnapshotLog(ext)
      assert(elog.currentSnapshot().contains(0L))
      assert(lineageAt(elog, 0L) == lineageCounted(ExtractJob.readExtracted(spark, ext)))
      assert(elog.lineage().size == lineageLinesOf(ext, 0L).size)
      assert(ExtractJob.run(spark, pages, ext, 8).isEmpty)
      assert(elog.lineage().size == lineageLinesOf(ext, 0L).size)
      // a dedup append
      val dd = tmpDir("release_dedup")
      val batch = spark.createDataset((0 until 30).map(i => Schemas.Extracted(
        s"https://rel/$i", i % 8, "html", Seq(s"release text $i"), s"release text $i",
        10L + i, i.toLong))).toDF()
      failsAfterCas(Pipelines.appendDeduped(spark, batch, dd))
      val dlog = new SnapshotLog(dd)
      assert(dlog.currentSnapshot().contains(0L))
      assert(dlog.scan(spark, Pipelines.dedupedSchema).count() == 30)
      // a streaming extract batch: its txn is recorded, so the replay skips
      // it — the rows must be in the committed snapshot. The appId is given,
      // and a first run over the still-empty source settles the source's
      // checkpoint markers: creating a marker takes the same lock
      val (src, dst, ck) = (tmpDir("release_src"), tmpDir("release_dst"), tmpDir("release_ck"))
      def stream() = StreamingExtract.startTableToTable(spark, src, dst, ck, 8,
        appId = Some("release-test")).awaitTermination()
      stream()
      assert(new SnapshotLog(dst).currentSnapshot().isEmpty)
      new SnapshotLog(src).append(spark.createDataset(Synth.corpus(40)).toDF().repartition(2))
      failsAfterCas(stream())
      val dstLog = new SnapshotLog(dst)
      assert(dstLog.txnVersion("release-test").contains(0L))
      assert(dstLog.scan(spark, Schemas.extractedSchema).count() == 40)
      stream()
      assert(dstLog.currentSnapshot().contains(0L))
      assert(dstLog.scan(spark, Schemas.extractedSchema).count() == 40)
      // the batch's lineage is listed once, by the commit that threw
      assert(lineageAt(dstLog, 0L) ==
        lineageCounted(dstLog.scan(spark, Schemas.extractedSchema)))
      assert(dstLog.lineage().size == lineageLinesOf(dst, 0L).size)
      // compact, then a key-set delete
      val log = new SnapshotLog(tmpDir("release_rewrite"))
      val rows = spark.range(200).select(col("id"), (col("id") % 7).as("v"))
      log.append(rows.repartition(8))
      failsAfterCas(log.compact(spark, rows.schema, targetFiles = 2))
      assert(log.currentSnapshot().contains(1L))
      assert(ids(log.scan(spark, rows.schema)) == (0L until 200L))
      failsAfterCas(log.deleteMatching(spark, rows.schema, Seq(3L, 150L).toDF("id"), "id"))
      assert(log.currentSnapshot().contains(2L))
      assert(ids(log.scan(spark, rows.schema)) == (0L until 200L).filterNot(Set(3L, 150L)))
    } finally {
      ReleaseFailsOnceLock.armed.set(false)
      hc.unset("graft.fs.atomic.rename")
      hc.unset("graft.fs.cas.lock")
    }
  }
}

/** A [[CommitLock.Provider]] for fault injection: no exclusion (its test
  * commits from one thread), and an acquire that first runs `racer` once
  * when one is set — a commit landing between another commit's head read
  * and its CAS, which that commit then loses.
  */
final class RacerOnAcquireLock extends CommitLock.Provider {
  def create(io: GraftIo): CommitLock = () => {
    Option(RacerOnAcquireLock.racer.getAndSet(null)).foreach(_.apply())
    new CommitLock.Lease {
      def renew(): Unit = ()
      def release(): Unit = ()
    }
  }
}

object RacerOnAcquireLock {
  val racer = new java.util.concurrent.atomic.AtomicReference[() => Unit]()
}

/** A [[CommitLock.Provider]] for fault injection: no exclusion (its test
  * commits from one thread), and a lease whose release throws once while
  * `armed` — a failure after the manifest PUT it guards. Selected with
  * `graft.fs.cas.lock=graft.spark.ReleaseFailsOnceLock` on a store treated
  * as non-atomic.
  */
final class ReleaseFailsOnceLock extends CommitLock.Provider {
  def create(io: GraftIo): CommitLock = () => new CommitLock.Lease {
    def renew(): Unit = ()
    def release(): Unit =
      if (ReleaseFailsOnceLock.armed.getAndSet(false))
        throw new java.io.IOException(ReleaseFailsOnceLock.Message)
  }
}

object ReleaseFailsOnceLock {
  val Message = "injected: commit lock release failed"
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
}
