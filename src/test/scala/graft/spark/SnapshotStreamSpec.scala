package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** C20 — the snapshot-log streaming source. Invariants: the first batch is
  * the full table then appends tail in (offsets = snapshot ids), a restart
  * from the checkpoint delivers EXACTLY the appends committed while the
  * stream was down (exactly-once), a rewrite commit inside a tailed range
  * fails the stream loudly instead of replaying rewritten rows, the
  * `startingSnapshot` option hands off from a batch consumer without
  * reprocessing, and downstream stateful operators compose (the relation is
  * an ordinary streaming plan).
  */
class SnapshotStreamSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  override def beforeAll(): Unit = { spark = SparkTestSession.create(4) }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), prefix).toAbsolutePath.toString

  private def rowsDf(ids: Range) =
    spark.range(ids.start, ids.end).select(col("id"), (col("id") % 5).as("v"))

  // lazy: `spark` is wired in beforeAll, after construction
  private lazy val schema = rowsDf(0 until 1).schema

  private def append(log: SnapshotLog, ids: Range): Long = {
    val stage = log.stageUniqueDataDir()
    rowsDf(ids).repartition(2).write.mode("overwrite").parquet(stage)
    log.commitOptimistic(stage)
  }

  private def tableIds(name: String): Seq[Long] =
    spark.table(name).select("id").collect().map(_.getLong(0)).toSeq.sorted

  private def readStream(dir: String) =
    spark.readStream.format("graft-snapshots").schema(schema).load(dir)

  test("initial full load, live append tailing, exactly-once restart") {
    val dir = tmpDir("stream_tail")
    val ckpt = tmpDir("stream_ckpt")
    val log = new SnapshotLog(dir)
    append(log, 0 until 10)

    // foreachBatch sink: the memory sink cannot recover from a checkpoint,
    // and the restart half is exactly what this test pins
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def sink(df: org.apache.spark.sql.DataFrame, batchId: Long): Unit =
      df.select("id").collect().foreach(r => seen.add(r.getLong(0)))
    def ids(): Seq[Long] = { import scala.jdk.CollectionConverters._; seen.asScala.toSeq.sorted }

    val q1 = readStream(dir).writeStream.foreachBatch(sink _)
      .option("checkpointLocation", ckpt).start()
    try {
      q1.processAllAvailable()
      assert(ids() == (0L until 10L))
      // live append while the stream runs
      append(log, 10 until 15)
      q1.processAllAvailable()
      assert(ids() == (0L until 15L))
    } finally q1.stop()

    // appends land while the stream is DOWN; the restarted query (fresh
    // buffer, same checkpoint) must deliver exactly those rows, once
    append(log, 15 until 20)
    append(log, 20 until 23)
    seen.clear()
    val q2 = readStream(dir).writeStream.foreachBatch(sink _)
      .option("checkpointLocation", ckpt).start()
    try {
      q2.processAllAvailable()
      assert(ids() == (15L until 23L),
        "restart must deliver exactly the offline appends, once")
      // nothing new: no further rows
      q2.processAllAvailable()
      assert(ids() == (15L until 23L))
    } finally q2.stop()
  }

  test("a rewrite commit inside the tailed range fails the stream loudly") {
    val dir = tmpDir("stream_rw")
    val ckpt = tmpDir("stream_rw_ckpt")
    val log = new SnapshotLog(dir)
    append(log, 0 until 10)
    def sink(df: org.apache.spark.sql.DataFrame, batchId: Long): Unit = { df.count(): Unit }
    val q1 = readStream(dir).writeStream.foreachBatch(sink _)
      .option("checkpointLocation", ckpt).start()
    try { q1.processAllAvailable() } finally q1.stop()

    // a delete rewrites history between the checkpointed offset and the head
    assert(log.deleteWhere(spark, schema, col("id") === 3L).nonEmpty)
    val q2 = readStream(dir).writeStream.foreachBatch(sink _)
      .option("checkpointLocation", ckpt).start()
    val e = intercept[StreamingQueryException] {
      q2.processAllAvailable()
      q2.awaitTermination(30000)
    }
    def causes(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: causes(x.getCause))
    assert(causes(e).exists(_.getMessage != null) &&
      causes(e).exists(c => Option(c.getMessage).exists(_.contains("rewrite"))),
      s"expected the rewrite to surface, got: ${e.getMessage}")
    q2.stop()
  }

  test("a rewrite that drops an in-window segment WHOLE still fails the tail loudly") {
    val dir = tmpDir("stream_rw_whole")
    val log = new SnapshotLog(dir)
    val s0 = append(log, 0 until 10) // checkpointed offset
    append(log, 10 until 18)         // in-window append (two files)
    // delete three consecutive ids: the round-robin staging spreads them
    // over BOTH of the in-window segment's files, so the rewrite drops that
    // segment WHOLE and its survivors live only in the FRESH staged segment.
    // Before round 7 tagged the fresh segment, this shape left no `-rw<N>`
    // segment at all: the window guard keyed on tag names found nothing and
    // the tail silently delivered rewrite output as appends.
    val del = log.deleteWhere(spark, schema, col("id").between(10L, 12L))
    assert(del.nonEmpty)
    assert(TestCommits.hasRewriteSegments(dir, del.get),
      "the rewrite's fresh staged segment must carry the rw tag")
    val e = intercept[IllegalStateException] {
      log.streamingBatch(spark, schema, Some(s0), log.currentSnapshot().get)
    }
    assert(e.getMessage.contains("rewrite"), e.getMessage)
    // ground truth intact: the batch scan serves exactly the survivors
    assert(log.scan(spark, schema).select("id").collect().map(_.getLong(0))
      .sorted.toSeq == ((0L until 10L) ++ (13L until 18L)))
  }

  test("startingSnapshot hands off from a batch consumer without reprocessing") {
    val dir = tmpDir("stream_from")
    val log = new SnapshotLog(dir)
    val s0 = append(log, 0 until 10)
    append(log, 10 until 14)
    // a batch consumer processed through snapshot s0; the stream takes over
    val q2 = spark.readStream.format("graft-snapshots").schema(schema)
      .option("startingSnapshot", s0.toString).load(dir)
      .writeStream.format("memory").queryName("from2")
      .option("checkpointLocation", tmpDir("stream_from_ckpt2")).start()
    try {
      q2.processAllAvailable()
      assert(tableIds("from2") == (10L until 14L),
        "tail must start strictly after the handed-off snapshot")
    } finally q2.stop()

    // startingSnapshot=latest: only appends committed after stream creation
    val q3 = spark.readStream.format("graft-snapshots").schema(schema)
      .option("startingSnapshot", "latest").load(dir)
      .writeStream.format("memory").queryName("from3")
      .option("checkpointLocation", tmpDir("stream_from_ckpt3")).start()
    try {
      q3.processAllAvailable()
      assert(tableIds("from3").isEmpty)
      append(log, 14 until 17)
      q3.processAllAvailable()
      assert(tableIds("from3") == (14L until 17L))
    } finally q3.stop()
  }

  test("startingSnapshot=latest is pinned at first start, not re-resolved on restart") {
    val dir = tmpDir("stream_pin")
    val ckpt = tmpDir("stream_pin_ckpt")
    val log = new SnapshotLog(dir)
    append(log, 0 until 5) // precedes stream creation: never delivered
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def sink(df: org.apache.spark.sql.DataFrame, batchId: Long): Unit =
      df.select("id").collect().foreach(r => seen.add(r.getLong(0)))
    def ids(): Seq[Long] = { import scala.jdk.CollectionConverters._; seen.asScala.toSeq.sorted }
    def start() = spark.readStream.format("graft-snapshots").schema(schema)
      .option("startingSnapshot", "latest").load(dir)
      .writeStream.foreachBatch(sink _)
      .option("checkpointLocation", ckpt).start()

    val q1 = start()
    try {
      q1.processAllAvailable()
      assert(ids().isEmpty)
      append(log, 5 until 9)
      q1.processAllAvailable()
      assert(ids() == (5L until 9L))
    } finally q1.stop()

    // appends land while the stream is DOWN. A restart that re-resolved
    // `latest` against the new head would never deliver them (its getOffset
    // filter hides everything at-or-below the head); the persisted marker
    // must keep the original start so the restart tails from the checkpoint
    append(log, 9 until 12)
    seen.clear()
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(ids() == (9L until 12L),
        "restart must deliver appends landed while down — `latest` was re-resolved")
    } finally q2.stop()
  }

  test("an expired tail offset is diagnosed as retention, not as a rewrite") {
    val dir = tmpDir("stream_exp")
    val log = new SnapshotLog(dir)
    append(log, 0 until 4)
    append(log, 4 until 8)
    append(log, 8 until 12)
    log.expireSnapshots(keepLast = 1)
    val e = intercept[IllegalStateException] {
      log.streamingBatch(spark, schema, Some(0L), 2L)
    }
    assert(e.getMessage.contains("EXPIRED") && e.getMessage.contains("retention"),
      e.getMessage)
  }

  test("table-to-table streaming extract: exactly-once appends across restarts") {
    val sp = spark; import sp.implicits._
    val srcDir = tmpDir("t2t_src")
    val dstDir = tmpDir("t2t_dst")
    val ckpt = tmpDir("t2t_ckpt")
    val fixture = Synth.corpus(100)
    val oracle = Synth.oracleExtract(fixture)
    val srcLog = new SnapshotLog(srcDir)
    def appendPages(lo: Int, hi: Int): Unit = {
      val d = srcLog.stageUniqueDataDir()
      spark.createDataset(fixture.slice(lo, hi)).repartition(2)
        .write.mode("overwrite").parquet(d)
      srcLog.commitOptimistic(d): Unit
    }
    appendPages(0, 60)
    StreamingExtract.startTableToTable(spark, srcDir, dstDir, ckpt, 8)
      .awaitTermination()
    val dstLog = new SnapshotLog(dstDir)
    assert(dstLog.scan(spark, Schemas.extractedSchema).count() == 60)
    // restart with nothing new: no new snapshot, no duplicates
    val head = dstLog.currentSnapshot()
    StreamingExtract.startTableToTable(spark, srcDir, dstDir, ckpt, 8)
      .awaitTermination()
    assert(dstLog.currentSnapshot() == head)
    // more pages land; the restarted stream extracts ONLY them, once
    appendPages(60, 100)
    val restarted = StreamingExtract.startTableToTable(spark, srcDir, dstDir, ckpt, 8)
    restarted.awaitTermination()
    // the stream plans the batch job's operator, not a typed mapPartitions
    val streamPlan = restarted
      .asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan.toString
    assert(streamPlan.contains("GraftExtract"), streamPlan.take(1500))
    // that one AvailableNow batch is one commit, and its lineage counts
    // exactly the rows it committed
    val batchId = dstLog.currentSnapshot().get
    assert(batchId == head.get + 1L)
    val committed = dstLog.scanIncremental(spark, Schemas.extractedSchema, head.get)
    assert(committed.count() == 40L)
    assert(TestCommits.lineageAt(dstLog, batchId) == TestCommits.lineageCounted(committed))
    val got = dstLog.scan(spark, Schemas.extractedSchema)
      .select("url", "kind", "text").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getString(2))))
    assert(got.length == 100 && got.map(_._1).distinct.length == 100,
      "restart must append each page's extract exactly once")
    for ((url, (kind, text)) <- got) {
      val exp = oracle(url)
      assert(kind == exp.kind && text == exp.text, url)
    }
    // the destination manifest carries the stream's idempotence watermark,
    // under the GENERATED appId persisted in the checkpoint (round 6: the
    // path-string-derived id broke exactly-once across path respellings)
    val app = StreamingExtract.resolveAppId(ckpt, "streaming-extract")
    assert(app.startsWith("streaming-extract:") && dstLog.txnVersion(app).isDefined)
    // every spelling of the same checkpoint dir resolves the SAME identity
    assert(StreamingExtract.resolveAppId(ckpt + "/", "streaming-extract") == app)
    assert(StreamingExtract.resolveAppId(
      ckpt.replaceFirst("/([^/]+)$", "//$1"), "streaming-extract") == app)
  }

  test("schema inference: load() without .schema uses the newest commit's schema") {
    val dir = tmpDir("stream_infer")
    val ckpt = tmpDir("stream_infer_ck")
    val log = new SnapshotLog(dir)
    append(log, 0 until 6)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[String])]()
    def sink(df: org.apache.spark.sql.DataFrame, batchId: Long): Unit = {
      val names = df.schema.fieldNames.toSeq
      df.select("id").collect().foreach(r => seen.add(r.getLong(0) -> names)): Unit
    }
    def start() = spark.readStream.format("graft-snapshots").load(dir)
      .writeStream.foreachBatch(sink _)
      .option("checkpointLocation", ckpt).start()
    val q = start()
    try {
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      assert(seen.asScala.map(_._1).toSeq.sorted == (0L until 6L))
      assert(seen.asScala.forall(_._2 == Seq("id", "v")))
    } finally q.stop()

    // restart AFTER additive evolution: the inferred schema widens, the old
    // checkpoint keeps working, only the new append arrives — under the
    // widened schema
    val sp = spark; import sp.implicits._
    val d = log.stageUniqueDataDir()
    spark.range(6, 9).select(col("id"), (col("id") % 5).as("v"),
      (col("id") * 2).as("extra"))
      .repartition(1).write.mode("overwrite").parquet(d)
    log.commitOptimistic(d): Unit
    seen.clear()
    val q2 = start()
    try {
      q2.processAllAvailable()
      import scala.jdk.CollectionConverters._
      assert(seen.asScala.map(_._1).toSeq.sorted == Seq(6L, 7L, 8L))
      assert(seen.asScala.forall(_._2 == Seq("id", "v", "extra")),
        s"restart must follow the evolved schema: ${seen.asScala.headOption}")
    } finally q2.stop()

    // an empty table has nothing to infer from: loud, at load time
    val e = intercept[Exception] {
      spark.readStream.format("graft-snapshots").load(tmpDir("stream_infer_empty"))
    }
    def causes(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: causes(x.getCause))
    assert(causes(e).exists(c =>
      Option(c.getMessage).exists(_.contains("empty table"))), e.getMessage)
  }

  test("a schema change between load() and query start fails loudly, not as attribute mismatch") {
    val dir = tmpDir("stream_infer_div")
    val ckpt = tmpDir("stream_infer_div_ck")
    val log = new SnapshotLog(dir)
    append(log, 0 until 4)
    // load() infers (id, v) into the analyzed plan ...
    val loaded = spark.readStream.format("graft-snapshots").load(dir)
    // ... then the newest commit's schema changes BEFORE the query starts
    val d = log.stageUniqueDataDir()
    spark.range(4, 6).select(col("id"), (col("id") % 5).as("v"),
      (col("id") * 2).as("extra"))
      .repartition(1).write.mode("overwrite").parquet(d)
    log.commitOptimistic(d): Unit
    val q = loaded.writeStream
      .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) => { df.count(): Unit })
      .option("checkpointLocation", ckpt).start()
    val e = intercept[Exception] { q.processAllAvailable(); q.awaitTermination() }
    def causes(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: causes(x.getCause))
    assert(causes(e).exists(c => Option(c.getMessage).exists(m =>
      m.contains("changed schema between load() and query start"))),
      s"want the guard's actionable message, got: ${e.getMessage}")
  }

  test("micro-batches plan from the manifest: ManifestFileIndex in the scan") {
    val dir = tmpDir("stream_plan")
    val log = new SnapshotLog(dir)
    append(log, 0 until 8)
    // the foreachBatch df wraps a re-materialized RDD; the SOURCE scan plan
    // lives on the stream's incremental execution
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = readStream(dir).writeStream
      .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) => { df.count(): Unit })
      .option("checkpointLocation", tmpDir("stream_plan_ck")).start()
    val se = q.asInstanceOf[
      org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery
    // BOUNDED-RETRY capture: under host load, lastExecution can briefly
    // lag the processAllAvailable return (or point at an execution whose
    // plan string is not yet the data batch's). Waiting for a plan that
    // contains a parquet scan cannot mask a regression — a scan through
    // the WRONG index still fails the ManifestFileIndex assert below.
    def lastDataPlan(): String = {
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      var p = Option(se.lastExecution).map(_.executedPlan.toString).getOrElse("")
      while (!p.contains("Scan parquet") && System.nanoTime() < deadline) {
        Thread.sleep(100)
        p = Option(se.lastExecution).map(_.executedPlan.toString).getOrElse("")
      }
      p
    }
    try {
      q.processAllAvailable()
      plans += lastDataPlan()
      append(log, 8 until 12)
      q.processAllAvailable()
      plans += lastDataPlan()
    } finally q.stop()
    // both the initial full load and the incremental tail batch must scan
    // through the manifest-fed index — zero listing/stat calls per batch
    assert(plans.size == 2 && plans.forall(_.contains("ManifestFileIndex")),
      s"every micro-batch must plan via ManifestFileIndex:\n${plans.head.take(800)}")
  }

  test("maxSnapshotsPerTrigger drains a deep backlog in bounded micro-batches") {
    val dir = tmpDir("stream_rate")
    val log = new SnapshotLog(dir)
    val s0 = append(log, 0 until 4)
    // a 6-snapshot backlog lands before the stream starts
    for (i <- 1 to 6) append(log, (i * 4) until (i * 4 + 4))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    def sink(df: org.apache.spark.sql.DataFrame, batchId: Long): Unit = {
      val rows = df.select("id").collect().map(_.getLong(0))
      rows.foreach(seen.add)
      batchSizes.add(rows.length): Unit
    }
    // Trigger.AvailableNow — the trigger every shipped pipeline uses. The
    // source implements SupportsTriggerAvailableNow, so the capped drain is
    // a MULTI-batch walk to the head-at-start; a plain V1 Source would fall
    // back to single-batch execution and silently stop after ONE capped
    // batch (2 of 6 snapshots), reporting success
    val q = spark.readStream.format("graft-snapshots").schema(schema)
      .option("startingSnapshot", s0.toString)
      .option("maxSnapshotsPerTrigger", "2")
      .load(dir)
      .writeStream.foreachBatch(sink _)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("stream_rate_ck")).start()
    try {
      assert(q.awaitTermination(120000), "AvailableNow drain must terminate")
      import scala.jdk.CollectionConverters._
      assert(seen.asScala.toSeq.sorted == (4L until 28L),
        "the capped drain must still deliver the whole backlog exactly once")
      // 6 snapshots at <= 2 per trigger: at least 3 batches, none over 8 rows
      assert(batchSizes.size >= 3 && batchSizes.asScala.forall(_ <= 8),
        s"micro-batches must stay bounded, got sizes ${batchSizes.asScala.toSeq}")
    } finally q.stop()
  }

  test("continuous pipeline: extract + dedup streams compose exactly-once") {
    val sp = spark; import sp.implicits._
    val pagesDir = tmpDir("cp_pages")
    val extDir = tmpDir("cp_ext")
    val dedupDir = tmpDir("cp_dedup")
    val ck = tmpDir("cp_ck")
    val fixture = Synth.corpus(60)
    val pagesLog = new SnapshotLog(pagesDir)
    def appendPages(ps: Seq[Schemas.Page]): Unit = {
      val d = pagesLog.stageUniqueDataDir()
      spark.createDataset(ps).repartition(2).write.mode("overwrite").parquet(d)
      pagesLog.commitOptimistic(d): Unit
    }
    def drain(): Unit = {
      StreamingExtract.startTableToTable(spark, pagesDir, extDir, s"$ck/extract", 8)
        .awaitTermination()
      Pipelines.startStreamingDedup(spark, extDir, dedupDir, s"$ck/dedup")
        .awaitTermination()
    }
    val dlog = new SnapshotLog(dedupDir)
    def dedupRows() = dlog.scan(spark, Pipelines.dedupedSchema)
    def distinctTexts(): Long = new SnapshotLog(extDir)
      .scan(spark, Schemas.extractedSchema)
      .select(md5(col("text").cast("binary"))).distinct().count()

    // batch 1: 40 originals + 10 same-payload pages under different urls
    appendPages(fixture.take(40) ++
      fixture.take(10).map(p => p.copy(url = p.url + "?dup")))
    drain()
    assert(dedupRows().count() == distinctTexts(),
      "deduped table must hold one row per distinct extracted text")
    // min-url representative: the original url wins over its ?dup twin
    val fp0 = dedupRows()
      .filter(col("url") === fixture.head.url || col("url") === fixture.head.url + "?dup")
    assert(fp0.select("url").collect().map(_.getString(0)).toSeq ==
      Seq(fixture.head.url))

    // drain with nothing new: both streams are no-ops
    val head = dlog.currentSnapshot()
    drain()
    assert(dlog.currentSnapshot() == head)

    // batch 2: 20 new pages + 5 repeats of batch-1 payloads; only genuinely
    // new texts append, exactly once
    appendPages(fixture.slice(40, 60) ++
      fixture.slice(10, 15).map(p => p.copy(url = p.url + "?again")))
    drain()
    assert(dedupRows().count() == distinctTexts())
    assert(dedupRows().groupBy("fp").count().filter(col("count") > 1).count() == 0,
      "no digest may appear twice in the deduped corpus")
  }

  test("stateful operators compose: streaming aggregation over the tail") {
    val dir = tmpDir("stream_agg")
    val log = new SnapshotLog(dir)
    append(log, 0 until 20)
    val q = readStream(dir).groupBy("v").agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("agg1").outputMode("complete")
      .option("checkpointLocation", tmpDir("stream_agg_ckpt")).start()
    try {
      q.processAllAvailable()
      val got = spark.table("agg1").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == (0L until 5L).map(v => v -> 4L).toMap)
      append(log, 20 until 25)
      q.processAllAvailable()
      val got2 = spark.table("agg1").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got2 == (0L until 5L).map(v => v -> 5L).toMap,
        "the incremental batch must fold into the running aggregate")
    } finally q.stop()
  }

  test("retention guard: expire clamps to a lagging stream and releases as it advances") {
    // round-5 gap: expireSnapshots could reclaim a snapshot a lagging
    // stream's checkpoint still diffs from — the stream then failed loudly
    // but the data was already gone. Streams now register progress markers
    // under the table's meta and expire clamps to the laggiest one.
    val dir = tmpDir("stream_guard")
    val ckpt = tmpDir("stream_guard_ckpt")
    val log = new SnapshotLog(dir)
    append(log, 0 until 4)   // snap 0
    append(log, 4 until 8)   // snap 1
    append(log, 8 until 12)  // snap 2

    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def sink(df: org.apache.spark.sql.DataFrame, batchId: Long): Unit =
      df.select("id").collect().foreach(r => seen.add(r.getLong(0)))
    def ids(): Seq[Long] = { import scala.jdk.CollectionConverters._; seen.asScala.toSeq.sorted }
    def start() = readStream(dir).writeStream.foreachBatch(sink _)
      .option("checkpointLocation", ckpt).start()

    val q1 = start()
    try {
      q1.processAllAvailable() // batch 0: full load at snap 2
      assert(ids() == (0L until 12L))
      // registration happened at query start, before any batch committed:
      // the marker pins the whole history (committed = -1, no start option)
      val m0 = log.streamMarkers()
      assert(m0.size == 1 && m0.head.committed == -1L, m0.toString)
      assert(m0.head.info.contains("checkpoint="), m0.head.info)
      // keepLast=1 alone would reclaim snaps 0-1; the guard pins everything
      assert(log.expireSnapshots(keepLast = 1) == ((0, 0)),
        "a registered stream that checkpointed nothing pins all history")
      assert(log.snapshots() == Seq(0L, 1L, 2L))
      // batch 1 ((2,3]) starts -> the engine commits batch 0 -> marker = 2
      append(log, 12 until 16) // snap 3
      q1.processAllAvailable()
      assert(ids() == (0L until 16L))
    } finally q1.stop()
    assert(log.streamMarkers().head.committed == 2L,
      log.streamMarkers().toString)

    // expire now reclaims BELOW the marker and keeps 2 (the diff base of the
    // stream's next batch) even though keepLast=1 asks for head-only
    val (m1, _) = log.expireSnapshots(keepLast = 1)
    assert(m1 == 2, s"expected snaps 0-1 reclaimed, got $m1")
    assert(log.snapshots() == Seq(2L, 3L))

    // the stream survives the clamped expire: restart delivers exactly the
    // appends landed while it was down
    append(log, 16 until 20) // snap 4
    seen.clear()
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(ids() == (16L until 20L),
        "restart after a clamped expire must resume exactly where it left off")
    } finally q2.stop()

    // decommission: the explicit override expires regardless of the marker,
    // and dropStreamMarker removes the registration for good
    val sid = log.streamMarkers().head.streamId
    val (m2, _) = log.expireSnapshots(keepLast = 1, ignoreStreams = true)
    assert(m2 == 2, s"override must apply plain keepLast, got $m2")
    assert(log.snapshots() == Seq(4L))
    assert(log.dropStreamMarker(sid))
    assert(log.streamMarkers().isEmpty)
    assert(!log.dropStreamMarker(sid), "second drop must report absence")
  }
}
