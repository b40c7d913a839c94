package graft

import org.apache.spark.sql.SparkSession
import graft.spark.{ExtractJob, SearchJob, Schemas, SnapshotLog}
import graft.kernel.SearchKernels

/** Production entry point for `spark-submit` (north_rule: "run via
  * spark-submit on a multi-executor cluster at N and 4N executors").
  *
  * {{{
  * spark-submit --class graft.SubmitMain <jar> extract <pagesParquet> <tableDir> [numBuckets]
  * spark-submit --class graft.SubmitMain <jar> search  <tableDir> <matchedDir> Field=value...
  * }}}
  *
  * `extract` reads the pages table, resumes from the last committed snapshot
  * (only pending urls are processed), runs the kernel map-side, gates on the
  * >= 0.9 success ratio, and commits a snapshot whose list records the
  * per-bucket lineage. Idempotent: re-running after success is a no-op.
  *
  * `search` evaluates the reference's disjunctive field predicate over the
  * extracted table and overwrites `matchedDir` with matching rows; field
  * names use the reference's UI aliases ("Dealer Name", "Contract #", "VIN",
  * "Claim #", "Search by Word" — search.py:89-99), e.g. `"Dealer Name=Quality
  * Motors" "Search by Word=refund"`.
  *
  * The master URL, executor count, and memory come from spark-submit — this
  * main sets only job-level SQL knobs (AQE on, skew join on). On a cluster,
  * `spark.sql.shuffle.partitions` should be set to ~2-3x total cores on the
  * submit line; the extraction itself is narrow and unaffected by it.
  */
object SubmitMain {

  private def usage(): Nothing = {
    System.err.println(
      """usage:
        |  extract <pagesParquet> <tableDir> [numBuckets=32] [--force]
        |  search  <tableDir> <matchedDir> Field=value...
        |  bundle  <matchedDir> <bundleDir>
        |  expire  <tableDir> <keepLast> [--ignore-streams]
        |  compact <tableDir> [targetFiles=128] [sortBy=col1,col2]
        |  orphans <tableDir> [minAgeHours=1]
        |  describe <tableDir>
        |  streams <tableDir> [drop <streamId>]
        |  lsh-index <embeddingsParquet> <indexDir>
        |  ivf-index <embeddingsParquet> <indexDir> [cells=16] [iters=1]
        |  upsert  <tableDir> <updatesParquet> [keyCol=url]
        |  reextract <pagesParquet> <tableDir> <urlsParquet> [numBuckets=32]
        |  tail    <tableDir> <fromSnapshot> <outDir>
        |  pipeline <pagesParquet> <tableDir> <dedupedDir> [numBuckets=32]
        |  stream  <pagesTableDir> <tableDir> <dedupedDir> <checkpointRoot> [numBuckets=32]""".stripMargin)
    sys.exit(2)
  }

  /** Raised when there is nothing to bundle — the engine analog of the
    * reference's 404 "No files found to download" (claim.py:84-85).
    */
  final case class NothingToBundle(dir: String)
    extends RuntimeException(s"no files found to download in $dir")

  /** S6 analog (claim.py:79-94 zip-download sink): collapse the matched table
    * into ONE artifact file for handoff. coalesce(1) is the point here — a
    * download is a single stream — never use this shape for corpus-sized
    * tables. An empty matched table raises [[NothingToBundle]] instead of
    * writing an empty artifact (claim.py:84-85's 404 guard).
    */
  def bundle(spark: SparkSession, matchedDir: String, bundleDir: String): Unit = {
    val matched = spark.read.parquet(matchedDir)
    if (matched.isEmpty) throw NothingToBundle(matchedDir)
    matched.coalesce(1).write.mode("overwrite").parquet(bundleDir)
  }

  /** Small-file compaction (C8) as `compact` runs it: bin-pack the current
    * snapshot into at most `targetFiles` data files as a new replace
    * snapshot; a non-empty `sortBy` switches to the clustered rewrite
    * (disjoint per-file ranges -> precise file skipping). The rewrite reads
    * through the schema of the newest committed file, so a deduped table
    * keeps its `fp`/`fp64` columns, and records the stats columns the live
    * files already record, plus `sortBy`. None when the table is empty or
    * already at or under the target.
    */
  def compact(spark: SparkSession, tableDir: String, targetFiles: Int,
      sortBy: Seq[String]): Option[Long] = {
    val log = new SnapshotLog(tableDir)
    log.newestFileSchema(spark).flatMap { schema =>
      val recorded = log.currentSnapshot().toSeq.flatMap(log.metaAt).flatMap(_.stats.keys)
      log.compact(spark, schema, targetFiles,
        statsColumns = (recorded ++ sortBy).distinct, sortBy = sortBy)
    }
  }

  /** Incremental read (C12) as `tail` runs it: write the rows appended
    * after snapshot `from` to `outDir` and return their count. Like
    * [[compact]], it reads through the schema of the newest committed file,
    * so a deduped table keeps its `fp`/`fp64` columns; each row carries its
    * full page list ([[Schemas.fullPages]]).
    */
  def tail(spark: SparkSession, tableDir: String, from: Long, outDir: String): Long = {
    val log = new SnapshotLog(tableDir)
    val schema = log.newestFileSchema(spark).getOrElse(Schemas.extractedSchema)
    val inc = log.scanIncremental(spark, schema, from)
    val rows = if (Seq("pages", "text").forall(schema.fieldNames.contains))
      inc.withColumn("pages", Schemas.fullPages) else inc
    rows.write.mode("overwrite").parquet(outDir)
    // count the OUTPUT (parquet footer stats — near-free), not the input: a
    // pre-write count() would scan the appended slice twice, defeating the
    // command's whole cheap-incremental purpose
    spark.read.parquet(outDir).count()
  }

  def main(args: Array[String]): Unit = {
    // compact's targetFiles is optional; tail needs 4 args; the rest 3
    val minArgs = args.headOption match {
      case Some("compact") | Some("orphans") | Some("describe") |
           Some("streams") => 2
      case Some("tail") | Some("pipeline") | Some("reextract") => 4
      case Some("stream") => 5
      case _ => 3
    }
    if (args.length < minArgs) usage()
    // pure-filesystem maintenance commands skip SparkSession startup — they
    // touch no Spark API and should stay cheap for cron-style invocation
    args(0) match {
      case "expire" =>
        // snapshot GC (C7): retain the last <keepLast> snapshots, reclaim
        // expired manifests + data files no retained manifest references.
        // Registered streams clamp retention (the guard warns on stderr);
        // a trailing `--ignore-streams` is the decommissioned-stream override
        val Array(_, tableDir, keepStr) = args.take(3)
        val (manifests, files) = new SnapshotLog(tableDir)
          .expireSnapshots(keepStr.toInt,
            ignoreStreams = args.contains("--ignore-streams"))
        println(s"expired $manifests snapshots, deleted $files data files")
        return
      case "streams" =>
        // registered streaming readers of a table: what expire clamps on.
        // `streams <table> drop <id>` deregisters a decommissioned stream
        val tableDir = args(1)
        val log = new SnapshotLog(tableDir)
        if (args.length > 3 && args(2) == "drop") {
          val ok = log.dropStreamMarker(args(3))
          println(if (ok) s"dropped stream marker ${args(3)}"
                  else s"no stream marker ${args(3)} under $tableDir")
        } else if (args.length == 3 && args(2) == "drop") {
          // a forgotten id must not silently degrade to the LIST branch: the
          // exit-0 listing reads as success while nothing was dropped and
          // the next expire still clamps on the marker (round-6 review)
          System.err.println("usage: streams <tableDir> drop <streamId>")
          sys.exit(2)
        } else {
          val ms = log.streamMarkers().sortBy(_.streamId)
          if (ms.isEmpty) println(s"$tableDir: no registered streams")
          else ms.foreach { m =>
            val age = (System.currentTimeMillis() - m.updatedAtMs) / 1000L
            println(s"${m.streamId}\tcommitted=${m.committed}\t" +
              s"updated ${age}s ago\t${m.info}")
          }
        }
        return
      case "orphans" =>
        // age-gated remove_orphan_files analog: reclaim crashed-stage residue
        val tableDir = args(1)
        val hours = if (args.length > 2) args(2).toLong else 1L
        val n = new SnapshotLog(tableDir).removeOrphanFiles(hours * 3600000L)
        println(s"removed $n orphan data files from $tableDir")
        return
      case "describe" =>
        // table inspection from metadata alone: snapshots, live files/bytes,
        // recorded stats columns, lineage, idempotent-writer watermarks —
        // everything an operator needs before expire/compact/stream
        // decisions, with zero data reads and no SparkSession
        val tableDir = args(1)
        val log = new SnapshotLog(tableDir)
        log.currentSnapshot() match {
          case None => println(s"$tableDir: empty table (no committed snapshot)")
          case Some(head) =>
            val snaps = log.snapshots()
            val meta = log.metaAt(head)
            val statCols = meta.flatMap(_.stats.keys).distinct.sorted
            println(s"table $tableDir")
            println(s"  snapshots retained: ${snaps.size} " +
              s"(${snaps.head}..${snaps.last}), head = $head")
            println(s"  live files: ${meta.size}, bytes: ${meta.map(_.size).sum}")
            println(SnapshotLog.rowCountOf(meta)
              .fold("  rows: unknown (stats-free commits)")(n => s"  rows: $n"))
            println(s"  stats columns: " +
              (if (statCols.isEmpty) "none" else statCols.mkString(", ")))
            val lineage = log.lineage()
            if (lineage.nonEmpty)
              println(s"  lineage: ${lineage.map(_.doc_count).sum} docs, " +
                s"${lineage.map(_.byte_count).sum} bytes over " +
                s"${lineage.map(_.snapshot_id).distinct.size} retained extract commit(s)")
            val txns = log.txnWatermarks()
            if (txns.nonEmpty)
              println("  txn watermarks:" + txns.toSeq.sortBy(_._1)
                .map { case (a, v) => s"\n    $a = $v" }.mkString)
            val streams = log.streamMarkers().sortBy(_.streamId)
            if (streams.nonEmpty)
              println("  registered streams (retention floor = " +
                s"${streams.map(_.committed).min}):" + streams
                .map(m => s"\n    ${m.streamId} committed=${m.committed}")
                .mkString)
        }
        return
      case _ => ()
    }
    val spark = SparkSession.builder()
      .appName(s"graft-${args(0)}")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // micros, not legacy INT96: timestamp columns then carry usable
      // footer stats for manifest-level file skipping (Iceberg mandates
      // micros for the same reason); INT96 degrades to "no stats"
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      args(0) match {
        case "extract" =>
          val Array(_, pagesPath, tableDir) = args.take(3)
          val rest = args.drop(3)
          // --force = the reference's extractDocuments=true (claim.py:34):
          // re-extract ALL urls and replace the table contents
          val force = rest.contains("--force")
          val buckets = rest.filterNot(_ == "--force").headOption.map(_.toInt).getOrElse(32)
          val pages = spark.read.schema(Schemas.pagesSchema).parquet(pagesPath)
            .as[Schemas.Page](org.apache.spark.sql.Encoders.product[Schemas.Page])
          ExtractJob.run(spark, pages, tableDir, buckets, force) match {
            case Some(id) =>
              val m = new SnapshotLog(tableDir).lineage().filter(_.snapshot_id == id)
              println(s"committed snapshot=$id docs=${m.map(_.doc_count).sum} " +
                s"bytes=${m.map(_.byte_count).sum}")
            case None =>
              println("nothing pending (resume found all urls committed)")
          }
        case "search" =>
          val Array(_, tableDir, matchedDir) = args.take(3)
          val kv = args.drop(3).map { a =>
            val i = a.indexOf('=')
            if (i < 0) usage()
            a.substring(0, i) -> a.substring(i + 1)
          }.toMap
          val params = SearchKernels.normalizeParams(kv)
          if (params.isEmpty) usage()
          val extracted = ExtractJob.readExtracted(spark, tableDir)
          val res = SearchJob.run(spark, extracted,
            pages = extracted, params = params, matchedDir = matchedDir)
          println(s"matched ${res.count} documents -> $matchedDir")
          res.sample.foreach(u => println(s"  $u"))
        case "bundle" =>
          val Array(_, matchedDir, bundleDir) = args.take(3)
          bundle(spark, matchedDir, bundleDir)
          println(s"bundled $matchedDir -> $bundleDir (single artifact)")
        case "compact" =>
          // an optional comma-separated sort column list clusters the rewrite
          val tableDir = args(1)
          val target = if (args.length > 2) args(2).toInt else 128
          val sortBy = if (args.length > 3)
            args(3).stripPrefix("sortBy=").split(',').toSeq.filter(_.nonEmpty)
          else Seq.empty[String]
          compact(spark, tableDir, target, sortBy) match {
            case Some(id) =>
              val how = if (sortBy.isEmpty) "" else s" clustered by ${sortBy.mkString(",")}"
              println(s"compacted $tableDir into <= $target files$how (snapshot $id)")
            case None => println(s"$tableDir already at or under $target files; no-op")
          }
        case "tail" =>
          // incremental read (C12): write ONLY the rows appended after
          // <fromSnapshot> — what a downstream pipeline consumes instead of
          // re-reading the table because one batch landed; fails loudly
          // across a replace commit (append diff undefined over a rewrite)
          val Array(_, tableDir, fromStr, outDir) = args.take(4)
          val n = tail(spark, tableDir, fromStr.toLong, outDir)
          println(s"tailed $n rows appended after snapshot $fromStr -> $outDir")
        case "pipeline" =>
          // the composed per-batch flow (C12 + P1 end-to-end): extract only
          // pending pages, tail exactly the appended slice, exact-dedup it
          // against the deduped corpus's digests, append the survivors —
          // nothing re-reads the accumulated corpus; rerun after success is
          // a full no-op
          val Array(_, pagesPath, tableDir, dedupedDir) = args.take(4)
          val buckets = if (args.length > 4) args(4).toInt else 32
          val pages = spark.read.schema(Schemas.pagesSchema).parquet(pagesPath)
            .as[Schemas.Page](org.apache.spark.sql.Encoders.product[Schemas.Page])
          val r = graft.spark.Pipelines.incrementalDedup(
            spark, pages, tableDir, dedupedDir, buckets)
          val ex = r.extractedSnapshot
            .map(e => s"extracted snapshot=$e")
            .getOrElse("extract: nothing pending (resume found all urls committed)")
          val dd = r.dedupedSnapshot
            // None+Some happens on crash RECOVERY (a prior run committed the
            // extract but died before the dedup): rows still move — say so
            .map(d => s"appended ${r.appendedRows} deduped rows (snapshot $d)")
            .getOrElse("deduped table unchanged (no new digests)")
          println(s"$ex; $dd")
        case "stream" =>
          // the CONTINUOUS pipeline (C20 + C21 + P1): tail the pages
          // snapshot table -> extract -> extracted table -> tail -> exact
          // dedup -> deduped table, both stages AvailableNow with
          // checkpointed offsets and idempotent commits. Each invocation
          // drains exactly the appends since the last one — exactly-once
          // across crashes and reruns; `pipeline` is the one-shot batch
          // equivalent for plain parquet page drops
          val Array(_, pagesTable, tableDir, dedupedDir, ckRoot) = args.take(5)
          val buckets = if (args.length > 5) args(5).toInt else 32
          graft.spark.StreamingExtract.startTableToTable(
            spark, pagesTable, tableDir, s"$ckRoot/extract", buckets)
            .awaitTermination()
          graft.spark.Pipelines.startStreamingDedup(
            spark, tableDir, dedupedDir, s"$ckRoot/dedup")
            .awaitTermination()
          val head = new SnapshotLog(dedupedDir).currentSnapshot()
          println(s"stream drained: deduped table at ${head.fold("<empty>")(h => s"snapshot $h")}")
        case "reextract" =>
          // partial re-extract (C23 composition): re-run the kernel over the
          // named urls only and merge the fresh rows — the scale-correct
          // form of --force for "the kernel was fixed for these documents"
          val Array(_, pagesPath, tableDir, urlsPath) = args.take(4)
          val buckets = if (args.length > 4) args(4).toInt else 32
          val pages = spark.read.schema(Schemas.pagesSchema).parquet(pagesPath)
            .as[Schemas.Page](org.apache.spark.sql.Encoders.product[Schemas.Page])
          ExtractJob.reextract(spark, pages, tableDir,
            spark.read.parquet(urlsPath), buckets) match {
            case Some(id) => println(s"re-extracted and merged (snapshot $id)")
            case None => println("no named url present in the pages input; no-op")
          }
        case "upsert" =>
          // copy-on-write MERGE (C23): replace rows whose url appears in the
          // updates parquet, insert the rest — what a partial re-extract
          // lands instead of a full-table replace
          val Array(_, tableDir, updatesPath) = args.take(3)
          val keyCol = if (args.length > 3) args(3).stripPrefix("keyCol=") else "url"
          val updates = spark.read.schema(Schemas.extractedSchema).parquet(updatesPath)
          val id = new SnapshotLog(tableDir).upsertMatching(
            spark, Schemas.extractedSchema, updates, keyCol,
            statsColumns = Seq("bucket"), clusterBy = Seq("bucket"),
            clusterParts = 32)
          println(s"merged updates on $keyCol (snapshot $id)")
        case "lsh-index" =>
          // materialize the ANN serving index (P7): bucket-partitioned, so a
          // 13-probe query reads the 13 probed buckets' files, not the
          // corpus. The index is a snapshot table committed once, so a
          // rebuild at the same indexDir does nothing; after corpus changes
          // point at a fresh indexDir and GC the old one
          val Array(_, embPath, indexDir) = args.take(3)
          graft.spark.Embeddings.lshBuildIndex(spark.read.parquet(embPath), indexDir)
          println(s"LSH bucket index published at $indexDir")
        case "ivf-index" =>
          // train (or key-hit) the IVF coarse index (P8): centroids ride the
          // index as a sidecar, so serving (ivfTopKIndexed) never re-trains
          val Array(_, embPath, indexDir) = args.take(3)
          val cells = if (args.length > 3) args(3).toInt else 16
          val iters = if (args.length > 4) args(4).toInt else 1
          val (cents, trained) = graft.spark.Embeddings
            .ivfEnsureIndex(spark.read.parquet(embPath), indexDir, cells, iters)
          println(s"IVF index at $indexDir: ${cents.length} cells, " +
            (if (trained) "trained + published" else "key hit (no training scans)"))
        case _ => usage()
      }
    } finally spark.stop()
  }
}
