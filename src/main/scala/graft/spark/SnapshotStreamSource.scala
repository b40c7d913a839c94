package graft.spark

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

/** C20 — Structured Streaming SOURCE over the snapshot log: `spark.readStream
  * .format("graft-snapshots").schema(s).load(tableDir)` tails append commits
  * with checkpointed exactly-once offsets. The stream offset IS the snapshot
  * id, so a micro-batch is a pure metadata operation — the segment-set
  * difference between two committed snapshots, planned stat-free from the
  * manifest ([[SnapshotLog.streamingBatch]]) — and recovery replay of a batch
  * re-reads exactly the same immutable file set. This is the streaming half
  * of C12's incremental scan: the same `tail`, but with the engine owning
  * offset persistence, retries, and downstream stateful operators
  * (watermarked aggregation, dropDuplicates, flatMapGroupsWithState all
  * compose on top — they see an ordinary streaming relation).
  *
  * The V1 `Source` interface is the deliberate choice over a DSv2
  * `MicroBatchStream`: `getBatch` returns a DataFrame, so the manifest-fed
  * parquet planning (pushdown, column pruning, file skipping) is reused
  * verbatim instead of hand-rolling a partition reader — the same trade
  * Delta Lake's streaming source makes.
  *
  * Semantics:
  *   - no `startingSnapshot` option: the first batch is the FULL table as of
  *     stream start, then append tailing (Delta's default).
  *   - `startingSnapshot = <id>`: tail appends strictly AFTER snapshot `id`
  *     (the committed id a prior batch consumer recorded — handoff from
  *     batch to streaming without reprocessing).
  *   - `startingSnapshot = latest`: tail only appends committed after stream
  *     creation.
  *   - a REWRITE commit (replace / compact / delete) inside a tailed range
  *     fails the stream loudly rather than replaying rewritten rows as
  *     appends; expire must retain snapshots at least as long as the stream
  *     lags (an expired `from` manifest also fails loudly, never silently).
  *   - `maxSnapshotsPerTrigger = <n>`: cap each micro-batch at `n` append
  *     commits, so a stream restarted behind a deep backlog drains it in
  *     bounded steps instead of planning the backlog as one giant batch
  *     (Delta's `maxFilesPerTrigger`, at this log's natural granularity).
  */
final class SnapshotStreamProvider extends StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft-snapshots"

  private def normalized(s: StructType): StructType =
    // one nullability surface with every other manifest-planned scan
    StructType(s.fields.map(_.copy(nullable = true)))

  /** The caller's schema, or — absent one — the schema of the table's most
    * recently committed file ([[SnapshotLog.newestFileSchema]]). An empty
    * table with no explicit schema fails loudly (nothing to infer from).
    *
    * Resolved identically at `load()` (sourceSchema) and at query start
    * (createSource) and deliberately NOT pinned to the checkpoint: the V1
    * `sourceSchema` API cannot see the metadata path, so a pinned schema
    * would diverge from the analyzer's relation the moment the table
    * evolves — MicroBatchExecution asserts plan/batch attribute parity and
    * the checkpoint would become unrestartable. Instead a RESTART follows
    * the table's current schema: explicit `.schema` always wins verbatim,
    * and an inferred schema widens with additive evolution (pre-evolution
    * files null-fill, like the batch scan).
    *
    * SCOPE of the inference convenience — production streams over EVOLVING
    * tables should pass an explicit schema, because per-start inference is
    * only as stable as the newest commit: (a) it follows that commit even
    * if a lagging writer appends a NARROWER batch (the restart would drop
    * the evolved column from the delivered frame); (b) a restart must
    * re-invoke `load()` (a retained pre-evolution DataFrame's analyzed
    * relation no longer matches the re-inferred source); (c) stateful
    * operators keyed on the full row (dropDuplicates()) pin their state
    * schema at first start, and a widened restart fails Spark's state
    * schema check — widening flows freely only through stateless plans.
    */
  private def resolveSchema(sqlContext: SQLContext,
      schema: Option[StructType], log: => SnapshotLog): StructType =
    normalized(schema.getOrElse(
      log.newestFileSchema(sqlContext.sparkSession).getOrElse(
        throw new IllegalArgumentException(
          "graft-snapshots cannot infer a schema from an empty table — " +
            "pass an explicit .schema(...)"))))

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) = {
    def opt(name: String): Option[String] =
      parameters.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }
    val path = opt("path").getOrElse(throw new IllegalArgumentException(
      "graft-snapshots needs a table path: .load(<tableDir>)"))
    val log = new SnapshotLog(path)
    val resolved = resolveSchema(sqlContext, schema, log)
    if (schema.isEmpty)
      SnapshotStreamProvider.lastInferred.put(log.tableRoot, resolved): Unit
    (shortName(), resolved)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    // options may arrive in caller case — match keys case-insensitively
    def opt(name: String): Option[String] =
      parameters.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }
    val path = opt("path").getOrElse(throw new IllegalArgumentException(
      "graft-snapshots needs a table path: .load(<tableDir>)"))
    val log = new SnapshotLog(path)
    val streamSchema = resolveSchema(sqlContext, schema, log)
    // inference window guard: the analyzed plan pinned the schema resolved
    // at load(); a commit changing the newest file's schema between load()
    // and start would otherwise fail later as an opaque attribute-mismatch
    for (atLoad <- Option(SnapshotStreamProvider.lastInferred.get(log.tableRoot))
         if schema.isEmpty && atLoad != streamSchema)
      throw new IllegalStateException(
        s"the table at $path changed schema between load() and query start " +
          s"(inferred $atLoad at load(), $streamSchema now) — re-invoke " +
          "load() to pick up the new schema, or pass an explicit .schema(...)")
    val startingAfter = resolveStart(sqlContext, metadataPath, log,
      opt("startingSnapshot"))
    val maxPerTrigger = opt("maxSnapshotsPerTrigger").map { s =>
      val n = try s.trim.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"maxSnapshotsPerTrigger must be a positive number, got '$s'")
      }
      require(n >= 1, s"maxSnapshotsPerTrigger must be >= 1, got $n")
      n
    }
    // retention guard registration: the stream announces itself under the
    // TABLE's meta (id generated once per checkpoint — spelling-stable like
    // the idempotence appId) so expireSnapshots sees a lagging checkpoint
    // before reclaiming the snapshots it still diffs from. First start
    // registers the resolved startingSnapshot; restarts keep the existing
    // marker (the checkpoint is further along — the first batch commit
    // refreshes it) so re-registration never regresses progress.
    val streamId = marker(sqlContext, metadataPath, "stream-id",
      "stream-" + java.util.UUID.randomUUID().toString.replace("-", "").take(12))
    if (!log.streamMarkers().exists(_.streamId == streamId))
      log.registerStreamProgress(streamId, startingAfter.getOrElse(-1L),
        s"checkpoint=$metadataPath")
    new SnapshotStreamSource(sqlContext, path, log, streamSchema,
      startingAfter, maxPerTrigger, streamId = Some(streamId),
      markerInfo = s"checkpoint=$metadataPath")
  }

  /** Read-or-persist a small value under the stream's `metadataPath`: the
    * persisted value wins (it is a constant of the checkpoint, like every
    * offset); `fresh` is only evaluated into place on first creation, and a
    * concurrent creator of the same checkpoint loses to the first
    * ([[GraftIo.readOrCreate]]). The value is staged and promoted whole, so
    * a crash mid-write never leaves a torn marker (a truncated value would
    * silently shift the stream's start).
    */
  private def marker(sqlContext: SQLContext, metadataPath: String,
      name: String, fresh: => String): String = {
    val io = new GraftIo(metadataPath, sqlContext.sparkSession.sessionState.newHadoopConf())
    io.readOrCreate(io.path(name), fresh)
  }

  /** Resolve the stream's starting point ONCE per checkpoint and persist it
    * under the source `metadataPath`. `startingSnapshot=latest` must not be
    * re-resolved against the table head on restart: Spark replays the first
    * batch as `getBatch(None, end)` after a crash before the offsets-commit,
    * and a restart-time re-resolution would move the start under that
    * replay — silently dropping the original range (head unchanged) or
    * inverting the offsets (head advanced). Persisting the resolution makes
    * the start a constant of the checkpoint, like every other offset
    * (FileStreamSource's metadata-log discipline).
    */
  private def resolveStart(sqlContext: SQLContext, metadataPath: String,
      log: SnapshotLog, option: Option[String]): Option[Long] = {
    val v = marker(sqlContext, metadataPath, "starting-snapshot",
      option.map(_.trim).map {
        case "latest" => log.currentSnapshot().getOrElse(-1L)
        case n =>
          try n.toLong
          catch { case _: NumberFormatException => throw new IllegalArgumentException(
            s"startingSnapshot must be a snapshot id or 'latest', got '$n'") }
      }.map(_.toString).getOrElse("none"))
    if (v == "none") None else Some(v.toLong)
  }
}

object SnapshotStreamProvider {
  /** Schema that `load()`-time inference last resolved, per qualified table
    * root — what the ANALYZED PLAN of the most recent schema-less
    * `readStream.load(table)` carries. `createSource` (query start) compares
    * its own re-inference against this and fails with an ACTIONABLE message
    * when a commit changed the newest file's schema inside the
    * load()→start window; without the guard the divergence surfaces as an
    * opaque attribute-mismatch assertion deep in MicroBatchExecution
    * (round-5 ADVICE). A process-global map, NOT a provider field: Spark
    * instantiates a fresh provider for each of the two calls. Best-effort by
    * design — concurrent schema-less loads of the SAME table can overwrite
    * each other's entry, in which case the stale stream still fails (as
    * before) on Spark's own assertion; entries are table-root-sized and the
    * set of distinct streamed tables per driver is small, so no eviction.
    */
  private[spark] val lastInferred =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()
}

/** The live source: offsets are snapshot ids; `getBatch(a, b)` is the append
  * diff `(a, b]` (or the full content of `b` when `a` is absent and no
  * `startingSnapshot` was given). Restart hands offsets back as
  * `SerializedOffset`s, so ids round-trip through `json` — the one canonical
  * form — rather than pattern-matching offset classes.
  */
final class SnapshotStreamSource(sqlContext: SQLContext, path: String,
    log: SnapshotLog, override val schema: StructType,
    startingAfter: Option[Long],
    maxSnapshotsPerTrigger: Option[Long] = None,
    streamId: Option[String] = None,
    markerInfo: String = "") extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  private case class SnapOffset(id: Long) extends Offset {
    override def json: String = id.toString
  }

  // one parser for both offset families: the V1 Offset ABC extends the
  // connector interface, and json is the single canonical form either way
  private def idOf(
      o: org.apache.spark.sql.connector.read.streaming.Offset): Long =
    o.json.trim.toLong

  /** Highest offset already handed to the engine — the rate-limit base.
    * Recovered lazily from the checkpoint: the engine replays the pending
    * batch via [[getBatch]] (whose `end` advances this) BEFORE asking for
    * new offsets, so a restart resumes the ladder exactly where the
    * checkpoint left it. -1 = nothing delivered yet.
    */
  @volatile private var delivered: Long = -1L

  /** Head captured by [[prepareForTriggerAvailableNow]]: under
    * `Trigger.AvailableNow` the drain walks up to the snapshot committed at
    * stream start — in `maxSnapshotsPerTrigger`-bounded steps — then the
    * query stops. -1 records "empty table at start" (nothing to drain).
    * Implementing SupportsTriggerAvailableNow is what makes AvailableNow +
    * rate limit a MULTI-batch drain: a plain V1 Source falls back to
    * single-batch execution under that trigger (the wrapper conf is off by
    * default), which would silently stop after ONE capped batch.
    */
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(log.currentSnapshot().getOrElse(-1L))

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit = {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    // maxRows is the engine-opaque marker carrying our cap; the unit is
    // SNAPSHOTS (this source's admission granularity), interpreted only here
    maxSnapshotsPerTrigger.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())
  }

  /** Admission control: the next micro-batch's end offset given where the
    * engine already is. Bounds each batch to `maxSnapshotsPerTrigger` append
    * commits, so a stream restarted after a week of lag walks the backlog in
    * bounded steps instead of planning the whole week as ONE batch (Delta's
    * maxFilesPerTrigger position). The cap needs a diff base, so the very
    * first batch of a full-table load (base = -1, no startingSnapshot) is
    * uncapped — it reads one committed table state, which a batch job reads
    * anyway. Returning `startOffset` unchanged signals "no new data".
    */
  override def latestOffset(
      startOffset: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset = {
    val start = Option(startOffset).map(_.json.trim.toLong).getOrElse(-1L)
    val base = Seq(delivered, start, startingAfter.getOrElse(-1L)).max
    val head = (log.currentSnapshot(), availableNowCap) match {
      case (Some(h), Some(cap)) => Some(math.min(h, cap)) // never past the prepared head
      case (h, _) => h
    }
    val capped = maxSnapshotsPerTrigger match {
      case Some(n) if base >= 0 => head.map(h => math.min(h, base + n))
      case _ => head
    }
    capped.filter(_ > base)
      .map(SnapOffset(_): org.apache.spark.sql.connector.read.streaming.Offset)
      .getOrElse(startOffset) // may be null on a never-delivered empty table
  }

  override def getOffset: Option[Offset] =
    Option(latestOffset(null, getDefaultReadLimit)).map(o => SnapOffset(idOf(o)))

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    // `startingSnapshot = latest` on an empty table resolves to -1 ("before
    // the first commit") — that is the full-content case, not a diff
    val from = start.map(idOf).orElse(startingAfter).filter(_ >= 0)
    val to = idOf(end)
    delivered = math.max(delivered, to)
    log.streamingBatch(sqlContext.sparkSession, schema, from, to)
  }

  /** Batch-complete callback: `end` is processed AND checkpointed, so the
    * stream's next batch diffs FROM it — refresh the table-side retention
    * marker to that offset. Best-effort by contract: the marker is advisory
    * (expire clamps on it; nothing correctness-bearing reads it), so a
    * failed refresh must not fail the batch the engine just committed.
    */
  override def commit(end: Offset): Unit =
    for (id <- streamId) {
      try log.registerStreamProgress(id, idOf(end), markerInfo)
      catch { case scala.util.control.NonFatal(_) => () }
    }

  override def stop(): Unit = ()

  override def toString: String = s"SnapshotStreamSource[$path]"
}
