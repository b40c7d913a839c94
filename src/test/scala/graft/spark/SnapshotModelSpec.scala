package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import TestCommits._

/** Model-based fuzz of the full snapshot-table lifecycle: a SEEDED random
  * sequence of operations (append commit, replace commit, compaction,
  * expire, orphan sweep, staged-then-aborted write, crashed stage residue,
  * copy-on-write delete, copy-on-write upsert, stream-marker register/drop)
  * runs against a real SnapshotLog while a driver-side model tracks the
  * expected row CONTENT of every retained snapshot. After every operation
  * the table scan must equal the model exactly, and retained history must
  * time-travel to its recorded content — the invariant every unit test
  * checks one shape of, here checked across arbitrary interleavings. The
  * seed is fixed: failures reproduce.
  */
class SnapshotModelSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  override def beforeAll(): Unit = { spark = SparkTestSession.create(4) }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("random op sequences preserve scan content, history, and maintenance invariants (seeded)") {
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "snap_model").toString
    val log = new SnapshotLog(dir)
    val rnd = new scala.util.Random(42)
    val schema = spark.range(1).select(col("id"), (col("id") % 7).as("v")).schema

    val sp = spark
    import sp.implicits._
    def rows(ids: Seq[Long]) = ids.map(i => (i, i % 7)).toDF("id", "v")
    def scanIds(asOf: Option[Long] = None): Seq[Long] =
      log.scan(spark, schema, asOf).select("id").collect().map(_.getLong(0)).toSeq.sorted

    // model state: expected sorted id content of the CURRENT table and of
    // every still-readable historical snapshot
    var current = Seq.empty[Long]
    var history = Map.empty[Long, Seq[Long]]
    var nextId = 1000L // id pool for fresh rows
    // registered stream markers (C25): streamId -> committed offset; expire
    // must clamp retention to the laggiest one
    var markers = Map.empty[String, Long]

    var ops = 0
    for (step <- 1 to 40) {
      val op = rnd.nextInt(15)
      op match {
        case 0 | 1 | 2 | 3 => // append commit of 1-20 fresh rows; op 3 is
          // conditional on the head it read, so plain and conditional
          // appends interleave freely
          val n = 1 + rnd.nextInt(20)
          val fresh = (nextId until nextId + n)
          nextId += n
          val id =
            if (op == 3) {
              val head = log.currentSnapshot().getOrElse(-1L)
              val stage = log.stageUniqueDataDir()
              rows(fresh).repartition(1 + rnd.nextInt(3))
                .write.mode("overwrite").parquet(stage)
              log.commitOptimistic(stage, requireParent = Some(head))
            } else log.append(rows(fresh).repartition(1 + rnd.nextInt(3)))
          current = (current ++ fresh).sorted
          history += id -> current
          // incremental invariant: the appended rows ARE the incremental read
          val parent = parentOf(dir, id)
          if (parent >= 0 && isAppendOf(dir, id, parent)) {
            val inc = log.scanIncremental(spark, schema, parent, Some(id))
              .select("id").collect().map(_.getLong(0)).toSeq.sorted
            assert(inc == fresh.toSeq.sorted,
              s"step $step: scanIncremental($parent, $id) != appended rows")
          }
        case 4 => // replace commit (force re-extract shape)
          val n = 1 + rnd.nextInt(15)
          val fresh = (nextId until nextId + n)
          nextId += n
          val id = log.replace(rows(fresh).repartition(1 + rnd.nextInt(3)))
          current = fresh.sorted
          history += id -> current
        case 5 => // compaction: content must be preserved bit-for-bit
          log.compact(spark, schema, targetFiles = 1 + rnd.nextInt(3)).foreach { id =>
            history += id -> current
          }
        case 6 => // expire: drops old history, keeps content; registered
          // stream markers clamp it (C25) — every snapshot at-or-after the
          // laggiest committed offset must survive (-1 pins everything)
          val keep = 1 + rnd.nextInt(3)
          val before = log.snapshots()
          log.expireSnapshots(keep)
          val retained = log.snapshots().toSet
          markers.values.minOption.foreach { floor =>
            val pinned = before.filter(_ >= floor)
            assert(pinned.forall(retained),
              s"step $step: expire reclaimed marker-pinned snapshots " +
                s"(floor=$floor, before=$before, retained=$retained)")
          }
          history = history.view.filterKeys(retained).toMap
        case 7 => // orphan sweep (age gate keeps everything fresh — no-op on content)
          log.removeOrphanFiles(minAgeMs = 3600000L): Unit
        case 8 => // staged-then-aborted write: invisible throughout
          val stage = log.stageUniqueDataDir()
          rows(Seq(9999990L)).write.mode("overwrite").parquet(stage)
          assert(scanIds() == current, s"step $step: staged write leaked into scan")
          log.abortStage(stage)
        case 9 => // crashed stage residue left behind
          rows(Seq(9999991L)).write.mode("overwrite").parquet(log.stageUniqueDataDir())
        // (removeOrphanFiles must not reclaim it inside the age window, and
        // no later commit collides with it: every stage name is unique)
        case 10 | 11 => // copy-on-write delete of a random id range (C19)
          if (current.nonEmpty) {
            val lo = current(rnd.nextInt(current.size))
            val hi = lo + 1 + rnd.nextInt(10)
            log.deleteWhere(spark, schema,
                col("id") >= lo && col("id") < hi).foreach { id =>
              current = current.filterNot(i => i >= lo && i < hi)
              history += id -> current
            }
          }
        case 12 => // copy-on-write upsert: replace existing ids + insert fresh
          // (C23). The model tracks ids, so the invariant this adds is that
          // a matched id never DUPLICATES (scan == model catches a double
          // landing) and inserts compose with every other op
          if (current.nonEmpty) {
            val matched = Seq.fill(1 + rnd.nextInt(5))(
              current(rnd.nextInt(current.size))).distinct
            val n = rnd.nextInt(5)
            val fresh = (nextId until nextId + n)
            nextId += n
            val id = log.upsertMatching(spark, schema,
              rows(matched ++ fresh), "id")
            current = (current ++ fresh).sorted
            history += id -> current
          }
        case 13 => // register/refresh a stream marker at a random offset
          // (-1 = registered before any batch committed: pins all history)
          val sid = s"s${rnd.nextInt(3)}"
          val snaps = log.snapshots()
          val committed =
            if (snaps.isEmpty || rnd.nextInt(4) == 0) -1L
            else snaps(rnd.nextInt(snaps.size))
          log.registerStreamProgress(sid, committed, s"model-fuzz step $step")
          markers += sid -> committed
        case 14 => // decommission a random registered stream
          if (markers.nonEmpty) {
            val sid = markers.keys.toSeq.sorted.apply(rnd.nextInt(markers.size))
            assert(log.dropStreamMarker(sid), s"step $step: marker $sid lost")
            markers -= sid
          }
      }
      ops += 1
      assert(scanIds() == current, s"step $step (op $op): scan != model")
      // every retained snapshot still time-travels to its recorded content
      for ((id, expect) <- history) {
        assert(scanIds(Some(id)) == expect, s"step $step: asOf($id) != model")
      }
      // metadata sanity: listing matches manifest-recorded sizes exactly
      for (m <- log.currentSnapshot().toSeq.flatMap(log.metaAt)) {
        assert(java.nio.file.Files.size(java.nio.file.Paths.get(m.path)) == m.size,
          s"step $step: manifest size drift for ${m.path}")
      }
    }
    assert(ops == 40 && current.nonEmpty)
  }
}
