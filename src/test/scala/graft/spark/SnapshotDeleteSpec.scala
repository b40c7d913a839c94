package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import TestCommits._

/** C19 — copy-on-write row-level delete. The invariants under test: only
  * files holding matching rows are rewritten (every other file carries into
  * the new snapshot by PATH IDENTITY — the 100-TB property: a delete touching
  * 0.1% of files moves 0.1% of the bytes), SQL DELETE null semantics
  * (null-predicate rows are KEPT), no-op deletes commit nothing, history
  * stays time-travel-able until expire reclaims it, incremental readers fail
  * loudly across the rewrite, and the dedup-apply composition (P17 cluster
  * drops → [[SnapshotLog.deleteMatching]]) removes exactly the
  * non-representative duplicates.
  */
class SnapshotDeleteSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  override def beforeAll(): Unit = { spark = SparkTestSession.create(4) }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), prefix).toAbsolutePath.toString

  private def idsOf(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).toSeq.sorted

  test("deleteWhere rewrites only affected files; untouched files carry by path identity") {
    val dir = tmpDir("del_cow")
    val log = new SnapshotLog(dir)
    val rows = spark.range(50).select(col("id"), (col("id") % 10).as("b"))
    // one commit, two files with disjoint bucket ranges (subdirs under the
    // stage are legal — staging walks recursively), stats recorded on b
    log.appendWith(Seq("b")) { stage =>
      rows.filter(col("b") < 5).repartition(1).write.parquet(stage + "/lo")
      rows.filter(col("b") >= 5).repartition(1).write.parquet(stage + "/hi")
    }
    val before = log.filesAt(0L)
    assert(before.size == 2)

    val r = log.deleteWhere(spark, rows.schema, col("b") === 7, statsColumns = Seq("b"))
    assert(r.contains(1L))
    assert(idsOf(log.scan(spark, rows.schema)) ==
      (0L until 50L).filterNot(_ % 10 == 7).sorted)

    val after = log.filesAt(1L).toSet
    val lo = before.filter(_.contains("/lo/"))
    val hi = before.filter(_.contains("/hi/"))
    assert(lo.nonEmpty && hi.nonEmpty)
    assert(lo.forall(after.contains), "file with no matching row must carry by reference")
    assert(hi.forall(p => !after.contains(p)), "file holding matches must be rewritten")
    // the rewrite stages under one fresh stage dir of its own
    def dirOf(p: String) = java.nio.file.Paths.get(p).getParent
    val rewrittenDirs = (after -- before).map(dirOf)
    assert(rewrittenDirs.size == 1 && rewrittenDirs.head.getFileName.toString.startsWith("stage-") &&
      !before.map(dirOf).contains(rewrittenDirs.head), s"rewrites stage apart: $rewrittenDirs")
    // rewritten files still carry stats (recorded at rewrite commit)
    assert(log.metaAt(1L).forall(m => m.stats.contains("b")))

    // pre-delete history is intact until expire gives it up
    assert(idsOf(log.scan(spark, rows.schema, asOf = Some(0L))) == (0L until 50L))
    // a delete is a rewrite, not an append: incremental readers must not
    // silently replay rewritten rows
    val e = intercept[IllegalArgumentException](
      log.scanIncremental(spark, rows.schema, 0L))
    assert(e.getMessage.contains("replace") || e.getMessage.contains("carry"), e.getMessage)
  }

  test("deleteWhere: NULL-predicate rows are KEPT (SQL DELETE semantics)") {
    val sp = spark; import sp.implicits._
    val dir = tmpDir("del_null")
    val log = new SnapshotLog(dir)
    val df = Seq((1L, "aaaa"), (2L, null: String), (3L, "bb"))
      .toDF("id", "s")
    log.append(df.repartition(1))
    // p = length(s) >= 3 is NULL for id=2 — DELETE removes only TRUE rows
    val r = log.deleteWhere(spark, df.schema, length(col("s")) >= 3)
    assert(r.contains(1L))
    assert(idsOf(log.scan(spark, df.schema)) == Seq(2L, 3L),
      "the null-predicate row must survive the delete")
  }

  test("a delete touching every file of a one-segment table classifies as a rewrite") {
    val dir = tmpDir("del_whole")
    val log = new SnapshotLog(dir)
    val rows = spark.range(20).select(col("id"), (col("id") % 5).as("b"))
    log.append(rows.repartition(2))
    // b === 0 matches rows in both files -> both rewritten -> the parent's
    // only segment is dropped WHOLE and survivors live in the fresh staged
    // segment alone. Untagged (pre-round-7) this shape looked like a
    // REPLACE: no parent segment carried, only the snapshot's own.
    val del = log.deleteWhere(spark, rows.schema, col("b") === 0)
    assert(del.contains(1L))
    assert(hasRewriteSegments(dir, 1L),
      "the fresh staged segment must carry the rw tag")
    assert(!isAppendOf(dir, 1L, 0L))
    assert(idsOf(log.scan(spark, rows.schema)) ==
      (0L until 20L).filterNot(_ % 5 == 0))
  }

  test("deleteWhere with no matching row is a no-op: no commit, None returned") {
    val dir = tmpDir("del_noop")
    val log = new SnapshotLog(dir)
    val rows = spark.range(20).select(col("id"), (col("id") % 5).as("b"))
    log.append(rows.repartition(2))
    assert(log.deleteWhere(spark, rows.schema, col("b") === 99).isEmpty)
    assert(log.currentSnapshot().contains(0L))
    assert(log.scan(spark, rows.schema).count() == 20)
    // empty table: also a no-op
    val empty = new SnapshotLog(tmpDir("del_empty"))
    assert(empty.deleteWhere(spark, rows.schema, col("b") === 1).isEmpty)
  }

  test("deleteMatching drops a key set via anti-join; duplicate keys tolerated") {
    val sp = spark; import sp.implicits._
    val dir = tmpDir("del_keys")
    val log = new SnapshotLog(dir)
    val rows = spark.range(100).select(col("id"), (col("id") % 10).as("b"))
    log.append(rows.filter(col("id") < 60).repartition(2))
    log.append(rows.filter(col("id") >= 60).repartition(2))

    val drops = Seq(3L, 3L, 7L, 70L, 7L).toDF("id") // dup keys are legal input
    val r = log.deleteMatching(spark, rows.schema, drops, "id")
    assert(r.contains(2L))
    assert(idsOf(log.scan(spark, rows.schema)) ==
      (0L until 100L).filterNot(Set(3L, 7L, 70L)).sorted)
    // same drop set again: nothing left to delete
    assert(log.deleteMatching(spark, rows.schema, drops, "id").isEmpty)
    assert(log.currentSnapshot().contains(2L))
  }

  test("delete everything leaves an empty but appendable table") {
    val dir = tmpDir("del_all")
    val log = new SnapshotLog(dir)
    val rows = spark.range(30).select(col("id"), (col("id") % 3).as("b"))
    log.append(rows.repartition(2))
    assert(log.deleteWhere(spark, rows.schema, lit(true)).contains(1L))
    assert(log.scan(spark, rows.schema).count() == 0)
    // the table keeps working: the next append lands on the empty head
    log.append(spark.range(100, 110).select(col("id"), (col("id") % 3).as("b"))
      .repartition(1))
    assert(idsOf(log.scan(spark, rows.schema)) == (100L until 110L))
  }

  test("expire after delete reclaims exactly the removed files") {
    val dir = tmpDir("del_gc")
    val log = new SnapshotLog(dir)
    val rows = spark.range(40).select(col("id"), (col("id") % 4).as("b"))
    log.appendWith(Seq("b")) { stage =>
      rows.filter(col("b") < 2).repartition(1).write.parquet(stage + "/lo")
      rows.filter(col("b") >= 2).repartition(1).write.parquet(stage + "/hi")
    }
    val hi = log.filesAt(0L).filter(_.contains("/hi/"))
    log.deleteWhere(spark, rows.schema, col("b") === 3, statsColumns = Seq("b"))
    // removed files exist while snapshot 0 is retained (time travel)…
    assert(hi.forall(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p))))
    log.expireSnapshots(keepLast = 1)
    // …and are reclaimed with it; carried files survive
    assert(hi.forall(p => !java.nio.file.Files.exists(java.nio.file.Paths.get(p))))
    assert(idsOf(log.scan(spark, rows.schema)) ==
      (0L until 40L).filterNot(_ % 4 == 3).sorted)
  }

  test("dedup-apply: P17 cluster drops materialize via deleteMatching") {
    val dir = tmpDir("del_dedup")
    val log = new SnapshotLog(dir)
    // 30 docs in 10 exact-duplicate groups of 3 (id % 10 keys the content)
    val docs = spark.range(30).select(col("id"),
      concat(lit("document body number "), col("id") % 10).as("text"))
    log.append(docs.repartition(3))

    val table = log.scan(spark, docs.schema)
    // P1/P17 shape: group by content, keep the min id, drop the rest
    val keep = table.groupBy("text").agg(min("id").as("keep_id"))
    val drops = table.join(keep, Seq("text"))
      .filter(col("id") =!= col("keep_id")).select("id")
    val r = log.deleteMatching(spark, docs.schema, drops, "id")
    assert(r.contains(1L))
    val survivors = log.scan(spark, docs.schema)
    assert(survivors.count() == 10)
    assert(survivors.select("text").distinct().count() == 10)
    assert(idsOf(survivors) == (0L until 10L), "the representative (min id) survives")
  }

  test("bounded key sets locate via a pushed IN that prunes files; oversize sets keep the semi-join") {
    val dir = tmpDir("del_locate")
    val log = new SnapshotLog(dir)
    // range-clustered commit with manifest stats on id: 4 files with
    // disjoint id ranges — the layout deleteMatching's locate should prune
    val rows = spark.range(400).select(col("id"), (col("id") % 7).as("b"))
    log.append(rows.repartitionByRange(4, col("id")), statsColumns = Seq("id"))
    assert(log.metaAt(0L).size == 4 && log.metaAt(0L).forall(_.stats.contains("id")))

    val drops = spark.range(2).select((col("id") + 100L).as("id"))
    val (files, _) = log.keyedLocateFiles(spark, rows.schema, 0L, drops, "id")
    // bounded branch: no join anywhere — the membership IS the pushed filter
    assert(files.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.isEmpty, "bounded locate must not plan a join")
    val scans = files.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "locate must be a file-source scan")
    // manifest pruning: the IN on the stats-bearing clustered key plans a
    // strict subset of the files (round-6 VERDICT item 3 'done' criterion)
    val planned = scans.map(f =>
      f.relation.location.listFiles(Nil, f.dataFilters).map(_.files.size).sum).sum
    assert(planned >= 1 && planned < 4,
      s"2 clustered keys must plan a strict subset of the 4 files, got $planned")
    // and the located file set is exactly the one file holding ids 100-101
    assert(files.distinct().count() == 1L)

    // oversize key set (limit forced to 1): the semi-join locate remains
    spark.conf.set("graft.locate.inFilterLimit", "1")
    try {
      val (files2, _) = log.keyedLocateFiles(spark, rows.schema, 0L, drops, "id")
      assert(files2.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.nonEmpty, "oversize locate must keep the semi-join")
      // and deleteMatching through the fallback still deletes exactly the keys
      val r = log.deleteMatching(spark, rows.schema, drops, "id")
      assert(r.contains(1L))
      assert(idsOf(log.scan(spark, rows.schema)) ==
        (0L until 400L).filterNot(Set(100L, 101L)).sorted)
    } finally spark.conf.unset("graft.locate.inFilterLimit")
  }

  test("upsertMatching: matched rows replaced, new keys inserted, one commit") {
    val sp = spark; import sp.implicits._
    val dir = tmpDir("upsert_cow")
    val log = new SnapshotLog(dir)
    val rows = spark.range(40).select(col("id"), (col("id") * 10).as("v"))
    // two commits, two files each — four files with known id ranges
    for (i <- 0 until 2) {
      log.appendWith() { stage =>
        rows.filter(col("id") >= i * 20 && col("id") < i * 20 + 10)
          .repartition(1).write.parquet(stage + "/a")
        rows.filter(col("id") >= i * 20 + 10 && col("id") < (i + 1) * 20)
          .repartition(1).write.parquet(stage + "/b")
      }
    }
    val before = log.filesAt(1L)
    assert(before.size == 4)
    val commit1 = before.filterNot(log.filesAt(0L).toSet)

    // update ids 5, 15 (files 0/a and 0/b) and insert ids 100, 101
    val updates = Seq((5L, -5L), (15L, -15L), (100L, -100L), (101L, -101L))
      .toDF("id", "v")
    val id2 = log.upsertMatching(spark, rows.schema, updates, "id")
    assert(id2 == 2L)
    val got = log.scan(spark, rows.schema).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 42)
    assert(got(5L) == -5L && got(15L) == -15L,
      "matched keys must carry the UPDATE row")
    assert(got(100L) == -100L && got(101L) == -101L,
      "unmatched keys must be INSERTED")
    assert(got(6L) == 60L && got(25L) == 250L, "untouched rows unchanged")
    // commit-1's files (ids 20-39) held no matched key: carried by path
    // identity, zero bytes moved
    val after = log.filesAt(2L).toSet
    assert(commit1.size == 2 && commit1.forall(after.contains),
      "files without a matched key must carry by path identity")
    assert(before.filterNot(commit1.contains).forall(!after.contains(_)),
      "files holding matched keys must be rewritten")
    // history time-travels to the pre-merge table
    assert(log.scan(spark, rows.schema, asOf = Some(1L)).count() == 40)

    // no matched key: degrades to a plain APPEND (incremental readers keep
    // tailing straight through it)
    val ins = Seq((200L, 1L)).toDF("id", "v")
    val id3 = log.upsertMatching(spark, rows.schema, ins, "id")
    assert(isAppendOf(dir, id3, id2), "a pure-insert upsert must be an append")
    assert(log.scan(spark, rows.schema).count() == 43)

    // ambiguous updates (duplicate keys) are rejected loudly
    val dup = Seq((7L, 1L), (7L, 2L)).toDF("id", "v")
    val e = intercept[IllegalArgumentException] {
      log.upsertMatching(spark, rows.schema, dup, "id")
    }
    assert(e.getMessage.contains("unique"), e.getMessage)

    // empty table: the whole upsert inserts
    val log2 = new SnapshotLog(tmpDir("upsert_fresh"))
    assert(log2.upsertMatching(spark, rows.schema, ins, "id") == 0L)
    assert(log2.scan(spark, rows.schema).count() == 1)
  }
}
