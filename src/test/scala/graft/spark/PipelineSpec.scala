package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.kernel.Extract
import graft.kernel.SearchKernels.SearchParams
import TestCommits._

object SparkTestSession {
  def create(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-test-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // micros, not legacy INT96 — timestamp footer stats for file skipping
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** SURVEY.md §5.1/§5.5/§5.6 — the distribution-level invariants:
  * byte-identity vs the single-threaded oracle at two parallelism levels,
  * snapshot resume, success gate, lineage checksums, skew tools, search
  * match sets, dedup, and the SQL-oracle equivalences that the DuckDB harness
  * will re-check externally.
  */
class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val corpusSize = 240
  private lazy val fixture = Synth.corpus(corpusSize)
  private lazy val oracle = Synth.oracleExtract(fixture)
  private def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), name).toString
    d
  }

  override def beforeAll(): Unit = { spark = SparkTestSession.create(8) }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Run `body` with session confs set, then restore their previous values. */
  private def withConf[T](confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** An extract write of this session's small fixtures is one file by
    * default; this coalesce floor gives it the full bucket spread.
    */
  private val OneBytePartitions =
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1"

  private def extractWith(cores: Int): Map[String, (String, Seq[String], String)] = {
    // fresh session at the requested parallelism (order-independence proof)
    val local = if (cores == 8) spark else {
      spark.stop()
      SparkTestSession.create(cores)
    }
    try {
      import local.implicits._
      val pages = local.createDataset(fixture)
      val rows = ExtractJob.extractDF(pages.repartition(cores * 3), numBuckets = 16)
        .select("url", "kind", "pages", "text")
        .collect()
        .map(r => r.getString(0) -> ((r.getString(1), r.getSeq[String](2), r.getString(3))))
        .toMap
      rows
    } finally if (cores != 8) { local.stop(); spark = SparkTestSession.create(8) }
  }

  test("byte-identity vs single-threaded oracle at parallelism 2 and 8") {
    for (cores <- Seq(2, 8)) {
      val got = extractWith(cores)
      assert(got.size == corpusSize)
      for ((url, expected) <- oracle) {
        val (kind, pages, text) = got(url)
        assert(kind == expected.kind, s"$url kind @ local[$cores]")
        assert(pages == expected.pages, s"$url pages @ local[$cores]")
        assert(text == expected.text, s"$url text @ local[$cores]")
      }
    }
  }

  test("every payload kind occurs in the fixture corpus") {
    val kinds = oracle.values.map(_.kind).toSet
    assert(kinds == Set(Extract.KindHtml, Extract.KindText, Extract.KindPdfDigital,
      Extract.KindPdfScanned, Extract.KindEmpty))
  }

  test("snapshot commit + resume: second run is a no-op, half-run completes to one-shot state") {
    val sp = spark; import sp.implicits._
    val dir = tmpDir("resume")
    val all = spark.createDataset(fixture)
    // phase 1: first half only
    val half = spark.createDataset(fixture.take(corpusSize / 2))
    val s1 = ExtractJob.run(spark, half, dir, numBuckets = 8)
    assert(s1.contains(0L))
    assert(ExtractJob.readExtracted(spark, dir).count() == corpusSize / 2)
    // phase 2: full input; only pending urls processed, appended as snapshot 1
    val s2 = ExtractJob.run(spark, all, dir, numBuckets = 8)
    assert(s2.contains(1L))
    val finalRows = ExtractJob.readExtracted(spark, dir)
    assert(finalRows.count() == corpusSize)
    assert(finalRows.select("url").distinct().count() == corpusSize)
    // phase 3: nothing pending -> no new snapshot
    assert(ExtractJob.run(spark, all, dir, numBuckets = 8).isEmpty)
    assert(new SnapshotLog(dir).currentSnapshot().contains(1L))
    // resumed table content equals a one-shot run (modulo bucket assignment)
    val oneShotDir = tmpDir("oneshot")
    ExtractJob.run(spark, all, oneShotDir, numBuckets = 8)
    val a = ExtractJob.readExtracted(spark, dir)
      .select("url", "kind", "text", "checksum").orderBy("url").collect().toSeq
    val b = ExtractJob.readExtracted(spark, oneShotDir)
      .select("url", "kind", "text", "checksum").orderBy("url").collect().toSeq
    assert(a == b)
    // lineage rows exist per (snapshot, bucket) with consistent totals, in
    // each commit's own snapshot list and nowhere else
    val lineage = new SnapshotLog(dir).lineage()
    assert(lineage.map(_.snapshot_id).distinct == Seq(0L, 1L))
    assert(lineage.map(_.doc_count).sum == corpusSize)
    assert(lineage.forall(_.wall_ms >= 0L))
    assert(!new java.io.File(s"$dir/metrics").exists(), "no lineage side write")
    // the write pass's counters equal a from-scratch count of the rows
    val oneShotLog = new SnapshotLog(oneShotDir)
    assert(lineageAt(oneShotLog, 0L) ==
      lineageCounted(ExtractJob.readExtracted(spark, oneShotDir)))
  }

  test("resume anti-join regimes: broadcast, hits, and sort-merge agree") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    // done = the first 3/4 of the fixture, the batch = its second half, so
    // they overlap in 1/4. The hits regime needs done > budget >= batch: a
    // budget of 5/8 sits between |batch| = 120 and |done| = 180
    val done = spark.createDataset(fixture.take(corpusSize * 3 / 4))
    val batch = spark.createDataset(fixture.drop(corpusSize / 2))
    val hitsBudget = "graft.extract.broadcastDoneRows" -> (corpusSize * 5 / 8).toString
    val shuffleBudget = "graft.extract.broadcastDoneRows" -> "0"
    // resume the batch onto the done table under a forced regime and
    // compare final table content — the regime must never change the answer
    def runWith(confs: (String, String)*): Seq[org.apache.spark.sql.Row] =
      withConf(confs: _*) {
        val dir = tmpDir("regime")
        ExtractJob.run(spark, done, dir, numBuckets = 8)
        assert(ExtractJob.run(spark, batch, dir, numBuckets = 8).contains(1L))
        // the regime's anti-join must also prove "nothing pending" exactly
        assert(ExtractJob.run(spark, batch, dir, numBuckets = 8).isEmpty)
        ExtractJob.readExtracted(spark, dir).orderBy("url").collect().toSeq
      }
    val viaBroadcast = runWith() // defaults: done fits the broadcast budget
    val viaHits = runWith(hitsBudget)
    val viaSortMerge = runWith(shuffleBudget)
    assert(viaBroadcast.size == corpusSize &&
      viaBroadcast.map(_.getAs[String]("url")).distinct.size == corpusSize)
    assert(viaHits == viaBroadcast, "the hits regime must produce the identical table")
    assert(viaSortMerge == viaBroadcast,
      "sort-merge fallback must produce the identical table")

    // the forced confs must actually SELECT their regimes — a renamed conf
    // key would silently reduce the equality checks above to three copies
    // of the broadcast run. Plans are read with AQE off, so they show every
    // exchange, and with auto-broadcast off, so only the regime's hints
    // broadcast anything
    val dir = tmpDir("regime_tag")
    ExtractJob.run(spark, done, dir, numBuckets = 8)
    val log = new SnapshotLog(dir)
    def regimeOf(pages: org.apache.spark.sql.Dataset[Schemas.Page],
        confs: (String, String)*): (String, SparkPlan) =
      withConf(confs ++ Seq("spark.sql.adaptive.enabled" -> "false",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1"): _*) {
        val (df, tag) = ExtractJob.pendingPages(spark, pages, log, log.currentSnapshot())
        (tag, df.queryExecution.executedPlan)
      }
    // exchanges that move rows of the batch (a local scan here; the done
    // side is a file scan)
    def batchShuffles(plan: SparkPlan) = plan.collect {
      case e: ShuffleExchangeLike if e.exists(_.isInstanceOf[LocalTableScanExec]) => e
    }
    assert(regimeOf(batch)._1 == "broadcast")
    val (hitsTag, hitsPlan) = regimeOf(batch, hitsBudget)
    assert(hitsTag == "hits")
    assert(batchShuffles(hitsPlan).isEmpty,
      s"the hits regime must not shuffle the batch:\n$hitsPlan")
    assert(hitsPlan.collect { case j: BroadcastHashJoinExec => j }.size == 2,
      s"the hits regime broadcasts the batch urls, then the hits:\n$hitsPlan")
    val (shuffleTag, shufflePlan) = regimeOf(batch, shuffleBudget)
    assert(shuffleTag == "shuffle")
    // the same check sees the sort-merge regime's batch exchange
    assert(shufflePlan.exists(_.isInstanceOf[SortMergeJoinExec]) &&
      batchShuffles(shufflePlan).nonEmpty, s"$shufflePlan")
    // the hits regime evaluates the batch more than once: a rand()-derived
    // batch plan must take the single-evaluation regime instead
    val randomized = batch.toDF()
      .withColumn("lang", when(rand(7) < 2.0, col("lang")))
      .as[Schemas.Page]
    assert(regimeOf(randomized, hitsBudget)._1 == "shuffle")
  }

  test("success gate: <0.9 ok ratio aborts the snapshot (A1)") {
    val sp = spark; import sp.implicits._
    val dir = tmpDir("gate")
    // force ok=false rows by poisoning extractDF output through a crafted input:
    // the kernel is total, so drive the gate arithmetic directly instead
    assert(intercept[ExtractJob.GateFailed] {
      throw ExtractJob.GateFailed(8, 10)
    }.getMessage.contains("0.8"))
    // end-to-end: all-ok corpus commits
    val s = ExtractJob.run(spark, spark.createDataset(fixture.take(20)), dir, 4)
    assert(s.contains(0L))
  }

  test("lineage checksum is order-insensitive (bit_xor over row hashes)") {
    val sp = spark; import sp.implicits._
    val pages = spark.createDataset(fixture.take(60))
    val df = ExtractJob.extractDF(pages, numBuckets = 4)
    val direct = df.groupBy("bucket").agg(expr("bit_xor(checksum)").as("c"))
      .orderBy("bucket").collect().toSeq
    val shuffled = ExtractJob.extractDF(pages.repartition(7), numBuckets = 4)
      .groupBy("bucket").agg(expr("bit_xor(checksum)").as("c"))
      .orderBy("bucket").collect().toSeq
    assert(direct == shuffled)
  }

  test("search over extracted corpus matches the oracle's match set (F7/J1)") {
    val sp = spark; import sp.implicits._
    val dir = tmpDir("search")
    ExtractJob.run(spark, spark.createDataset(fixture), dir, 8)
    val extracted = ExtractJob.readExtracted(spark, dir)

    def oracleMatches(p: SearchParams): Set[String] =
      oracle.collect {
        case (url, r) if graft.kernel.SearchKernels.docMatches(r.text, p) => url
      }.toSet

    val queries = Seq(
      SearchParams(any = Some("needleTOKEN")),
      SearchParams(dealer = Some("quality motors")),
      SearchParams(dealer = Some("smith & sons")),
      SearchParams(contract = Some("700008")),
      SearchParams(claim = Some("810002")),
      SearchParams(vin = Some("1HGCM82633A100000")),
      SearchParams(contract = Some("700008"), any = Some("needleTOKEN")))
    for (p <- queries) {
      val got = SearchJob.matches(extracted, p).collect().map(_.getString(0)).toSet
      assert(got == oracleMatches(p), s"params $p")
      assert(got.nonEmpty, s"fixture should produce matches for $p")
    }
    // zero-match raises NoMatchFound through run()
    val pagesDF = spark.createDataset(fixture).toDF()
    intercept[SearchJob.NoMatchFound] {
      SearchJob.run(spark, extracted, pagesDF,
        SearchParams(any = Some("definitely-absent-token-xyzzy")), tmpDir("m0"))
    }
    // empty params raise immediately (search.py:101-103)
    intercept[SearchJob.NoMatchFound] {
      SearchJob.matches(extracted, SearchParams())
    }
    // the copy step: overwrite semantics + only matched urls present; run()
    // reports count + bounded sample (never the full set — scale contract)
    val mdir = tmpDir("matched")
    val res = SearchJob.run(spark, extracted, pagesDF,
      SearchParams(any = Some("needleTOKEN")), mdir, sampleSize = 5)
    val copied = spark.read.parquet(mdir).select("url").collect().map(_.getString(0)).toSet
    assert(copied == oracleMatches(SearchParams(any = Some("needleTOKEN"))))
    assert(res.count == copied.size)
    assert(res.sample.size == math.min(5, copied.size))
    assert(res.sample.toSet.subsetOf(copied))
  }

  test("skew: twoPhaseAgg equals plain groupBy on a Zipf host distribution") {
    val sp = spark; import sp.implicits._
    val hosts = fixture.map(p => (p.url, p.url.split('/')(2), p.url.length.toLong))
    val df = spark.createDataset(hosts).toDF("url", "host", "len")
    val plain = df.groupBy("host")
      .agg(count(lit(1)).as("cnt"), sum("len").as("sum_len"))
      .orderBy("host").collect().toSeq
    val salted = Skew.twoPhaseAgg(df, "host", "url", Seq(("len", "sum_len")))
      .orderBy("host").collect().toSeq
    assert(salted == plain)
    // the distribution is actually skewed: one host holds over a tenth
    assert(plain.map(_.getLong(1)).max > corpusSize / 10)
  }

  test("dedup: exact groups, minhash pairs find injected near-dups, simhash close") {
    val sp = spark; import sp.implicits._
    val docs = spark.createDataset((0 until 40).map(i =>
      (i.toLong, Synth.fixtureText(i.toLong * 7919L + 13))))
      .toDF("doc_id", "text")
    val n = docs.count()
    val withDups = Dedup.withInjectedNearDups(spark, docs, "doc_id", "text")
    val pairs = Dedup.minHashPairs(withDups, "doc_id", "text", minJaccard = 0.4)
    // every injected mutant should pair with its source
    val expectedPairs = docs.select("doc_id").collect().map(_.getLong(0))
      .map(id => (id, id + 1000000L)).toSet
    val got = pairs.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expectedPairs.subsetOf(got),
      s"missing ${(expectedPairs -- got).take(5)} of ${expectedPairs.size}")
    // exact dedup: duplicating the corpus halves the group count
    val doubled = docs.unionByName(docs.withColumn("doc_id", col("doc_id") + 5000000L))
    val groups = Dedup.exactGroups(doubled, "doc_id", "text")
    assert(groups.count() == n)
    assert(groups.filter(col("n") === 2).count() == n)
    // verifyJaccard annotates pairs with exact jaccard in (0, 1]
    val verified = Dedup.verifyJaccard(pairs, withDups, "doc_id", "text")
    assert(verified.filter(col("jaccard_exact") <= 0 || col("jaccard_exact") > 1).count() == 0)
  }

  test("embeddings: lsh bucket topk agrees with brute force on its candidates") {
    val sp = spark; import sp.implicits._
    val vecs = (0 until 200).map { i =>
      val v = Array.tabulate(16)(d =>
        (graft.kernel.Hash64.mix(i.toLong * 16 + d) % 1000).toFloat / 1000f)
      (i.toLong, v.toSeq, i % 3)
    }
    val df = spark.createDataset(vecs).toDF("vec_id", "embedding", "label")
    val q = vecs.head._2.toArray
    val brute = Embeddings.bruteForceTopK(df, q, 5).collect()
    assert(brute.head.getLong(0) == 0L) // self is nearest
    assert(brute.length == 5)
    val lsh = Embeddings.lshTopK(df, q, 5).collect()
    assert(lsh.nonEmpty && lsh.head.getLong(0) == 0L)
    val buckets = Embeddings.lshBuckets(df)
    assert(buckets.count() == 200)
  }

  test("dedup: oversized LSH buckets are capped (mass-duplicate skew guard)") {
    val sp = spark; import sp.implicits._
    // 30 distinct docs + one text repeated 40 times (the boilerplate page)
    val distinct = (0 until 30).map(i =>
      (i.toLong, Synth.fixtureText(i.toLong * 104729L + 7)))
    val mass = (100 until 140).map(i => (i.toLong, "the same boilerplate page text every time"))
    val docs = spark.createDataset(distinct ++ mass).toDF("doc_id", "text")
    // cap below the mass-dup count: the 40-copy bucket must not self-join
    val pairs = Dedup.minHashPairs(docs, "doc_id", "text",
      minJaccard = 0.4, maxBucketSize = 10)
    val ids = pairs.select("a", "b").collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(!ids.exists(_ >= 100L), s"mass-dup ids leaked into LSH pairs: ${ids.filter(_ >= 100)}")
    // and the guard reports what it dropped (16 bands x 1 hot key each)
    val hot = Dedup.oversizedBuckets(docs, "doc_id", "text", maxBucketSize = 10)
    assert(hot.count() == 16, "each band has exactly one oversized bucket")
    assert(hot.agg(min("count")).head().getLong(0) == 40L)
    // uncapped (default 10000) the same corpus yields the quadratic pairs
    val uncapped = Dedup.minHashPairs(docs, "doc_id", "text", minJaccard = 0.4)
    assert(uncapped.filter(col("a") >= 100L).count() == 40L * 39 / 2)
  }

  test("embeddings: injected near-dup vectors found by LSH-bucketed cosine pairs") {
    val sp = spark; import sp.implicits._
    val vecs = (0 until 120).map { i =>
      val v = Array.tabulate(16)(d =>
        (graft.kernel.Hash64.mix(i.toLong * 16 + d) % 1000).toFloat / 1000f)
      (i.toLong, v.toSeq, i % 3)
    }
    val df = spark.createDataset(vecs).toDF("vec_id", "embedding", "label")
    val withDups = Embeddings.withInjectedNearDups(df, offset = 100000L)
    val pairs = Embeddings.cosineNearDupPairs(withDups, minCosine = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    // the +0.01-on-dim-0 mutants are ~cosine-1 with their source; most stay in
    // the same LSH bucket — require a clear majority found and all verified
    val expected = vecs.map { case (id, _, _) => (id, id + 100000L) }.toSet
    val got = pairs.map { case (a, b, _) => (a, b) }.toSet
    assert((expected & got).size >= expected.size * 3 / 4,
      s"only ${(expected & got).size} of ${expected.size} injected pairs found")
    assert(pairs.forall(_._3 >= 990000L), "every reported pair passed the exact verify")
  }

  test("embeddings: mass-duplicate vector cluster is capped out of the LSH pair join") {
    val sp = spark; import sp.implicits._
    val base = (0 until 30).map { i =>
      val v = Array.tabulate(16)(d =>
        (graft.kernel.Hash64.mix(i.toLong * 16 + d) % 1000).toFloat / 1000f)
      (i.toLong, v.toSeq, i % 3)
    }
    // one vector repeated 40x: its own bucket AND its 12 Hamming-1 probe keys
    // all carry multiplicity 40 — the cap must count the EXPLODED probe rows,
    // or the neighbor keys re-create the quadratic join the own-bucket cap
    // just pruned
    val massVec = Array.tabulate(16)(d => (d % 5).toFloat / 5f).toSeq
    val mass = (100 until 140).map(i => (i.toLong, massVec, 0))
    val df = spark.createDataset(base).toDF("vec_id", "embedding", "label")
    val withDups = Embeddings.withInjectedNearDups(df, offset = 100000L)
      .unionByName(spark.createDataset(mass).toDF("vec_id", "embedding", "label"))
    val pairs = Embeddings.cosineNearDupPairs(withDups, minCosine = 0.99,
      maxBucketSize = 35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    val massIds = pairs.flatMap(p => Seq(p._1, p._2)).filter(id => id >= 100L && id < 140L)
    assert(massIds.isEmpty, s"mass-dup ids leaked into LSH pairs: $massIds")
    // the cap must not collateral-damage normal keys: injected pairs still found
    val expected = base.map { case (id, _, _) => (id, id + 100000L) }.toSet
    val got = pairs.toSet
    assert((expected & got).size >= expected.size * 3 / 4,
      s"only ${(expected & got).size} of ${expected.size} injected pairs found")
  }

  test("embeddings: IVF probe finds the exact top-1 and high top-k recall") {
    val sp = spark; import sp.implicits._
    // clustered data: 8 well-separated centers, small deterministic jitter
    val vecs = (0 until 160).map { i =>
      val c = i % 8
      val v = Array.tabulate(16) { d =>
        val base = if (d == c * 2) 10.0f else 0.0f
        base + (graft.kernel.Hash64.mix(i.toLong * 16 + d) % 100).toFloat / 1000f
      }
      (i.toLong, v.toSeq, c)
    }
    val df = spark.createDataset(vecs).toDF("vec_id", "embedding", "label")
    val q = vecs.head._2.toArray
    val cents = Embeddings.ivfTrain(df, k = 8, iters = 1)
    assert(cents.length == 8 && cents.forall(_.length == 16))
    // every vector lands in some cell; cells partition the corpus
    assert(Embeddings.ivfAssign(df, cents).count() == 160)
    val ivf = Embeddings.ivfTopK(df, cents, q, k = 5, nProbe = 2)
      .collect().map(_.getLong(0))
    val brute = Embeddings.bruteForceTopK(df, q, 5).collect().map(_.getLong(0))
    assert(ivf.head == 0L, "self is nearest")
    val recall = (ivf.toSet & brute.toSet).size.toDouble / brute.length
    assert(recall >= 0.8, s"IVF@nProbe=2 recall $recall vs brute force")
  }

  test("native ro_ratio expression: codegen path matches kernel and UDF") {
    val sp = spark; import sp.implicits._
    Expressions.register(spark)
    val pairs = Seq(
      ("1HGCM82633A004352", "1HGCM82633A004852"),
      ("KMHDU46D17U123456", "KMHDU46D17U654321"),
      ("", ""), ("ABC", "ABC"))
    val df = spark.createDataset(pairs).toDF("a", "b")
    val got = df.select(
      Expressions.roRatio(col("a"), col("b")).as("expr_r"),
      Functions.roRatioUdf(col("a"), col("b")).as("udf_r")).collect()
    for ((row, (a, b)) <- got.zip(pairs)) {
      assert(row.getDouble(0) == graft.kernel.Difflib.ratio(a, b))
      assert(row.getDouble(0) == row.getDouble(1))
    }
    // null-safety + SQL form
    df.createOrReplaceTempView("pairs_v")
    val viaSql = spark.sql("SELECT ro_ratio(a, b) FROM pairs_v").collect()
    assert(viaSql.length == pairs.length)
    assert(spark.sql("SELECT ro_ratio(NULL, 'x')").head().isNullAt(0))
    // the expression participates in whole-stage codegen over a real scan
    // (a LocalTableScan would fold it away before planning)
    val scanned = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(Expressions.roRatio(col("text"), col("source")))
    val plan = scanned.queryExecution.executedPlan.toString
    // "*(n)" marks a whole-stage-codegen'd operator in the plan string; a UDF
    // would appear as a non-codegen ScalaUDF invoke instead
    assert(plan.contains("*(1) Project") && plan.contains("ro_ratio"), plan.take(800))
    assert(scanned.count() > 0)
  }

  test("native graft_fingerprint expression: zero-copy bytes path matches kernel and UDF") {
    val sp = spark; import sp.implicits._
    Expressions.register(spark)
    val texts = Seq("", "a", "hello world", "unicode é中文 bytes", "x" * 5000)
    val df = texts.toDF("text")
    val got = df.select(
      Expressions.fingerprint(col("text")).as("expr_fp"),
      Functions.fingerprintUdf(col("text")).as("udf_fp")).collect()
    for ((row, t) <- got.zip(texts)) {
      assert(row.getLong(0) == graft.kernel.TextStats.fingerprint(t), s"text '$t'")
      assert(row.getLong(0) == row.getLong(1))
    }
    assert(spark.sql("SELECT graft_fingerprint(CAST(NULL AS STRING))").head().isNullAt(0))
    // whole-stage codegen over a real scan (UDFs break the codegen span)
    val scanned = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(Expressions.fingerprint(col("text")))
    val plan = scanned.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project") && plan.contains("graft_fingerprint"), plan.take(800))
    assert(scanned.count() > 0)
  }

  test("custom operator: GraftExtractExec equals the typed-Dataset path, shows in EXPLAIN") {
    val sp = spark; import sp.implicits._
    plans.ExtractPlan.install(spark)
    val pages = spark.createDataset(fixture.take(80)).toDF()
    val viaOp = plans.ExtractPlan.extract(pages, numBuckets = 16)
    val plan = viaOp.queryExecution.executedPlan.toString
    assert(plan.contains("GraftExtract"), plan.take(1200))
    assert(!plan.contains("Exchange"), "custom operator must stay narrow")
    val got = viaOp.select("url", "bucket", "kind", "text", "n_bytes")
      .collect().map(r => r.getString(0) -> ((r.getInt(1), r.getString(2), r.getString(3), r.getLong(4)))).toMap
    // independent implementation: the typed-Dataset encoder path
    val expected = ExtractOracle.extractDFTyped(spark.createDataset(fixture.take(80)), 16)
      .select("url", "bucket", "kind", "text", "n_bytes")
      .collect().map(r => r.getString(0) -> ((r.getInt(1), r.getString(2), r.getString(3), r.getLong(4)))).toMap
    assert(got == expected)
  }

  test("custom operator: install is idempotent; partitioning claim is value-preserving only") {
    val sp = spark; import sp.implicits._
    plans.ExtractPlan.install(spark)
    plans.ExtractPlan.install(spark)
    plans.ExtractPlan.install(spark)
    assert(spark.experimental.extraStrategies
      .count(_ == plans.ExtractPlan.ExtractStrategy) == 1,
      "repeated install must not stack duplicate planner strategies")
    val pages = spark.createDataset(fixture.take(80)).toDF()
    // child hash-partitioned on INPUT text (all html rows share text=null ->
    // one partition); output text is the kernel RESULT with distinct values.
    // Claiming the child's partitioning for output text would let Catalyst
    // elide the Exchange groupBy needs and emit duplicate groups.
    val grouped = plans.ExtractPlan.extract(pages.repartition(4, col("text")), 16)
      .groupBy("text").count()
    val plan = grouped.queryExecution.executedPlan.toString
    assert(plan.contains("Exchange"),
      s"groupBy over kernel output must re-shuffle:\n${plan.take(1500)}")
    val counts = grouped.collect().map(r => Option(r.getString(0)).getOrElse("") -> r.getLong(1))
    assert(counts.map(_._1).distinct.length == counts.length, "duplicate groups")
    // url IS value-preserving: repartitioning by url upstream must survive
    // the operator (no Exchange between GraftExtract and a url-keyed groupBy)
    val byUrl = plans.ExtractPlan.extract(pages.repartition(4, col("url")), 16)
      .groupBy("url").count()
    val urlPlan = byUrl.queryExecution.executedPlan.toString
    val afterOp = urlPlan.substring(0, urlPlan.indexOf("GraftExtract"))
    assert(!afterOp.contains("Exchange"),
      s"url partitioning must propagate through the operator:\n${urlPlan.take(1500)}")
  }

  test("partial re-extract: only the named urls' files move, rows refresh in place") {
    val sp = spark; import sp.implicits._
    val dir = tmpDir("reextract")
    val pages = spark.createDataset(fixture.take(60))
    // a multi-file table, so untouched files exist to carry
    assert(withConf(OneBytePartitions)(
      ExtractJob.run(spark, pages, dir, numBuckets = 4)).contains(0L))
    val log = new SnapshotLog(dir)
    val before = ExtractJob.readExtracted(spark, dir)
      .select("url", "text").collect().map(r => r.getString(0) -> r.getString(1)).toMap

    // "the kernel was fixed for these two documents": simulate with changed
    // page payloads for two urls, then re-extract exactly those
    val targets = fixture.take(2).map(_.url)
    val fixed = spark.createDataset(fixture.take(60).map { p =>
      if (targets.contains(p.url))
        p.copy(html = ("<html><body><p>" + ("fixed content word " * 30) +
          "</p></body></html>").getBytes("UTF-8"))
      else p
    })
    val filesBefore = log.currentFiles().toSet
    val r = ExtractJob.reextract(spark, fixed, dir, targets.toDF("url"), numBuckets = 4)
    assert(r.contains(1L))
    // the merge commit records the lineage of exactly the re-extracted rows
    assert(lineageAt(log, 1L) == lineageCounted(
      ExtractJob.readExtracted(spark, dir).filter(col("url").isin(targets: _*))))

    val after = ExtractJob.readExtracted(spark, dir)
      .select("url", "text").collect().map(r2 => r2.getString(0) -> r2.getString(1)).toMap
    assert(after.size == 60)
    for (u <- targets)
      assert(after(u) != before(u) && after(u).contains("fixed content"),
        s"$u must carry the re-extracted text")
    for ((u, t) <- before if !targets.contains(u))
      assert(after(u) == t, s"$u must be untouched")
    // copy-on-write: files holding no target url carried by path identity
    val filesAfter = log.currentFiles().toSet
    assert((filesBefore intersect filesAfter).nonEmpty,
      "untouched files must carry into the merged snapshot by path identity")
    // merged files are bucket-RANGE-clustered: their recorded bucket ranges
    // are pairwise disjoint, so the stats keep pruning (review: an
    // unclustered merge spans the full domain and defeats C16 on exactly
    // these files; hash clustering leaves collided values spanning too)
    val newRanges = log.metaAt(1L)
      .filterNot(m => filesBefore.contains(m.path))
      .flatMap(_.stats.get("bucket")).flatMap(_.longs)
    assert(newRanges.nonEmpty)
    for (Seq((_, aHi), (bLo, _)) <- newRanges.sorted.sliding(2)
         if newRanges.size > 1)
      assert(aHi < bLo, // strict: a value spanning two files = overlap
        s"merged files must carry disjoint bucket ranges: $newRanges")
    // re-running with no matching url is a no-op
    assert(ExtractJob.reextract(spark, fixed, dir,
      Seq("http://nowhere.example.com/x").toDF("url"), 4).isEmpty)
  }

  test("partial re-extract: a subset under the 0.9 gate throws GateFailed and commits nothing") {
    val sp = spark; import sp.implicits._
    val dir = tmpDir("reextract_gate")
    assert(ExtractJob.run(spark, spark.createDataset(fixture.take(40)), dir,
      numBuckets = 4).contains(0L))
    val log = new SnapshotLog(dir)
    def onDisk = (parquetUnder(dir), new java.io.File(s"$dir/data").list().toSet)
    val before = onDisk
    // the kernel is total (no payload yields ok = false), so the failures
    // are set on its output: 3 of the 10 re-extracted rows, 0.7 < 0.9
    val failed = fixture.take(3).map(_.url)
    val fresh = ExtractJob.extractDF(spark.createDataset(fixture.take(10)), 4)
      .withColumn("ok", !col("url").isin(failed: _*))
    val e = intercept[ExtractJob.GateFailed](
      ExtractJob.upsertExtracted(spark, fresh, dir, numBuckets = 4))
    assert(e.ok == 7L && e.total == 10L)
    assert(log.currentSnapshot().contains(0L))
    assert(onDisk == before, "a failed gate must stage nothing")
  }

  test("probe runner: the drained meter counts one job and its shuffle") {
    // one RDD job, two stages, one shuffle: read right after the action,
    // an undrained listener can still be missing the last stage's metrics
    val (sum, meter) = graft.Probe.metered(spark) {
      spark.sparkContext.parallelize(1 to 1000, 4)
        .map(i => (i % 10, i.toLong)).reduceByKey(_ + _).values.reduce(_ + _)
    }
    assert(sum == 500500L)
    assert(meter.jobs.get == 1)
    assert(meter.shuffleBytes.get > 0L && meter.shuffleRecords.get > 0L)
    assert(meter.maxRunning >= 1 && meter.maxRunning <= 4, "4 partitions per stage")
  }

  test("SparkEntry.entry: flagship pipeline returns matches on sf0.001") {
    val n = graft.SparkEntry.entry(spark).count()
    assert(n > 0, "driver smoke-check requires rows > 0")
  }

  test("x04 oracle validity: OCR roundtrip is exact for every sf0.01 document") {
    // the DuckDB oracle for x04/x05 assumes decode(render(scanLine(text))) ==
    // scanLine(text) under noise; check it for the full sf0.01 corpus
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select("doc_id", "text").collect()
    for (r <- docs) {
      val id = r.getLong(0)
      val line = Synth.scanLine(r.getString(1))
      val decoded = graft.kernel.Ocr.decode(Synth.buildRaster(id, r.getString(1), noise = true))
      assert(decoded == line + "\n", s"doc $id")
      val viaPdf = Extract.extract(Synth.buildPdfScanned(id, r.getString(1), noise = true), null)
      assert(viaPdf.text == line + "\n", s"doc $id via pdf")
    }
  }

  test("golden: the kernel's (url, kind, pages) over both fixture corpora is pinned") {
    // perfbench's oracle calls this same kernel, so only a fixed digest
    // catches a change in what the kernel extracts
    def digest(pages: Seq[Schemas.Page]): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      def int(v: Int): Unit = md.update(java.nio.ByteBuffer.allocate(4).putInt(v).array())
      def str(s: String): Unit = {
        val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        int(b.length); md.update(b)
      }
      for ((url, r) <- Synth.oracleExtract(pages).toSeq.sortBy(_._1)) {
        str(url); str(r.kind); int(r.pages.length); r.pages.foreach(str)
      }
      md.digest().map(b => f"${b & 0xff}%02x").mkString
    }
    assert(digest(Synth.corpus(2000)) == "c78f607fcbebbfe31deb226926c146a93140421795affca0d1b3b3ab29ba60f7")
    assert(digest(Synth.pagesFromDocuments(spark, graft.Probe.testData("sf0.01")).collect().toSeq) ==
      "f9ae7b2b0e98cc5838feb10ded8d0a834daeedb1256abce075a052ac31df7f9d")
  }

  test("explain: extract transform is narrow (raw payloads never shuffle); search prunes columns") {
    val sp = spark; import sp.implicits._
    val pages = spark.createDataset(fixture)
    val plan = ExtractJob.extractDF(pages, 16).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"extractDF must stay map-side; raw html in a shuffle is the 100TB bottleneck:\n${plan.take(1500)}")
    assert(plan.contains("GraftExtract"), "extractDF runs through the custom operator")
    val typedPlan = ExtractOracle.extractDFTyped(pages, 16).queryExecution.executedPlan.toString
    assert(!typedPlan.contains("Exchange"), "typed path must stay map-side too")
    // search reads only url + text-bearing columns; kind/bucket/etc pruned
    val dir = tmpDir("prune")
    ExtractJob.run(spark, pages, dir, 8)
    val extracted = ExtractJob.readExtracted(spark, dir)
    val sPlan = SearchJob.matches(extracted, SearchParams(any = Some("x")))
      .queryExecution.executedPlan.toString
    assert(sPlan.contains("ReadSchema") &&
      sPlan.contains("url") && !sPlan.contains("n_bytes"),
      s"search should prune columns:\n${sPlan.take(2000)}")
  }

  test("bundle: matched table collapses to a single artifact file (S6 analog)") {
    val sp = spark; import sp.implicits._
    val mdir = tmpDir("bundle_in")
    spark.createDataset(fixture.take(20)).toDF()
      .repartition(4).write.mode("overwrite").parquet(mdir)
    val bdir = tmpDir("bundle_out") + "/artifact"
    graft.SubmitMain.bundle(spark, mdir, bdir)
    val parts = new java.io.File(bdir).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && f.isFile)
    assert(parts.length == 1, s"bundle must be ONE file, got ${parts.length}")
    assert(spark.read.parquet(bdir).count() == 20)
    // empty matched table -> NothingToBundle (the 404 guard, claim.py:84-85)
    val emptyDir = tmpDir("bundle_empty")
    spark.createDataset(fixture.take(20)).toDF().filter(lit(false))
      .write.mode("overwrite").parquet(emptyDir)
    intercept[graft.SubmitMain.NothingToBundle] {
      graft.SubmitMain.bundle(spark, emptyDir, tmpDir("bundle_empty_out") + "/a")
    }
  }

  test("force re-extract: reprocesses all urls and replaces the table (claim.py:34 semantics)") {
    val sp = spark; import sp.implicits._
    val dir = tmpDir("force")
    val all = spark.createDataset(fixture)
    // full commit, then a no-op resume proves everything is done
    assert(ExtractJob.run(spark, all, dir, numBuckets = 8).contains(0L))
    assert(ExtractJob.run(spark, all, dir, numBuckets = 8).isEmpty)
    // forced rerun re-extracts EVERYTHING into snapshot 1, replacing contents
    assert(ExtractJob.run(spark, all, dir, numBuckets = 8, force = true).contains(1L))
    val after = ExtractJob.readExtracted(spark, dir)
    assert(after.count() == corpusSize, "replace-commit must not duplicate rows")
    assert(after.select("url").distinct().count() == corpusSize)
    // forced table content equals a clean one-shot run
    val cleanDir = tmpDir("force_clean")
    ExtractJob.run(spark, all, cleanDir, numBuckets = 8)
    val a = after.select("url", "kind", "text", "checksum").orderBy("url").collect().toSeq
    val b = ExtractJob.readExtracted(spark, cleanDir)
      .select("url", "kind", "text", "checksum").orderBy("url").collect().toSeq
    assert(a == b)
  }

  private def bucketRanges(meta: Seq[SnapshotLog.FileMeta]): Seq[(Long, Long)] =
    meta.map(_.stats("bucket") match {
      case LongBounds(lo, hi, _) => (lo, hi)
      case b => fail(s"bucket bounds must be longs: $b")
    }).sorted

  test("extract layout: a mid-size estimate commits P files of contiguous, disjoint bucket ranges") {
    val sp = spark; import sp.implicits._
    val dir = tmpDir("layout_mid")
    val pages = spark.createDataset(fixture)
    // a coalesce floor of a third of the extracted frame's size estimate:
    // the rule picks P = 3 write partitions for 16 buckets
    val frame = ExtractJob.extractDF(pages, 16).drop("ok")
    val bytes = frame.queryExecution.optimizedPlan.stats.sizeInBytes
    withConf("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> (bytes / 3 + 1).toString) {
      assert(ExtractJob.writePartitions(frame, 16) == 3)
      assert(ExtractJob.run(spark, pages, dir, numBuckets = 16).contains(0L))
    }
    val log = new SnapshotLog(dir)
    val meta = log.metaAt(0L)
    assert(meta.size == 3, s"P = 3 must commit 3 files: ${meta.map(_.path)}")
    // partition j holds the buckets k with k * 3 / 16 == j: pairwise
    // disjoint, contiguous, together covering every bucket once
    assert(bucketRanges(meta) == Seq((0L, 5L), (6L, 10L), (11L, 15L)))
    val filesPerBucket = log.scan(spark, Schemas.extractedSchema)
      .select(col("bucket"), input_file_name().as("file")).distinct()
      .groupBy("bucket").count().as[(Int, Long)].collect().toMap
    assert(filesPerBucket.keySet == (0 until 16).toSet && filesPerBucket.values.forall(_ == 1L),
      s"every bucket must land in exactly one file: $filesPerBucket")
    assert(log.scan(spark, Schemas.extractedSchema).count() == corpusSize)
  }

  test("extract layout: a frame with no size estimate keeps one partition per bucket") {
    val sp = spark; import sp.implicits._
    val dir = tmpDir("layout_unknown")
    // an RDD-backed Dataset carries no size statistics
    val pages = spark.createDataset(spark.sparkContext.parallelize(fixture, 4))
    assert(ExtractJob.writePartitions(ExtractJob.extractDF(pages, 16).drop("ok"), 16) == 16)
    assert(ExtractJob.run(spark, pages, dir, numBuckets = 16).contains(0L))
    assert(bucketRanges(new SnapshotLog(dir).metaAt(0L)) == (0L until 16L).map(k => (k, k)))
  }

  test("extract layout: write tasks fit the cores when the estimate is not a multiple of them") {
    val sp = spark; import sp.implicits._
    val frame = ExtractJob.extractDF(spark.createDataset(fixture), 16).drop("ok")
    val bytes = frame.queryExecution.optimizedPlan.stats.sizeInBytes
    val par = spark.sparkContext.defaultParallelism
    assert(bytes % par != 0 && bytes > BigInt(par) * par, s"estimate $bytes")
    // a floored target (bytes / par) would give par + 1 partitions: a
    // second wave of write tasks
    withConf(OneBytePartitions) {
      assert(ExtractJob.writePartitions(frame, 16) == par)
    }
  }

  /** Checks the at-rest rule on stored extracted rows against the fixture
    * oracle: `pages` is null exactly for the one-page rows. Returns the
    * row count.
    */
  private def assertAtRest(stored: org.apache.spark.sql.DataFrame): Int = {
    val rows = stored.select("url", "pages").collect()
    for (r <- rows) {
      val n = oracle(r.getString(0)).pages.size
      assert(r.isNullAt(1) == (n == 1), s"${r.getString(0)}: stored ${r.get(1)} for $n page(s)")
    }
    rows.length
  }

  /** [[ExtractJob.readExtracted]] on `dir` gives the oracle's pages and
    * text for each of `expectedRows` rows.
    */
  private def assertReadsOracle(dir: String, expectedRows: Int): Unit = {
    val read = ExtractJob.readExtracted(spark, dir).select("url", "pages", "text").collect()
    assert(read.length == expectedRows)
    for (r <- read) {
      val exp = oracle(r.getString(0))
      assert(r.getSeq[String](1) == exp.pages, s"${r.getString(0)} pages")
      assert(r.getString(2) == exp.text, s"${r.getString(0)} text")
    }
  }

  /** Both checks on the whole extracted table at `dir`. */
  private def assertStoredForm(dir: String, expectedRows: Int): Unit = {
    assert(assertAtRest(new SnapshotLog(dir).scan(spark, Schemas.extractedSchema)) ==
      expectedRows)
    assertReadsOracle(dir, expectedRows)
  }

  test("stored form: one-page rows store null pages; readExtracted gives the oracle's pages") {
    val sp = spark; import sp.implicits._
    // the fixture holds 0-page, one-page and multi-page documents
    val counts = oracle.values.map(_.pages.size).toSet
    assert(counts.contains(0) && counts.contains(1) && counts.exists(_ > 1), s"$counts")
    val dir = tmpDir("stored_form")
    withConf(OneBytePartitions)(
      ExtractJob.run(spark, spark.createDataset(fixture), dir, numBuckets = 16))
    assertStoredForm(dir, corpusSize)
  }

  test("stored form: a full-array file and an at-rest commit read the same") {
    val sp = spark; import sp.implicits._
    val dir = tmpDir("stored_mixed")
    val log = new SnapshotLog(dir)
    // the first half committed in the full-array form of earlier writers
    val old = fixture.take(corpusSize / 2)
    log.append(ExtractJob.extractDF(spark.createDataset(old), 8).drop("ok"), Seq("bucket"))
    val oldPages = log.scan(spark, Schemas.extractedSchema).select("pages").as[Seq[String]]
      .collect()
    assert(oldPages.forall(_ != null), "the first commit stores every array")
    assert(ExtractJob.run(spark, spark.createDataset(fixture), dir, 8).contains(1L))
    assertReadsOracle(dir, corpusSize)
    // the second commit is in the at-rest form
    assert(assertAtRest(log.scanIncremental(spark, Schemas.extractedSchema, 0L)) ==
      corpusSize - old.size)
  }

  test("stored form: streaming extract and reextract commit the same form") {
    val sp = spark; import sp.implicits._
    val src = tmpDir("stored_stream_src"); val dst = tmpDir("stored_stream_dst")
    val srcLog = new SnapshotLog(src)
    val d = srcLog.stageUniqueDataDir()
    spark.createDataset(fixture).repartition(2).write.mode("overwrite").parquet(d)
    srcLog.commitOptimistic(d)
    StreamingExtract.startTableToTable(spark, src, dst, tmpDir("stored_stream_ck"), 8)
      .awaitTermination()
    assertStoredForm(dst, corpusSize)
    // re-extract a third of the urls, every payload kind among them, into a
    // multi-file table: merged and carried rows alike keep the form
    val dir = tmpDir("stored_reextract")
    withConf(OneBytePartitions)(
      ExtractJob.run(spark, spark.createDataset(fixture), dir, numBuckets = 8))
    val urls = fixture.map(_.url).filter(_.hashCode % 3 == 0)
    assert(urls.map(oracle(_).pages.size.min(2)).toSet == Set(0, 1, 2))
    assert(ExtractJob.reextract(spark, spark.createDataset(fixture), dir, urls.toDF("url"),
      numBuckets = 8).contains(1L))
    assert(hasRewriteSegments(dir, 1L))
    assertStoredForm(dir, corpusSize)
  }

  test("stored form: a row with null text and null pages reads back with null pages") {
    val sp = spark; import sp.implicits._
    val dir = tmpDir("stored_nulls")
    // rows as `SubmitMain upsert` can land them: no text, no pages; a
    // one-page row at rest; an empty page list
    val rows = Seq(
      Schemas.Extracted("u:none", 0, "empty", null, null, 0L, 1L),
      Schemas.Extracted("u:one", 1, "html", null, "one page", 8L, 2L),
      Schemas.Extracted("u:zero", 2, "empty", Seq.empty, "", 0L, 3L))
    new SnapshotLog(dir).upsertMatching(spark, Schemas.extractedSchema,
      rows.toDF(), "url", statsColumns = Seq("bucket"))
    val read = ExtractJob.readExtracted(spark, dir).select("url", "pages").collect()
      .map(r => r.getString(0) -> Option(r.getSeq[String](1))).toMap
    assert(read == Map("u:none" -> None, "u:one" -> Some(Seq("one page")),
      "u:zero" -> Some(Seq.empty)))
  }

  test("extract plan: the pages elision sits below the write's exchange; 3 jobs per extract") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.catalyst.expressions.{Alias, Size}
    import org.apache.spark.sql.execution.{ProjectExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan): Unit
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val dir = tmpDir("elision_plan")
    spark.listenerManager.register(listener)
    val (id, meter) = try graft.Probe.metered(spark)(
      ExtractJob.run(spark, spark.createDataset(fixture), dir, numBuckets = 8))
    finally spark.listenerManager.unregister(listener)
    assert(id.contains(0L))
    import scala.jdk.CollectionConverters._
    assert(meter.jobs.get <= 3,
      s"${meter.jobs.get} jobs:\n${meter.jobLines.asScala.mkString("\n")}")
    // the executed plan, through AQE's final plan and its query stages
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => s +: nodes(s.plan)
      case _ => p +: p.children.flatMap(nodes)
    }
    def elisions(p: SparkPlan) = nodes(p).collect {
      case proj: ProjectExec if proj.projectList.exists {
        case a: Alias => a.name == "pages" && a.child.exists(_.isInstanceOf[Size])
        case _ => false
      } => proj
    }
    val write = plans.asScala.find(p => nodes(p).exists(_.isInstanceOf[ShuffleExchangeExec]))
      .getOrElse(fail(s"no exchange in the run's plans:\n${plans.asScala.mkString("\n")}"))
    val exchanges = nodes(write).collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1, s"one exchange:\n$write")
    assert(elisions(exchanges.head.child).size == 1 && elisions(write).size == 1,
      s"the elision must sit below the exchange, once:\n$write")
  }

  test("fresh-table extract: the empty done set folds the resume join away; 2 jobs") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    // pages read from parquet, as a batch arrives: over a local relation of
    // pages the join would fold away whatever the done side is
    val input = tmpDir("fresh_pages")
    spark.createDataset(fixture).write.mode("overwrite").parquet(input)
    val pages = spark.read.parquet(input).as[Schemas.Page]
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan): Unit
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val dir = tmpDir("fresh_table")
    spark.listenerManager.register(listener)
    val (id, meter) = try graft.Probe.metered(spark)(
      ExtractJob.run(spark, pages, dir, numBuckets = 8))
    finally spark.listenerManager.unregister(listener)
    assert(id.contains(0L))
    import scala.jdk.CollectionConverters._
    assert(meter.jobs.get <= 2,
      s"${meter.jobs.get} jobs:\n${meter.jobLines.asScala.mkString("\n")}")
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => s +: nodes(s.plan)
      case _ => p +: p.children.flatMap(nodes)
    }
    assert(plans.asScala.nonEmpty)
    for (p <- plans.asScala)
      assert(!nodes(p).exists(_.isInstanceOf[BroadcastExchangeExec]),
        s"a fresh table broadcasts no done set:\n$p")
    assert(ExtractJob.readExtracted(spark, dir).count() == corpusSize)
  }

  test("concurrent extract runs: the later commit fails, the earlier one's files stay readable") {
    val sp = spark; import sp.implicits._
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    // both writers append, or both force a replace: either way each stages
    // apart and commits only on the snapshot it read
    for (force <- Seq(false, true)) {
      val dir = tmpDir(if (force) "extract_race_force" else "extract_race")
      assert(ExtractJob.run(spark, spark.createDataset(fixture.take(40)), dir, 8).contains(0L))
      // writer B reads snapshot 0, then pauses in the optimizer before its
      // stage write; writer A extracts other pages and commits meanwhile
      val marker = "extract-race-pause"
      val paused = new java.util.concurrent.CountDownLatch(1)
      val resume = new java.util.concurrent.CountDownLatch(1)
      PauseOnUdf.arm(marker, paused, resume)
      spark.experimental.extraOptimizations = spark.experimental.extraOptimizations :+ PauseOnUdf
      try {
        val pass = udf((_: String) => true).withName(marker)
        // RDD-backed: the optimizer would evaluate a filter over a local
        // relation, UDF included, before the pause rule could see it
        val pagesB = spark.createDataset(spark.sparkContext.parallelize(fixture.slice(40, 80)))
          .filter(pass(col("url")))
        val b = Future(ExtractJob.run(spark, pagesB, dir, 8, force))(ExecutionContext.global)
        assert(paused.await(120, SECONDS), s"writer B never reached planning: ${b.value}")
        assert(ExtractJob.run(spark, spark.createDataset(fixture.slice(80, 120)), dir, 8, force)
          .contains(1L))
        resume.countDown()
        val e = intercept[IllegalStateException](Await.result(b, 300.seconds))
        assert(e.getMessage.contains("advanced"), e.getMessage)
      } finally {
        resume.countDown()
        PauseOnUdf.disarm()
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations.filterNot(_ eq PauseOnUdf)
      }
      // a second SnapshotLog on the same dir: every file of A's snapshot reads
      val log = new SnapshotLog(dir)
      assert(log.currentSnapshot().contains(1L))
      val urls = log.scan(spark, Schemas.extractedSchema).select("url").as[String].collect()
      val expected = (if (force) Nil else fixture.take(40)) ++ fixture.slice(80, 120)
      assert(urls.sorted.toSeq == expected.map(_.url).sorted, s"force=$force")
      // the failed commit deleted B's stage: data/ holds only committed stages
      val committedDirs = (log.filesAt(0L) ++ log.filesAt(1L))
        .map(f => java.nio.file.Paths.get(f).getParent.getFileName.toString).toSet
      val dataDirs = new java.io.File(dir, "data").list().toSet
      assert(dataDirs == committedDirs, s"force=$force: $dataDirs vs $committedDirs")
    }
  }

  test("an old-layout table (seg-<id>.txt, seg-<id>-cp.txt, snap-<id> data dirs) scans, tails, compacts and expires") {
    import java.nio.file.{Files => F, Paths => P}
    val sp = spark; import sp.implicits._
    val dir = tmpDir("old_layout")
    val schema = Schemas.extractedSchema
    def extracted(lo: Int, hi: Int) =
      ExtractJob.extractDF(spark.createDataset(fixture.slice(lo, hi)), 8).drop("ok")
    // hand-built in the id-named layout earlier writers produced: 0 is a
    // first commit, 1 a compaction of it, 2 an append on top
    def commitOld(id: Long, parent: Long, df: org.apache.spark.sql.DataFrame,
        seg: String, carried: Seq[String]): Unit = {
      df.write.parquet(s"$dir/data/snap-$id")
      val entries = parquetUnder(s"$dir/data/snap-$id").map(f =>
        s"file\t${P.get(dir).relativize(P.get(f))}\t${F.size(P.get(f))}")
      F.createDirectories(P.get(dir, "meta"))
      F.writeString(P.get(dir, "meta", seg), entries.mkString("", "\n", "\n"))
      F.writeString(P.get(dir, "meta", s"snap-$id.txt"),
        (s"snapshot\t$id\tparent\t$parent" +: (carried :+ s"meta/$seg")
          .map(sg => s"manifest\t$sg")).mkString("", "\n", "\n"))
      F.writeString(P.get(dir, "meta", "current"), id.toString)
    }
    commitOld(0L, -1L, extracted(0, 40).repartition(3), "seg-0.txt", Nil)
    commitOld(1L, 0L, extracted(0, 40).coalesce(1), "seg-1-cp.txt", Nil)
    commitOld(2L, 1L, extracted(40, 60).repartition(2), "seg-2.txt", Seq("meta/seg-1-cp.txt"))
    val log = new SnapshotLog(dir)
    def urls(df: org.apache.spark.sql.DataFrame) = df.select("url").as[String].collect().toSeq.sorted
    assert(log.currentSnapshot().contains(2L))
    assert(urls(log.scan(spark, schema)) == fixture.take(60).map(_.url).sorted)
    // structural verdicts: 0 and 1 list only their own segment, 1 is a
    // compaction, 2 an append of 1
    def segNames(id: Long) = segmentsOf(dir, id).map(_.getFileName.toString)
    assert(segNames(0L) == Seq("seg-0.txt") && segNames(1L) == Seq("seg-1-cp.txt") &&
      segNames(2L) == Seq("seg-1-cp.txt", "seg-2.txt"))
    assert(!hasRewriteSegments(dir, 0L) && hasRewriteSegments(dir, 1L) &&
      !hasRewriteSegments(dir, 2L))
    assert(!isAppendOf(dir, 1L, 0L) && isAppendOf(dir, 2L, 1L))
    // tails: the append reads as one, the compaction fails the stream loudly
    assert(urls(log.scanIncremental(spark, schema, 1L)) == fixture.slice(40, 60).map(_.url).sorted)
    assert(log.streamingBatch(spark, schema, Some(1L), 2L).isStreaming)
    val e = intercept[IllegalStateException](log.streamingBatch(spark, schema, Some(0L), 2L))
    assert(e.getMessage.contains("rewrite"), e.getMessage)
    // compact and expire: the old data dirs are reclaimed whole
    assert(log.compact(spark, schema, targetFiles = 1).contains(3L))
    assert(segmentsOf(dir, 3L).size == 1 && hasRewriteSegments(dir, 3L))
    assert(log.expireSnapshots(keepLast = 1)._1 == 3)
    assert(urls(log.scan(spark, schema)) == fixture.take(60).map(_.url).sorted)
    for (id <- 0 to 2) assert(!F.exists(P.get(dir, "data", s"snap-$id")), s"snap-$id")
    assert(new java.io.File(dir, "data").list().toSeq.map(_.take(6)) == Seq("stage-"))
  }

  test("snapshot time travel: scan(asOf) reads any past snapshot, replace keeps history") {
    val sp = spark; import sp.implicits._
    val dir = tmpDir("timetravel")
    val half = spark.createDataset(fixture.take(corpusSize / 2))
    val all = spark.createDataset(fixture)
    ExtractJob.run(spark, half, dir, 8)              // snapshot 0
    ExtractJob.run(spark, all, dir, 8)               // snapshot 1 (append pending)
    ExtractJob.run(spark, all, dir, 8, force = true) // snapshot 2 (replace)
    val log = new SnapshotLog(dir)
    assert(log.snapshots() == Seq(0L, 1L, 2L))
    assert(log.scan(spark, Schemas.extractedSchema, asOf = Some(0L)).count() == corpusSize / 2)
    assert(log.scan(spark, Schemas.extractedSchema, asOf = Some(1L)).count() == corpusSize)
    assert(log.scan(spark, Schemas.extractedSchema).count() == corpusSize)
  }

  test("expireSnapshots: reclaims unreferenced files, keeps reference-counted ones, bounds history") {
    val sp = spark; import sp.implicits._
    // case 1: append lineage — snap 1 keeps snap 0's files; expiring down to
    // the last snapshot must DELETE manifest 0 but KEEP its data files (still
    // referenced by manifest 1)
    val dirA = tmpDir("expire_append")
    ExtractJob.run(spark, spark.createDataset(fixture.take(corpusSize / 2)), dirA, 8)
    ExtractJob.run(spark, spark.createDataset(fixture), dirA, 8)
    val logA = new SnapshotLog(dirA)
    val (droppedA, deletedA) = logA.expireSnapshots(keepLast = 1)
    assert(droppedA == 1 && deletedA == 0,
      s"append lineage: manifest expired but files still referenced ($droppedA, $deletedA)")
    assert(logA.snapshots() == Seq(1L))
    assert(logA.scan(spark, Schemas.extractedSchema).count() == corpusSize)
    intercept[IllegalArgumentException](logA.filesAt(0L))
    // case 2: replace lineage — snap 2 (force) references only its own files;
    // expiring must reclaim snap 0/1's data files and their directories
    val dirB = tmpDir("expire_replace")
    val all = spark.createDataset(fixture)
    ExtractJob.run(spark, spark.createDataset(fixture.take(corpusSize / 2)), dirB, 8)
    ExtractJob.run(spark, all, dirB, 8)
    ExtractJob.run(spark, all, dirB, 8, force = true)
    val logB = new SnapshotLog(dirB)
    val liveBefore = logB.currentFiles().toSet
    // the stage dirs of snapshots 0 and 1, which hold no live file
    val expiredDirs = (logB.filesAt(0L) ++ logB.filesAt(1L))
      .map(f => java.nio.file.Paths.get(f).getParent).toSet
    assert(expiredDirs.size == 2 && expiredDirs.forall(d => java.nio.file.Files.exists(d)))
    // a concurrent writer's staged-but-uncommitted snapshot must survive the
    // GC (referenced by no manifest != expired): deleting it would corrupt
    // that writer's upcoming commit
    val stage = logB.stageUniqueDataDir()
    all.limit(5).toDF().write.mode("overwrite").parquet(stage)
    val stagedBefore = parquetUnder(stage)
    assert(stagedBefore.nonEmpty)
    val (droppedB, deletedB) = logB.expireSnapshots(keepLast = 1)
    assert(parquetUnder(stage) == stagedBefore,
      "staged-uncommitted files must survive expireSnapshots")
    logB.abortStage(stage) // the crashed-writer cleanup path
    assert(droppedB == 2 && deletedB > 0, s"replace lineage ($droppedB, $deletedB)")
    assert(logB.snapshots() == Seq(2L))
    assert(logB.currentFiles().toSet == liveBefore)
    assert(logB.scan(spark, Schemas.extractedSchema).count() == corpusSize)
    assert(expiredDirs.forall(d => !java.nio.file.Files.exists(d)),
      s"the expired snapshots' stage dirs must be reclaimed: $expiredDirs")
    // current snapshot is always retained even when keepLast exceeds history
    assert(logB.expireSnapshots(keepLast = 5) == ((0, 0)))
  }

  test("manifest scale: a snapshot listing thousands of files plans and commits without blow-up") {
    val sp = spark; import sp.implicits._
    val dir = tmpDir("manifest_scale")
    val log = new SnapshotLog(dir)
    // stage a 2048-part write (the 100 TB shape: many data files per snapshot)
    val rows = spark.range(4096).select(col("id"), (col("id") % 7).as("v"))
    val stage0 = log.stageUniqueDataDir()
    rows.repartition(2048).write.mode("overwrite").parquet(stage0)
    val t0 = System.nanoTime()
    log.commitOptimistic(stage0)
    val commitSec = (System.nanoTime() - t0) / 1e9
    assert(log.currentFiles().size >= 1900, // AQE may coalesce a few empties
      s"got ${log.currentFiles().size} files")
    assert(commitSec < 5.0, f"manifest commit took $commitSec%.1f s — driver-side blow-up")
    // scan planning over the full manifest stays sane and correct
    val t1 = System.nanoTime()
    val n = log.scan(spark, rows.schema).count()
    val scanSec = (System.nanoTime() - t1) / 1e9
    assert(n == 4096)
    assert(scanSec < 60.0, f"scan over 2k manifest files took $scanSec%.1f s")
    // an append commit re-listing all parent files stays cheap too
    val stage1 = log.stageUniqueDataDir()
    rows.limit(16).repartition(2).write.mode("overwrite").parquet(stage1)
    val t2 = System.nanoTime()
    log.commitOptimistic(stage1)
    assert((System.nanoTime() - t2) / 1e9 < 5.0, "append commit re-listing 2k files")
    assert(log.scan(spark, rows.schema).count() == 4096 + 16)
  }

  test("removeOrphanFiles: reclaims aged unreferenced files, spares fresh and referenced ones") {
    val dir = tmpDir("orphans")
    val log = new SnapshotLog(dir)
    val rows = spark.range(100).select(col("id"), (col("id") % 3).as("v"))
    log.append(rows.repartition(4))
    // crashed stage: unreferenced, aged past the window
    val crashed = log.stageUniqueDataDir()
    rows.limit(10).repartition(2).write.mode("overwrite").parquet(crashed)
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 7200000L)
    java.nio.file.Files.walk(java.nio.file.Paths.get(crashed)).forEach(p =>
      java.nio.file.Files.setLastModifiedTime(p, old))
    // a concurrent writer's ACTIVE staged snapshot: unreferenced, and its
    // FIRST part file closed over an hour ago (long-running stage) while a
    // later one is fresh — the gate must be per-directory, not per-file, or
    // the early files of the in-flight stage get deleted (silent data loss
    // at that writer's commit)
    val active = log.stageUniqueDataDir()
    rows.limit(10).repartition(2).write.mode("overwrite").parquet(active)
    val freshBefore = parquetUnder(active)
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(freshBefore.head), old)
    val deleted = log.removeOrphanFiles(minAgeMs = 3600000L)
    assert(deleted >= 2, s"aged orphans must be reclaimed, deleted=$deleted")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(crashed)),
      "orphan dir must be removed")
    assert(parquetUnder(active) == freshBefore, "fresh staged files must survive")
    assert(log.scan(spark, rows.schema).count() == 100, "committed data untouched")
    // a zero/negative age disables the only concurrent-writer protection
    intercept[IllegalArgumentException](log.removeOrphanFiles(minAgeMs = 0L))
    log.abortStage(active)
  }

  test("compact: bin-packs small files into a replace snapshot with identical content") {
    val dir = tmpDir("compact")
    val log = new SnapshotLog(dir)
    // two append commits, each fragmented into 32 part files (the shape that
    // accumulates at 100 TB: per-batch commit cadence x numBuckets files)
    val rows = spark.range(2000).select(col("id"), (col("id") % 7).as("v"))
    log.append(rows.filter(col("id") < 1000).repartition(32))
    log.append(rows.filter(col("id") >= 1000).repartition(32))
    assert(log.currentFiles().size > 8)
    val before = log.scan(spark, rows.schema).orderBy("id").collect().toSeq
    assert(log.compact(spark, rows.schema, targetFiles = 8).contains(2L))
    assert(log.currentFiles().size <= 8)
    assert(log.scan(spark, rows.schema).orderBy("id").collect().toSeq == before)
    // pre-compaction history stays time-travel-able until expired
    assert(log.scan(spark, rows.schema, asOf = Some(1L)).count() == 2000)
    // already at/under target -> no-op, no new snapshot
    assert(log.compact(spark, rows.schema, targetFiles = 8).isEmpty)
    assert(log.snapshots() == Seq(0L, 1L, 2L))
    // GC then reclaims the fragmented pre-compaction files
    val (dropped, deleted) = log.expireSnapshots(keepLast = 1)
    assert(dropped == 2 && deleted >= 60, s"($dropped, $deleted)")
    assert(log.scan(spark, rows.schema).orderBy("id").collect().toSeq == before)
  }

  test("manifest-list sharding: append commit writes one segment, never the live inventory") {
    import java.nio.file.{Files => F, Paths => P}
    val dir = tmpDir("manifest_list")
    val log = new SnapshotLog(dir)
    val rows = spark.range(300).select(col("id"), (col("id") % 7).as("v"))
    log.append(rows.filter(col("id") < 100).repartition(4))
    val Seq(seg0) = segmentsOf(dir, 0L)
    val seg0Bytes = F.readAllBytes(seg0).toSeq
    log.append(rows.filter(col("id") >= 100 && col("id") < 200).repartition(4))
    // the parent's inventory is carried BY REFERENCE: snap-1's list holds two
    // manifest pointers and zero inline file entries, and seg-0 is untouched
    val list1 = F.readAllLines(P.get(dir, "meta", "snap-1.txt"))
    assert(list1.stream.filter(_.startsWith("manifest\t")).count() == 2, s"$list1")
    assert(list1.stream.noneMatch(_.startsWith("file\t")), s"$list1")
    assert(F.readAllBytes(seg0).toSeq == seg0Bytes, "segments must be immutable")
    val Seq(carried, seg1) = segmentsOf(dir, 1L)
    assert(carried == seg0)
    // the new segment lists ONLY the staged files (append cost O(staged))
    val seg1Files = F.readAllLines(seg1)
    assert(seg1Files.size == log.filesAt(1L).size - log.filesAt(0L).size)
    assert(log.scan(spark, rows.schema).count() == 200)
    // a replace commit drops the parent pointers: one segment, fresh lineage
    log.replace(rows.repartition(4))
    val list2 = F.readAllLines(P.get(dir, "meta", "snap-2.txt"))
    assert(list2.stream.filter(_.startsWith("manifest\t")).count() == 1, s"$list2")
    assert(log.scan(spark, rows.schema).count() == 300)
    // time travel still resolves through the shared segments
    assert(log.scan(spark, rows.schema, asOf = Some(0L)).count() == 100)
    assert(log.scan(spark, rows.schema, asOf = Some(1L)).count() == 200)
    // expire down to the replace snapshot: shared segments seg-0/seg-1 are
    // referenced by no retained list and must be reclaimed with their files
    val Seq(seg2) = segmentsOf(dir, 2L)
    val (dropped, deleted) = log.expireSnapshots(keepLast = 1)
    assert(dropped == 2 && deleted > 0, s"($dropped, $deleted)")
    assert(!F.exists(seg0) && !F.exists(seg1))
    assert(F.exists(seg2), "live segment must survive")
    assert(log.scan(spark, rows.schema).count() == 300)
  }

  test("scan plans from the manifest: ManifestFileIndex, exact sizeInBytes, no filesystem listing") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val dir = tmpDir("manifest_scan")
    val log = new SnapshotLog(dir)
    val rows = spark.range(500).select(col("id"), (col("id") % 7).as("v"))
    log.append(rows.filter(col("id") < 250).repartition(4))
    log.append(rows.filter(col("id") >= 250).repartition(4))
    val df = log.scan(spark, rows.schema)
    // the relation's file index is manifest-fed, and its sizeInBytes equals
    // the exact sum of the committed files (what broadcast decisions see)
    val locations = df.queryExecution.optimizedPlan.collect {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.location
    }
    assert(locations.nonEmpty && locations.head.isInstanceOf[ManifestFileIndex],
      s"scan must plan through ManifestFileIndex, got $locations")
    val expectBytes = log.currentFiles()
      .map(f => java.nio.file.Files.size(java.nio.file.Paths.get(f))).sum
    assert(locations.head.sizeInBytes == expectBytes)
    // correctness: content identical to a plain parquet read of the same files
    val direct = spark.read.schema(rows.schema)
      .parquet(log.currentFiles(): _*).orderBy("id").collect().toSeq
    assert(df.orderBy("id").collect().toSeq == direct)
    assert(df.count() == 500)
    // filter + projection still push into the parquet scan below the index
    val plan = df.filter(col("v") === 3).select("id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("IsNotNull"),
      s"pushdown must survive the custom index:\n${plan.take(1500)}")
    // schema evolution: a scan with an added nullable column reads old files
    // with nulls — the manifest-fed relation honors the declared schema like
    // spark.read.schema does
    val evolved = org.apache.spark.sql.types.StructType(rows.schema.fields :+
      org.apache.spark.sql.types.StructField("added",
        org.apache.spark.sql.types.StringType, nullable = true))
    val ev = log.scan(spark, evolved)
    assert(ev.count() == 500)
    assert(ev.filter(col("added").isNull).count() == 500)
  }

  test("scanIncremental: reads exactly the rows appended between two snapshots; replace breaks lineage loudly") {
    val dir = tmpDir("incremental")
    val log = new SnapshotLog(dir)
    val rows = spark.range(300).select(col("id"), (col("id") % 7).as("v"))
    log.append(rows.filter(col("id") < 100).repartition(4))
    log.append(rows.filter(col("id") >= 100 && col("id") < 200).repartition(4))
    log.append(rows.filter(col("id") >= 200).repartition(4))
    // tail from snapshot 0: exactly the two appended batches, no re-read
    val inc = log.scanIncremental(spark, rows.schema, fromSnapshot = 0L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(inc == (100L until 300L).toSet, s"got ${inc.size} rows")
    // bounded window (0, 1]: only batch 1
    val win = log.scanIncremental(spark, rows.schema, 0L, Some(1L))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(win == (100L until 200L).toSet)
    // from == to -> empty but typed
    assert(log.scanIncremental(spark, rows.schema, 2L).isEmpty)
    // a replace commit breaks append lineage: the diff must FAIL, not
    // silently double-count the rewritten carry-over rows
    log.replace(rows.repartition(4))
    intercept[IllegalArgumentException](log.filesAddedBetween(1L, 3L))
    // but tailing PAST the replace works again from the replace snapshot
    log.append(rows.limit(10).select((col("id") + 1000).as("id"), col("v")).repartition(2))
    val after = log.scanIncremental(spark, rows.schema, 3L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(after == (1000L until 1010L).toSet)
  }

  test("manifest-list crash recovery: segment-without-list retries cleanly; a stale hint heals") {
    import java.nio.file.{Files => F, Paths => P}
    val dir = tmpDir("manifest_crash")
    val log = new SnapshotLog(dir)
    val rows = spark.range(200).select(col("id"), (col("id") % 7).as("v"))
    log.append(rows.filter(col("id") < 100).repartition(4))
    // simulate an attempt that crashed BETWEEN segment write and list write:
    // its token-named segment sits in meta/ with no list pointing at it — the
    // table still reads as snapshot 0, and the retried commit lands with a
    // fresh segment of its own, listing no file twice and nothing of the
    // crashed attempt's
    val stage = log.stageUniqueDataDir()
    rows.filter(col("id") >= 100).repartition(4).write.mode("overwrite").parquet(stage)
    val crashedSeg = P.get(dir, "meta", "seg-1-deadbeef.txt")
    F.writeString(crashedSeg, "file\tgarbage/from/crash.parquet\t10\n")
    assert(log.currentSnapshot().contains(0L))
    assert(log.scan(spark, rows.schema).count() == 100)
    assert(log.commitOptimistic(stage) == 1L)
    assert(log.scan(spark, rows.schema).count() == 200)
    assert(log.filesAt(1L).size == log.filesAt(1L).distinct.size)
    assert(!log.filesAt(1L).exists(_.contains("garbage")),
      "the retried commit must not list the crashed attempt's segment")
    assert(!segmentsOf(dir, 1L).contains(crashedSeg))
    // crash AFTER the manifest CAS but BEFORE the hint write: the CAS is the
    // commit point (round 5), so the table ALREADY reads as the new snapshot —
    // readers probe forward past the stale hint — and the next commit lands
    // after it and moves the hint on
    log.append(rows.limit(20).repartition(2))
    assert(log.scan(spark, rows.schema).count() == 220)
    F.writeString(P.get(dir, "meta", "current"), "1") // simulate the stale hint
    assert(log.currentSnapshot().contains(2L),
      "reader must probe past a stale hint — the manifest is the commit point")
    assert(log.append(rows.limit(5).repartition(1)) == 3L)
    assert(F.readString(P.get(dir, "meta", "current")).trim == "3",
      "the next commit must heal the hint")
    // an ORPHANED segment (id never retried) ages out via removeOrphanFiles
    F.writeString(P.get(dir, "meta", "seg-99.txt"), "file\tgarbage/stale.parquet\n")
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 7200000L)
    F.setLastModifiedTime(P.get(dir, "meta", "seg-99.txt"), old)
    F.setLastModifiedTime(crashedSeg, old)
    // crashed mid-write .tmp staging files: aged ones reclaimed, fresh kept
    F.writeString(P.get(dir, "meta", "snap-77.txt.tmp"), "snapshot\t77\tparent\t1\n")
    F.setLastModifiedTime(P.get(dir, "meta", "snap-77.txt.tmp"), old)
    F.writeString(P.get(dir, "meta", "seg-78.txt.tmp"), "file\tx.parquet\n")
    log.removeOrphanFiles(minAgeMs = 3600000L)
    assert(!F.exists(P.get(dir, "meta", "seg-99.txt")), "aged orphan segment reclaimed")
    assert(!F.exists(crashedSeg), "the crashed attempt's aged segment reclaimed")
    assert(!F.exists(P.get(dir, "meta", "snap-77.txt.tmp")), "aged crashed tmp reclaimed")
    assert(F.exists(P.get(dir, "meta", "seg-78.txt.tmp")), "fresh in-flight tmp kept")
    F.delete(P.get(dir, "meta", "seg-78.txt.tmp"))
  }

  test("maintenance trio vs a concurrent writer: committed data never deleted, reads stay consistent") {
    import java.nio.file.{Files => F}
    // two SnapshotLog instances on ONE table dir: writer A runs the normal
    // commit/compact/expire cadence while writer B holds a long-running stage
    // open across every maintenance call — the adversarial interleaving the
    // age gates and reference counting claim to survive
    val dir = tmpDir("concurrent")
    val a = new SnapshotLog(dir)
    val b = new SnapshotLog(dir)
    val rows = spark.range(400).select(col("id"), (col("id") % 5).as("v"))
    a.append(rows.filter(col("id") < 100).repartition(8))
    // B stages under its own unique dir and does not commit yet — its files
    // are referenced by no manifest
    val bStage = b.stageUniqueDataDir()
    rows.filter(col("id") >= 100 && col("id") < 200).repartition(4)
      .write.mode("overwrite").parquet(bStage)
    val bStaged = parquetUnder(bStage)
    assert(bStaged.nonEmpty)
    // A's maintenance sweep runs MID-STAGE: expire must not touch B's files
    // (referenced-from-expired-only semantics), orphan GC must not either
    // (B's stage is fresh — inside the age window)
    a.expireSnapshots(keepLast = 1)
    a.removeOrphanFiles(minAgeMs = 3600000L)
    assert(parquetUnder(bStage) == bStaged,
      "B's in-flight stage must survive A's expire + orphan sweep")
    // A's compact runs mid-stage too: no two writers share a stage, so it
    // commits without touching B's files (round-3 compact cleared the next
    // snapshot's stage first — silent loss)
    assert(a.currentFiles().size > 2)
    assert(a.compact(spark, rows.schema, targetFiles = 2).isDefined)
    assert(parquetUnder(bStage) == bStaged,
      "B's stage must survive A's compaction")
    // B commits on top; both writers read the same consistent table
    b.commitOptimistic(bStage)
    assert(a.scan(spark, rows.schema).count() == 200)
    assert(b.scan(spark, rows.schema).count() == 200)
    // compact again, then expire: B's committed rows must survive
    // the full sweep and every reader sees one consistent snapshot throughout
    val before = a.scan(spark, rows.schema).orderBy("id").collect().toSeq
    assert(a.compact(spark, rows.schema, targetFiles = 2).isDefined)
    assert(a.scan(spark, rows.schema).orderBy("id").collect().toSeq == before)
    a.expireSnapshots(keepLast = 1)
    a.removeOrphanFiles(minAgeMs = 3600000L)
    assert(b.scan(spark, rows.schema).orderBy("id").collect().toSeq == before)
    for (f <- a.currentFiles()) assert(F.exists(java.nio.file.Paths.get(f)),
      s"live file $f deleted by maintenance")
  }

  test("IVF index build publishes atomically and prunes stale sibling indexes") {
    val sp = spark; import sp.implicits._
    val emb = Seq.tabulate(100)(i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 0.61 + d).toFloat), i % 4))
      .toDF("vec_id", "embedding", "label")
    val cents = Embeddings.ivfTrain(emb, k = 4, iters = 1)
    val base = tmpDir("ivf_gc")
    // plant a stale index (old centroid key), an orphaned staging dir, and an
    // in-flight one; age the first two past the GC window
    val staleDir = java.nio.file.Paths.get(base, "sf_test_deadbeef")
    val orphanTmp = java.nio.file.Paths.get(base, "sf_test_cafe.tmp-orphan")
    val inflightTmp = java.nio.file.Paths.get(base, "sf_test_cafe.tmp-inflight")
    java.nio.file.Files.createDirectories(staleDir)
    java.nio.file.Files.createDirectories(orphanTmp)
    java.nio.file.Files.createDirectories(inflightTmp)
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 7200000L)
    java.nio.file.Files.setLastModifiedTime(staleDir, old)
    java.nio.file.Files.setLastModifiedTime(orphanTmp, old)
    val keep = "sf_test_livekey"
    Embeddings.ivfBuildIndex(emb, cents, s"$base/$keep")
    Embeddings.pruneStaleIndexes(base, "sf_test_", keep)
    val left = new java.io.File(base).listFiles().map(_.getName).toSet
    // aged-out siblings gone; the CONCURRENT builder's fresh staging dir must
    // survive the prune (age gate) — then clean it up for the next assert
    assert(left == Set(keep, "sf_test_cafe.tmp-inflight"),
      s"prune must drop aged siblings and keep in-flight staging, got $left")
    java.nio.file.Files.delete(inflightTmp)
    // a crashed writer's PARTIAL dir (files, no commit) must not block
    // publish: the build commits beside the junk, which is never served
    val partial = java.nio.file.Paths.get(base, "sf_test_partial")
    java.nio.file.Files.createDirectories(partial)
    java.nio.file.Files.writeString(partial.resolve("part-junk.parquet"), "x")
    Embeddings.ivfBuildIndex(emb, cents, s"$base/sf_test_partial")
    val q = Array.tabulate(8)(d => math.sin(0.61 + d).toFloat)
    val rebuilt = Embeddings.ivfTopKIndexed(spark, s"$base/sf_test_partial", cents, q,
      k = 3, nProbe = 2).collect()
    assert(rebuilt.nonEmpty && rebuilt.head.getLong(0) == 1L,
      "publish must serve over a crashed writer's partial index dir")
    Embeddings.pruneStaleIndexes(base, "sf_test_", keep, minAgeMs = 0L)
    // idempotent rebuild is a no-op (the path holds a commit) and the index works
    Embeddings.ivfBuildIndex(emb, cents, s"$base/$keep")
    val got = Embeddings.ivfTopKIndexed(spark, s"$base/$keep", cents, q, k = 3, nProbe = 2)
      .collect()
    assert(got.nonEmpty && got.head.getLong(0) == 1L)
  }

  test("ivfEnsureIndex: key hit serves from the sidecar with ZERO corpus scans") {
    val sp = spark; import sp.implicits._
    val emb = Seq.tabulate(100)(i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 0.61 + d).toFloat), i % 4))
      .toDF("vec_id", "embedding", "label")
    val path = tmpDir("ivf_ensure") + "/idx"
    val (cents1, trained1) = Embeddings.ivfEnsureIndex(emb, path, k = 4, iters = 1)
    assert(trained1, "first call must train and publish")
    // the hit path must never evaluate the corpus: hand it a POISONED frame
    // whose execution throws — if any training scan (seed sample or Lloyd
    // pass) ran, this would blow up, which is a stronger assertion than any
    // job-count listener
    val boom = udf((v: Seq[Float]) =>
      sys.error("corpus scanned on index hit"): Seq[Float])
    val poisoned = emb.withColumn("embedding", boom(col("embedding")))
    val (cents2, trained2) = Embeddings.ivfEnsureIndex(poisoned, path, k = 4, iters = 1)
    assert(!trained2, "second call must be a key hit")
    assert(cents2.map(_.toSeq).toSeq == cents1.map(_.toSeq).toSeq,
      "sidecar centroids must round-trip exactly (1e-3-rounded floats)")
    // and the loaded centroids serve identically to the trained ones
    val q = Array.tabulate(8)(d => math.sin(7 * 0.61 + d).toFloat)
    val a = Embeddings.ivfTopKIndexed(spark, path, cents1, q, k = 5, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = Embeddings.ivfTopKIndexed(spark, path, cents2, q, k = 5, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a == b && a.nonEmpty)
  }

  test("connectedComponents equals driver-side union-find on chains, cliques, stars, and a long path") {
    val sp = spark; import sp.implicits._
    // deterministic graph mixing every dup-graph shape: LSH cliques, exact-dup
    // stars, 2-chains, one 30-vertex path (forces many propagation rounds),
    // and isolated pairs
    val edges: Seq[(Long, Long)] =
      (for (c <- 0 until 5; i <- 0 until 4; j <- i + 1 until 4)
        yield (c * 100L + i, c * 100L + j)) ++          // 5 cliques of 4
      (for (s <- 0 until 4; leaf <- 1 to 5)
        yield (1000L + s * 10, 1000L + s * 10 + leaf)) ++ // 4 stars of 6
      (0 until 30).map(i => (2000L + i, 2001L + i)) ++  // one 31-vertex path
      Seq((5000L, 5001L), (6000L, 6001L))               // isolated pairs
    val got = Dedup.connectedComponents(edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // oracle: driver-side union-find
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val vertices = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val expect = vertices.map(v => v -> find(v)).toMap
    assert(got == expect,
      s"diff: ${(got.toSet diff expect.toSet).take(5)} / ${(expect.toSet diff got.toSet).take(5)}")
    // the 31-vertex path really collapsed to one component
    assert(got(2030L) == 2000L)
  }

  test("ANN recall@10 >= 0.9 at the operator defaults on a clustered corpus") {
    val sp = spark; import sp.implicits._
    // 16-cluster corpus, the shape real embedding spaces have (RecallProbe
    // records the full sweep: on the near-isotropic FIXTURE vectors recall
    // is information-bounded by corpus fraction read — no index can cluster
    // what has no clusters — so the >= 0.9 pin belongs on clustered data)
    val n = 800; val dim = 64
    val clustered = Seq.tabulate(n) { i =>
      val c = i % 16
      (i.toLong, Array.tabulate(dim)(d =>
        (math.sin(c * 2.17 + d * 0.91) + 0.15 * math.sin(i * 3.77 + d * 1.3)).toFloat),
        c)
    }.toDF("vec_id", "embedding", "label")
    val cents = Embeddings.ivfTrain(clustered, k = 16, iters = 1)
    val queries = (0 until 8).map { qi =>
      clustered.filter(col("vec_id") === qi.toLong)
        .select("embedding").head().getSeq[Float](0).toArray
    }
    var ivfRec = 0.0; var lshRec = 0.0
    for (q <- queries) {
      val truth = Embeddings.bruteForceTopK(clustered, q, 10)
        .collect().map(_.getLong(0)).toSet
      ivfRec += Embeddings.ivfTopK(clustered, cents, q, 10, nProbe = 6)
        .collect().map(_.getLong(0)).count(truth) / 10.0
      lshRec += Embeddings.lshTopK(clustered, q, 10)
        .collect().map(_.getLong(0)).count(truth) / 10.0
    }
    ivfRec /= queries.length; lshRec /= queries.length
    assert(ivfRec >= 0.9, f"IVF recall@10 at nProbe=6/16 was $ivfRec%.3f")
    assert(lshRec >= 0.9, f"LSH recall@10 at 12-bit 13-probe was $lshRec%.3f")
  }

  test("e09 registry query: clustered re-shape yields a full non-degenerate top-10") {
    val sp = spark; import sp.implicits._
    // fixture-shaped corpus: near-isotropic vectors, the geometry on which
    // the raw-fixture e09 row degenerated to 1 result (12-bit buckets hold
    // ~0.5 vectors). The registry entry now serves over
    // withClusterStructure, so the driver artifact exercises the real
    // serving path: probe pruning + an in-bucket brute force with k=10
    // actual competitors.
    val dir = tmpDir("e09_fixture")
    Seq.tabulate(800)(i =>
      (i.toLong, Array.tabulate(64)(d => math.sin(i * 0.37 + d * 1.3).toFloat), i % 5))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val rows = Queries.registry("e09_lsh_indexed")(spark, dir).collect()
    assert(rows.length == 10, s"expected a full top-10, got ${rows.length}")
    // the query vector is vec_id 0's own clustered embedding: self-match tops
    // (>= not ==: cosine(v,v) can land one float ulp under 1.0 and the ppm
    // cast truncates)
    assert(rows.head.getLong(0) == 0L && rows.head.getLong(1) >= 999990L,
      s"top hit must be the query's own vector, got ${rows.head}")
    // a clustered corpus means real competitors: every hit near-parallel
    assert(rows.forall(_.getLong(1) >= 900000L),
      s"cluster members must dominate the top-10: ${rows.mkString(", ")}")
  }

  test("lshTopKIndexed: equals scan-based lshTopK and the plan partition-prunes the probes") {
    val sp = spark; import sp.implicits._
    val emb = Seq.tabulate(300)(i =>
      (i.toLong, Array.tabulate(16)(d => math.sin(i * 0.37 + d * 1.3).toFloat), i % 5))
      .toDF("vec_id", "embedding", "label")
    val path = tmpDir("lsh_idx") + "/idx"
    Embeddings.lshBuildIndex(emb, path)
    // rebuild is a no-op (the path holds a commit) — same idempotence as IVF
    Embeddings.lshBuildIndex(emb, path)
    for (qi <- Seq(0, 7, 42)) {
      val q = Array.tabulate(16)(d => math.sin(qi * 0.37 + d * 1.3).toFloat)
      val scanned = Embeddings.lshTopK(emb, q, 10)
        .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
      val indexed = Embeddings.lshTopKIndexed(spark, path, q, 10)
        .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
      assert(indexed == scanned, s"query $qi: indexed $indexed vs scanned $scanned")
      assert(indexed.nonEmpty && indexed.head._1 == qi.toLong)
    }
    // file-count discipline: rows were clustered by bucket before the
    // partitioned write, so each bucket directory holds exactly ONE part
    // file — without the pre-repartition every write task emits a file per
    // bucket it sees (tasks x buckets files at scale)
    val parts = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    val partsByBucket = try {
      import scala.jdk.CollectionConverters._
      parts.iterator().asScala
        .filter(p => p.toString.endsWith(".parquet") &&
          java.nio.file.Files.isRegularFile(p))
        .toSeq.groupBy(_.getParent.getFileName.toString)
    } finally parts.close()
    assert(partsByBucket.nonEmpty)
    assert(partsByBucket.values.forall(_.size == 1),
      s"one file per bucket dir expected, got ${partsByBucket.view.mapValues(_.size).toMap}")
    // the serving plan is built FROM THE INDEX'S SNAPSHOT MANIFEST: the 13
    // probes select manifest entries before planning, so the scan carries
    // ONLY the probed buckets' files and does zero directory listing — a
    // strictly stronger shape than round-4's PartitionFilters pruning, which
    // still re-listed the whole index per query; the per-row hash UDF must
    // be gone from serving entirely
    val q0 = Array.tabulate(16)(d => math.sin(d * 1.3).toFloat)
    val served = Embeddings.lshTopKIndexed(spark, path, q0, 10)
    val location = served.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation
          .asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location
    }.head
    assert(location.isInstanceOf[ManifestFileIndex],
      s"index serving must plan from the manifest, got ${location.getClass}")
    val probeDirs = graft.kernel.TextStats.embeddingLshProbes(q0)
      .map(b => s"bucket=$b").toSet
    val plannedDirs = location.inputFiles.map(p => p.split('/').takeRight(2).head).toSet
    assert(plannedDirs.nonEmpty && plannedDirs.subsetOf(probeDirs),
      s"planned non-probed buckets: ${plannedDirs -- probeDirs}")
    val plan = served.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("pythonudf") &&
      !plan.contains("UDF(embedding"),
      "the serving path must not re-hash the corpus with a UDF")
  }

  test("composed incremental pipeline equals the from-scratch run on the union") {
    val sp = spark; import sp.implicits._
    // batch 1 = 80 docs; batch 2 = 40 fresh docs + 10 exact duplicates of
    // batch-1 texts (new urls) + 2 internal duplicates of one batch-2 doc —
    // the arriving-batch shape the incremental flow exists for
    val all = Synth.corpus(120)
    val batch1 = all.take(80)
    val crossDups = all.take(10).map(p => p.copy(url = p.url + "-xdup"))
    val internalBase = all(85)
    val internalDups = Seq("a", "b").map(s =>
      internalBase.copy(url = internalBase.url + "-idup" + s))
    val batch2 = all.drop(80) ++ crossDups ++ internalDups
    val union = batch1 ++ batch2

    val incTable = tmpDir("pipe_inc_tbl"); val incDedup = tmpDir("pipe_inc_dd")
    val r1 = Pipelines.incrementalDedup(
      spark, spark.createDataset(batch1), incTable, incDedup, 8)
    assert(r1.extractedSnapshot.contains(0L) && r1.dedupedSnapshot.isDefined)
    // turn 2 receives the UNION but must extract only the pending batch-2
    // urls (resume anti-join) and dedup only the appended slice (tail)
    val r2 = Pipelines.incrementalDedup(
      spark, spark.createDataset(union), incTable, incDedup, 8)
    assert(r2.extractedSnapshot.contains(1L) && r2.dedupedSnapshot.isDefined)
    assert(r2.appendedRows > 0 && r2.appendedRows <= 41,
      s"cross-batch duplicates must not re-enter (appended ${r2.appendedRows})")
    // turn 3: nothing pending anywhere — the whole pipeline is a no-op
    val r3 = Pipelines.incrementalDedup(
      spark, spark.createDataset(union), incTable, incDedup, 8)
    assert(r3 == Pipelines.IncrementalResult(None, None, 0L))

    // from-scratch: one run over the union into fresh tables
    val fsTable = tmpDir("pipe_fs_tbl"); val fsDedup = tmpDir("pipe_fs_dd")
    Pipelines.incrementalDedup(
      spark, spark.createDataset(union), fsTable, fsDedup, 8)

    def rows(dir: String): Seq[(String, String, String)] =
      new SnapshotLog(dir).scan(spark, Pipelines.dedupedSchema)
        .select("fp", "url", "text")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
        .toSeq.sorted
    val inc = rows(incDedup)
    val scratch = rows(fsDedup)
    // the deduped CORPUS CONTENT must be identical: same digest set, same
    // text per digest. (Which copy's url rides along as the representative
    // is the one legitimate divergence: incremental keeps the FIRST-COMMITTED
    // copy — the only order a stream of batches can honor — while a
    // from-scratch pass picks the min-url copy across all batches at once.)
    assert(inc.map(t => (t._1, t._3)) == scratch.map(t => (t._1, t._3)),
      s"incremental (${inc.size} rows) != from-scratch (${scratch.size} rows)")
    // for the constructed duplicates the two rules agree (originals sort
    // below their -xdup/-idup copies): both runs must keep the originals
    val incByFp = inc.map(t => t._1 -> t._2).toMap
    val scratchByFp = scratch.map(t => t._1 -> t._2).toMap
    for (p <- all.take(10) ++ Seq(internalBase)) {
      val fp = java.security.MessageDigest.getInstance("MD5")
        .digest(Synth.oracleExtract(Seq(p))(p.url).text.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(incByFp.get(fp).contains(p.url), s"incremental kept ${incByFp.get(fp)} for ${p.url}")
      assert(scratchByFp.get(fp).contains(p.url), s"from-scratch kept ${scratchByFp.get(fp)} for ${p.url}")
    }
    // sanity: duplicates actually collapsed (union has 132 pages)
    assert(inc.size < union.size && inc.map(_._1).distinct.size == inc.size)
  }

  test("pipeline crash windows: a missed dedup is recovered; re-dedup is idempotent") {
    val sp = spark; import sp.implicits._
    val all = Synth.corpus(60)
    val table = tmpDir("pipe_crash_tbl"); val dd = tmpDir("pipe_crash_dd")
    def content(dir: String) = new SnapshotLog(dir)
      .scan(spark, Pipelines.dedupedSchema).select("fp", "url")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    val txn = s"extract:${new SnapshotLog(table).tableRoot}"
    val dlog = new SnapshotLog(dd)
    // crash window 1: driver died AFTER the extract commit, BEFORE the dedup
    // commit — simulated by running the extract OUTSIDE the pipeline; the
    // rerun's extract is a no-op but the txn lags, so the slice must still
    // be deduped (anchoring on the extract result lost it forever)
    ExtractJob.run(spark, spark.createDataset(all.take(40)), table, 8)
    val r = Pipelines.incrementalDedup(
      spark, spark.createDataset(all.take(40)), table, dd, 8)
    assert(r.extractedSnapshot.isEmpty && r.dedupedSnapshot.isDefined
      && r.appendedRows > 0, s"missed slice must be recovered: $r")
    val rows1 = content(dd)
    // the deduped head records, in its own list, the extract snapshot it
    // consumed
    assert(dlog.txnWatermarks() == Map(txn -> 0L))
    // a rerun is a full no-op
    assert(Pipelines.incrementalDedup(spark, spark.createDataset(all.take(40)),
      table, dd, 8) == Pipelines.IncrementalResult(None, None, 0L))
    assert(dlog.currentSnapshot() == r.dedupedSnapshot)
    // an all-duplicate turn (known texts under new urls): the extract
    // commits, the dedup appends no row, and the txn still advances through
    // a txn-only snapshot that adds no data file
    val head = dlog.currentSnapshot().get
    val copies = all.take(10).map(p => p.copy(url = p.url + "-copy"))
    val r2 = Pipelines.incrementalDedup(
      spark, spark.createDataset(copies), table, dd, 8)
    assert(r2.extractedSnapshot.contains(1L) && r2.dedupedSnapshot.isEmpty
      && r2.appendedRows == 0, s"re-dedup must be a content no-op: $r2")
    assert(dlog.currentSnapshot().contains(head + 1L))
    assert(dlog.txnWatermarks() == Map(txn -> 1L))
    assert(segmentsOf(dd, head + 1L) == segmentsOf(dd, head), "a txn-only snapshot")
    assert(dlog.currentFiles() == dlog.filesAt(head))
    assert(new java.io.File(s"$dd/data").list().toSet ==
      dlog.currentFiles().map(f => new java.io.File(f).getParentFile.getName).toSet,
      "the txn-only commit leaves no stage behind")
    assert(content(dd) == rows1)
    // and the pipeline proceeds normally on the next real batch
    val r3 = Pipelines.incrementalDedup(
      spark, spark.createDataset(all), table, dd, 8)
    assert(r3.extractedSnapshot.contains(2L) && r3.appendedRows > 0)
    assert(dlog.txnWatermarks() == Map(txn -> 2L))
  }

  /** (corpus scan present?, count of shuffle exchanges whose subtree holds a
    * manifest-fed scan) — the static physical plan: broadcast HINTS bind the
    * join strategy before AQE, so the no-corpus-exchange claim is checkable
    * without running the query.
    */
  private def corpusScanShape(df: org.apache.spark.sql.DataFrame): (Boolean, Int) = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    // expand cache boundaries: the probe persists its thin `present` frame
    // in the big-batch regime, so the corpus subtree sits INSIDE an
    // InMemoryRelation a plain collect treats as a leaf
    def roots(p: SparkPlan): Seq[SparkPlan] =
      p +: p.collect {
        case im: InMemoryTableScanExec => roots(unwrap(im.relation.cachedPlan))
      }.flatten
    def corpusScans(p: SparkPlan) = roots(p).flatMap(_.collect {
      case f: FileSourceScanExec
        if f.relation.location.isInstanceOf[ManifestFileIndex] => f
    })
    val all = roots(unwrap(df.queryExecution.executedPlan))
    val shuffled = all.flatMap(_.collect {
      case s: ShuffleExchangeExec if corpusScans(s).nonEmpty => s
    })
    (corpusScans(unwrap(df.queryExecution.executedPlan)).nonEmpty, shuffled.size)
  }

  /** `body`'s result and the names of the RDDs its stages computed with a
    * storage level: a persist or a checkpoint shows up here.
    */
  private def persisting[A](body: => A): (A, Seq[String]) = {
    import scala.jdk.CollectionConverters._
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        e.stageInfo.rddInfos.filter(_.storageLevel.isValid).foreach(r => seen.add(r.name))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.sql.GraftShim.drainListeners(spark.sparkContext)
      (r, seen.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("a dedup turn releases its checkpointed winner blocks (no RDD leak)") {
    val dd = tmpDir("release_dd")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // small turns, a writing one AND an all-duplicate one, persist nothing
    for (expected <- Seq(50L, 0L)) {
      val ((_, n), persisted) = persisting(
        Pipelines.appendDeduped(spark, graft.Probe.extractedRange(spark, 0, 50), dd))
      assert(n == expected)
      assert(persisted.isEmpty, s"a small turn persisted $persisted")
    }
    // a big-regime turn checkpoints its winners and persists its keys
    val big = Pipelines.DefaultProbeFilterLimit + 100L
    val ((_, n), persisted) = persisting(
      Pipelines.appendDeduped(spark, graft.Probe.extractedRange(spark, 0, big), dd))
    assert(n == big - 50L)
    assert(persisted.nonEmpty, "the big regime must checkpoint its winners")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    // Dataset.unpersist is a no-op for localCheckpoint blocks; the turn must
    // release them explicitly, not leave them to driver GC cadence
    assert(leaked.isEmpty, s"turns leaked persistent RDD blocks: $leaked")
  }

  test("dedup append refuses a nondeterministic fresh plan before staging anything") {
    val sp = spark; import sp.implicits._
    val dd = tmpDir("dedup_nondet")
    def extractedDF(lo: Int, hi: Int) =
      spark.createDataset((lo until hi).map(i => Schemas.Extracted(
        s"https://nondet/$i", i % 8, "html",
        Seq(s"nondet text body $i"), s"nondet text body $i", 10L + i, i.toLong))).toDF()
    assert(Pipelines.appendDeduped(spark, extractedDF(0, 20), dd)._2 == 20L)
    val dlog = new SnapshotLog(dd)
    def onDisk = (parquetUnder(dd), new java.io.File(s"$dd/data").list().toSet)
    val before = onDisk
    // rand() < 2.0 keeps every text, but Catalyst marks the plan
    // nondeterministic: the probe and the survivor write could disagree
    val randomized = extractedDF(10, 40)
      .withColumn("text", when(rand(7) < 2.0, col("text")))
    val e = intercept[IllegalArgumentException](
      Pipelines.appendDeduped(spark, randomized, dd))
    assert(e.getMessage.contains("deterministic"))
    assert(dlog.currentSnapshot().contains(0L))
    assert(onDisk == before, "a refused append must stage nothing")
    assert(dlog.scan(spark, Pipelines.dedupedSchema).count() == 20L)
  }

  test("a steady small-regime pipeline turn runs at most 7 Spark jobs; its files cluster on fp64") {
    val sp = spark; import sp.implicits._
    val table = tmpDir("budget_tbl"); val dd = tmpDir("budget_dd")
    val seed = fixture.take(120)
    // a batch of the bench's shape: redelivered urls (resume skips them),
    // known texts under new urls (dedup drops them) and fresh pages
    def batch(t: Int) = spark.createDataset(seed.slice(t * 10, t * 10 + 40) ++
      seed.slice(t * 10 + 40, t * 10 + 80).map(p => p.copy(url = s"${p.url}-copy$t")) ++
      fixture.slice(120 + t * 20, 140 + t * 20))
    Pipelines.incrementalDedup(spark, spark.createDataset(seed), table, dd, 8)
    Pipelines.incrementalDedup(spark, batch(0), table, dd, 8) // warm
    val elog = new SnapshotLog(table); val dlog = new SnapshotLog(dd)
    val (eBefore, dBefore) = (elog.currentSnapshot().get, dlog.currentSnapshot().get)
    val (r, meter) = graft.Probe.metered(spark)(
      Pipelines.incrementalDedup(spark, batch(1), table, dd, 8))
    assert(r.appendedRows > 0L && r.appendedRows <= 20L, s"$r")
    import scala.jdk.CollectionConverters._
    assert(meter.jobs.get <= 7,
      s"${meter.jobs.get} jobs:\n${meter.jobLines.asScala.mkString("\n")}")
    // the write layout follows the bytes: a small turn adds one data file
    // to each table
    assert(elog.metaAddedBetween(eBefore, r.extractedSnapshot.get).size == 1)
    assert(dlog.metaAddedBetween(dBefore, r.dedupedSnapshot.get).size == 1)
    // the small regime's range-clustered write over several files (4 rows
    // per file): pairwise-disjoint fp64 ranges
    val before = dlog.currentSnapshot().get
    val r2 = withConf("graft.dedup.clusterRowsPerPart" -> "4")(
      Pipelines.incrementalDedup(spark, batch(2), table, dd, 8))
    assert(r2.appendedRows > 0L, s"$r2")
    val added = dlog.metaAddedBetween(before, r2.dedupedSnapshot.get)
    val ranges = added.map(_.stats("fp64") match {
      case LongBounds(lo, hi, _) => (lo, hi)
      case b => fail(s"fp64 bounds must be longs: $b")
    }).sortBy(_._1)
    assert(ranges.size > 1, s"a ${r2.appendedRows}-row append must spread over files: $ranges")
    assert(ranges.zip(ranges.tail).forall { case (a, b) => a._2 < b._1 },
      s"per-file fp64 ranges must be disjoint: $ranges")
  }

  test("a steady pipeline turn on a local table starts no OS process") {
    // without the native Hadoop library every local chmod and FileContext
    // rename forks a process: ~50 per turn before GraftIo's nio paths
    val sp = spark; import sp.implicits._
    val table = tmpDir("spawn_tbl"); val dd = tmpDir("spawn_dd")
    val seed = fixture.take(120)
    // the budget test's batch shape: redelivered, duplicate-text and fresh
    def batch(t: Int) = spark.createDataset(seed.slice(t * 10, t * 10 + 40) ++
      seed.slice(t * 10 + 40, t * 10 + 80).map(p => p.copy(url = s"${p.url}-copy$t")) ++
      fixture.slice(120 + t * 20, 140 + t * 20))
    Pipelines.incrementalDedup(spark, spark.createDataset(seed), table, dd, 8)
    Pipelines.incrementalDedup(spark, batch(0), table, dd, 8) // warm
    val (r, spawned) = graft.Probe.processStarts(
      Pipelines.incrementalDedup(spark, batch(1), table, dd, 8))
    assert(r.appendedRows > 0L, s"$r")
    assert(spawned.isEmpty, s"${spawned.size} processes:\n${spawned.mkString("\n")}")
    // a search over the same table writes its matched table the same way
    val extracted = ExtractJob.readExtracted(spark, table)
    val (found, searchSpawned) = graft.Probe.processStarts(
      SearchJob.run(spark, extracted, extracted, SearchParams(any = Some("needleTOKEN")),
        tmpDir("spawn_search") + "/matched"))
    assert(found.count > 0L, s"$found")
    assert(searchSpawned.isEmpty,
      s"${searchSpawned.size} processes:\n${searchSpawned.mkString("\n")}")
  }

  test("inverted dedup probe: the corpus side never shuffles; fp64 stats prune files") {
    val sp = spark; import sp.implicits._
    val dd = tmpDir("probe_dd")
    def extractedDF(lo: Int, hi: Int) =
      spark.createDataset((lo until hi).map(i => Schemas.Extracted(
        s"https://probe/$i", i % 8, "html",
        Seq(s"probe text body $i"), s"probe text body $i", 10L + i, i.toLong))).toDF()
    // 16 fp64-clustered files per append, so the probe has files to skip
    withConf("graft.dedup.clusterRowsPerPart" -> "25") {
      assert(Pipelines.appendDeduped(spark, extractedDF(0, 400), dd)._2 == 400L)
      assert(Pipelines.appendDeduped(spark, extractedDF(400, 800), dd)._2 == 400L)
    }
    val dlog = new SnapshotLog(dd)
    val meta = dlog.metaAt(dlog.currentSnapshot().get)
    assert(meta.nonEmpty && meta.forall(_.stats.contains("fp64")),
      "every deduped file must carry fp64 bounds")
    // fresh batch: 10 already-committed texts + 10 new ones
    val batch = extractedDF(790, 810)
    def fpsOf(df: org.apache.spark.sql.DataFrame) =
      Pipelines.withDigests(df).select("fp64", "fp").as[(Long, String)].collect().toSeq
    // the small regime's corpus probe, fed the batch digests the append
    // collects
    val present = Pipelines.corpusDigests(spark, dlog, dlog.currentSnapshot(), fpsOf(batch))
      .getOrElse(fail("a batch holding committed texts must probe the corpus"))
    // plan shape FIRST (static): corpus scanned, but inside no shuffle
    val (scanned, shuffles) = corpusScanShape(present)
    assert(scanned, "the probe must plan a manifest-fed corpus scan")
    assert(shuffles == 0,
      "the accumulated corpus digest column must never ride a shuffle " +
        "exchange — the batch digests filter the scan instead")
    assert(present.as[String].collect().toSet == fpsOf(extractedDF(790, 800)).map(_._2).toSet,
      "the probe must return exactly the 10 committed digests")
    // file skipping (C16 applied to the dedup probe): the probe's own
    // filters plan a strict subset of the range-clustered files
    val scan = (present.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }).collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }.get
    val kept = scan.relation.location.listFiles(Nil, scan.dataFilters).map(_.files.size).sum
    assert(kept >= 1 && kept < meta.size,
      s"20 digests must plan a strict subset of the ${meta.size} clustered files, got $kept")
    // the big regime's probe agrees and also plans zero corpus-side
    // shuffles (broadcast semi-probe)
    val urls = (800 until 810).map(i => s"https://probe/$i")
    val probe = Pipelines.dedupSurvivors(spark, batch, dlog, dlog.currentSnapshot())
    try {
      val (scanned2, shuffles2) = corpusScanShape(probe.survivors)
      assert(scanned2 && shuffles2 == 0)
      assert(probe.survivors.collect().map(_.getString(0)).sorted.toSeq == urls)
    } finally probe.reps.unpersist()
    // and the small-regime append commits only the 10 fresh texts
    assert(Pipelines.appendDeduped(spark, batch, dd)._2 == 10L)
    val all = dlog.scan(spark, Pipelines.dedupedSchema).select("url").as[String].collect().toSet
    assert(all.size == 810 && urls.forall(all))
  }

  test("small and big dedup regimes commit the same rows: intra-batch duplicates, a null text") {
    val sp = spark; import sp.implicits._
    def page(url: String, text: String) =
      Schemas.Extracted(url, 0, "html", Option(text).toSeq, text, 10L, 0L)
    def eq(i: Int) = s"eq text body $i"
    val seed = (0 until 100).map(i => page(s"https://eq/$i", eq(i)))
    // 10 committed texts under new urls, 20 fresh texts, intra-batch
    // copies of 5 of them (sorting after the originals) and one copy that
    // sorts BEFORE its original, and two null texts
    val slice = (90 until 100).map(i => page(s"https://eq/$i-x", eq(i))) ++
      (100 until 120).map(i => page(s"https://eq/$i", eq(i))) ++
      (100 until 105).map(i => page(s"https://eq/$i-dup", eq(i))) ++
      Seq(page("https://eq/0-early", eq(110)),
        page("https://eq/null-b", null), page("https://eq/null-a", null))
    val pad = Pipelines.DefaultProbeFilterLimit + 8
    val padding = spark.range(pad).select(
      concat(lit("https://eq/pad-"), col("id")).as("url"), lit(0).as("bucket"),
      lit("html").as("kind"), array(concat(lit("eq pad "), col("id"))).as("pages"),
      concat(lit("eq pad "), col("id")).as("text"), lit(10L).as("n_bytes"),
      lit(0L).as("checksum"))
    def committed(fresh: org.apache.spark.sql.DataFrame) = {
      val dd = tmpDir("regimes_dd")
      assert(Pipelines.appendDeduped(spark, spark.createDataset(seed).toDF(), dd)._2 == 100L)
      val n = Pipelines.appendDeduped(spark, fresh, dd)._2
      val rows = new SnapshotLog(dd).scan(spark, Pipelines.dedupedSchema)
        .select("url", "text", "fp", "fp64").collect()
        .map(r => (r.getString(0), Option(r.getString(1)), Option(r.getString(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))
        .filterNot(_._1.startsWith("https://eq/pad-")).toSeq.sorted
      (n, rows)
    }
    val (nSmall, small) = committed(spark.createDataset(slice).toDF())
    val (nBig, big) = committed(spark.createDataset(slice).toDF().unionByName(padding))
    assert(nSmall == 21L, s"20 fresh texts and one null text land, got $nSmall")
    assert(nBig == nSmall + pad)
    assert(small == big)
    val kept = small.map(_._1).toSet
    assert(kept("https://eq/0-early") && !kept("https://eq/110"),
      "the min-url row of a digest wins")
    assert(kept("https://eq/null-a") && !kept("https://eq/null-b"))
    assert(!kept.exists(_.endsWith("-x")) && !kept.exists(_.endsWith("-dup")))
  }

  test("dedup probe on a pre-fp64 (legacy) corpus never re-admits duplicates") {
    val sp = spark; import sp.implicits._
    // round-5 deduped tables carry fp but no fp64: the evolved scan
    // null-fills the column, so the IN-branch row filter would drop every
    // legacy corpus row from `present` and silently re-admit duplicates
    // (round-6 review). The metadata gate must detect the stats-less files
    // and route the turn through the fp semi-join, which legacy files
    // satisfy.
    val dd = tmpDir("probe_legacy")
    val dlog = new SnapshotLog(dd)
    def extractedDF(lo: Int, hi: Int) =
      spark.createDataset((lo until hi).map(i => Schemas.Extracted(
        s"https://legacy/$i", i % 8, "html",
        Seq(s"legacy text body $i"), s"legacy text body $i", 10L + i, i.toLong))).toDF()
    val stage = dlog.stageUniqueDataDir()
    extractedDF(0, 100)
      .withColumn("fp", md5(col("text").cast("binary")))
      .repartition(4).write.mode("overwrite").parquet(stage)
    dlog.commitOptimistic(stage, statsColumns = Seq("bucket"))
    assert(dlog.metaAt(dlog.currentSnapshot().get)
      .exists(!_.stats.contains("fp64")), "fixture must look pre-fp64")
    // IN-branch-sized batch: 10 already-committed texts + 10 new ones
    val (_, n) = Pipelines.appendDeduped(spark, extractedDF(90, 110), dd)
    assert(n == 10L, s"only the 10 new texts may land, got $n")
    val all = dlog.scan(spark, Pipelines.dedupedSchema)
    assert(all.count() == 110L)
    assert(all.select("fp").distinct().count() == 110L,
      "every digest must appear exactly once after the mixed-layout append")
  }

  test("big-batch dedup append: streamed write path lands and no-ops on replay") {
    val sp = spark; import sp.implicits._
    // > DefaultProbeFilterLimit (8192) distinct digests routes the append
    // through the seeding/backfill regime: one streamed clustered write with
    // footer-derived row count (no persist double-materialization) —
    // a path no small-batch test exercises (round-6 fourth pass)
    val dd = tmpDir("probe_big")
    val n = Pipelines.DefaultProbeFilterLimit + 500
    def batch() = spark.range(n).select(
      concat(lit("https://big/"), col("id")).as("url"),
      (col("id") % 8).cast("int").as("bucket"), lit("html").as("kind"),
      array(concat(lit("big text "), col("id"))).as("pages"),
      concat(lit("big text "), col("id")).as("text"),
      (col("id") + 10L).as("n_bytes"), col("id").as("checksum"))
    val (id1, n1) = Pipelines.appendDeduped(spark, batch(), dd)
    assert(id1.isDefined && n1 == n.toLong, s"first big append: ($id1, $n1)")
    // replay of the same batch: all duplicates, still the big-batch regime —
    // the observed count is 0, the empty stage aborts, nothing commits
    val (id2, n2) = Pipelines.appendDeduped(spark, batch(), dd)
    assert(id2.isEmpty && n2 == 0L, s"all-dup big append must no-op: ($id2, $n2)")
    val dlog = new SnapshotLog(dd)
    assert(dlog.currentSnapshot() == id1)
    val all = dlog.scan(spark, Pipelines.dedupedSchema)
    assert(all.count() == n.toLong)
    assert(all.select("fp").distinct().count() == n.toLong)
  }

  test("seeding fallback: past the broadcast budget the probe plans shuffle joins, same rows") {
    val sp = spark; import sp.implicits._
    // round-6 VERDICT item 1: the big-batch regime force-broadcast the batch
    // digest set — a hard ~8GB/512M-row ceiling at a true first-seed. Past
    // graft.dedup.broadcastProbeRows the probe must fall back to plain
    // digest-thin shuffle semi/anti joins: an Exchange appears in exactly
    // that regime (and ONLY there — the budgeted regimes stay exchange-free
    // on the corpus side, pinned by the inverted-probe test above).
    val dd = tmpDir("probe_fallback")
    def extractedDF(lo: Int, hi: Int) =
      spark.createDataset((lo until hi).map(i => Schemas.Extracted(
        s"https://fb/$i", i % 8, "html",
        Seq(s"fallback text $i"), s"fallback text $i", 10L + i, i.toLong))).toDF()
    assert(Pipelines.appendDeduped(spark, extractedDF(0, 300), dd)._2 == 300L)
    val dlog = new SnapshotLog(dd)
    val batch = extractedDF(290, 320) // 10 dups + 30 fresh
    // broadcast path (reference): big-batch regime, under the budget
    val bProbe = Pipelines.dedupSurvivors(spark, batch, dlog, dlog.currentSnapshot())
    val expected = try {
      assert(bProbe.broadcastable)
      bProbe.survivors.select("url").as[String].collect().sorted.toSeq
    } finally bProbe.reps.unpersist()
    spark.conf.set("graft.dedup.broadcastProbeRows", "0")
    // auto-broadcast off: at test sizes the planner would still pick BHJ
    // from its own estimates (which is fine — the fallback only removes the
    // unbounded HINT); at seeding scale the estimates exceed any threshold,
    // which this mimics so the planned shuffle is visible
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probe = Pipelines.dedupSurvivors(spark, batch, dlog, dlog.currentSnapshot())
      try {
        assert(!probe.broadcastable,
          "a zero budget must force the shuffle fallback")
        // inputPlan predates AQE's exchange insertion, so assert on the join
        // STRATEGY: every probe join must be shuffle-based (sort-merge),
        // none broadcast — the O(batch) digest-thin co-partitioning plan
        def unwrap(p: org.apache.spark.sql.execution.SparkPlan) = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.inputPlan
          case o => o
        }
        val plan = unwrap(probe.survivors.queryExecution.executedPlan)
        val smj = plan.collect {
          case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        }
        val bhj = plan.collect {
          case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
        }
        assert(smj.nonEmpty && bhj.isEmpty,
          "the fallback regime must plan shuffle joins (no broadcast); " +
            s"got smj=${smj.size} bhj=${bhj.size}:\n${plan.treeString}")
        assert(probe.survivors.select("url").as[String].collect().sorted.toSeq
          == expected, "fallback regime must keep the same survivors")
      } finally probe.reps.unpersist()
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      // the append path through the fallback regime (> DefaultProbeFilterLimit
      // rows, zero budget) lands the right rows and a replay no-ops —
      // the count strategy holds without any broadcast anywhere
      val dd2 = tmpDir("probe_fallback_append")
      val big = Pipelines.DefaultProbeFilterLimit + 300
      def bigBatch() = spark.range(big).select(
        concat(lit("https://fb2/"), col("id")).as("url"),
        (col("id") % 8).cast("int").as("bucket"), lit("html").as("kind"),
        array(concat(lit("fb2 text "), col("id"))).as("pages"),
        concat(lit("fb2 text "), col("id")).as("text"),
        (col("id") + 10L).as("n_bytes"), col("id").as("checksum"))
      val (id1, n1) = Pipelines.appendDeduped(spark, bigBatch(), dd2)
      assert(id1.isDefined && n1 == big.toLong, s"fallback append: ($id1, $n1)")
      val (id2, n2) = Pipelines.appendDeduped(spark, bigBatch(), dd2)
      assert(id2.isEmpty && n2 == 0L, s"fallback replay must no-op: ($id2, $n2)")
      val all = new SnapshotLog(dd2).scan(spark, Pipelines.dedupedSchema)
      assert(all.count() == big.toLong)
      assert(all.select("fp").distinct().count() == big.toLong)
    } finally {
      spark.conf.unset("graft.dedup.broadcastProbeRows")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    }
  }

  test("clusterParts: one file per clusterRowsPerPart staged rows, at least one") {
    assert(Pipelines.clusterParts(spark, 0L) == 1)
    assert(Pipelines.clusterParts(spark, 1L) == 1)
    assert(Pipelines.clusterParts(spark, 100000L) == 1)
    val perPart = 262144L
    assert(Pipelines.clusterParts(spark, perPart) == 1)
    assert(Pipelines.clusterParts(spark, perPart + 1L) == 2)
    assert(Pipelines.clusterParts(spark, perPart * 100L) == 100)
    assert(Pipelines.clusterParts(spark, perPart * 100L + 1L) == 101)
    spark.conf.set("graft.dedup.clusterRowsPerPart", "10")
    try assert(Pipelines.clusterParts(spark, 200L) == 20)
    finally spark.conf.unset("graft.dedup.clusterRowsPerPart")
  }

  test("dedup probe after compacting a mixed legacy corpus never re-admits duplicates") {
    val sp = spark; import sp.implicits._
    // the second-pass review trap: legacy (fp-only) rows survive a
    // compact(sortBy=fp64) with NULL fp64 — the rewrite never recomputes
    // columns — but land range-clustered next to the smallest non-null
    // digests, so their file gets fp64 BOUNDS (parquet stats cover non-null
    // values only). Gating the IN branch on bounds PRESENCE alone flipped
    // true here and silently re-admitted legacy texts; the gate must demand
    // the proven-zero-nulls marker and fall back to the fp semi-join.
    val dd = tmpDir("probe_legacy_compact")
    val dlog = new SnapshotLog(dd)
    def extractedDF(lo: Int, hi: Int) =
      spark.createDataset((lo until hi).map(i => Schemas.Extracted(
        s"https://legacy/$i", i % 8, "html",
        Seq(s"legacy text body $i"), s"legacy text body $i", 10L + i, i.toLong))).toDF()
    val stage = dlog.stageUniqueDataDir()
    extractedDF(0, 20) // legacy minority: round-5 layout, fp only
      .withColumn("fp", md5(col("text").cast("binary")))
      .repartition(2).write.mode("overwrite").parquet(stage)
    dlog.commitOptimistic(stage, statsColumns = Seq("bucket"))
    assert(Pipelines.appendDeduped(spark, extractedDF(20, 200), dd)._2 == 180L)
    dlog.compact(spark, Pipelines.dedupedSchema, targetFiles = 4,
      statsColumns = Seq("bucket", "fp64"), sortBy = Seq("fp64"))
    val meta = dlog.metaAt(dlog.currentSnapshot().get)
    // the trap must actually manifest: every file carries fp64 bounds, yet
    // at least one holds null-fp64 legacy rows (and is therefore unproven)
    assert(meta.forall(_.stats.contains("fp64")),
      s"fixture must put fp64 bounds on every compacted file: $meta")
    assert(meta.exists(!_.stats("fp64").noNulls),
      "the boundary file holding legacy nulls must read as nulls-possible")
    // 10 legacy dups + 10 fresh: only the fresh may land
    val batch = extractedDF(10, 20).unionByName(extractedDF(200, 210))
    val (_, n) = Pipelines.appendDeduped(spark, batch, dd)
    assert(n == 10L, s"only the 10 new texts may land, got $n")
    val all = dlog.scan(spark, Pipelines.dedupedSchema)
    assert(all.count() == 210L)
    assert(all.select("fp").distinct().count() == 210L,
      "every digest must appear exactly once after the post-compact append")
  }

  test("compact CLI on a deduped table: sortBy=fp64 keeps every row, digest and fp64 bound") {
    val sp = spark; import sp.implicits._
    val table = tmpDir("cli_compact_tbl"); val dd = tmpDir("cli_compact_dd")
    for (t <- 0 until 3) Pipelines.incrementalDedup(
      spark, spark.createDataset(fixture.slice(t * 30, t * 30 + 30)), table, dd, 8)
    val dlog = new SnapshotLog(dd)
    def rows = dlog.scan(spark, Pipelines.dedupedSchema)
      .select("url", "text", "fp", "fp64").as[(String, String, String, Long)]
      .collect().toSeq.sorted
    val before = rows
    assert(dlog.currentFiles().size == 3)
    // the function `compact <dedupedDir> 8 sortBy=fp64` runs
    val id = graft.SubmitMain.compact(spark, dd, 8, Seq("fp64"))
    assert(id.isDefined && dlog.currentSnapshot() == id)
    assert(rows == before, "the rewrite must keep every row and digest")
    val meta = dlog.metaAt(id.get)
    assert(meta.nonEmpty && meta.forall(m => m.stats.contains("bucket") &&
      m.stats.get("fp64").exists(_.isInstanceOf[LongBounds])),
      s"every output file must keep its bucket and fp64 bounds: $meta")
    // the extracted table still compacts through its own schema
    val extracted = ExtractJob.readExtracted(spark, table).count()
    assert(graft.SubmitMain.compact(spark, table, 1, Nil).isDefined)
    assert(ExtractJob.readExtracted(spark, table).count() == extracted)
  }

  test("tail CLI on a deduped table: every column and the full page lists come out") {
    val sp = spark; import sp.implicits._
    val table = tmpDir("cli_tail_tbl"); val dd = tmpDir("cli_tail_dd")
    for (t <- 0 until 2) Pipelines.incrementalDedup(
      spark, spark.createDataset(fixture.slice(t * 120, t * 120 + 120)), table, dd, 8)
    val dlog = new SnapshotLog(dd)
    assert(dlog.currentSnapshot().contains(1L))
    val out = tmpDir("cli_tail_out") + "/rows"
    // the function `tail <dedupedDir> 0 <out>` runs
    val n = graft.SubmitMain.tail(spark, dd, 0L, out)
    val tailed = spark.read.parquet(out)
    assert(tailed.columns.toSeq == Pipelines.dedupedSchema.fieldNames.toSeq)
    val expected = dlog.scanIncremental(spark, Pipelines.dedupedSchema, 0L)
      .select("url", "fp", "fp64").as[(String, String, Long)].collect().toSeq.sorted
    assert(n == expected.size.toLong && n > 0L)
    assert(tailed.select("url", "fp", "fp64").as[(String, String, Long)]
      .collect().toSeq.sorted == expected)
    val pages = tailed.select("url", "pages").collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    for ((url, ps) <- pages) assert(ps == oracle(url).pages, url)
    assert(pages.values.exists(_.size == 1), "one-page rows come out as one-page lists")
  }

  test("compact racing a concurrent optimistic appender never drops committed rows") {
    val sp = spark; import sp.implicits._
    val dir = tmpDir("compact_race")
    val log = new SnapshotLog(dir)
    val rows = spark.range(2000).select(col("id"), (col("id") % 7).as("v"))
    log.append(rows.filter(col("id") < 1000).repartition(40))
    // compaction commits conditionally on the snapshot it read: any append
    // landing during the rewrite must make the replace fail loudly — a
    // commit over the racer would silently drop the appender's rows
    val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
    val compactJob = pool.submit(new java.util.concurrent.Callable[Option[Long]] {
      def call(): Option[Long] =
        try new SnapshotLog(dir).compact(spark, rows.schema, targetFiles = 2)
        // loud failure ("table advanced") is the contract under a race
        catch { case _: IllegalStateException => None }
    })
    val appender = new SnapshotLog(dir)
    for (i <- 0 until 3) {
      val stage = appender.stageUniqueDataDir()
      rows.filter(col("id") >= 1000 + i * 100 && col("id") < 1100 + i * 100)
        .repartition(2).write.mode("overwrite").parquet(stage)
      appender.commitOptimistic(stage)
    }
    val compacted = compactJob.get(300, java.util.concurrent.TimeUnit.SECONDS)
    pool.shutdown()
    // whatever interleaving happened, NO committed row may vanish
    val got = log.scan(spark, rows.schema).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (0L until 1300L).toSeq,
      s"rows lost after compact(${compacted}) raced 3 appends: ${got.size} of 1300")
  }

  test("a10 approx quantiles: inside the sketch's rank bound of the exact a09 anchor") {
    val sp = spark; import sp.implicits._
    val dir = tmpDir("quantiles")
    // skewed per-language length distributions (the real corpus shape)
    val docs = (for (l <- Seq("en", "de", "fr"); i <- 0 until 4000) yield {
      val len = l.length * 500 + (i * i) % 3000 + i / 7
      (l.hashCode.toLong * 10000 + i, "x" * 3, l, "web", len.toLong)
    }).toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val approx = Queries.registry("a10_length_quantiles_approx")(spark, dir)
      .collect().map(r => r.getString(0) -> Seq(r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(approx.keySet == Set("en", "de", "fr"))
    val byLang = docs.collect().map(r => (r.getString(2), r.getLong(4)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    // approx_percentile guarantees rank error <= n/accuracy; assert each
    // returned value's rank interval intersects [n(p-eps), n(p+eps)]
    val eps = 1.0 / 10000 + 0.004
    for ((lang, vals) <- byLang; (p, i) <- Seq(0.5, 0.9, 0.99).zipWithIndex) {
      val v = approx(lang)(i)
      val lo = vals.count(_ < v).toDouble
      val hi = vals.count(_ <= v).toDouble
      val n = vals.length
      assert(lo <= n * (p + eps) && hi >= n * (p - eps),
        s"$lang p$p: approx $v has rank [$lo,$hi] outside n*(p±eps)=${n * p}")
    }
    // and the exact anchor agrees with a direct interpolation readout
    val exact = Queries.registry("a09_length_quantiles")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    for ((lang, vals) <- byLang) {
      val rn = 0.5 * (vals.length - 1)
      val (flo, fhi) = (vals(rn.floor.toInt).toDouble, vals(rn.ceil.toInt).toDouble)
      val interp = (rn.ceil - rn) * flo + (rn - rn.floor) * fhi
      val expected = math.floor((if (rn.ceil == rn.floor) flo else interp) * 1000).toLong
      assert(exact(lang) == expected, s"$lang exact p50 drifted")
    }
  }

  test("simhash multi-probe: near-dup differing in a TOP-16 bit is still found (hamming<=3)") {
    val sp = spark; import sp.implicits._
    // find a word substitution that flips >= 1 of the top-16 simhash bits and
    // has hamming <= 3 overall — exactly the pair the round-1 single top-16
    // probe missed by construction
    val baseText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val baseSig = graft.kernel.TextStats.simHash(baseText)
    val variant = (1 to 4000).iterator.map(i => baseText + " w" + i).find { t =>
      val s = graft.kernel.TextStats.simHash(t)
      val d = graft.kernel.TextStats.hammingDist(baseSig, s)
      d >= 1 && d <= 3 && (baseSig >>> 48) != (s >>> 48)
    }
    assert(variant.isDefined, "fixture search must find a top-bit-flipping near-dup")
    val docsDf = Seq((1L, baseText), (2L, variant.get))
      .toDF("doc_id", "text")
    val pairs = Dedup.simHashPairs(docsDf, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"multi-probe must find the pair, got $pairs")
  }

  test("LSH pair operators EQUAL their brute-force definitions on a small corpus") {
    val sp = spark; import sp.implicits._
    import graft.kernel.TextStats
    // 120 docs incl. exact copies and dropped-last-word near-dups
    val texts: Seq[(Long, String)] = (0 until 80).map { i =>
      i.toLong -> s"alpha beta w$i gamma delta epsilon token${i % 7} zeta eta theta iota"
    } ++ (0 until 20).map { i =>
      (1000L + i) -> s"alpha beta w$i gamma delta epsilon token${i % 7} zeta eta theta iota"
    } ++ (0 until 20).map { i =>
      (2000L + i) -> s"alpha beta w$i gamma delta epsilon token${i % 7} zeta eta theta"
    }
    val df = texts.toDF("doc_id", "text")

    // simhash: brute-force all pairs at hamming <= 3
    val sims = texts.map { case (id, t) => id -> TextStats.simHash(t) }
    val expectSim = (for {
      (a, sa) <- sims; (b, sb) <- sims if a < b
      h = TextStats.hammingDist(sa, sb) if h <= 3
    } yield (a, b, h.toLong)).toSet
    val gotSim = Dedup.simHashPairs(df, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong)).toSet
    assert(gotSim == expectSim, s"simhash: got ${gotSim.size}, expect ${expectSim.size}")

    // minhash LSH: brute force = any shared band key AND estimated jaccard >= 0.5
    val sigs = texts.map { case (id, t) =>
      (id, TextStats.minHash(TextStats.shingles(t)))
    }
    val bands = sigs.map { case (id, s) => (id, TextStats.lshBands(s)) }.toMap
    val expectMh = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      if bands(a).zip(bands(b)).exists { case (x, y) => x == y }
      j = TextStats.minHashJaccard(sa, sb) if j >= 0.5
    } yield (a, b, (j * 1000).toLong)).toSet
    val gotMh = Dedup.minHashPairs(df, "doc_id", "text", minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotMh == expectMh, s"minhash: got ${gotMh.size}, expect ${expectMh.size}")
    assert(expectMh.nonEmpty && expectSim.nonEmpty, "fixture must produce pairs")
  }

  test("cache lifecycle: minHash/simHash/cosine pair operators leave nothing cached") {
    val sp = spark; import sp.implicits._
    assert(spark.sharedState.cacheManager.isEmpty, "precondition: clean cache")
    val corpus = Seq.tabulate(50)(i => (i.toLong, s"some shared words here plus token$i extra"))
      .toDF("doc_id", "text")
    Dedup.minHashPairs(corpus, "doc_id", "text").count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "minHashPairs must unpersist its signature cache")
    Dedup.simHashPairs(corpus, "doc_id", "text").count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "simHashPairs must unpersist its signature cache")
    val emb = Seq.tabulate(50)(i =>
      (i.toLong, Array.tabulate(8)(d => (d + 1).toFloat * (1 + (i % 3) * 0.001f)), 0))
      .toDF("vec_id", "embedding", "label")
    Embeddings.cosineNearDupPairs(emb, minCosine = 0.9).count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "cosineNearDupPairs must unpersist its signature cache")
  }

  test("simHashPairs derives its block count from maxHamming (pigeonhole holds beyond 3)") {
    val sp = spark; import sp.implicits._
    // a pair at hamming 5 spread over >4 of the old fixed 16-bit blocks would
    // need >= 6 blocks; search for a planted pair with hamming in (3, 5] whose
    // differing bits span ALL FOUR 16-bit quarters — the round-2 split misses
    // it by construction, the derived 6-block split must find it
    import graft.kernel.TextStats
    val baseText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val baseSig = TextStats.simHash(baseText)
    def quarters(x: Long): Set[Int] =
      (0 until 4).filter(q => ((x >>> (q * 16)) & 0xFFFFL) != 0L).toSet
    val variant = (1 to 30000).iterator.map(i => baseText + " w" + i).find { t =>
      val d = baseSig ^ TextStats.simHash(t)
      val h = java.lang.Long.bitCount(d)
      h >= 4 && h <= 5 && quarters(d).size == 4
    }
    assert(variant.isDefined, "fixture search must find a 4-quarter-spread near-dup")
    val df = Seq((1L, baseText), (2L, variant.get)).toDF("doc_id", "text")
    val got5 = Dedup.simHashPairs(df, "doc_id", "text", maxHamming = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got5 == Set((1L, 2L)), s"derived 6-block probe must find the pair, got $got5")
    intercept[IllegalArgumentException] {
      Dedup.simHashPairs(df, "doc_id", "text", maxHamming = 16)
    }
  }

  test("embedding LSH multi-probe: pair straddling ONE hyperplane is still found (P5/P7)") {
    val sp = spark; import sp.implicits._
    import graft.kernel.TextStats
    // engineer a planted pair whose dim-0 nudge flips EXACTLY one hyperplane
    // sign while keeping cosine >= 0.999 — unreachable by an own-bucket-only
    // join (the round-2 recall gap)
    val base = Array.tabulate(16)(d =>
      (graft.kernel.Hash64.mix(d.toLong * 7 + 1) % 1000).toFloat / 1000f)
    val b0 = TextStats.embeddingLshBucket(base)
    val flipped = (1 to 4000).iterator.map { i =>
      val v = base.clone(); v(0) = v(0) + i * 0.001f; v
    }.find { v =>
      val b = TextStats.embeddingLshBucket(v)
      java.lang.Integer.bitCount(b0 ^ b) == 1 && TextStats.cosine(base, v) >= 0.999
    }
    assert(flipped.isDefined, "fixture search must find a one-hyperplane-flipping near-dup")
    val others = (10 until 40).map { i =>
      (i.toLong, Array.tabulate(16)(d =>
        (graft.kernel.Hash64.mix(i.toLong * 16 + d) % 1000).toFloat / 1000f).toSeq, 0)
    }
    val df = (Seq((1L, base.toSeq, 0), (2L, flipped.get.toSeq, 0)) ++ others)
      .toDF("vec_id", "embedding", "label")
    // P5: the near-dup pair operator must surface (1, 2)
    val got = Embeddings.cosineNearDupPairs(df, minCosine = 0.999)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)), s"multi-probe must reach the straddling pair, got $got")
    // P7: querying with vec 1's vector must see vec 2 among candidates
    val topIds = Embeddings.lshTopK(df, base, 3).collect().map(_.getLong(0)).toSet
    assert(topIds.contains(2L), s"multi-probe lshTopK must reach the flipped neighbor, got $topIds")
  }

  test("embedding near-dup recall guarantee: every injected pair within bucket-hamming 1 is found") {
    val sp = spark; import sp.implicits._
    import graft.kernel.TextStats
    val vecs = (0 until 120).map { i =>
      val v = Array.tabulate(16)(d =>
        (graft.kernel.Hash64.mix(i.toLong * 16 + d) % 1000).toFloat / 1000f)
      (i.toLong, v, i % 3)
    }
    val df = spark.createDataset(vecs.map { case (id, v, l) => (id, v.toSeq, l) })
      .toDF("vec_id", "embedding", "label")
    val withDups = Embeddings.withInjectedNearDups(df, offset = 100000L)
    val got = Embeddings.cosineNearDupPairs(withDups, minCosine = 0.99)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the GUARANTEE: a pair is found whenever its buckets differ in <= 1 bit
    // (and the exact-cosine verify passes — the +0.01 nudge keeps cos ~0.9999)
    for ((id, v, _) <- vecs) {
      val mutant = v.clone(); mutant(0) = mutant(0) + 0.01f
      val bh = java.lang.Integer.bitCount(
        TextStats.embeddingLshBucket(v) ^ TextStats.embeddingLshBucket(mutant))
      if (bh <= 1 && TextStats.cosine(v, mutant) >= 0.99)
        assert(got.contains((id, id + 100000L)),
          s"pair ($id, ${id + 100000L}) at bucket-hamming $bh must be found")
    }
  }

  test("IVF materialized index: probe plans only the probed cells' files from the manifest") {
    val sp = spark; import sp.implicits._
    val emb = Seq.tabulate(200)(i =>
      (i.toLong, Array.tabulate(8)(d => math.cos(i * 0.37 + d).toFloat), i % 4))
      .toDF("vec_id", "embedding", "label")
    val cents = Embeddings.ivfTrain(emb, k = 8, iters = 1)
    val idxPath = tmpDir("ivf_idx") + "/index"
    Embeddings.ivfBuildIndex(emb, cents, idxPath)
    val q = Array.tabulate(8)(d => math.cos(0.37 + d).toFloat) // vec 1's vector
    val probe = Embeddings.ivfTopKIndexed(spark, idxPath, cents, q, k = 5, nProbe = 3)
    // round 5: the probed cells select index-manifest entries BEFORE planning
    // (no directory listing, no PartitionFilters left to apply), so the scan's
    // FileIndex is the manifest one and its files sit under probed cells only
    val location = probe.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation
          .asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location
    }.head
    assert(location.isInstanceOf[ManifestFileIndex],
      s"probe must plan from the index manifest, got ${location.getClass}")
    val probedCells = Embeddings.probeCells(cents, q, nProbe = 3)
      .map(c => s"cell=$c").toSet
    val plannedDirs = location.inputFiles.map(p => p.split('/').takeRight(2).head).toSet
    assert(plannedDirs.nonEmpty && plannedDirs.subsetOf(probedCells),
      s"probe planned non-probed cells: ${plannedDirs -- probedCells}")
    // pruned probe returns the same rows as the on-the-fly probe
    val expect = Embeddings.ivfTopK(emb, cents, q, k = 5, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val got = probe.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == expect)
  }
}

/** Test optimizer rule: the first plan that holds a UDF named by [[arm]]
  * blocks its planning thread until released — a deterministic pause inside
  * one job between reading a table and writing its stage.
  */
object PauseOnUdf extends org.apache.spark.sql.catalyst.rules.Rule[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import java.util.concurrent.{CountDownLatch, TimeUnit}
  import java.util.concurrent.atomic.AtomicReference
  private val armed = new AtomicReference[Option[(String, CountDownLatch, CountDownLatch)]](None)

  def arm(marker: String, paused: CountDownLatch, resume: CountDownLatch): Unit =
    armed.set(Some((marker, paused, resume)))
  def disarm(): Unit = armed.set(None)

  def apply(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    val cur = armed.get
    cur.foreach { case (marker, paused, resume) =>
      val hit = plan.exists(_.expressions.exists(_.exists {
        case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF => u.udfName.contains(marker)
        case _ => false
      }))
      if (hit && armed.compareAndSet(cur, None)) {
        paused.countDown()
        resume.await(300, TimeUnit.SECONDS): Unit
      }
    }
    plan
  }
}
