package graft.probe

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{Bench, Probe, SparkEntry}
import graft.kernel.{Extract, TextStats}
import graft.spark.{Dedup, Embeddings, ExtractJob, Functions, Schemas, Synth}

/** `graft.Probe` scenarios over the kernel, the extract operator, the query
  * registry and the dedup / ANN operators.
  */
object Engine {

  /** Single-thread kernel cost per payload kind and size (no Spark), then
    * the raw kernel's scaling on a plain thread pool — isolates hardware and
    * memory-bandwidth limits from framework overhead.
    */
  def kernel(args: Seq[String]): Unit = {
    val perKind = 500
    val poolDocs = 60000
    val base = "the fast key order sort table scan merge part window small hash scan join order batch stream spark window dup "
    for (rep <- Seq(1, 10, 50, 200)) {
      val text = (base * rep).trim
      val kinds: Seq[(String, Long => Array[Byte])] = Seq(
        ("html", (i: Long) => Synth.buildHtml(i, text)),
        ("pdf ", (i: Long) => Synth.buildPdfDigital(i, text)),
        ("scan", (i: Long) => Synth.buildRaster(i, text, noise = true)))
      for ((label, mk) <- kinds) {
        val payloads = (0 until perKind).map(i => mk(i.toLong))
        val (t, _) = Probe.timed()(payloads.foreach(Extract.extract(_, null)))
        val bytes = payloads.map(_.length.toLong).sum
        println(f"rep=$rep%3d kind=$label avg=${bytes / perKind}%7d B  " +
          f"usPerDoc=${t.min / perKind * 1e6}%8.1f  mbPerSec1core=${bytes / 1e6 / t.min}%8.1f  ($t)")
      }
    }

    val text = ("the fast key order sort table scan merge part window small hash " * 20).trim
    val payloads = Array.tabulate(poolDocs) { i =>
      Synth.kindSlot(i.toLong) match {
        case m if m <= 12 => Synth.buildHtml(i.toLong, text)
        case 13           => null
        case m if m <= 16 => Synth.buildPdfDigital(i.toLong, text)
        case 17           => Synth.buildRaster(i.toLong, text, noise = true)
        case 18           => Synth.buildPdfScanned(i.toLong, text, noise = true)
        case _            => Synth.buildCorrupt(i.toLong)
      }
    }
    // each thread gets one fixed, equal slice (no work stealing), so a slice
    // holding slow scanned docs shows in the wall time, as a Spark task does
    def pass(threads: Int): Long = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      val chunk = poolDocs / threads
      try (0 until threads).map { t =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            val end = if (t == threads - 1) poolDocs else (t + 1) * chunk
            (t * chunk until end).map(i => Extract.extract(payloads(i), text).text.length.toLong).sum
          }
        })
      }.map(_.get()).sum
      finally pool.shutdown()
    }
    Probe.sweep { n =>
      val (t, _) = Probe.timed(runs = 2)(pass(n))
      println(f"threads=$n%2d sec=${t.min}%6.2f docs_per_sec=${poolDocs / t.min}%9.0f  ($t)")
    }
  }

  /** The scan floor (read + decompress the payload column, no kernel) next
    * to scan + GraftExtract, at each thread level, over `mult` copies of the
    * sf0.1 documents as pages — graft.Bench's construction, where 40 copies
    * is the bench corpus. The difference is the operator's own cost; rising
    * `mult` asks whether throughput HOLDS as the corpus grows.
    */
  def operator(args: Seq[String]): Unit = {
    val mult = args.lift(0).fold(400)(_.toInt)
    // kept across runs: materializing is most of a cold run's time
    val pagesPath = s"target/probe_pages_$mult"
    if (!new java.io.File(s"$pagesPath/_SUCCESS").exists())
      Probe.withSession() { spark =>
        Bench.materializePages(spark, Probe.testData("sf0.1"), mult, docRep = 40, pagesPath)
      }
    Probe.sweep { n =>
      Probe.withSession(n) { spark =>
        import spark.implicits._
        val pages = spark.read.schema(Schemas.pagesSchema).parquet(pagesPath)
        val (scan, _) = Probe.timed()(pages.agg(sum(length(col("html")))).head())
        val (ext, row) = Probe.timed()(
          ExtractJob.extractDF(pages.as[Schemas.Page], numBuckets = n * 4)
            .agg(count(lit(1)), sum(col("n_bytes"))).head())
        val (docs, mb) = (row.getLong(0), row.getLong(1) / 1e6)
        println(f"level=$n%2d mult=$mult docs=$docs payloadMB=$mb%.0f " +
          f"scan=${scan.min}%.2f s extract=${ext.min}%.2f s " +
          f"docsPerSec=${docs / ext.min}%.0f mbPerSec=${mb / ext.min}%.0f  " +
          s"(scan $scan; extract $ext)")
      }
    }
  }

  /** Steady-state noop-sink wall time of registry queries: all of them, or
    * a comma-separated list. With an out dir, each one's result is also
    * written there as parquet for a targeted DuckDB cross-check (the
    * one-query slice of graft.Verify).
    */
  def queries(args: Seq[String]): Unit = {
    val sfDir = args.lift(0).getOrElse(Probe.testData("sf0.1"))
    val runs = args.lift(1).fold(3)(_.toInt)
    val names = args.lift(2).filter(_ != "all")
      .fold(SparkEntry.queries.keys.toSeq.sorted)(_.split(",").toSeq)
    val outDir = args.lift(3)
    Probe.withSession() { spark =>
      val results = names.map { name =>
        val fn = SparkEntry.queries(name)
        spark.sparkContext.setJobDescription(name)
        val t =
          try Some(Probe.timed(runs)(fn(spark, sfDir).write.mode("overwrite").format("noop").save())._1)
          catch { case e: Throwable => println(s"$name FAILED: $e"); None }
        spark.sparkContext.setJobDescription(null)
        println(t.fold(f"$name%-28s FAILED")(x => f"$name%-28s $x"))
        outDir.foreach { d =>
          fn(spark, sfDir).write.mode("overwrite").parquet(s"$d/$name")
          println(s"wrote $d/$name")
        }
        name -> t
      }
      // a failing query must not masquerade as a fast one: its near-zero
      // fail-fast wall time is kept out of the ranking entirely
      println("==== summary (slowest first) ====")
      results.collect { case (n, Some(t)) => (n, t) }.sortBy(-_._2.min).take(15)
        .foreach { case (n, t) => println(f"$n%-28s $t") }
      results.collect { case (n, None) => println(f"$n%-28s FAILED") }
    }
  }

  /** Dump `explain("formatted")` for representative queries to PLANS.md
    * (CWD-relative) — the evidence trail for the scale-design claims
    * (pushdown, pruning, broadcast, narrow extraction, codegen spans).
    */
  def plans(args: Seq[String]): Unit = {
    val sfDir = args.lift(0).getOrElse(Probe.testData("sf0.01"))
    val notes = Map(
      "x05_extract_all" ->
        ("Full extraction pipeline through the custom Catalyst operator: GraftExtract " +
          "sits directly on the synthesized pages — NO Exchange before it (raw payloads " +
          "never shuffle); the only sort is the ORDER BY for deterministic output."),
      "s05_search_multi" ->
        ("Disjunctive search as Catalyst predicates: the Filter is codegen'd, the scan " +
          "prunes to (doc_id, text, n_chars) via ReadSchema; n_chars > 500 shows in " +
          "PushedFilters as part of the Or tree where representable."),
      "j01_semi_join" ->
        ("The reference's copy step (J1): BroadcastHashJoin LeftSemi with the filtered " +
          "customer side broadcast; c_mktsegment = 'BUILDING' is a PushedFilter."),
      "a06_windowed_counts" ->
        ("Tumbling-window aggregate (the streaming shape run in batch): partial " +
          "HashAggregate before the exchange, final after — state at stream time is " +
          "bounded by watermark horizon x keys."),
      "a03_host_stats" ->
        ("Salted two-phase aggregate: partial HashAggregate on (host, _salt), exchange " +
          "on the salted key, final HashAggregate on host — the skew-proof shape."),
      "t02_dedup_exact" ->
        ("Exact dedup: the shuffle carries only (md5, id) — text never leaves the scan."),
      "t07_neardup_pairs" ->
        ("MinHash LSH: signatures computed once (persisted), exploded to 16 SKINNY " +
          "(band, key, id) rows — the 0.5KB signature never rides the band join; " +
          "candidate pairs are deduped first, then signatures re-attach via two " +
          "id-joins against the same InMemoryRelation. Candidate generation is " +
          "linear in docs x bands, never quadratic in docs."),
      "e01_embed_topk" ->
        ("Brute-force cosine top-k: higher-order functions (zip_with/aggregate) inside " +
          "whole-stage codegen, TakeOrderedAndProject caps the result — one pass, no " +
          "full sort, no shuffle."),
      "e03_embed_neardup" ->
        ("Embedding-cosine near-dup (lazy audit variant): multi-probe LSH-bucket " +
          "self-join generates candidates (linear in docs, never quadratic) with " +
          "the mass-duplicate LeftAnti guard; both join sides are SKINNY (bucket, " +
          "id) rows — vectors re-attach to deduped pairs via id-joins, so the " +
          "13-key probe explosion never multiplies vector bytes through the " +
          "shuffle. The signature subtree is ONE persisted InMemoryRelation read " +
          "by every consumer — round 1 recomputed the corpus scan + hashing 4x. " +
          "Production calls materialize the pair set and unpersist."),
      "e04_embed_ivf" ->
        ("IVF probe against the MATERIALIZED cell-partitioned index, planned FROM " +
          "THE INDEX MANIFEST (round 5): the probe cells select manifest entries " +
          "before planning, so the scan's file list already holds only ~nProbe/k " +
          "of the corpus — no PartitionFilters needed, no directory listing, no " +
          "per-file stats at query time (round 4 re-listed the index per query). " +
          "Location shows ManifestFileIndex. Centroids ride as a sidecar, so a " +
          "key hit does ZERO training scans."),
      "e09_lsh_indexed" ->
        ("ANN serving against the MATERIALIZED hyperplane-LSH bucket index: the " +
          "13-key multi-probe (own + 12 Hamming-1 flips) selects ~13/4096 bucket " +
          "files from the index manifest BEFORE planning — Location shows " +
          "ManifestFileIndex over only probed buckets' files, zero listing/stat " +
          "calls per query, and the per-row hash UDF is gone from serving (it ran " +
          "once, at build time). Same atomic Hadoop-FS publish + stale-index GC " +
          "as IVF."),
      "t08_simhash_pairs" ->
        ("SimHash near-dup (lazy audit variant): ONE persisted InMemoryRelation for " +
          "the signature subtree feeds the hot-bucket aggregate and both self-join " +
          "sides — round 2 recomputed scan + tokenize + simhash 3x. Blocks derived " +
          "from maxHamming (pigeonhole recall); production calls materialize the " +
          "pair set and unpersist."),
      "pipeline_dedup_turn" ->
        ("The small regime's corpus probe, which every steady pipeline turn " +
          "and streaming-dedup batch runs (a slice of at most 8192 rows): the " +
          "slice's digests were collected to the driver in one bounded job, and " +
          "the corpus scan reads only (fp, fp64) over a ManifestFileIndex with " +
          "them pushed as `fp64 IN ... AND fp IN ...` (PushedFilters + manifest " +
          "file skipping on the range-clustered layout). NO Exchange appears " +
          "anywhere: the driver subtracts the collected digests, and the write " +
          "picks the survivors from the slice by an IN filter. Bigger slices " +
          "take the big regime (Pipelines.dedupSurvivors: checkpointed skinny " +
          "winners, broadcast semi/anti joins), not shown here."))

    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit (generated by `graft.Probe plans`)\n\n")
    sb.append(s"Input: `$sfDir`. Regenerate: `sbt \"runMain graft.Probe plans\"`.\n")
    Probe.withSession() { spark =>
      Probe.withTempDir("plans_dd") { dd =>
        // the *Plan audit variants hand back the persisted signature relation
        // so THIS caller can release it once the plans are dumped
        val caches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
        // t07/e03 return an eagerly-materialized checkpoint in production
        // (clean cache lifecycle) whose plan is an opaque ExistingRDD scan —
        // audit the LAZY variants instead so the candidate-join shape shows
        val lazyOverrides: Map[String, () => DataFrame] = Map(
          "t07_neardup_pairs" -> { () =>
            val docs = spark.read.parquet(s"$sfDir/documents.parquet")
            val corpus = Dedup.withInjectedNearDups(spark, docs, "doc_id", "text")
            val (pairs, sigs) = Dedup.minHashPairsPlan(corpus, "doc_id", "text", minJaccard = 0.5)
            caches += sigs
            pairs.orderBy("a", "b")
          },
          "e03_embed_neardup" -> { () =>
            val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
            val (pairs, sigs) = Embeddings.cosineNearDupPairsPlan(
              Embeddings.withInjectedNearDups(emb, offset = 100000L), minCosine = 0.99)
            caches += sigs
            pairs.orderBy("a", "b")
          },
          "t08_simhash_pairs" -> { () =>
            val docs = spark.read.parquet(s"$sfDir/documents.parquet")
              .select(col("doc_id"), col("text"))
            val exact = docs.select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
            val (pairs, sigs) = Dedup.simHashPairsPlan(
              docs.unionByName(exact), "doc_id", "text", maxHamming = 3)
            caches += sigs
            pairs.orderBy("a", "b")
          },
          "pipeline_dedup_turn" -> { () =>
            import spark.implicits._
            def batch(lo: Int, hi: Int) =
              spark.createDataset((lo until hi).map { i =>
                val t = s"audit text body $i"
                Schemas.Extracted(s"https://audit/$i", i % 8, "html", Seq(t), t, 10L + i, i.toLong)
              }).toDF()
            graft.spark.Pipelines.appendDeduped(spark, batch(0, 400), dd)
            val dlog = new graft.spark.SnapshotLog(dd)
            val fps = graft.spark.Pipelines.withDigests(batch(390, 410))
              .select("fp64", "fp").as[(Long, String)].collect().toSeq
            graft.spark.Pipelines.corpusDigests(spark, dlog, dlog.currentSnapshot(), fps).get
          })
        for (name <- notes.keys.toSeq.sorted) {
          val df = lazyOverrides.get(name).fold(SparkEntry.queries(name)(spark, sfDir))(_())
          sb.append(s"\n## $name\n\n${notes(name)}\n\n```\n")
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          // 14k keeps every section's scan-node detail (Location/PushedFilters/
          // ReadSchema — the actual evidence) inside the dump; 6k cut the
          // pipeline probe's corpus scan node off
          sb.append(plan.take(14000))
          if (plan.length > 14000) sb.append("\n... (truncated)\n")
          sb.append("```\n")
        }
        caches.foreach(_.unpersist(false))
      }
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${sb.length} chars)")
  }

  /** recall@10 of the ANN operators vs exact brute force, swept over their
    * tuning constants — the table a 100-TB user consults before picking
    * nProbe (IVF) or the bucket bit-width (hyperplane LSH).
    *
    * Ground truth and the sweep's candidate selection run driver-side over
    * the collected fixture vectors (2000 x 64 floats) using the SAME kernel
    * functions the operators call (`TextStats.cosine`, `embeddingLshBucket`,
    * `embeddingLshProbes`, argmax-cell assignment) — value-identical to the
    * Spark plans, which matters: a sweep point is 10 queries x 6 parameters,
    * and spinning a Spark job per point measures scheduling, not recall. The
    * equivalence is not assumed: spot points cross-check against the REAL
    * `ivfTopK` / `lshTopK` operators and assert identical top-k ids.
    */
  def recall(args: Seq[String]): Unit = Probe.withSession() { spark =>
    val sfDir = args.lift(0).getOrElse(Probe.testData("sf0.1"))
    def topK(vecs: Array[(Long, Array[Float])], q: Array[Float], k: Int): Seq[Long] =
      vecs.map { case (id, v) => (id, TextStats.cosine(v, q)) }
        .sortBy { case (id, c) => (-c, id) }
        .take(k).map(_._1).toSeq
    def argmaxCell(cents: Array[Array[Float]], v: Array[Float]): Int =
      cents.indices.maxBy(c => TextStats.cosine(v, cents(c)))
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val vecs: Array[(Long, Array[Float])] = emb
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    val k = 10
    val queries = vecs.take(20)
    val truth: Map[Long, Set[Long]] =
      queries.map { case (qid, q) => qid -> topK(vecs, q, k).toSet }.toMap
    println(s"corpus ${vecs.length} vectors (dim ${vecs.head._2.length}), " +
      s"${queries.length} queries, recall@$k vs exact cosine\n")

    /** (mean recall@k, mean corpus fraction read) when each query reads the
      * candidates `select(q)` keeps.
      */
    def sweepPoint(corpus: Array[(Long, Array[Float])], qs: Array[(Long, Array[Float])],
        truthOf: Long => Set[Long])(select: Array[Float] => Long => Boolean): (Double, Double) = {
      var rec = 0.0; var frac = 0.0
      for ((qid, q) <- qs) {
        val keep = select(q)
        val cand = corpus.filter { case (id, _) => keep(id) }
        frac += cand.length.toDouble / corpus.length
        rec += topK(cand, q, k).count(truthOf(qid)).toDouble / k
      }
      (rec / qs.length, frac / qs.length)
    }

    // ---- IVF: recall vs nProbe at k=16 cells (e04's operator constants) ----
    val cents = Embeddings.ivfTrain(emb, k = 16, iters = 1)
    val assign = vecs.map { case (id, v) => id -> argmaxCell(cents, v) }.toMap
    println(f"${"IVF nProbe/16"}%14s ${"recall@10"}%10s ${"corpus read"}%12s")
    for (nProbe <- Seq(1, 2, 4, 6, 8, 16)) {
      val (rec, frac) = sweepPoint(vecs, queries, truth) { q =>
        val cells = Embeddings.probeCells(cents, q, nProbe).toSet
        id => cells.contains(assign(id))
      }
      println(f"$nProbe%14d $rec%10.3f $frac%12.3f")
    }

    // ---- LSH: recall vs bucket bit-width, own+Hamming-1 multi-probe ----
    // nBits tunes bucket density: 2^nBits buckets over the corpus. The
    // production default (12) targets 10^9+ corpora (~10^5 vectors/bucket at
    // 10^9); on a 2000-vector fixture those buckets hold ~0.5 vectors, so
    // recall@10 collapses to the self-hit — the table quantifies exactly that
    // density tradeoff (pick nBits ~ log2(corpus / target bucket size)).
    println(f"\n${"LSH nBits"}%10s ${"probes"}%7s ${"recall@10"}%10s ${"corpus read"}%12s")
    for (nBits <- Seq(2, 4, 6, 8, 10, 12)) {
      val buckets = vecs.map { case (id, v) => id -> TextStats.embeddingLshBucket(v, nBits) }.toMap
      val (rec, frac) = sweepPoint(vecs, queries, truth) { q =>
        val probes = TextStats.embeddingLshProbes(q, nBits).toSet
        id => probes.contains(buckets(id))
      }
      println(f"$nBits%10d ${nBits + 1}%7d $rec%10.3f $frac%12.3f")
    }

    // ---- clustered corpus: the workload ANN indexes exist for ----
    // The fixture vectors are near-isotropic random draws — for those,
    // recall is information-bounded by the corpus fraction read (no index
    // can cluster what has no clusters; the table above shows recall ~ 2x
    // read fraction, i.e. the index carries signal but cannot exceed the
    // bound). Real embedding corpora are CLUSTERED; recall targets are
    // always quoted on that shape. This section rebuilds the sweep over a
    // deterministic 16-cluster corpus of the same size/dim.
    val clustered: Array[(Long, Array[Float])] = Array.tabulate(vecs.length) { i =>
      val c = i % 16
      val v = Array.tabulate(vecs.head._2.length) { d =>
        (math.sin(c * 2.17 + d * 0.91) + 0.15 * math.sin(i * 3.77 + d * 1.3)).toFloat
      }
      (i.toLong, v)
    }
    import spark.implicits._
    val clusteredDf = clustered.toSeq.map { case (id, v) => (id, v.toSeq, (id % 16).toInt) }
      .toDF("vec_id", "embedding", "label")
    val cCents = Embeddings.ivfTrain(clusteredDf, k = 16, iters = 1)
    val cAssign = clustered.map { case (id, v) => id -> argmaxCell(cCents, v) }.toMap
    val cQueries = clustered.take(20)
    val cTruth = cQueries.map { case (qid, q) => qid -> topK(clustered, q, k).toSet }.toMap
    println(f"\nclustered corpus (16 clusters): ${"IVF nProbe/16"}%14s ${"recall@10"}%10s ${"corpus read"}%12s")
    for (nProbe <- Seq(1, 2, 4, 6)) {
      val (rec, frac) = sweepPoint(clustered, cQueries, cTruth) { q =>
        val cells = Embeddings.probeCells(cCents, q, nProbe).toSet
        id => cells.contains(cAssign(id))
      }
      println(f"${""}%31s $nProbe%14d $rec%10.3f $frac%12.3f")
    }
    println(f"\nclustered corpus (16 clusters): ${"LSH nBits"}%10s ${"recall@10"}%10s ${"corpus read"}%12s")
    for (nBits <- Seq(8, 10, 12)) {
      val buckets = clustered.map { case (id, v) => id -> TextStats.embeddingLshBucket(v, nBits) }.toMap
      val (rec, frac) = sweepPoint(clustered, cQueries, cTruth) { q =>
        val probes = TextStats.embeddingLshProbes(q, nBits).toSet
        id => probes.contains(buckets(id))
      }
      println(f"${""}%31s $nBits%10d $rec%10.3f $frac%12.3f")
    }

    // ---- fidelity cross-check: simulated selection == the real operators.
    // Spark's cosineCol rounds each zip_with product to FLOAT before the
    // double accumulator while TextStats.cosine multiplies in double, so
    // near-tied candidates at the k boundary can legally swap between the
    // two — compare SETS and demand any symmetric-difference id be within
    // 1e-6 cosine of the boundary (a true divergence is a different
    // CANDIDATE SELECTION, which no rounding explains).
    val byId = vecs.toMap
    def sameTopK(sim: Seq[Long], real: Seq[Long], q: Array[Float], label: String): Unit = {
      val boundary = TextStats.cosine(byId(sim.last), q)
      for (id <- (sim.toSet diff real.toSet) ++ (real.toSet diff sim.toSet)) {
        val c = TextStats.cosine(byId(id), q)
        require(math.abs(c - boundary) < 1e-6,
          s"$label sim/operator divergence beyond float-tie tolerance: " +
            s"id $id cosine $c vs boundary $boundary (sim $sim, real $real)")
      }
    }
    val buckets12 = vecs.map { case (id, v) => id -> TextStats.embeddingLshBucket(v) }.toMap
    for ((qid, q) <- queries.take(3)) {
      val cells = Embeddings.probeCells(cents, q, 6).toSet
      val simIvf = topK(vecs.filter { case (id, _) => cells.contains(assign(id)) }, q, k)
      val realIvf = Embeddings.ivfTopK(emb, cents, q, k, nProbe = 6).collect().map(_.getLong(0)).toSeq
      sameTopK(simIvf, realIvf, q, s"IVF q$qid")
      val probes = TextStats.embeddingLshProbes(q).toSet
      val simLsh = topK(vecs.filter { case (id, _) => probes.contains(buckets12(id)) }, q, k)
      val realLsh = Embeddings.lshTopK(emb, q, k).collect().map(_.getLong(0)).toSeq
      sameTopK(simLsh, realLsh, q, s"LSH q$qid")
    }
    println("\ncross-check: simulated selection == ivfTopK and lshTopK on 3 queries OK")
  }

  /** `Dedup.connectedComponents` wall time and convergence on the two
    * extreme graph shapes. Near-dup graphs are cliques and stars (diameter
    * 1-2); the adversarial shape is a long PATH, where naive min-label
    * propagation needs diameter rounds — pointer jumping must hold rounds at
    * O(log diameter) or the operator would never finish on a pathological
    * duplicate chain. The operator throws when maxIter (25) is hit, so mere
    * completion on the 100k-path IS the O(log d) evidence (naive would need
    * 100,000 rounds).
    */
  def components(args: Seq[String]): Unit = Probe.withSession() { spark =>
    import spark.implicits._
    // shape 1: 25k cliques of 4 (150k edges) — the LSH-bucket dup shape
    val cliques = (for (c <- 0 until 25000; i <- 0 until 4; j <- i + 1 until 4)
      yield (c * 10L + i, c * 10L + j)).toDF("a", "b")
    val (s1, comps1) = Probe.clock {
      Dedup.connectedComponents(cliques).select("component").distinct().count()
    }
    require(comps1 == 25000, s"expected 25000 components, got $comps1")
    println(f"cliques 100k vertices / 150k edges: $s1%.1f s")
    // shape 2: ONE path of 100k vertices — diameter 10^5; naive propagation
    // needs 10^5 rounds, pointer jumping ~log2(10^5) = 17
    val path = (0 until 99999).map(i => (i.toLong, i + 1L)).toDF("a", "b")
    val (s2, comps2) = Probe.clock {
      Dedup.connectedComponents(path).select("component").distinct().collect()
    }
    require(comps2.length == 1 && comps2.head.getLong(0) == 0L,
      s"path must collapse to component 0, got ${comps2.length}")
    println(f"path 100k vertices (diameter 10^5): $s2%.1f s")
    println(s"cliques components=$comps1, path components=${comps2.length} " +
      "(completing under maxIter=25 is the O(log diameter) evidence)")
  }

  /** t07's MinHash-LSH near-dup wall time by stage — whether the shingle +
    * MinHash UDF dominates enough to justify a codegen Expression — then
    * whether the pair pass stays linear as the corpus grows.
    */
  def lsh(args: Seq[String]): Unit = Probe.withSession() { spark =>
    val sfDir = args.lift(0).getOrElse(Probe.testData("sf0.1"))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val corpus = Dedup.withInjectedNearDups(spark, docs, "doc_id", "text")
    def stage(label: String)(body: => Unit): Unit =
      println(f"$label%-28s ${Probe.timed()(body)._1}")
    stage("scan+count(text)") {
      corpus.select(sum(length(col("text")))).head(): Unit
    }
    stage("shingle+minhash sigs") {
      corpus.select(Functions.minHashUdf(col("text")).as("sig"))
        .select(expr("bit_xor(element_at(sig, 1))")).head(): Unit
    }
    stage("sigs+bands") {
      corpus.select(Functions.minHashUdf(col("text")).as("sig"))
        .withColumn("bands", Functions.bandsFromSigUdf(col("sig")))
        .select(expr("bit_xor(element_at(bands, 1))")).head(): Unit
    }
    stage("full minHashPairs") {
      Dedup.minHashPairs(corpus, "doc_id", "text", minJaccard = 0.5).count(): Unit
    }

    // scale-up hold: does the pair pass stay linear as the corpus grows?
    // (LSH candidate generation is O(docs x bands); a super-linear trend here
    // would mean a quadratic bucket leak.) Each replica salts EVERY token with
    // its replica id, so cross-replica word-trigram overlap is exactly zero:
    // the within-replica similarity structure is preserved verbatim and the
    // true pair count is exactly mult x the base corpus's.
    val saltUdf = udf((text: String, rep: Long) =>
      text.split("\\s+").map(_ + "·" + rep).mkString(" "))
    for (mult <- Seq(1, 2, 5, 10)) {
      val bigger = corpus.crossJoin(spark.range(mult).select(col("id").as("rep")))
        .select((col("doc_id") + col("rep") * 100000000L).as("doc_id"),
          saltUdf(col("text"), col("rep")).as("text"))
        .localCheckpoint(true) // materialize: time the PAIR pass, not synthesis
      val nDocs = bigger.count()
      val (sec, n) = Probe.clock(Dedup.minHashPairs(bigger, "doc_id", "text", minJaccard = 0.5).count())
      println(f"minHashPairs x$mult%-2d docs=$nDocs%8d pairs=$n%9d  $sec%6.2f s")
    }
  }
}
