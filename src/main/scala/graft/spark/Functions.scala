package graft.spark

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.kernel._

/** §2.8 — the Column-level function surface.
  *
  * Built-ins are used wherever they are *exactly* equivalent to the reference
  * kernels (F1 normalize = translate(upper(..)), F6 = contains — both codegen'd
  * by Catalyst, SURVEY.md §2.3). The Python-regex/difflib-faithful kernels
  * (F2/F3/F4, full F7) are Scala UDFs over graft.kernel so the engine and the
  * single-threaded oracle share one implementation; they sit outside
  * whole-stage codegen by design — correctness first, and the bench shows the
  * relational forms carry the hot paths (SURVEY.md §4).
  */
object Functions {

  /** F1 `ocr_vin_normalize` (search.py:23-29): exact built-in equivalent —
    * stays inside whole-stage codegen.
    */
  def vinNormalize(c: Column): Column = translate(upper(c), "OQI", "001")

  /** F6 `searchbyany` (search.py:166-169): raw case-sensitive substring. */
  def searchAny(c: Column, value: String): Column = c.contains(lit(value))

  // ---- kernel-faithful UDFs (F2/F3/F4/F5/F7 + text stats) ----

  val vinCandidatesUdf = udf((text: String) =>
    if (text == null) Seq.empty[String] else SearchKernels.findVinCandidates(text))

  val roRatioUdf = udf((a: String, b: String) =>
    if (a == null || b == null) 0.0 else Difflib.ratio(a, b))

  val vinHitUdf = udf((text: String, value: String) =>
    text != null && SearchKernels.vinHit(text, value))

  val dealerHitUdf = udf((text: String, value: String) =>
    text != null && SearchKernels.dealerHit(text, value))

  val keywordNumberHitUdf = udf((text: String, kw: String, value: String) =>
    text != null && SearchKernels.keywordNumberHit(text, kw, value))

  /** Full F7 disjunctive predicate as one kernel call (search.py:133-172). */
  def docMatchesUdf(params: SearchKernels.SearchParams) =
    udf((text: String) => text != null && SearchKernels.docMatches(text, params))

  // training-data kernels
  val tokenCountWsUdf = udf((text: String) =>
    if (text == null) 0 else TextStats.tokenCountWs(text))
  val langIdUdf = udf((text: String) =>
    if (text == null) "und" else TextStats.langId(text))
  val qualityScoreUdf = udf((text: String) =>
    if (text == null) 0.0 else TextStats.quality(text).score)
  val fingerprintUdf = udf((text: String) =>
    if (text == null) 0L else TextStats.fingerprint(text))
  val simHashUdf = udf((text: String) =>
    if (text == null) 0L else TextStats.simHash(text))
  val minHashUdf = udf((text: String) =>
    if (text == null) Seq.empty[Long]
    else TextStats.minHash(TextStats.shingles(text)).toSeq)
  val lshBandsUdf = udf((text: String) =>
    if (text == null) Seq.empty[Long]
    else TextStats.lshBands(TextStats.minHash(TextStats.shingles(text))).toSeq)
  /** Bands from an already-computed signature — avoids re-shingling when both
    * the signature and its band keys are needed (Dedup.minHashPairs).
    */
  val bandsFromSigUdf = udf((sig: Seq[Long]) =>
    if (sig == null) Seq.empty[Long] else TextStats.lshBands(sig.toArray).toSeq)
  val shinglesUdf = udf((t: String) =>
    TextStats.shingles(if (t == null) "" else t).toSeq)
  /** Shingle-set Jaccard for pair verification at scale (round 7): the
    * shingle set is computed ONCE PER DOC by [[shinglesUdf]] and attached
    * to candidate pairs by the id-joins; the per-pair work is then the set
    * arithmetic alone — `TextStats.jaccard` over the two shingle sets, the
    * same Double the kernel gives for the two texts — while the pair-side
    * UDF never re-tokenizes and re-hashes both texts per pair (measured
    * ~5 s of t12's 15 s at sf0.1: 169k pairs re-shingled 338k texts where
    * 10k docs suffice).
    */
  val jaccardSetsUdf = udf((a: Seq[Long], b: Seq[Long]) =>
    TextStats.jaccard(a.toArray, b.toArray))
  val embedLshUdf = udf((v: Seq[Float]) =>
    if (v == null) 0 else TextStats.embeddingLshBucket(v.toArray))
  /** Own bucket + all Hamming-1 neighbor buckets (multi-probe candidate keys). */
  val embedLshProbesUdf = udf((v: Seq[Float]) =>
    if (v == null) Seq.empty[Int] else TextStats.embeddingLshProbes(v.toArray).toSeq)
}
