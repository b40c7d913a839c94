package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.kernel.SearchKernels.SearchParams

/** §3.1 step 4/5 — the search job over the extracted corpus.
  *
  * Reference flow (`/root/reference/app/services/search.py:84-190`): normalize
  * params -> scan every JSON batch -> per-doc disjunctive field predicate with
  * break -> matched filename set -> clear destination + copy matches. Spark
  * mapping (SURVEY.md §2.3 F7, §2.5 J1):
  *   - the scan is a column-pruned parquet read (url, pages, text only — the
  *     reference reloads whole JSON blobs per search, search.py:120-124);
  *   - the break is Catalyst's short-circuiting boolean Or;
  *   - the copy step is a broadcast left-semi join + overwrite write (S5:
  *     clear-then-copy == mode("overwrite")).
  */
object SearchJob {

  final case class NoMatchFound(msg: String) extends RuntimeException(msg)

  /** The searchable text: stored text, else pages joined with "\n" — the
    * list-or-str tolerance of search.py:128-131.
    */
  def allTextCol: org.apache.spark.sql.Column =
    coalesce(col("text"), array_join(col("pages"), "\n"))

  /** Matched urls for the given params (kernel-faithful F7 predicate).
    * Throws NoMatchFound on empty params, mirroring search.py:101-103.
    */
  def matches(extracted: DataFrame, params: SearchParams): DataFrame = {
    val p = params.active
    if (p.isEmpty) throw NoMatchFound("No valid search fields provided.")
    extracted
      .select(col("url"), allTextCol.as("all_text"))
      .filter(Functions.docMatchesUdf(p)(col("all_text")))
      .select("url")
  }

  /** What [[run]] returns: the match COUNT plus a bounded url sample — never
    * the full match set. The reference returns every matched filename
    * (search.py:174-189), which is fine for a folder of claim PDFs; at corpus
    * scale a broad keyword (or the reference's own whitespace-params-match-
    * everything quirk) matches ~everything, and collecting that is a driver
    * OOM. The full set lives where it belongs: in the `matchedDir` table.
    */
  final case class SearchResult(count: Long, sample: Seq[String])

  /** Full search incl. the reference's empty-result exception (search.py:174-177)
    * and the destination copy (search.py:180-187): overwrite `matchedDir` with
    * the pages rows whose url matched (left-semi join; no forced broadcast —
    * AQE broadcasts when the match set is actually small, and falls back to a
    * shuffled join when a broad keyword matches the whole corpus). The
    * write goes through [[GraftIo.writer]], so on local disk it forks no
    * process.
    */
  def run(
      spark: SparkSession,
      extracted: DataFrame,
      pages: DataFrame,
      params: SearchParams,
      matchedDir: String,
      sampleSize: Int = 20): SearchResult = {
    val m = matches(extracted, params)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = m.count()
      if (n == 0)
        throw NoMatchFound(s"No value matching with the keyword: $params")
      GraftIo.writer(pages.join(m, Seq("url"), "left_semi"))
        .mode("overwrite").parquet(matchedDir)
      val sample = m.orderBy("url").limit(sampleSize)
        .collect().map(_.getString(0)).toSeq
      SearchResult(n, sample)
    } finally m.unpersist()
  }
}
