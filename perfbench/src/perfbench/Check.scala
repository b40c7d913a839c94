package perfbench

import graft.kernel.{Extract, SearchKernels}
import graft.kernel.SearchKernels.SearchParams
import graft.spark.Schemas

/** Single-threaded oracles and the one comparator every output check uses. */
object Check {

  /** Keys whose value differs between `expected` and `actual`: missing,
    * extra, duplicated or unequal (String equality, so texts must be
    * byte-identical).
    */
  def diff(expected: Map[String, String], actual: Seq[(String, String)]): Int = {
    val got = actual.groupBy(_._1)
    val dupes = got.count(_._2.size > 1)
    val wrong = expected.count { case (k, v) => !got.get(k).exists(_.exists(_._2 == v)) }
    val extra = got.keys.count(k => !expected.contains(k))
    dupes + wrong + extra
  }

  /** The comparator must accept a tiny slice of real output and reject the
    * same slice with one value altered or one row dropped, so a passing
    * check is not vacuous.
    */
  def selfTest(expected: Map[String, String], actual: Seq[(String, String)]): Boolean = {
    val tiny = actual.sortBy(_._1).take(8)
    val want = tiny.flatMap { case (k, _) => expected.get(k).map(k -> _) }.toMap
    tiny.nonEmpty && diff(want, tiny) == 0 &&
      diff(want, tiny.updated(0, (tiny.head._1, tiny.head._2 + " "))) > 0 &&
      diff(want, tiny.tail) > 0
  }

  /** Match set as the comparator's key/value form. */
  def asSet(urls: Iterable[String]): Seq[(String, String)] = urls.map(_ -> "").toSeq

  /** Per-page oracle output with the kernel time it took. */
  final case class Oracle(url: String, kind: String, bytes: Long, text: String, nanos: Long)

  /** `Extract.extract` on each page, timed per page. Each call runs on one
    * thread; with `threads` > 1 that many calls run side by side, which
    * saves set-up time but lets the calls contend for the cores.
    */
  def extractOracle(pages: Seq[Schemas.Page], threads: Int): Seq[Oracle] = {
    def one(p: Schemas.Page): Oracle = {
      val t0 = System.nanoTime()
      val r = Extract.extract(p.html, p.text)
      val ns = System.nanoTime() - t0
      Oracle(p.url, Extract.sniff(p.html), if (p.html == null) 0L else p.html.length.toLong,
        r.text, ns)
    }
    if (threads <= 1) pages.map(one)
    else {
      val exec = java.util.concurrent.Executors.newFixedThreadPool(threads)
      try pages.map(p => exec.submit(() => one(p))).map(_.get())
      finally exec.shutdown()
    }
  }

  /** Urls whose oracle text matches `q`, by `SearchKernels.docMatches`. */
  def searchOracle(texts: Seq[(String, String)], q: SearchParams): Set[String] =
    texts.iterator.filter { case (_, t) => SearchKernels.docMatches(t, q) }.map(_._1).toSet

  /** First-committed-wins dedup over extract commits, in commit order.
    * `commits` holds each commit's (url, text) rows; within one commit the
    * smallest url represents a text. Returns url -> text of the survivors.
    */
  final class DedupOracle {
    private val byText = scala.collection.mutable.HashMap.empty[String, String]
    private val seenUrls = scala.collection.mutable.HashSet.empty[String]

    /** Offer one batch: pages already extracted are skipped (resume), the
      * rest form the commit. Returns (rows extracted, rows appended).
      */
    def offer(batch: Seq[(String, String)]): (Int, Int) = {
      val fresh = batch.filter { case (u, _) => !seenUrls.contains(u) }
      fresh.foreach { case (u, _) => seenUrls += u }
      val winners = fresh.groupBy(_._2).map { case (t, rows) => t -> rows.map(_._1).min }
      var appended = 0
      winners.toSeq.sortBy(_._2).foreach { case (t, u) =>
        if (!byText.contains(t)) { byText(t) = u; appended += 1 }
      }
      (fresh.size, appended)
    }

    def expected: Map[String, String] = byText.iterator.map { case (t, u) => u -> t }.toMap
  }
}
