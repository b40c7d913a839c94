package perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.kernel.SearchKernels.SearchParams
import graft.spark.{Schemas, Synth}

/** Seeded input generator. Every page is a pure function of (seed, doc id),
  * so the same seed gives byte-identical inputs on every run and host.
  *
  * Pages go through `Synth.pageFromDocument`, whose `doc_id % 20` slot fixes
  * the payload mix at 65% HTML / 5% pre-extracted text / 15% PDF / 10%
  * scanned (raster or scanned PDF) / 5% corrupt. Texts are inflated to
  * web-page size and end with `Synth.plantedTokens`, which carries the
  * Contract #, Claim #, Dealer, free-word and VIN values the search workload
  * asks for. The program only ever sees the parquet written here.
  */
object Gen {

  /** Doc ids of one run start here, so two seeds never share urls. */
  def baseId(seed: Long): Long = (math.floorMod(seed, 1000000L) + 1L) * 10000000L

  /** Text ids are shifted by a multiple of 20 to copy a text under a new
    * url: the kind slot (`doc_id % 20`) stays the same, so the copy is
    * extracted by the same kernel.
    */
  final val CopyShift = 2000000L

  private val Syllables = Vector("ka", "re", "mu", "ta", "len", "dor", "pa",
    "si", "mer", "gu", "fa", "lo", "ne", "bri", "tas", "ve", "ru", "ho",
    "zel", "an", "pe", "tu", "gra", "sen", "wo", "di", "ber", "ly", "xo", "ham")

  /** A fixed vocabulary; words that would plant a search field are dropped
    * so that only `Synth.plantedTokens` can produce field hits.
    */
  val Vocabulary: Vector[String] = {
    val r = new SplittableRandom(20240101L)
    val banned = Seq("vin", "dealer", "contract", "claim", "needle")
    Iterator.continually {
      val n = 1 + r.nextInt(3)
      (0 until n).map(_ => Syllables(r.nextInt(Syllables.size))).mkString
    }.filterNot(w => banned.exists(w.contains)).distinct.take(1500).toVector
  }

  /** Inflated document text: 8-16 KB of words, then the planted tokens. */
  def text(seed: Long, textId: Long): String = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ textId)
    val target = 8000 + r.nextInt(8000)
    val sb = new java.lang.StringBuilder(target + 128)
    while (sb.length < target) {
      if (sb.length > 0) sb.append(if (r.nextInt(14) == 0) ". " else " ")
      sb.append(Vocabulary(r.nextInt(Vocabulary.size)))
    }
    sb.append(Synth.plantedTokens(textId)).toString
  }

  /** Page `docId` whose text is that of `textId` (equal ids: an original). */
  def page(seed: Long, docId: Long, textId: Long): Schemas.Page =
    Synth.pageFromDocument(docId, text(seed, textId), "en")

  /** One generated batch: (docId, textId) pairs. */
  final case class Spec(docId: Long, textId: Long, part: Int)

  /** Write pages for `specs` to `path`, partitioned by `part` (one
    * directory per part: each turn batch is then its own input and no turn
    * rescans another's payloads). Generation runs in Spark so a large batch
    * builds in parallel.
    */
  def write(spark: SparkSession, seed: Long, specs: Seq[Spec], path: String,
      partitioned: Boolean): Unit = {
    import spark.implicits._
    val ds = spark.createDataset(specs).repartition(
      math.max(1, math.min(64, specs.size / 500 + 1)))
      .map { s =>
        val p = page(seed, s.docId, s.textId)
        (p.url, p.warc_ts, p.html, p.text, p.lang, s.part)
      }.toDF("url", "warc_ts", "html", "text", "lang", "part")
    val w = if (partitioned) ds.write.partitionBy("part") else ds.drop("part").write
    w.mode("overwrite").parquet(path)
  }

  def read(spark: SparkSession, path: String): Dataset[Schemas.Page] = {
    import spark.implicits._
    spark.read.schema(Schemas.pagesSchema).parquet(path).as[Schemas.Page]
  }

  /** Draw a query for `field`. Hits name a value planted in an HTML or
    * pre-extracted page of `ids` (their text keeps the planted lines, so the
    * value is certain to be found); misses name a value no page carries.
    */
  def query(field: String, ids: IndexedSeq[Long], r: SplittableRandom): SearchParams = {
    def pick(slot: Long): Long = {
      val fit = ids.filter(id => math.floorMod(id, 7L) == slot && Synth.kindSlot(id) <= 13)
      require(fit.nonEmpty, s"no page carries planted slot $slot")
      fit(r.nextInt(fit.size))
    }
    field match {
      case "contract" => SearchParams(contract = Some((700000L + pick(1)).toString))
      case "claim" => SearchParams(claim = Some((810000L + pick(2)).toString))
      case "vin" =>
        if (r.nextBoolean()) SearchParams(vin = Some(s"1HGCM82633A${100000 + pick(0) % 900000}"))
        else SearchParams(vin = Some(s"2T1BU4EE9DC${100000 + pick(4) % 900000}"))
      case "dealer" =>
        SearchParams(dealer = Some(if (r.nextBoolean()) "Smith & Sons" else "Quality Motors"))
      case "any" => SearchParams(any = Some(if (r.nextBoolean()) s"Contract # ${700000L + pick(1)}"
        else s"Claim number ${810000L + pick(2)}"))
      case "contract-miss" => SearchParams(contract = Some("999999999"))
      case "claim-miss" => SearchParams(claim = Some("999999999"))
      case "any-miss" => SearchParams(any = Some("zzqx-absent-token"))
    }
  }
}
