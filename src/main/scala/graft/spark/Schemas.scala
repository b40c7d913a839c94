package graft.spark

import java.sql.Timestamp

/** §1.2 data model: fixed schemas declared once and validated on read.
  *
  * `pages` follows BASELINE.json `input_hint`:
  * (url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING).
  * `extracted` and `metrics` follow SURVEY.md §1.2; `pages`/`text` are the two
  * nullable read-path columns mirroring the reference's list-or-str tolerance
  * (`/root/reference/app/services/search.py:128-131`).
  */
object Schemas {

  /** Input row (Common-Crawl-style page). */
  final case class Page(
      url: String,
      warc_ts: Timestamp,
      html: Array[Byte],
      text: String,
      lang: String)

  /** Kernel output row before checksum/lineage decoration. */
  final case class ExtractedRaw(
      url: String,
      bucket: Int,
      kind: String,
      pages: Seq[String],
      text: String,
      n_bytes: Long,
      ok: Boolean)

  /** Persisted extraction row. */
  final case class Extracted(
      url: String,
      bucket: Int,
      kind: String,
      pages: Seq[String],
      text: String,
      n_bytes: Long,
      checksum: Long)

  /** Per-bucket lineage row (north_rule: bucket id, doc count, byte count,
    * checksum; plus snapshot id + wall time). Extract commits record these
    * rows in their own snapshot list; [[SnapshotLog.lineage]] reads them.
    */
  final case class MetricsRow(
      snapshot_id: Long,
      bucket: Int,
      doc_count: Long,
      byte_count: Long,
      checksum: Long,
      wall_ms: Long)

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{array, coalesce, col, size, when}
  import org.apache.spark.sql.types._

  val pagesSchema: StructType = StructType(Seq(
    StructField("url", StringType, nullable = false),
    StructField("warc_ts", TimestampType, nullable = true),
    StructField("html", BinaryType, nullable = true),
    StructField("text", StringType, nullable = true),
    StructField("lang", StringType, nullable = true)))

  /** The extracted table. `text` is the kernel's pages joined with "\n"
    * (search.py:129), so a one-page document's text IS its page: at rest,
    * `pages` is null for such a row ([[storedPages]]) and the text crosses
    * the write's exchange and lands on disk once. Every other row keeps its
    * array, the 0-page `[]` and multi-page PDFs alike. Readers get the page
    * list back from [[fullPages]]; files written with full arrays read
    * through the same expression.
    */
  val extractedSchema: StructType = StructType(Seq(
    StructField("url", StringType, nullable = false),
    StructField("bucket", IntegerType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("pages", ArrayType(StringType, containsNull = false), nullable = true),
    StructField("text", StringType, nullable = true),
    StructField("n_bytes", LongType, nullable = false),
    StructField("checksum", LongType, nullable = false)))

  /** `pages` in its at-rest form: null when the row has exactly one page
    * (see [[extractedSchema]]). Applied only to kernel output, whose one
    * page equals its `text`.
    */
  def storedPages: Column = when(size(col("pages")) =!= 1, col("pages"))

  /** The full page list of a stored extracted row: `pages`, else its `text`
    * as the one page, else null (a row with neither).
    */
  def fullPages: Column =
    coalesce(col("pages"), when(col("text").isNotNull, array(col("text"))))
}
