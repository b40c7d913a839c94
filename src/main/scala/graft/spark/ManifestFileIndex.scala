package graft.spark

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** Per-file, per-column min/max bounds recorded in the manifest at commit
  * time. Two families (round 6 added strings; ints/longs/timestamps/dates
  * all normalize to the long family):
  *
  *   - [[LongBounds]] — INT32/INT64 columns. Timestamps are stored as
  *     MICROS since epoch (parquet MILLIS annotations are scaled at stat
  *     collection), dates as days — exactly the physical form Catalyst
  *     literals for those types carry, so the pruning comparison below is a
  *     plain long compare with no calendar logic.
  *   - [[StrBounds]] — UTF8 string columns, hex-encoded byte-wise bounds,
  *     Iceberg-style truncated: `min` is a ≤16-byte PREFIX of the true
  *     minimum (a prefix is always ≤ the value it truncates), `max` is the
  *     truncated true maximum with its last non-0xFF byte incremented (an
  *     upper bound on everything sharing the prefix) — or None when the
  *     prefix was all 0xFF, meaning "no finite upper bound at this width"
  *     (prunes on the lower side only). Byte-wise unsigned order is exactly
  *     UTF8String's comparison order, so the bounds compare directly against
  *     Catalyst string literals.
  */
sealed trait ColBounds {
  /** True when the footer PROVED the file's column holds zero nulls (every
    * row group's null count recorded and 0). False means "nulls possible" —
    * the conservative reading for hand-built entries and for stats written
    * before round 6 recorded the marker. Consumers may treat a
    * noNulls-proven file as refuting `IS NULL` (and, at table granularity,
    * an every-file-noNulls column as having no null rows at all — what the
    * dedup probe's IN-branch gate needs: bounds alone can't see a null-
    * filled legacy row that a rewrite carried into a stats-bearing file).
    */
  def noNulls: Boolean

  /** The long view, for consumers that only deal in numeric ranges. */
  def longs: Option[(Long, Long)] = this match {
    case LongBounds(mn, mx, _) => Some((mn, mx))
    case _ => None
  }
}
final case class LongBounds(min: Long, max: Long,
    noNulls: Boolean = false) extends ColBounds
final case class StrBounds(minHex: String, maxHex: Option[String],
    noNulls: Boolean = false) extends ColBounds

object ColBounds {
  val StringTruncateBytes = 16

  def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString
  def unhex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  /** Unsigned byte-wise lexicographic compare — parquet UTF8 stat order and
    * UTF8String order alike.
    */
  def cmpBytes(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** Truncated LOWER bound: a prefix sorts ≤ everything it prefixes. */
  def strLower(value: Array[Byte]): Array[Byte] =
    value.take(StringTruncateBytes)

  /** Truncated UPPER bound: untruncated values bound themselves; a truncated
    * prefix must be incremented at its last non-0xFF byte (dropping the
    * tail) to bound every continuation — all-0xFF prefixes have no finite
    * bound at this width (Iceberg's UnicodeUtil.truncateStringMax shape,
    * re-derived at byte granularity, which is coarser but still sound).
    */
  def strUpper(value: Array[Byte]): Option[Array[Byte]] =
    if (value.length <= StringTruncateBytes) Some(value)
    else {
      val t = value.take(StringTruncateBytes)
      var i = t.length - 1
      while (i >= 0 && t(i) == 0xff.toByte) i -= 1
      if (i < 0) None
      else { t(i) = ((t(i) & 0xff) + 1).toByte; Some(t.take(i + 1)) }
    }
}

/** One manifest-listed data file: absolute path, size, per-column min/max
  * bounds for the columns the committing writer recorded stats for
  * (empty = no stats = never pruned).
  */
final case class ManifestEntry(path: String, size: Long,
    stats: Map[String, ColBounds])

/** A [[FileIndex]] fed ENTIRELY from the snapshot manifest: paths AND sizes
  * ride the segment files (recorded at commit time, when the writer already
  * holds the fresh file handles), so scan planning performs ZERO filesystem
  * calls — no directory listing, no per-file stat. Passing bare paths to
  * `spark.read.parquet` makes Spark's InMemoryFileIndex re-stat every one of
  * them on the driver: at millions of table files on an object store that is
  * millions of metadata RPCs per query, the cost real Iceberg avoids by
  * carrying file stats in its manifests — re-derived here for the same
  * reason. `sizeInBytes` is exact (summed from the manifest), so join-side
  * broadcast decisions see true table size instead of a listing estimate.
  *
  * FILE SKIPPING (round 5; strings/timestamps round 6): manifest entries may
  * carry per-column bounds (`SnapshotLog.commitOptimistic(statsColumns = ...)`).
  * `listFiles` evaluates the pushed `dataFilters` against those bounds and
  * drops files no row of which can match — e.g. a `bucket = 7` resume read,
  * a `lang = 'en'` language slice, or a `warc_ts` crawl-window range plans
  * only the files whose recorded range covers the predicate, without opening
  * a single footer (the other half of what Iceberg manifests carry; round 4
  * read every file's footer for any filter). Pruning is strictly
  * conservative: unknown columns, filter shapes, or literal types keep the
  * file; min/max bound only NON-NULL values, which is sound because every
  * bounds-pruned predicate is null-rejecting — the one null-SENSITIVE shape
  * handled, `IS NULL`, prunes from the separate proven-zero-nulls marker
  * (round 6), never from bounds.
  *
  * Flat layout (no partition columns): the snapshot's bucket structure lives
  * in the data, not the directory tree, so `partitionSchema` is empty and
  * all files sit in one [[PartitionDirectory]]. Row-group pushdown and
  * column pruning are untouched — they happen in the parquet reader below
  * this.
  */
final class ManifestFileIndex(tableRoot: String, entries: Seq[ManifestEntry])
    extends FileIndex {

  override val rootPaths: Seq[HPath] = Seq(new HPath(tableRoot))

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept =
      if (dataFilters.isEmpty || entries.forall(_.stats.isEmpty)) entries
      else entries.filter(e =>
        e.stats.isEmpty || dataFilters.forall(f => mayMatch(e.stats, f)))
    Seq(PartitionDirectory(InternalRow.empty, kept.map { e =>
      // modification time 0: immutable committed files, never re-read by
      // freshness; block size only seeds split arithmetic
      new FileStatus(e.size, false, 1, 128L << 20, 0L, new HPath(e.path))
    }.toArray))
  }

  /** Conservative interval test: false ONLY when `f` provably rejects every
    * row whose stats-tracked columns lie in their recorded bounds. The
    * bounds ignore nulls, so a bounds-derived `false` is sound only for
    * null-REJECTING predicates — which all the handled comparison shapes are
    * (`col op literal` is null-valued, hence filtered out, on a null input).
    * The ONE null-SENSITIVE predicate handled is `IsNull`, refuted not from
    * bounds but from the round-6 proven-zero-nulls marker ([[ColBounds
    * .noNulls]], minted only from footer null counts) — any new null-
    * sensitive shape must likewise justify itself against `noNulls`, never
    * against min/max. Anything else (UDFs, casts, unknown columns) returns
    * true.
    *
    * Every comparison reduces to two signs — min vs literal and max vs
    * literal (the max side is None for an open string upper bound, which
    * disables upper-side pruning only). Timestamp/date literals arrive from
    * Catalyst as raw micros/days longs, the same form [[LongBounds]] stores,
    * so they flow through the long path with zero special-casing.
    */
  private def mayMatch(stats: Map[String, ColBounds], f: Expression): Boolean = {
    def bounds(e: Expression): Option[ColBounds] = e match {
      case a: AttributeReference => stats.get(a.name)
      case _ => None
    }
    def longOf(v: Any): Option[Long] = v match {
      case x: java.lang.Integer => Some(x.longValue)
      case x: java.lang.Long => Some(x.longValue)
      case x: java.lang.Short => Some(x.longValue)
      case x: java.lang.Byte => Some(x.longValue)
      case _ => None
    }
    // (min cmp literal, max cmp literal — None = open bound); outer None =
    // no stats / unsupported literal type = never prune
    def signs(b: ColBounds, raw: Any): Option[(Int, Option[Int])] = (b, raw) match {
      case (LongBounds(mn, mx, _), v) => longOf(v).map(x =>
        (java.lang.Long.compare(mn, x), Some(java.lang.Long.compare(mx, x))))
      case (StrBounds(mn, mx, _), s: UTF8String) =>
        val v = s.getBytes
        Some((ColBounds.cmpBytes(ColBounds.unhex(mn), v),
          mx.map(h => ColBounds.cmpBytes(ColBounds.unhex(h), v))))
      case _ => None
    }
    def litSigns(a: Expression, l: Expression): Option[(Int, Option[Int])] =
      (bounds(a), l) match {
        case (Some(b), Literal(raw, _)) => signs(b, raw)
        case _ => None
      }
    // satisfiability of `col op literal` over [min, max]; .forall = a file
    // with no usable signs is kept
    def eqOk(a: Expression, l: Expression) =
      litSigns(a, l).forall { case (cm, cx) => cm <= 0 && cx.forall(_ >= 0) }
    def gtOk(a: Expression, l: Expression) = // ∃x > v ⇔ max > v
      litSigns(a, l).forall { case (_, cx) => cx.forall(_ > 0) }
    def geOk(a: Expression, l: Expression) =
      litSigns(a, l).forall { case (_, cx) => cx.forall(_ >= 0) }
    def ltOk(a: Expression, l: Expression) = // ∃x < v ⇔ min < v
      litSigns(a, l).forall { case (cm, _) => cm < 0 }
    def leOk(a: Expression, l: Expression) =
      litSigns(a, l).forall { case (cm, _) => cm <= 0 }
    f match {
      case And(a, b) => mayMatch(stats, a) && mayMatch(stats, b)
      case Or(a, b) => mayMatch(stats, a) || mayMatch(stats, b)
      // a file PROVEN null-free (round-6 `z` marker: every row group's null
      // count recorded and 0) cannot satisfy IS NULL; unproven = keep
      case IsNull(a: AttributeReference) =>
        stats.get(a.name).forall(!_.noNulls)
      case EqualTo(a, l: Literal) => eqOk(a, l)
      case EqualTo(l: Literal, a) => eqOk(a, l)
      case GreaterThan(a, l: Literal) => gtOk(a, l)
      case GreaterThan(l: Literal, a) => ltOk(a, l) // v > col ⇔ col < v
      case GreaterThanOrEqual(a, l: Literal) => geOk(a, l)
      case GreaterThanOrEqual(l: Literal, a) => leOk(a, l)
      case LessThan(a, l: Literal) => ltOk(a, l)
      case LessThan(l: Literal, a) => gtOk(a, l)
      case LessThanOrEqual(a, l: Literal) => leOk(a, l)
      // v <= col is satisfiable iff max >= v — NOT min <= v (that inversion
      // pruned exactly the files whose range covers the bound; caught in the
      // round-5 review, pinned by a literal-on-left test for all four ops)
      case LessThanOrEqual(l: Literal, a) => geOk(a, l)
      case In(a, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        bounds(a) match {
          case Some(b) => vs.exists(v =>
            signs(b, v.asInstanceOf[Literal].value)
              .forall { case (cm, cx) => cm <= 0 && cx.forall(_ >= 0) })
          case None => true
        }
      case InSet(a, vs) =>
        bounds(a) match {
          case Some(b) => vs.exists(v =>
            signs(b, v).forall { case (cm, cx) => cm <= 0 && cx.forall(_ >= 0) })
          case None => true
        }
      case _ => true
    }
  }

  override def inputFiles: Array[String] = entries.map(_.path).toArray

  override def refresh(): Unit = () // manifests are immutable

  override val sizeInBytes: Long = entries.map(_.size).sum

  override def partitionSchema: StructType = StructType(Nil)
}

/** Plan a parquet scan over manifest-listed files without touching the
  * filesystem: HadoopFsRelation over a [[ManifestFileIndex]] (the same
  * relation `spark.read.parquet` builds, minus its driver-side listing).
  * Pushdown/pruning are unaffected — they live in the parquet format below.
  * Shared by the snapshot-log scan and the published-index serving paths.
  */
object ManifestScan {
  def apply(spark: org.apache.spark.sql.SparkSession, tableRoot: String,
      schema: StructType, entries: Seq[ManifestEntry],
      isStreaming: Boolean = false): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val relation = HadoopFsRelation(
      location = new ManifestFileIndex(tableRoot, entries),
      partitionSchema = StructType(Nil),
      // nullable-normalized: DataSource.resolveRelation does the same (its
      // asNullable is private[spark]), so the manifest path and the
      // spark.read fallback expose ONE nullability surface — and a corrupt
      // file smuggling a null into a declared non-null column surfaces as a
      // null, not as wrong codegen
      dataSchema = StructType(schema.fields.map(f => f.copy(nullable = true))),
      bucketSpec = None,
      fileFormat = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
      options = Map.empty)(spark)
    // isStreaming = true marks the relation as one micro-batch of a stream
    // (what FileStreamSource/DeltaSource do): the plan participates in
    // IncrementalExecution instead of being rejected as a batch relation
    org.apache.spark.sql.GraftShim.ofRows(spark, LogicalRelation(relation, isStreaming))
  }
}
