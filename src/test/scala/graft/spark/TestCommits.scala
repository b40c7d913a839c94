package graft.spark

import org.apache.spark.sql.DataFrame
import scala.jdk.CollectionConverters._

/** Test-scope shorthands for the one staging path (stage under
  * [[SnapshotLog.stageUniqueDataDir]], write, commit) and for looking at
  * what it left on disk.
  */
object TestCommits {

  /** The parquet files under `dir`, recursively, sorted. */
  def parquetUnder(dir: String): Seq[String] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
    finally s.close()
  }

  private def listPath(tableDir: String, id: Long) =
    java.nio.file.Paths.get(tableDir, "meta", s"snap-$id.txt")

  /** The lines of snapshot `id`'s list that start with `kind` and a tab. */
  private def listLines(tableDir: String, id: Long, kind: String): Seq[String] =
    java.nio.file.Files.readAllLines(listPath(tableDir, id)).asScala.toSeq
      .filter(_.startsWith(s"$kind\t"))

  /** The segment files snapshot `id`'s manifest list references, in list
    * order (a commit's fresh segment comes last).
    */
  def segmentsOf(tableDir: String, id: Long): Seq[java.nio.file.Path] =
    listLines(tableDir, id, "manifest")
      .map(l => java.nio.file.Paths.get(tableDir, l.split('\t')(1)))

  /** The parent id in snapshot `id`'s list header (-1 for a first commit). */
  def parentOf(tableDir: String, id: Long): Long =
    listLines(tableDir, id, "snapshot").head.split('\t')(3).toLong

  /** True iff both snapshots are retained and `child` carries every segment
    * of `parent`: a pure append over it.
    */
  def isAppendOf(tableDir: String, child: Long, parent: Long): Boolean =
    Seq(child, parent).forall(id => java.nio.file.Files.exists(listPath(tableDir, id))) &&
      segmentsOf(tableDir, parent).toSet.subsetOf(segmentsOf(tableDir, child).toSet)

  /** True iff snapshot `id` wrote a rewrite-tagged segment: a delete or
    * upsert rewrite (`-rw`) or a compaction (`-cp`).
    */
  def hasRewriteSegments(tableDir: String, id: Long): Boolean =
    segmentsOf(tableDir, id).exists(_.getFileName.toString.matches(s"seg-$id-(rw|cp).*"))

  /** The `lineage` lines of snapshot `id`'s list, verbatim. */
  def lineageLinesOf(tableDir: String, id: Long): Seq[String] =
    listLines(tableDir, id, "lineage")

  /** Per-bucket (bucket, rows, `n_bytes` sum, bit_xor of checksums) of the
    * extracted rows `df`, counted from scratch: what the lineage of the
    * commit that staged them must equal.
    */
  def lineageCounted(df: DataFrame): Seq[(Int, Long, Long, Long)] = {
    import org.apache.spark.sql.functions.{count, expr, lit, sum}
    df.groupBy("bucket").agg(count(lit(1)), sum("n_bytes"), expr("bit_xor(checksum)"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted
  }

  /** Snapshot `id`'s recorded lineage in [[lineageCounted]]'s shape. */
  def lineageAt(log: SnapshotLog, id: Long): Seq[(Int, Long, Long, Long)] =
    log.lineage().filter(_.snapshot_id == id)
      .map(m => (m.bucket, m.doc_count, m.byte_count, m.checksum)).sorted

  /** Commits through the one path; each returns the committed snapshot id. */
  implicit class StagedCommits(private val log: SnapshotLog) extends AnyVal {

    /** Append whatever `write` puts under the stage directory it is handed
      * (subdirectories are fine: staging walks recursively).
      */
    def appendWith(statsColumns: Seq[String] = Nil)(write: String => Unit): Long =
      log.commitOptimistic(log.writeStage(write), statsColumns)

    /** Append `df`'s rows as one commit. */
    def append(df: DataFrame, statsColumns: Seq[String] = Nil): Long =
      appendWith(statsColumns)(df.write.mode("overwrite").parquet(_))

    /** Replace the table's content with `df`'s rows, conditional on the
      * current snapshot.
      */
    def replace(df: DataFrame, statsColumns: Seq[String] = Nil): Long = {
      val parent = log.currentSnapshot().getOrElse(-1L)
      log.commitReplace(log.writeStage(df.write.mode("overwrite").parquet(_)),
        parent, statsColumns)
    }
  }
}
