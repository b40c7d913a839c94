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

  /** The segment files snapshot `id`'s manifest list references, in list
    * order (a commit's fresh segment comes last).
    */
  def segmentsOf(tableDir: String, id: Long): Seq[java.nio.file.Path] =
    java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(tableDir, "meta", s"snap-$id.txt")).asScala.toSeq
      .filter(_.startsWith("manifest\t"))
      .map(l => java.nio.file.Paths.get(tableDir, l.split('\t')(1)))

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
