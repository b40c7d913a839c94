package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.kernel.SearchKernels.SearchParams
import graft.spark._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `entry` runs the flagship extract -> snapshot-commit -> search pipeline
  * (SURVEY.md §3.1) end-to-end on sf0.001; `queries`/`oracleSql` expose the
  * operator inventory with DuckDB oracles (graft.spark.Queries).
  */
object SparkEntry {

  /** Flagship: synthesize a Common-Crawl-style pages table from sf0.001
    * documents, extract through the snapshot-logged ExtractJob (resume path
    * included — the second run would be a no-op), then search the extracted
    * corpus for a keyword (F6) and return the matched urls.
    */
  def entry(spark: SparkSession): DataFrame = {
    val sfDir = "/root/testdata/sf0.001"
    val tableDir = "/root/repo/target/entry_extracted"
    deleteRecursively(new java.io.File(tableDir))
    val pages = Synth.pagesFromDocuments(spark, sfDir)
    ExtractJob.run(spark, pages, tableDir, numBuckets = 32)
    val extracted = ExtractJob.readExtracted(spark, tableDir)
    SearchJob.matches(extracted, SearchParams(any = Some("data")))
  }

  /** ONE recursive delete for the package's local scratch dirs (Bench, the
    * `graft.Probe` scenarios' temp dirs, this entry) — divergent copies are
    * how a symlink or IO-policy fix lands in one and not the others.
    * Symlinks are unlinked, never followed: `isDirectory` alone would
    * recurse THROUGH a dir link (e.g. one planted in a world-writable tmp
    * dir) and delete the target's contents.
    */
  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** One entry per implemented operator from SURVEY.md §2 (+ the training-data
    * extensions); see graft.spark.Queries for the inventory.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Queries.registry

  /** DuckDB-runnable oracle SQL for every SQL-expressible query (same column
    * names/types as the Spark side; kernel-only operators omitted -> rows-only).
    */
  def oracleSql: Map[String, String] = Queries.sqlOracles
}
