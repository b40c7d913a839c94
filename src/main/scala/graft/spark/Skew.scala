package graft.spark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** §7.4.5 — explicit skew handling for host-keyed stages.
  *
  * The extract pipeline's own shuffle keys on pmod(xxhash64(url), B), which is
  * uniform regardless of the host distribution. Skew bites when a stage keys on
  * `host` (per-host lineage/politeness stats over a Zipf-ish web corpus:
  * host1 can hold a double-digit percentage of all pages). [[twoPhaseAgg]]
  * aggregates partially on (key, salt), then finally on key — the classic
  * skew-proof aggregate; equivalent to a plain groupBy but the widest
  * shuffle carries (key, salt) cardinality. `a03_host_stats` runs it.
  *
  * AQE skew-join splitting stays enabled on top (spark.sql.adaptive.*).
  */
object Skew {

  /** Skew-proof count+sum aggregate by `key`: partial agg on (key, salt), final
    * agg on key. Result is identical to `df.groupBy(key).agg(...)`.
    */
  def twoPhaseAgg(
      df: DataFrame, key: String, idCol: String,
      sums: Seq[(String, String)], // (inputCol, outName)
      saltFactor: Int = 16): DataFrame = {
    val salted = df.withColumn("_salt",
      pmod(xxhash64(col(idCol)), lit(saltFactor)).cast("int"))
    val partialAggs =
      count(lit(1)).as("_cnt") +: sums.map { case (in, out) => sum(col(in)).as(s"_s_$out") }
    val partial = salted.groupBy(col(key), col("_salt"))
      .agg(partialAggs.head, partialAggs.tail: _*)
    val finalAggs =
      sum(col("_cnt")).as("cnt") +: sums.map { case (_, out) => sum(col(s"_s_$out")).as(out) }
    partial.groupBy(col(key)).agg(finalAggs.head, finalAggs.tail: _*)
  }
}
