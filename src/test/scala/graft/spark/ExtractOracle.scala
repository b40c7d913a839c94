package graft.spark

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.kernel.Extract

/** The typed-Dataset implementation of [[ExtractJob.extractDF]]: the same
  * kernel behind a `mapPartitions` with an encoder round trip per row. It
  * shares no planning code with the custom operator, which makes it the
  * independent implementation the operator's batch and streaming output is
  * checked against.
  */
object ExtractOracle {
  def extractDFTyped(pages: Dataset[Schemas.Page], numBuckets: Int): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages
      .withColumn("bucket", pmod(xxhash64(col("url")), lit(numBuckets)).cast("int"))
      .as[(String, java.sql.Timestamp, Array[Byte], String, String, Int)]
      .mapPartitions { it =>
        it.map { case (url, _, html, text, _, bucket) =>
          val r = Extract.extract(html, text)
          Schemas.ExtractedRaw(
            url = url, bucket = bucket, kind = r.kind, pages = r.pages,
            text = r.text, n_bytes = if (html == null) 0L else html.length.toLong,
            ok = r.ok)
        }
      }
      .toDF()
      .withColumn("checksum", xxhash64(col("url"), col("text")))
  }
}
