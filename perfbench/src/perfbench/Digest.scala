package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Order-independent digest of a multiset of rows: the row count, the sum of
  * one 64-bit row hash and the xor of a second one. Row order and
  * partitioning do not change it; adding, dropping, duplicating or editing
  * a row does. */
object Digest {

  /** Canonical projections: timing columns are left out, maps and sets are
    * sorted, so an in-memory result and its Parquet round trip agree. */
  val spanCols: Seq[Column] =
    Seq("doc_id", "seq", "kind", "text", "media_ref", "offset").map(col)

  val metaCols: Seq[Column] =
    Seq("doc_id", "parent_id", "ancestors", "depth", "schema", "mime_type",
      "ingestor", "processing_status", "processing_error", "file_name",
      "file_size", "content_hash").map(col) :+
      array_sort(map_entries(col("properties")))

  val tagCols: Seq[Column] =
    Seq(col("doc_id"), col("prop"), col("key"), array_sort(col("values")), col("freq"))

  /** Digest every named frame over its listed columns in one action. */
  def of(parts: Seq[(String, DataFrame, Seq[Column])]): Map[String, String] = {
    val aggs = parts.map { case (name, df, cols) =>
      df.select(xxhash64(cols: _*).as("h1"), xxhash64(lit("perfbench") +: cols: _*).as("h2"))
        .agg(count(lit(1)).as("n"),
          coalesce(sum(col("h1").cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")).as("s"),
          coalesce(bit_xor(col("h2")), lit(0L)).as("x"))
        .select(lit(name).as("part"), col("n"), col("s"), col("x"))
    }
    aggs.reduce(_ unionByName _).collect().map { r =>
      val s = BigInt(r.getDecimal(2).toBigInteger) & ((BigInt(1) << 64) - 1)
      r.getString(0) -> f"${r.getLong(1)}%d:${s.toString(16)}:${r.getLong(3)}%x"
    }.toMap
  }

  /** Row count carried in a digest string. */
  def rows(d: String): Long = d.takeWhile(_ != ':').toLong
}
