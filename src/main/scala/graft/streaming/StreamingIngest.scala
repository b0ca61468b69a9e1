package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.GraftConfig
import graft.pipeline.Fingerprints

/** Structured Streaming surface.
  *
  * The reference is strictly batch (SURVEY.md §2.9) and the north_rule asks
  * for batch-with-checkpoints, so streaming is an ADDITIVE capability: the
  * same per-row fingerprint stage runs unchanged on a stream (it is a
  * narrow, stateless projection — exactly the shape Structured Streaming
  * wants), letting a deployment fingerprint new images as they land and
  * defer the candidate joins to micro-batch or nightly compaction.
  */
object StreamingIngest {

  /** The image table's schema (`ImageRow`), for the streaming readers. */
  private val imageSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "image_id STRING, bytes BINARY, w INT, h INT, fmt STRING, caption STRING, phash BIGINT")

  /** Streaming fingerprint ingest: readStream over the image table's
    * directory → per-row fingerprints (no shuffle, no state). The sink is
    * left to the caller (parquet append / memory for tests).
    */
  def fingerprintStream(spark: SparkSession, sourceDir: String,
                        cfg: GraftConfig): DataFrame =
    Fingerprints.compute(spark.readStream.schema(imageSchema).parquet(sourceDir), cfg).toDF()

  /** Streaming content-identity ingest for the stateful exact-dedup
    * operator: readStream over the image table's directory → 128-bit
    * content rows ([[StreamingDedup.contentRows]] — stateless projection).
    */
  def contentStream(spark: SparkSession, sourceDir: String)
      : org.apache.spark.sql.Dataset[StreamingDedup.ContentRow] =
    StreamingDedup.contentRows(spark.readStream.schema(imageSchema).parquet(sourceDir))

  /** Watermarked tumbling-window event aggregation (the generic streaming
    * agg shape: counts + value sums per type per window).
    */
  def eventWindowAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("bigint")).as("sum_value_cents"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value_cents"))
}
