package graft.streaming

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.config.KlioConfig
import graft.model.KlioWire
import graft.operators.Prelude
import graft.runner.KlioPipeline

/** Streaming mode — the reference's default (`pipeline_options.streaming:
  * True`, config/core.py:361): Pub/Sub in → prelude → transforms → Pub/Sub
  * out. Offline, a watched directory of wire-JSON files stands in for the
  * topic (one file append = one publish), which preserves the semantics
  * that matter:
  *
  *  - at-least-once delivery: Spark checkpointing/offsets replace klio's
  *    per-message ack-deadline machinery (`pubsub_message_manager.py`);
  *    idempotence still comes from the output-exists prelude, exactly as in
  *    the reference.
  *  - `id_label` best-effort dedup (io.py:671-677) →
  *    `withWatermark + dropDuplicates` on element, a hard guarantee within
  *    the watermark.
  *  - event time from a message attribute (io.py:682-689) → a real
  *    event-time column with watermarking.
  *
  * The prelude operators are the SAME code as batch ([[Prelude]]) — filters
  * and stream-static joins are streaming-legal, so the whole routing layer
  * is mode-agnostic. That is the Spark-native answer to klio keeping two
  * run modes behind one YAML flag.
  */
object StreamingPipeline {

  /** KlioReadFromPubSub stand-in: watch a directory of wire-JSON text
    * files. `eventTimeCol` (epoch millis attribute in the payload or a
    * column expression) becomes the watermark column when provided.
    */
  def readEvents(spark: SparkSession, dir: String,
      allowNonKlio: Boolean = true): DataFrame =
    KlioWire.decode(
      spark.readStream.option("maxFilesPerTrigger", "16").text(dir),
      allowNonKlio)

  /** Pub/Sub id_label dedup parity: drop duplicate ELEMENTS within the
    * watermark window (stronger than the reference's best-effort).
    * dropDuplicatesWithinWatermark keys on element alone — a redelivered
    * message whose event-time was re-stamped (publish-time assignment)
    * still dedups, which a (element, eventTime) composite key would miss —
    * while the watermark still bounds the dedup state.
    */
  def dedupByElement(df: DataFrame, eventTime: String,
      watermark: String): DataFrame =
    df.withWatermark(eventTime, watermark)
      .dropDuplicatesWithinWatermark("element")

  /** Prelude + per-microbatch user transform + wire sink. Existence
    * listings are re-resolved per micro-batch (foreachBatch), matching the
    * reference's read-time existence checks rather than a stale static
    * snapshot. One Spark action per micro-batch: the wire write, which
    * reads the batch once through the cached [[Prelude.route]]d frame and
    * carries the dropped count.
    */
  def run(spark: SparkSession, cfg: KlioConfig, inputDir: String,
      outputDir: String, checkpoint: String,
      transform: DataFrame => DataFrame): DataStreamWriter[Row] = {
    val stream = readEvents(spark, inputDir,
      cfg.jobConfig.allowNonKlioMessages)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val counts = Observation("klio_route")
        val tagged = KlioPipeline.prelude(batch.sparkSession, cfg)(batch,
          counts).cache()
        try {
          val out = transform(Prelude.branch(tagged, Prelude.Process))
            .unionByName(Prelude.branch(tagged, Prelude.PassThru))
          KlioWire.encode(out).write.mode("append").text(outputDir)
          // drops never vanish silently (reference logs every one,
          // helpers.py:264-284): count per micro-batch and log
          val nDropped = counts.get(Prelude.Drop).asInstanceOf[Long]
          if (nDropped > 0)
            org.apache.log4j.Logger.getLogger("graft.klio.streaming")
              .warn(s"batch $batchId: dropped $nDropped message(s) " +
                "(wrong recipient or missing input)")
        } finally tagged.unpersist()
        ()
      }
  }

  /** Event-time tumbling-window aggregation with watermark — beyond the
    * reference (klio never windows, SURVEY §2.6) but core engine surface
    * for streams at scale.
    */
  def windowedCounts(events: DataFrame, tsCol: String, window_ : String,
      watermark: String, keyCol: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))

  /** Watermarked stream-stream inner join (beyond the reference — core
    * Structured Streaming surface): rows pair on `key` when the right
    * event time falls within [left − bound, left + bound]. BOTH sides
    * carry watermarks and the join condition bounds event-time distance,
    * so the state store can evict rows once the watermark passes —
    * without the time bound, stream-stream join state grows forever. At
    * scale, state is partitioned by the join key like any shuffle.
    */
  def streamStreamJoin(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, watermark: String,
      bound: String, joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    // every right column colliding with a left column gets a _r suffix
    // (including a shared event-time name like "ts") — the join stays
    // unambiguous and the output has no duplicate names
    val collisions = right.columns.filter(left.columns.contains).toSet
    val renamed = collisions.foldLeft(
      right.withWatermark(rightTs, watermark)) {
      (df, c) => df.withColumnRenamed(c, s"${c}_r")
    }
    def rcol(c: String) = col(if (collisions(c)) s"${c}_r" else c)
    val joined = l.join(renamed,
      col(key) === rcol(key) &&
        rcol(rightTs) >= col(leftTs) - expr(s"INTERVAL $bound") &&
        rcol(rightTs) <= col(leftTs) + expr(s"INTERVAL $bound"),
      joinType)
    // for right/full outer, an unmatched right row's only non-null key
    // is key_r — coalesce before dropping so no join type loses keys
    (if (collisions(key))
      joined.withColumn(key, coalesce(col(key), col(s"${key}_r")))
        .drop(s"${key}_r")
    else joined)
  }
}
