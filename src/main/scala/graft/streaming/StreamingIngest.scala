package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.engine.{MarketData, Store}

/** Live ingest: the reference's update loop (fetch missing tail → save →
  * repeat; colab_interface.py:343-372 driven manually) as a Structured
  * Streaming pipeline — micro-batch kline source composed with the keyed
  * upsert sink.
  *
  * Delivery semantics: the source is offset-tracked (checkpointed cursor,
  * [[graft.sources.KlineMicroBatchStream]]), so batches are at-least-once
  * across restarts; the sink is a PK upsert ([[Store.upsertSave]] —
  * last-writer-wins on (ts, symbol, timeframe)), so replaying a batch
  * rewrites identical rows. At-least-once delivery + idempotent merge =
  * exactly-once ROW STATE in the store, without any two-phase commit.
  * Each batch rewrites only the (symbol, timeframe) partitions it touches
  * — cost scales with the batch, not the table (the 100 TB property).
  */
object StreamingIngest {

  /** Start streaming klines into the canonical store at `basePath`.
    * The coverage file refreshes per batch, exactly like the batch-path
    * `saveData` (a driver file write, no Spark job), so
    * `checkDataExists`/`getData` observe the stream's progress; a
    * micro-batch is read once, and an empty one writes nothing. Bounded when `endMs` is finite — the stream stops
    * advancing at the end offset (use `processAllAvailable` + `stop`). */
  def streamToStore(spark: SparkSession, basePath: String, symbols: String,
      timeframe: String, startMs: Long, endMs: Long, batchMs: Long,
      checkpoint: String): StreamingQuery = {
    val md = new MarketData(spark, basePath)
    val klines = spark.readStream.format("graft.sources.KlineSource")
      .option("symbols", symbols).option("timeframe", timeframe)
      .option("startMs", startMs.toString).option("endMs", endMs.toString)
      .option("batchMs", batchMs.toString)
      .load()
    klines.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        md.saveData(batch)
      }
      .start()
  }
}
