package graft.streaming

import graft.functions.GraftFunctions

import org.apache.spark.sql.SparkSession

/** Structured Streaming front-end for the extraction engine.
  *
  * The reference is strictly request/batch (one Lambda invocation per
  * document, cmd/lambda/main.go:29), so streaming is engine scope beyond
  * the reference: a continuously-arriving span table (e.g. a crawl
  * landing zone) is extracted incrementally with exactly-once file-sink
  * semantics via checkpointing. Because the core is one stateless
  * Project (`extract_spans`), it is trivially streaming-safe: no
  * watermark, no state store, every micro-batch is embarrassingly
  * parallel — the same property that makes the batch job resumable.
  */
object StreamingExtract {

  /** One AvailableNow pass (drain what exists, stop) over a growing
    * directory of span-table parquet into a checkpointed exactly-once
    * parquet sink.
    */
  def runOnce(spark: SparkSession, inputPath: String, outPath: String, checkpoint: String): Unit =
    StreamingState.drain(spark, Seq(inputPath), 64, checkpoint, Left(outPath),
      stateful = false)(srcs => GraftFunctions.extractDF(spark, srcs.head))
}
