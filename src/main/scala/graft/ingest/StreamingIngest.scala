package graft.ingest

import graft.api.IngestRequest
import graft.canon.Identity
import graft.sink.OrderedAckHttpSink
import graft.state.IngestionStateStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Continuous ingestion over Structured Streaming — the Spark-native resume
  * path SURVEY.md §4.1 recommends over the reference's re-parse-and-skip:
  * the file source + checkpoint skips COMMITTED micro-batches entirely on
  * restart (A20 without re-reading from byte 0), while the in-batch skip
  * logic handles mid-batch crashes.
  *
  * Chunk numbering is a running sequence across batches. Because a crashed
  * micro-batch REPLAYS under the same batchId, the batch's starting chunk
  * number is anchored in the state store on first attempt — a replay reuses
  * the anchor, regenerates identical chunks, and the ordered-commit loop
  * skips the already-ACKed prefix. Delivery stays chunk-exactly-once.
  */
object StreamingIngest {

  /** Start a continuous ingestion of files arriving under `request.filePath`
    * (a directory). `Trigger.AvailableNow` drains what exists and stops;
    * restart with the same checkpoint to pick up new arrivals. */
  def start(spark: SparkSession, request: IngestRequest, store: IngestionStateStore,
      schema: StructType, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): (String, StreamingQuery) = {
    val fileId = Identity.fileId(request.filePath, request.fileType)
    val ingestionId = Identity.ingestionId(fileId, "streaming")

    val source = request.fileType.toLowerCase match {
      case "json" | "jsonl" => spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").json(request.filePath)
      case "parquet" => spark.readStream.schema(schema).parquet(request.filePath)
      case "csv" => spark.readStream.schema(schema)
        .option("header", "true").csv(request.filePath)
      case "excel" =>
        // native xlsx micro-batch stream: each batch reads the files that
        // appeared since the last committed offset (one partition per file)
        spark.readStream.format("xlsx").schema(schema).load(request.filePath)
      case other => throw new IllegalArgumentException(s"Unsupported file type: $other")
    }

    val query = source.writeStream
      .queryName(s"graft_ingest_${ingestionId.take(12)}")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        deliverBatch(batch, batchId, ingestionId, request, store)
      }
      .start()
    (ingestionId, query)
  }

  /** Deliver one micro-batch as the next run of chunks. */
  def deliverBatch(batch: DataFrame, batchId: Long, ingestionId: String,
      request: IngestRequest, store: IngestionStateStore): Unit = {
    if (batch.isEmpty) return
    val anchorKey = s"$ingestionId:batch:$batchId"
    val base = store.getMeta(anchorKey) match {
      case Some(v) => v.toLong // replayed batch: keep the original numbering
      case None =>
        val b = store.lastChunk(ingestionId)
        store.putMeta(anchorKey, b.toString)
        b
    }
    // cached like the batch path: the skip-count job and the per-partition
    // delivery jobs must not re-run the parse/canonicalize/shuffle DAG
    val chunks = IngestionPipeline.buildChunks(batch, request, lastChunk = base)
      .cache()
    try {
      // executor-direct like the batch path; maxChunk = -2 sentinel (an open
      // stream has no last chunk, and no chunk number can equal -2)
      IngestionPipeline.deliverChunksDistributed(chunks, ingestionId, store,
        request.callbackUrl,
        lastAcked = store.lastChunk(ingestionId),
        startingTotal = store.totalRecords(ingestionId),
        maxChunk = -2L)
    } finally chunks.unpersist()
  }

  /** Close out a drained stream: COMPLETED handshake + terminal state (A22). */
  def finish(request: IngestRequest, store: IngestionStateStore,
      ingestionId: String): Unit = {
    val sink = new OrderedAckHttpSink(request.callbackUrl)
    sink.sendCompleted(ingestionId, store.lastChunk(ingestionId),
      store.totalRecords(ingestionId))
    store.markCompleted(ingestionId)
  }
}
