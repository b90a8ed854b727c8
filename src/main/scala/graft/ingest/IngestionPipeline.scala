package graft.ingest

import graft.api.{IngestRequest, IngestionState}
import graft.canon.{CanonicalJson, Identity}
import graft.sink.OrderedAckHttpSink
import graft.state.IngestionStateStore
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import org.apache.commons.codec.binary.Hex
import org.apache.spark.Partitioner
import org.apache.spark.sql.{DataFrame, GraftSql, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable.ArrayBuffer

/** End-to-end ingestion (SURVEY.md §3.4): scan → canonical serialize → chunk
  * → per-chunk checksum agg → ordered ACK-gated delivery → crash-safe resume.
  *
  * Execution split, designed for the protocol's constraint (§7.4 #1):
  *   - EXECUTORS (parallel): parse, canonical-JSON render, chunk assignment,
  *     per-chunk ordered record collection + sha256 — all distributed — and
  *     the chunk POSTs themselves (`deliverChunksDistributed`);
  *   - DRIVER (serial, protocol-imposed): only the ordered commit token —
  *     one contiguous chunk range in flight at a time, progress persisted
  *     after ACK (A21); payload bytes never cross the driver.
  *
  * At scale the serial commit is the declared bottleneck — exactly as in the
  * reference, where ordering is dictated by the receiver
  * (`chunk_data_integrity_validator.py:44-46`).
  */
object IngestionPipeline {

  final case class Result(ingestionId: String, chunksSent: Long, chunksSkipped: Long,
      totalRecords: Long, state: Option[IngestionState])

  /** Scan dispatch (A1–A6, A28's file_type branch — case-insensitive; unknown
    * type rejected like `ingestion_controllers.py:60-66`). "excel" accepts the
    * reference's semantics over CSV-with-header input (A5–A8: header row =
    * schema, short rows null-padded); native xlsx needs no third-party jar in
    * this environment and is deferred (SURVEY.md §7.4 #4). */
  def scan(spark: SparkSession, request: IngestRequest): DataFrame =
    request.fileType.toLowerCase match {
      case "json" =>
        // top-level JSON array (A1) or JSONL; recursive dir glob (A2) and
        // s3a/gs/abfss/file URIs (A3) come free from the Hadoop FS layer
        spark.read
          .option("multiLine", "true")
          .option("recursiveFileLookup", "true")
          .option("pathGlobFilter", "*.json")
          .json(request.filePath)
      case "jsonl" =>
        spark.read.option("recursiveFileLookup", "true").json(request.filePath)
      case "parquet" => spark.read.parquet(request.filePath)
      case "excel" if looksLikeXlsx(request.filePath) =>
        // native SpreadsheetML DataSource V2 (A4–A7 semantics in the source);
        // covers both a single .xlsx file and a directory of .xlsx files —
        // the CSV fallback must never see zip bytes (it would deliver
        // garbage records with valid checksums)
        spark.read.format("xlsx").load(request.filePath)
      case "excel" | "csv" =>
        // pre-converted spreadsheet input with the same header semantics
        spark.read.option("header", "true").option("mode", "PERMISSIVE")
          .csv(request.filePath)
      case other =>
        throw new IllegalArgumentException(s"Unsupported file type: $other")
    }

  /** "excel" routes to the native xlsx source for a .xlsx file OR a
    * directory holding .xlsx files (XlsxSource.expand reads one partition
    * per file); anything else falls back to pre-converted CSV. Probe
    * failures PROPAGATE — a transient FS error must fail the request, not
    * silently demote zip bytes to the CSV parser. */
  private def looksLikeXlsx(path: String): Boolean =
    path.toLowerCase.endsWith(".xlsx") || {
      // glob paths (e.g. /data/*.csv with fileType "excel") fall through to
      // the CSV reader's glob support — getFileStatus on a glob literal
      // would throw FileNotFoundException before dispatch
      !path.exists("*?[{".contains(_)) && {
        val conf = graft.sources.XlsxSource.hadoopConf()
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = org.apache.hadoop.fs.FileSystem.get(p.toUri, conf)
        fs.getFileStatus(p).isDirectory &&
          graft.sources.XlsxSource.expand(path, conf).nonEmpty
      }
    }

  /** A7 (Excel semantics): drop rows where every cell is null/empty-string —
    * they do not count toward progress. */
  def dropEmptyRows(df: DataFrame): DataFrame = {
    val anyNonEmpty = df.columns
      .map(c => col(c).isNotNull && col(c).cast("string") =!= "")
      .reduce(_ || _)
    df.filter(anyNonEmpty)
  }

  /** Distributed chunk construction in input order: one row per chunk,
    * `(chunk_number, n_records, records, checksum)`, numbered densely from
    * `lastChunk + 1` (streaming batches continue a running sequence). The
    * partitions hold contiguous ascending chunk ranges, so delivery walks
    * them in order with no further shuffle.
    *
    * Shape: records are rendered to canonical JSON in place, over the
    * source's own partitions, whose order is the input order (for file
    * sources partitions enumerate (file, block) deterministically). The
    * packing state entering every input partition is found without moving
    * payloads: a byte budget (A10) chains one small fold job per partition
    * over the rendered sizes; a record count (A9) is arithmetic over one
    * per-partition count job that renders nothing.
    * Each partition then tags its rows with their chunk number locally, and
    * ONE shuffle with exact chunk-range bounds (no sampling) brings each
    * chunk's records together in input order. Chunks are assembled while
    * streaming the sorted rows; the checksum is SHA-256 over
    * `"[" + records.mkString(",") + "]"`. */
  def buildChunks(df: DataFrame, request: IngestRequest,
      lastChunk: Long = -1L): DataFrame =
    buildChunksCounted(df, request, lastChunk)._1

  /** [[buildChunks]] together with its chunk count, which is known before
    * any payload moves. */
  def buildChunksCounted(df: DataFrame, request: IngestRequest,
      lastChunk: Long = -1L): (DataFrame, Long) = {
    val spark = df.sparkSession
    val sc = spark.sparkContext
    val schema = df.schema
    val source = GraftSql.toInternalRdd(df)
    val records = source.mapPartitions { rows =>
      val sb = new java.lang.StringBuilder(256)
      rows.map { r =>
        sb.setLength(0)
        CanonicalJson.write(sb, r, schema)
        sb.toString.getBytes(StandardCharsets.UTF_8)
      }
    }
    val (budget, bySize) = request.chunkSizeByRecords match {
      case Some(n) => (n.toLong, false)
      case None => (request.chunkSizeByMemory.get, true)
    }
    // packing state entering each input partition; the last entry is the
    // state after the whole input
    val carries: Array[Carry] =
      if (bySize)
        (0 until records.getNumPartitions).scanLeft(Carry.start(lastChunk)) { (in, p) =>
          sc.runJob(records, (it: Iterator[Array[Byte]]) => {
            val k = new Packer(in, budget)
            it.foreach(r => k.add(r.length))
            k.carry
          }, Seq(p)).head
        }.toArray
      else
        sc.runJob(source, (it: Iterator[InternalRow]) => {
          var n = 0L
          while (it.hasNext) { it.next(); n += 1 }
          n
        }).scanLeft(0L)(_ + _).map(Carry.afterRecords(_, budget, lastChunk))
    val last = carries.last
    val nChunks = if (last.started) last.chunk - lastChunk else 0L

    val tagged = records.mapPartitionsWithIndex { (p, it) =>
      val k = new Packer(carries(p), budget)
      it.map { r =>
        val rn = k.rows
        ((k.add(if (bySize) r.length else 1L), rn), r)
      }
    }
    // one delivery range per shuffle partition, and never an empty range
    val parts = math.min(nChunks, spark.sessionState.conf.numShufflePartitions.toLong).toInt
    val chunks = tagged
      .repartitionAndSortWithinPartitions(new ChunkRanges(lastChunk + 1, nChunks, parts))
      .mapPartitions(assemble)
    (GraftSql.internalCreateDataFrame(spark, chunks, ChunkSchema), nChunks)
  }

  private val ChunkSchema = StructType(Seq(
    StructField("chunk_number", LongType, nullable = false),
    StructField("n_records", LongType, nullable = false),
    StructField("records", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("checksum", StringType, nullable = false)))

  /** Greedy packing state: the open chunk's number and size, whether any
    * record was seen, and how many were. */
  private final case class Carry(chunk: Long, open: Long, started: Boolean, rows: Long)

  private object Carry {
    def start(lastChunk: Long): Carry = Carry(lastChunk + 1, 0L, started = false, 0L)

    /** The state after `rows` unit-size records under a budget of `n`. */
    def afterRecords(rows: Long, n: Long, lastChunk: Long): Carry =
      if (rows == 0) start(lastChunk)
      else Carry(lastChunk + 1 + (rows - 1) / n, (rows - 1) % n + 1, started = true, rows)
  }

  /** A10/A13 greedy rule (`json_reader.py:133`): a record starts a new chunk
    * when the open chunk is non-empty and adding it would exceed the budget.
    * Record-count chunking (A9) is the same rule with unit sizes. */
  private final class Packer(in: Carry, budget: Long) {
    private var chunk = in.chunk
    private var open = in.open
    private var started = in.started
    var rows: Long = in.rows

    /** Adds one record; returns its chunk number. */
    def add(size: Long): Long = {
      if (started && open + size > budget) { chunk += 1; open = 0L }
      started = true
      open += size
      rows += 1
      chunk
    }

    def carry: Carry = Carry(chunk, open, started, rows)
  }

  /** Exact range bounds over the known chunk numbers: partition j holds a
    * contiguous ascending run of about nChunks / parts chunks. */
  private final class ChunkRanges(first: Long, nChunks: Long, parts: Int)
      extends Partitioner {
    override def numPartitions: Int = parts
    override def getPartition(key: Any): Int =
      ((key.asInstanceOf[(Long, Long)]._1 - first) * parts / nChunks).toInt
  }

  /** Streams rows sorted by (chunk, input position) into one row per chunk. */
  private def assemble(it: Iterator[((Long, Long), Array[Byte])]): Iterator[InternalRow] = {
    val rows = it.buffered
    new Iterator[InternalRow] {
      override def hasNext: Boolean = rows.hasNext
      override def next(): InternalRow = {
        val chunk = rows.head._1._1
        val recs = ArrayBuffer.empty[Any]
        val md = MessageDigest.getInstance("SHA-256")
        md.update('['.toByte)
        while (rows.hasNext && rows.head._1._1 == chunk) {
          val rec = rows.next()._2
          if (recs.nonEmpty) md.update(','.toByte)
          md.update(rec)
          recs += UTF8String.fromBytes(rec)
        }
        md.update(']'.toByte)
        InternalRow(chunk, recs.length.toLong, new GenericArrayData(recs.toArray),
          UTF8String.fromString(Hex.encodeHexString(md.digest())))
      }
    }
  }

  /** Run one ingestion to completion (or terminal failure). Resumable: a
    * rerun with reIngestion=false continues after the last ACKed chunk. */
  def run(spark: SparkSession, request: IngestRequest, store: IngestionStateStore,
      nowMillis: => Long = System.currentTimeMillis()): Result = {
    val fileId = Identity.fileId(request.filePath, request.fileType)
    val version = Identity.version(request.reIngestion, nowMillis)
    val ingestionId = Identity.ingestionId(fileId, version)

    val lastAcked = store.lastChunk(ingestionId) // -1 on fresh start
    var totalRecords = store.totalRecords(ingestionId)

    val source = request.fileType.toLowerCase match {
      case "excel" | "csv" => dropEmptyRows(scan(spark, request))
      case _ => scan(spark, request)
    }
    val (built, nChunks) = buildChunksCounted(source, request)
    val chunks = built.cache()
    try {
      val maxChunk = nChunks - 1 // numbering starts at 0; -1 when empty
      val (sent, skipped, newTotal) = deliverChunksDistributed(chunks,
        ingestionId, store, request.callbackUrl, lastAcked, totalRecords, maxChunk)
      totalRecords = newTotal
      val sink = new OrderedAckHttpSink(request.callbackUrl)

      sink.sendCompleted(ingestionId, maxChunk, totalRecords) // A22
      store.markCompleted(ingestionId)
      Result(ingestionId, sent, skipped, totalRecords, store.get(ingestionId))
    } finally chunks.unpersist()
  }

  /** Executor-direct ordered delivery (the batch hot path): chunk payloads
    * POST from executor tasks, never crossing the driver — at scale the
    * driver NIC is no longer the funnel and no chunk batch can OOM it.
    *
    * Ordering (A24) is preserved by a driver-held commit token: pending
    * chunks are range-partitioned into contiguous chunk_number ranges, and
    * the driver runs ONE partition's task at a time, in range order; within
    * a task chunks POST in sorted order. The driver receives only
    * (chunk_number, n_records) ACK summaries and persists progress (A21)
    * between tasks. A failing chunk aborts the token advance; the ACKs its
    * task already won are persisted first, so terminal state still points at
    * the exact last ACKed chunk. A hard crash can lose at most one task's
    * ACK summaries — those chunks re-send on resume and the receiver's
    * chunk_id idempotency (A23) absorbs them: at-least-once per chunk,
    * exactly the reference's contract. */
  def deliverChunksDistributed(chunks: DataFrame, ingestionId: String,
      store: IngestionStateStore, callbackUrl: String, lastAcked: Long,
      startingTotal: Long, maxChunk: Long): (Long, Long, Long) = {
    val spark = chunks.sparkSession
    val skipped = // A20; a fresh start skips nothing
      if (lastAcked < 0) 0L else chunks.filter(col("chunk_number") <= lastAcked).count()
    // buildChunks partitions hold contiguous ascending chunk ranges, so the
    // pending filter preserves global order with NO re-shuffle of payloads
    val rdd = chunks.filter(col("chunk_number") > lastAcked).rdd
    val sc = spark.sparkContext

    val deliverPartition = (it: Iterator[Row]) => {
      val sink = new OrderedAckHttpSink(callbackUrl)
      val acks = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var error: Option[String] = None
      // one-chunk lookahead: POSTs must stay strictly serial (A24), but body
      // CONSTRUCTION is not order-constrained — build chunk i+1's ~MB body on
      // a helper thread while chunk i is in flight awaiting its ACK
      val builder = java.util.concurrent.Executors.newSingleThreadExecutor(r => {
        val t = new Thread(r, "chunk-body-builder"); t.setDaemon(true); t
      })
      def buildNext(): Option[(Long, Long, java.util.concurrent.Future[String])] =
        if (!it.hasNext) None
        else {
          val row = it.next()
          val chunkNumber = row.getLong(row.fieldIndex("chunk_number"))
          val n = row.getLong(row.fieldIndex("n_records"))
          val records = row.getSeq[String](row.fieldIndex("records"))
          val checksum = row.getString(row.fieldIndex("checksum"))
          Some((chunkNumber, n, builder.submit(() =>
            sink.chunkBody(ingestionId, chunkNumber,
              Identity.chunkId(ingestionId, chunkNumber), checksum, records,
              isLast = chunkNumber == maxChunk))))
        }
      try {
        var pending = buildNext()
        while (pending.isDefined && error.isEmpty) {
          val (chunkNumber, n, bodyFut) = pending.get
          try {
            val body = bodyFut.get()
            pending = buildNext() // overlaps with this chunk's POST + ACK wait
            sink.sendWithRetry(body, s"chunk $chunkNumber")
            acks += ((chunkNumber, n))
          } catch {
            // task-kill / cancellation signals and fatal JVM errors keep
            // their scheduler semantics — only orderly delivery failures
            // become a driver-visible error string
            case e: org.apache.spark.TaskKilledException => throw e
            case e: InterruptedException => throw e
            // surface the terminal error to the driver WITH the task's won
            // ACKs — a thrown task would discard them and leave state stale.
            // Message-less exceptions (NPE etc.) still need a diagnosable
            // string; the class name rides along for those.
            case scala.util.control.NonFatal(e) =>
              val cause = e match {
                case ee: java.util.concurrent.ExecutionException
                  if ee.getCause != null => ee.getCause
                case _ => e
              }
              error = Some(
                if (cause.getMessage == null) cause.getClass.getName
                else s"${cause.getMessage} (${cause.getClass.getSimpleName})")
          }
        }
      } finally builder.shutdownNow()
      (acks.toSeq, error)
    }

    // async single-partition launch: the NEXT range's POSTs start while the
    // driver persists the previous range's ACKs
    def launch(part: Int): org.apache.spark.FutureAction[(Seq[(Long, Long)], Option[String])] = {
      val res = new java.util.concurrent.atomic.AtomicReference[(Seq[(Long, Long)], Option[String])]
      sc.submitJob(rdd, deliverPartition, Seq(part),
        (_: Int, r: (Seq[(Long, Long)], Option[String])) => res.set(r), res.get())
    }

    var sent = 0L
    var totalRecords = startingTotal
    var failure: Option[String] = None
    // A21, batched: one durable write per task instead of one per chunk.
    // The per-chunk writes ran back-to-back on the driver with no POST in
    // between, so no observer could ever see an intermediate value —
    // persisting the task's LAST won ACK is crash-equivalent and removes
    // N-1 atomic file writes per task from the commit-token critical path.
    def persist(acks: Seq[(Long, Long)]): Unit = acks.lastOption.foreach { last =>
      totalRecords += acks.iterator.map(_._2).sum
      store.ackChunk(ingestionId, last._1, totalRecords) // A21
      sent += acks.size
    }
    val nParts = rdd.partitions.length
    if (nParts > 0) {
      var inflight = launch(0)
      var p = 0
      try {
        while (p < nParts && failure.isEmpty) {
          val (acks, err) = scala.concurrent.Await.result(
            inflight, scala.concurrent.duration.Duration.Inf)
          p += 1
          // ordering (A24) requires serial POSTs, not a serial store: kick
          // off the next range's task before persisting this range's progress
          if (err.isEmpty && p < nParts) inflight = launch(p)
          persist(acks)
          failure = err
        }
      } catch {
        // a persist (store write) failure must not leave the overlapped
        // task POSTing in the background while the caller unwinds and
        // unpersists the chunks it iterates; receiver idempotency (A23)
        // absorbs any POST that raced the cancel
        case scala.util.control.NonFatal(e) =>
          if (!inflight.isCompleted) inflight.cancel()
          throw e
      }
    }
    failure.foreach(msg => throw new RuntimeException(msg))
    (sent, skipped, totalRecords)
  }

}
