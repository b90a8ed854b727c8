package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, Executors}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.{BlockRelease, EdgePin, SparkEntry}
import graft.api.{IngestApiServer, IngestController, IngestRequest, IngestionState}
import graft.canon.{CanonicalJson, Identity}
import graft.chunk.ChunkAssigner
import graft.ingest.IngestionPipeline
import graft.receiver.MiniJson
import graft.sink.OrderedAckHttpSink
import graft.state.IngestionStateStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Runs one workload of the benchmark inside one JVM and writes the raw
  * samples (timestamps, counts, gate outcomes) as JSON; `run.py` turns
  * them into metrics.
  *
  *   java ... perfbench.Main <manifest.json> <raw-out.json>
  *
  * The manifest (written by run.py) names the workload, its generated
  * input files, the measuring time, the query order and whether this is
  * the traced run. */
object Main {

  final case class Input(file: String, records: Long)

  /** Closed-loop rounds (query passes) of the traced run. */
  val TracedRounds = 2

  final class Config(o: MiniJson.JObj) {
    private def s(k: String) = o.get(k) match { case Some(MiniJson.JStr(v)) => v; case _ => "" }
    private def n(k: String) = o.get(k) match { case Some(MiniJson.JNum(v)) => v.toDouble; case _ => 0.0 }
    private def inputs(v: Option[MiniJson.JVal]): Seq[Input] = v match {
      case Some(MiniJson.JArr(xs)) => xs.collect { case i: MiniJson.JObj =>
        Input(i.get("file").collect { case MiniJson.JStr(f) => f }.get,
          i.get("records").collect { case MiniJson.JNum(r) => r.toLong }.get)
      }
      case _ => Nil
    }
    val workload: String = s("workload")
    val seconds: Double = n("seconds")
    val trace: Boolean = n("trace") > 0
    val cores: Int = n("cores").toInt
    val setupReps: Int = math.max(1, n("setup_reps").toInt)
    val minRounds: Int = math.max(1, n("min_rounds").toInt)
    val quietSteal: Double = n("quiet_steal")
    val workDir: String = s("work_dir")
    val clients: Seq[Input] = inputs(o.get("clients"))
    val warm: Seq[Input] = inputs(o.get("warm"))
    val chunkBytes: Long = n("chunk_bytes").toLong
    val corpus: String = s("corpus")
    val resultsDir: String = s("results_dir")
    val queries: Seq[String] = o.get("queries") match {
      case Some(MiniJson.JArr(xs)) => xs.collect { case MiniJson.JStr(q) => q }
      case _ => Nil
    }
    def isQuery: Boolean = workload == "query_mix"
  }

  def main(args: Array[String]): Unit = {
    if (args(0) == "--oracle-sql") { // the DuckDB oracle SQL, for pinning
      val sql = SparkEntry.oracleSql
      Files.write(Paths.get(args(1)), Json.obj(args.drop(2).toSeq.map(q =>
        q -> Json.str(sql(q))): _*).getBytes(StandardCharsets.UTF_8))
      return
    }
    val cfg = new Config(MiniJson.parse(
      new String(Files.readAllBytes(Paths.get(args(0))), StandardCharsets.UTF_8))
      .asInstanceOf[MiniJson.JObj])
    val out = new Bench(cfg).run()
    Files.write(Paths.get(args(1)), out.getBytes(StandardCharsets.UTF_8))
    // Spark and HTTP server threads are not all daemons
    System.exit(0)
  }

  final class Bench(cfg: Config) {
    private val samples = new Samples
    private val spans = new Spans
    private val heap = new LiveHeap
    private val codegen = CodegenCounter.attach()
    private var listener: ExecListener = _
    private val receiver = new Receiver(math.max(1, cfg.clients.size), samples)
    private val http = HttpClient.newHttpClient()
    private val clientPool = Executors.newFixedThreadPool(math.max(1, cfg.clients.size))
    private val ops = ArrayBuffer.empty[String]
    private val errors = ArrayBuffer.empty[String]
    private val failures = new QueryFailures

    private var spark: SparkSession = _
    private var controller: IngestController = _
    private var apiServer: com.sun.net.httpserver.HttpServer = _
    private var apiUrl: String = _
    private var store: IngestionStateStore = _
    private var version = 0

    // ---- session lifecycle (the timed set-up) -----------------------------

    private def startSession(): Unit = {
      spark = SparkSession.builder()
        .master(s"local[${cfg.cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cfg.cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"${cfg.workDir}/spark-local")
        .config("spark.sql.warehouse.dir", s"${cfg.workDir}/warehouse")
        .getOrCreate()
      // job ids restart with every SparkContext: one listener per session
      listener = new ExecListener(detailed = cfg.trace)
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(failures)
      version += 1
      val base = IngestionStateStore.file(s"${cfg.workDir}/state-$version")
      store = if (cfg.trace) new TimedStore(base, samples) else base
      controller = new IngestController(spark, store)
      val (srv, url) = IngestApiServer.serve(controller)
      apiServer = srv
      apiUrl = url
    }

    private def stopSession(): Unit = {
      apiServer.stop(0)
      controller.shutdown()
      EdgePin.releaseAll()
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }

    private def warmUp(): Unit =
      if (cfg.isQuery) queryPass("warm", 0, write = true)
      else ingestRound("warm", 0, cfg.warm)

    // ---- ingestion --------------------------------------------------------

    private def postIngest(file: String, client: Int): String = {
      val body = s"""{"file_path":${Json.str(file)},"file_type":"json",""" +
        s""""callback_url":${Json.str(receiver.url(client))},""" +
        s""""chunk_size_by_memory":${cfg.chunkBytes},"re_ingestion":true}"""
      val req = HttpRequest.newBuilder(URI.create(s"$apiUrl/api/ingest"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build()
      val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
      MiniJson.parse(resp.body()) match {
        case o: MiniJson.JObj if resp.statusCode == 200 =>
          o.get("ingestion_id").collect { case MiniJson.JStr(id) => id }
            .getOrElse(sys.error(s"no ingestion_id in ${resp.body()}"))
        case _ => sys.error(s"POST /api/ingest: ${resp.statusCode} ${resp.body()}")
      }
    }

    /** The receiver-side and state-store gates for one finished ingestion. */
    private def ingestionGates(id: String, client: Int, expected: Long,
        recordsBefore: Long, nacksBefore: Long, completedBefore: Int): Seq[String] = {
      val mock = receiver.mocks(client)
      val l = receiver.log(id)
      val problems = ArrayBuffer.empty[String]
      l.synchronized {
        val n = l.chunks.size
        if (n == 0) problems += "no chunk accepted"
        if (l.chunks.toSeq != (0L until n.toLong)) problems += "accepted chunks not dense 0..n-1"
        if (l.nacks != 0) problems += s"${l.nacks} NACKs"
        if (l.completions != 1) problems += s"${l.completions} COMPLETED handshakes"
        if (mock.lastChunkPerIngestion.getOrElse(id, -1L) != n - 1)
          problems += "receiver's last chunk is not n-1"
        store.get(id) match {
          case Some(IngestionState(_, last, total, IngestionState.Completed))
            if last == n - 1 && total == expected =>
          case other => problems += s"state row $other, expected last_chunk=${n - 1} total=$expected COMPLETED"
        }
      }
      if (mock.totalRecordsEver - recordsBefore != expected)
        problems += s"receiver counted ${mock.totalRecordsEver - recordsBefore} records, generated $expected"
      if (mock.nackCount != nacksBefore) problems += "receiver NACKed"
      if (mock.completedCount - completedBefore != 1) problems += "receiver COMPLETED count off"
      problems.toSeq
    }

    /** One closed-loop round: every client submits its file at the same
      * moment through POST /api/ingest and waits for its ingestion to end. */
    private def ingestRound(phase: String, round: Int, files: Seq[Input]): Unit = {
      val start = new java.util.concurrent.CountDownLatch(1)
      val futures = files.zipWithIndex.map { case (in, k) =>
        clientPool.submit(new Callable[Unit] {
          override def call(): Unit = {
            val mock = receiver.mocks(k)
            val (recs, nacks, done) = (mock.totalRecordsEver, mock.nackCount, mock.completedCount)
            start.await()
            val postUs = Clock.nowUs
            var id = ""
            var endUs = -1L
            val problems = ArrayBuffer.empty[String]
            try {
              id = samples.time("api.accept")(postIngest(in.file, k))
              endUs = receiver.awaitCompleted(id, 150000L)
              if (endUs < 0) problems += "no COMPLETED handshake"
              val deadline = System.currentTimeMillis() + 150000L
              while (controller.status(id)._1.contains("RUNNING") &&
                System.currentTimeMillis() < deadline) Thread.sleep(1)
              controller.status(id)._1 match {
                case Some("DONE") =>
                case other => problems += s"controller outcome $other"
              }
              problems ++= ingestionGates(id, k, in.records, recs, nacks, done)
            } catch { case e: Exception => problems += s"${e.getClass.getSimpleName}: ${e.getMessage}" }
            val l = receiver.log(id)
            val accepted = l.synchronized(l.acceptedUs.toList)
            val op = Json.obj("kind" -> Json.str("ingest"), "phase" -> Json.str(phase),
              "round" -> round.toString, "name" -> Json.str(id), "client" -> k.toString,
              "start_us" -> postUs.toString, "end_us" -> endUs.toString,
              "steps_us" -> Json.nums(accepted), "records" -> in.records.toString,
              "ok" -> problems.isEmpty.toString, "detail" -> Json.str(problems.mkString("; ")))
            ops.synchronized(ops += op)
          }
        })
      }
      start.countDown()
      futures.foreach(_.get())
    }

    // ---- queries ----------------------------------------------------------

    /** One pass over the query order. `write` stores each full result for
      * the oracle-hash gate; otherwise the rdd action of `Bench` runs. */
    private def queryPass(phase: String, pass: Int, write: Boolean): Unit = {
      val sc = spark.sparkContext
      val groups = cfg.queries.map { q =>
        val group = s"$phase/$pass/$q"
        sc.setJobGroup(group, q, interruptOnCancel = false)
        val startUs = Clock.nowUs
        var rows = -1L
        var problem = ""
        try {
          val df = SparkEntry.queries(q)(spark, cfg.corpus)
          if (write) df.write.mode("overwrite").parquet(s"${cfg.resultsDir}/$q")
          else rows = df.queryExecution.toRdd.count()
        } catch { case e: Exception => problem = s"${e.getClass.getSimpleName}: ${e.getMessage}" }
        val endUs = Clock.nowUs
        BlockRelease.releaseAll(spark)
        val retained = sc.getPersistentRDDs.size
        sc.clearJobGroup()
        (q, group, startUs, endUs, rows, problem, retained)
      }
      groups.foreach { case (q, group, startUs, endUs, rows, problem0, retained) =>
        val ended = listener.awaitJobsEnded(group)
        val problem = Seq(problem0,
          if (ended) "" else "job end events missing").filter(_.nonEmpty).mkString("; ")
        val jobEnds = listener.group(group).synchronized(
          listener.group(group).jobs.map(_._3).sorted.toList)
        val op = Json.obj("kind" -> Json.str("query"), "phase" -> Json.str(phase),
          "round" -> pass.toString, "name" -> Json.str(q), "group" -> Json.str(group),
          "start_us" -> startUs.toString, "end_us" -> endUs.toString,
          "steps_us" -> Json.nums(jobEnds), "rows" -> rows.toString,
          "written" -> write.toString, "retained" -> retained.toString,
          "ok" -> problem.isEmpty.toString, "detail" -> Json.str(problem))
        ops.synchronized(ops += op)
      }
    }

    // ---- traced ingestion -------------------------------------------------

    private def traceIngestion(in: Input, client: Int): Unit = {
      val url = receiver.url(client)
      val req = IngestRequest(in.file, "json", url, chunkSizeByMemory = Some(cfg.chunkBytes),
        reIngestion = true)
      val fileId = Identity.fileId(in.file, "json")
      val id = Identity.ingestionId(fileId, Identity.version(true, System.currentTimeMillis()))
      val sc = spark.sparkContext
      val mock = receiver.mocks(client)
      spans("ingestion", id) {
        val cached = ArrayBuffer.empty[DataFrame]
        def keep(df: DataFrame): DataFrame = { cached += df.cache(); df }
        val scanned = spans("sources.scan", id) {
          val df = keep(IngestionPipeline.scan(spark, req)); df.count(); df
        }
        val rn = spans("chunk.rownum", id) {
          val df = keep(ChunkAssigner.withInputOrderRowNumber(scanned)); df.count(); df
        }
        val withRec = spans("canon.render", id) {
          val df = keep(rn.withColumn("rec",
            CanonicalJson(struct(scanned.columns.toIndexedSeq.map(col): _*))))
          samples.count("canon.bytes",
            df.agg(sum(octet_length(col("rec")))).collect()(0).getLong(0).toDouble)
          df
        }
        spans("chunk.pack", id) {
          ChunkAssigner.assignByBytes(withRec, Seq(col("rn")), cfg.chunkBytes,
            octet_length(col("rec")).cast("long")).agg(max(col("chunk_number"))).collect()
        }
        val (chunks, maxChunk) = spans("ingest.build_chunks", id) {
          val c = keep(IngestionPipeline.buildChunks(scanned, req))
          (c, c.agg(max(col("chunk_number"))).collect()(0).getLong(0))
        }
        samples.count("ingest.chunks", (maxChunk + 1).toDouble)
        val (recs, nacks, done) = (mock.totalRecordsEver, mock.nackCount, mock.completedCount)
        spans("ingest.deliver", id) {
          sc.setJobGroup(s"deliver/$id", "deliver", interruptOnCancel = false)
          try IngestionPipeline.deliverChunksDistributed(chunks, id, store, url, -1L, 0L, maxChunk)
          finally sc.clearJobGroup()
        }
        spans("ingest.complete", id) {
          new OrderedAckHttpSink(url).sendCompleted(id, maxChunk, in.records)
          store.markCompleted(id)
        }
        gate(s"trace ingestion $id", ingestionGates(id, client, in.records, recs, nacks, done))
        // per-chunk timings: one serial pass under a re-ingestion id
        val id2 = Identity.ingestionId(fileId,
          Identity.version(true, System.currentTimeMillis() + 1))
        val (recs2, nacks2, done2) = (mock.totalRecordsEver, mock.nackCount, mock.completedCount)
        spans("sink.chunk_pass", id) {
          val rows = spans("sink.collect", id) {
            chunks.select("chunk_number", "n_records", "checksum", "records").collect()
              .sortBy(_.getLong(0))
          }
          val sink = new OrderedAckHttpSink(url)
          var total = 0L
          rows.foreach { r =>
            val n = r.getLong(0)
            val body = samples.time("sink.body_build")(sink.chunkBody(id2, n,
              Identity.chunkId(id2, n), r.getString(2), r.getSeq[String](3), isLast = n == maxChunk))
            samples.time("sink.post_ack")(sink.sendWithRetry(body, s"chunk $n"))
            total += r.getLong(1)
            store.ackChunk(id2, n, total)
          }
          sink.sendCompleted(id2, maxChunk, total)
          store.markCompleted(id2)
        }
        val l2 = receiver.log(id2)
        samples.count("sink.retries", l2.synchronized(l2.posts - l2.chunks.size - l2.completions).toDouble)
        gate(s"trace chunk pass $id2", ingestionGates(id2, client, in.records, recs2, nacks2, done2))
        spans("cleanup", id)(cached.foreach(_.unpersist(blocking = true)))
      }
    }

    private def gate(what: String, problems: Seq[String]): Unit =
      if (problems.nonEmpty) errors += s"$what: ${problems.mkString("; ")}"

    // ---- the run ----------------------------------------------------------

    def run(): String = {
      val setups, setupSteal, roundSteal = ArrayBuffer.empty[Double]
      var pinBuildS = 0.0
      for (rep <- 1 to cfg.setupReps) {
        if (spark != null) stopSession()
        val pinsBefore = EdgePin.buildSeconds.values.map(_._1).sum
        val c0 = HostSteal.read()
        val t0 = System.nanoTime()
        startSession()
        warmUp()
        setups += (System.nanoTime() - t0) / 1e9
        setupSteal += HostSteal.share(c0, HostSteal.read())
        pinBuildS = EdgePin.buildSeconds.values.map(_._1).sum - pinsBefore
      }
      // the fallback counter must see Spark's codegen warnings: probe it
      val probed = codegen.count.get
      org.apache.logging.log4j.LogManager.getLogger(
        "org.apache.spark.sql.execution.WholeStageCodegenExec")
        .warn("Whole-stage codegen disabled for plan (id=0): counter probe")
      if (codegen.count.get != probed + 1) errors += "codegen fallback counter is not attached"
      codegen.count.decrementAndGet()
      var traceJson = "null"
      def round(phase: String, n: Int): Double = {
        val c0 = HostSteal.read()
        if (cfg.isQuery) queryPass(phase, n, write = false)
        else ingestRound(phase, n, cfg.clients)
        val steal = HostSteal.share(c0, HostSteal.read())
        heap.sample()
        steal
      }
      if (!cfg.trace) {
        // closed loop: rounds until the measuring time is spent; while fewer
        // than minRounds rounds ran undisturbed by steal, go on for up to
        // half the measuring time more
        val now = System.nanoTime()
        val deadline = now + (cfg.seconds * 1e9).toLong
        val cap = now + (cfg.seconds * 1.5e9).toLong
        var n = 0
        def quiet = roundSteal.count(_ <= cfg.quietSteal)
        while (n < cfg.minRounds || System.nanoTime() < deadline ||
          (quiet < cfg.minRounds && System.nanoTime() < cap)) {
          n += 1
          roundSteal += round("measure", n)
        }
      } else {
        // a fixed number of traced rounds, so every count repeats exactly
        if (cfg.isQuery) ingestRound("trace-api", 1, cfg.warm)
        else (1 to TracedRounds).foreach(round("trace-round", _))
        // the layer figures below come from the pipeline walk alone
        samples.retainOnly("api.accept")
        receiver.bytes.set(0L)
        val traced = if (cfg.isQuery) cfg.warm else cfg.clients
        traced.zipWithIndex.foreach { case (in, k) => traceIngestion(in, k) }
        if (cfg.isQuery) (1 to TracedRounds).foreach(round("trace", _))
        else {
          val before = EdgePin.buildSeconds.values.map(_._1).sum
          queryPass("trace-warm", 0, write = true)
          pinBuildS = EdgePin.buildSeconds.values.map(_._1).sum - before
          queryPass("trace", 1, write = false)
        }
        val nacks = receiver.mocks.map(_.nackCount).sum
        traceJson = Json.obj(
          "spans" -> spans.toJson,
          "samples" -> samples.toJson,
          "receiver_bytes" -> receiver.bytes.get.toString,
          "receiver_nacks" -> nacks.toString,
          "groups" -> Json.obj(listener.groupNames.map(g => g -> listener.groupJson(g)): _*))
      }
      val heapPeak = heap.peakMb
      failures.failed.asScala.foreach(f => errors += s"query execution listener: $f")
      val result = Json.obj(
        "workload" -> Json.str(cfg.workload),
        "setup_s" -> Json.arr(setups.map(Json.num)),
        "setup_steal" -> Json.arr(setupSteal.map(Json.num)),
        "round_steal" -> Json.arr(roundSteal.map(Json.num)),
        "ops" -> Json.arr(ops),
        "heap_live_peak_mb" -> Json.num(heapPeak),
        "edgepin_build_s" -> Json.num(pinBuildS),
        "codegen_fallbacks" -> codegen.count.get.toString,
        "errors" -> Json.arr(errors.map(Json.str)),
        "trace" -> traceJson)
      stopSession()
      receiver.stop()
      clientPool.shutdownNow()
      result
    }
  }

  /** Dataset actions (the result writes) that failed inside Spark. */
  final class QueryFailures extends QueryExecutionListener {
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = ()
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      failed.add(s"$funcName failed: ${exception.getMessage}")
  }
}
