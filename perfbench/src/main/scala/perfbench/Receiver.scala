package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.api.IngestionState
import graft.receiver.MockPimCore
import graft.state.IngestionStateStore

/** The downstream receiver: one `MockPimCore` per client behind
  * `/callback/<client>`, each call to `MockPimCore.handle` timed. Records,
  * per ingestion, when each chunk was accepted and when the COMPLETED
  * handshake arrived, so chunk gaps are measured where the chunks land. */
final class Receiver(nClients: Int, samples: Samples) {
  final class Log {
    val chunks = ArrayBuffer.empty[Long]
    val acceptedUs = ArrayBuffer.empty[Long]
    var completedUs = -1L
    var completions = 0
    var nacks = 0
    var posts = 0
  }

  val mocks: Array[MockPimCore] = Array.fill(nClients)(new MockPimCore)
  private val logs = new ConcurrentHashMap[String, Log]()
  val bytes = new AtomicLong(0L)
  private val pool = Executors.newCachedThreadPool()

  // see MockPimCore.serve: Nagle on the response path stalls every ACK
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.setExecutor(pool)
  for (k <- 0 until nClients)
    server.createContext(s"/callback/$k", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val raw = ex.getRequestBody.readAllBytes()
        val body = new String(raw, StandardCharsets.UTF_8)
        bytes.addAndGet(raw.length.toLong)
        val t0 = System.nanoTime()
        val resp = try mocks(k).handle(body) catch {
          case e: Exception =>
            MockPimCore.Response(ack = false, "", -1L, Some(s"receiver error: ${e.getMessage}"))
        }
        samples.add("receiver.handle", (System.nanoTime() - t0) / 1000L)
        record(resp)
        val out = resp.toJson.getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(200, out.length.toLong)
        ex.getResponseBody.write(out)
        ex.close()
      }
    })
  server.start()

  def url(client: Int): String =
    s"http://127.0.0.1:${server.getAddress.getPort}/callback/$client"

  def log(ingestionId: String): Log = logs.computeIfAbsent(ingestionId, _ => new Log)

  private def record(r: MockPimCore.Response): Unit = {
    val now = Clock.nowUs
    val l = log(r.ingestionId)
    l.synchronized {
      l.posts += 1
      if (!r.ack) l.nacks += 1
      else if (r.chunkNumber < 0) { // the COMPLETED handshake
        l.completions += 1
        l.completedUs = now
        l.notifyAll()
      } else if (l.chunks.lastOption.forall(_ < r.chunkNumber)) {
        l.chunks += r.chunkNumber
        l.acceptedUs += now
      }
    }
  }

  /** Block until `ingestionId`'s COMPLETED handshake arrived; its time. */
  def awaitCompleted(ingestionId: String, timeoutMs: Long): Long = {
    val l = log(ingestionId)
    val deadline = System.currentTimeMillis() + timeoutMs
    l.synchronized {
      while (l.completions == 0 && System.currentTimeMillis() < deadline)
        l.wait(math.max(1L, deadline - System.currentTimeMillis()))
      l.completedUs
    }
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
  }
}

/** A state store that times and counts the commits of the one it wraps. */
final class TimedStore(inner: IngestionStateStore, samples: Samples) extends IngestionStateStore {
  override def get(id: String): Option[IngestionState] = inner.get(id)
  override def ackChunk(id: String, lastChunk: Long, total: Long): Unit = {
    samples.count("state.commits")
    samples.time("state.commit")(inner.ackChunk(id, lastChunk, total))
  }
  override def markCompleted(id: String): Unit = inner.markCompleted(id)
  override def putMeta(key: String, value: String): Unit = inner.putMeta(key, value)
  override def getMeta(key: String): Option[String] = inner.getMeta(key)
}
