package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._

/** One clock for every timestamp the benchmark records: epoch microseconds,
  * advanced by System.nanoTime so intervals are monotonic. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** Minimal JSON rendering for the raw result file. */
object Json {
  def str(s: String): String =
    graft.receiver.MiniJson.canonical(graft.receiver.MiniJson.JStr(s))
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def nums(xs: Iterable[Long]): String = xs.mkString("[", ",", "]")
  def obj(kvs: (String, String)*): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

/** In-memory span recorder: name, start, end, parent and trace id, written
  * out when the run ends. */
final class Spans {
  import Spans.Span
  private val all = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]

  def apply[T](name: String, traceId: String)(body: => T): T = {
    val s = synchronized {
      val sp = Span(all.size, name, traceId, stack.headOption.getOrElse(-1),
        Clock.nowUs, -1L)
      all += sp
      stack = sp.id :: stack
      sp
    }
    try body finally synchronized {
      s.endUs = Clock.nowUs
      stack = stack.tail
    }
  }

  def toJson: String = synchronized {
    Json.arr(all.map(s => Json.obj("id" -> s.id.toString, "name" -> Json.str(s.name),
      "trace" -> Json.str(s.traceId), "parent" -> s.parent.toString,
      "start_us" -> s.startUs.toString, "end_us" -> s.endUs.toString)))
  }
}

object Spans {
  final case class Span(id: Int, name: String, traceId: String, parent: Int,
      startUs: Long, var endUs: Long)
}

/** The share of the machine's CPU time the hypervisor gave to other guests
  * (steal) over an interval, from the first line of /proc/stat. On a
  * shared host steal comes in bursts that slow every thread of the run at
  * once; the benchmark uses it to tell disturbed rounds from quiet ones. */
object HostSteal {
  /** (steal, total) clock ticks so far, or None where /proc/stat is not readable. */
  def read(): Option[(Long, Long)] =
    try {
      val f = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("/proc/stat")))
        .linesIterator.next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
      Some((if (f.length > 7) f(7) else 0L, f.sum))
    } catch { case _: Exception => None }

  def share(from: Option[(Long, Long)], to: Option[(Long, Long)]): Double = (from, to) match {
    case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 => (s1 - s0).toDouble / (t1 - t0)
    case _ => 0.0
  }
}

/** Highest heap occupancy measured right after a garbage collection. The
  * collection is a full one, forced at the end of every closed-loop round
  * (outside the timed part), so the figure is the live heap the engine
  * holds at round boundaries rather than an accident of GC timing. */
final class LiveHeap {
  private var peak = 0L
  def sample(): Unit = {
    // the first collection lets Spark's ContextCleaner drop the round's
    // broadcasts and shuffles, and the pause lets it (and the round's
    // non-blocking unpersists) finish before the collection that counts
    System.gc()
    Thread.sleep(200)
    System.gc()
    peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }
  def peakMb: Double = peak / (1024.0 * 1024.0)
}

/** Counts codegen fallbacks, which the engine only logs: whole-stage
  * codegen that failed to compile and ran interpreted, and expression
  * codegen that fell back to the interpreter. */
final class CodegenCounter extends AbstractAppender("perfbench-codegen", null, null,
    true, Property.EMPTY_ARRAY) {
  val count = new AtomicLong(0L)
  override def append(e: LogEvent): Unit = {
    val m = e.getMessage.getFormattedMessage
    if (m.startsWith("Whole-stage codegen disabled for plan") ||
      m.contains("falling back to interpreter mode")) count.incrementAndGet()
  }
}

object CodegenCounter {
  def attach(): CodegenCounter = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new CodegenCounter
    app.start()
    ctx.getConfiguration.addAppender(app)
    ctx.getConfiguration.getRootLogger.addAppender(app, Level.WARN, null)
    ctx.updateLoggers()
    app
  }
}

/** Spark execution, grouped by job group: job intervals always; stage and
  * task metrics when `detailed`. Job start and end are stamped when the
  * event reaches the listener, on the benchmark's microsecond clock (the
  * events' own millisecond stamps are too coarse for per-job gaps). */
final class ExecListener(detailed: Boolean) extends SparkListener {
  final class Group {
    val jobs = ArrayBuffer.empty[(Int, Long, Long)] // id, start us, end us (-1 open)
    var stages = 0
    var tasks = 0
    var execRunMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    // per completed stage: (duration ms, task durations ms)
    val stageTimes = ArrayBuffer.empty[(Long, Array[Long])]
  }
  private val groups = new ConcurrentHashMap[String, Group]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageTasks = new ConcurrentHashMap[Int, ArrayBuffer[Long]]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()

  def group(name: String): Group = groups.computeIfAbsent(name, _ => new Group)
  def groupNames: Seq[String] = groups.keySet.asScala.toSeq.sorted

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobGroup.put(e.jobId, g)
    e.stageIds.foreach(stageGroup.put(_, g))
    val gr = group(g)
    gr.synchronized { gr.jobs += ((e.jobId, Clock.nowUs, -1L)) }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val gr = group(Option(jobGroup.get(e.jobId)).getOrElse(""))
    gr.synchronized {
      val i = gr.jobs.indexWhere(_._1 == e.jobId)
      if (i >= 0) gr.jobs(i) = gr.jobs(i).copy(_3 = Clock.nowUs)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (detailed) {
    val gr = group(Option(stageGroup.get(e.stageId)).getOrElse(""))
    val m = e.taskMetrics
    gr.synchronized {
      gr.tasks += 1
      if (m != null) {
        gr.execRunMs += m.executorRunTime
        gr.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        gr.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    stageTasks.computeIfAbsent(e.stageId, _ => ArrayBuffer.empty[Long])
      .synchronized(stageTasks.get(e.stageId) += e.taskInfo.duration)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (detailed) {
    val si = e.stageInfo
    val gr = group(Option(stageGroup.get(si.stageId)).getOrElse(""))
    val dur = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(0L)
    val tasks = Option(stageTasks.remove(si.stageId)).map(_.toArray).getOrElse(Array.empty[Long])
    gr.synchronized {
      gr.stages += 1
      gr.stageTimes += ((dur, tasks))
    }
  }

  /** Wait (bounded) until every job of `name` has its end event. */
  def awaitJobsEnded(name: String, timeoutMs: Long = 10000L): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    val gr = group(name)
    while (gr.synchronized(gr.jobs.exists(_._3 < 0)) &&
      System.currentTimeMillis() < deadline) Thread.sleep(2)
    gr.synchronized(!gr.jobs.exists(_._3 < 0))
  }

  def groupJson(name: String): String = {
    val gr = group(name)
    gr.synchronized {
      Json.obj(
        "jobs" -> Json.arr(gr.jobs.map(j => Json.nums(Seq(j._2, j._3)))),
        "stages" -> gr.stages.toString,
        "tasks" -> gr.tasks.toString,
        "exec_run_ms" -> gr.execRunMs.toString,
        "shuffle_bytes" -> gr.shuffleBytes.toString,
        "spill_bytes" -> gr.spillBytes.toString,
        "stage_times" -> Json.arr(gr.stageTimes.map { case (d, ts) =>
          Json.obj("duration_ms" -> d.toString, "task_ms" -> Json.nums(ts.toSeq))
        }))
    }
  }
}

/** Per-call latencies (microseconds) and counters, keyed by layer name. */
final class Samples {
  private val lat = new ConcurrentHashMap[String, java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]]()
  private val counts = new ConcurrentHashMap[String, DoubleAdder]()
  def time[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally add(name, (System.nanoTime() - t0) / 1000L)
  }
  def add(name: String, us: Long): Unit =
    lat.computeIfAbsent(name, _ => new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]())
      .add(us)
  def count(name: String, by: Double = 1.0): Unit =
    counts.computeIfAbsent(name, _ => new DoubleAdder).add(by)
  def retainOnly(name: String): Unit = {
    lat.keySet.removeIf(_ != name)
    counts.clear()
  }
  def toJson: String = Json.obj(
    "latency_us" -> Json.obj(lat.asScala.toSeq.sortBy(_._1).map { case (k, q) =>
      k -> Json.nums(q.asScala.map(_.longValue))
    }: _*),
    "counts" -> Json.obj(counts.asScala.toSeq.sortBy(_._1).map { case (k, a) =>
      k -> Json.num(a.sum)
    }: _*))
}
