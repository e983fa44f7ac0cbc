package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler._

import graft.streaming.Sinks.{MetadataSink, ObjectStore}

/** Wall clock in microseconds with nanoTime resolution, comparable to the
  * millisecond wall stamps Spark puts in progress events and listener
  * callbacks. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
  def sleepUntil(us: Long): Unit = {
    var left = us - nowUs
    while (left > 0) { LockSupport.parkNanos(left * 1000L); left = us - nowUs }
  }
}

/** Minimal JSON rendering for the artifact (values are pre-rendered). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def longs(xs: Iterable[Long]): String = arr(xs.map(_.toString))
  def strs(xs: Iterable[String]): String = arr(xs.map(str))
}

/** One traced call into a layer. `depth` orders layers from the request's
  * root (0) down; a span's parent is the innermost enclosing span of the same
  * `id` at a smaller depth. */
final case class Span(layer: String, depth: Int, id: String, startUs: Long, endUs: Long)

object Trace {
  @volatile var on: Boolean = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  /** Request id of the driver-side call in progress on this thread (an API
    * call), inherited by the sink spans it causes. */
  val currentId = new ThreadLocal[String]

  def add(layer: String, depth: Int, id: String, startUs: Long, endUs: Long): Unit =
    if (on) spans.add(Span(layer, depth, id, startUs, endUs))

  def apply[A](layer: String, depth: Int, id: String)(body: => A): A =
    if (!on) body
    else {
      val prev = currentId.get
      currentId.set(id)
      val s = Clock.nowUs
      try body
      finally { spans.add(Span(layer, depth, id, s, Clock.nowUs)); currentId.set(prev) }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  // query id -> query name, so executor-side spans can name their batch
  val queryNames = new ConcurrentHashMap[String, String]()

  /** Request id of the code running on this thread: the micro-batch
    * (`query:batchId`) inside a streaming task, else the driver-side call. */
  def requestId: String = {
    val tc = TaskContext.get()
    if (tc != null && tc.getLocalProperty("streaming.sql.batchId") != null) {
      val q = Option(tc.getLocalProperty("sql.streaming.queryId"))
        .flatMap(k => Option(queryNames.get(k))).getOrElse("query")
      s"$q:${tc.getLocalProperty("streaming.sql.batchId")}"
    } else Option(currentId.get).getOrElse("driver")
  }

  def json: String = Json.arr(all.map(s =>
    Json.arr(Seq(Json.str(s.layer), s.depth.toString, Json.str(s.id),
      s.startUs.toString, s.endUs.toString))))
}

/** Delivery ledger for one metadata table: first delivery time and delivery
  * count per chunk key (`stream#index`). */
final class Book {
  private val first = new ConcurrentHashMap[String, java.lang.Long]()
  private val hits = new ConcurrentHashMap[String, Integer]()
  def hit(key: String, us: Long): Unit = {
    first.putIfAbsent(key, us)
    hits.merge(key, 1, (a: Integer, b: Integer) => Integer.valueOf(a + b))
  }
  def firstUs(key: String): Long = Option(first.get(key)).map(_.longValue).getOrElse(-1L)
  def count(key: String): Int = Option(hits.get(key)).map(_.intValue).getOrElse(0)
  def size: Int = first.size
  /** Chunks first delivered in [fromUs, untilUs). */
  def deliveredBetween(fromUs: Long, untilUs: Long): Int =
    first.values().asScala.count(t => t >= fromUs && t < untilUs)
  def clear(): Unit = { first.clear(); hits.clear() }
}

/** JVM-wide state shared by the sink wrappers (which run in executor
  * threads of the same JVM under local[n]). */
object Deliveries {
  val live = new Book
  val vod = new Book
  val sinkFailures = new AtomicLong
  val puts = new AtomicLong
  def key(streamId: String, idx: Long): String = s"$streamId#$idx"
  def clear(): Unit = { live.clear(); vod.clear(); sinkFailures.set(0); puts.set(0) }
}

private object SinkCall {
  def apply[A](layer: String)(body: => A): A = {
    val s = Clock.nowUs
    val out = try body catch { case e: Throwable => Deliveries.sinkFailures.incrementAndGet(); throw e }
    if (Trace.on) Trace.add(layer, 4, Trace.requestId, s, Clock.nowUs)
    out
  }
}

/** MetadataSink wrapper: stamps each chunk document's first delivery
  * (`live_metadata` upserts, and `vod_metadata` upserts that set
  * status=ready) and, when tracing, records a span per call. */
final class TimedMeta(inner: MetadataSink) extends MetadataSink {
  override def upsert(table: String, streamId: String, chunkIndex: Long,
      doc: Map[String, String]): Unit = {
    SinkCall("sink.upsert")(inner.upsert(table, streamId, chunkIndex, doc))
    if (chunkIndex >= 0) {
      val now = Clock.nowUs
      if (table == "live_metadata") Deliveries.live.hit(Deliveries.key(streamId, chunkIndex), now)
      else if (table == "vod_metadata" && doc.get("status").contains("ready"))
        Deliveries.vod.hit(Deliveries.key(streamId, chunkIndex), now)
    }
  }
  override def find(table: String, streamId: String, chunkIndex: Long): Option[Map[String, String]] =
    SinkCall("sink.read")(inner.find(table, streamId, chunkIndex))
  override def findLatest(table: String, streamId: String,
      pred: Map[String, String] => Boolean): Option[Map[String, String]] =
    SinkCall("sink.read")(inner.findLatest(table, streamId, pred))
  override def count(table: String): Long = SinkCall("sink.read")(inner.count(table))
}

final class TimedObjects(inner: ObjectStore) extends ObjectStore {
  override def put(bucket: String, key: String, body: Array[Byte],
      contentType: String, metadata: Map[String, String]): Unit = {
    SinkCall("sink.put")(inner.put(bucket, key, body, contentType, metadata))
    Deliveries.puts.incrementAndGet()
  }
  override def get(bucket: String, key: String): Option[Array[Byte]] =
    SinkCall("sink.read")(inner.get(bucket, key))
  override def keys(bucket: String): Seq[String] = SinkCall("sink.read")(inner.keys(bucket))
}

/** Open-loop sender: item i is due at `dueUs(i)` whatever happened to
  * earlier items. When `grouped`, every item due by the time the thread
  * wakes is fired in one `fire(from, until)` call (one source append);
  * otherwise items fire one by one. Lateness is send time minus due time. */
final class OpenLoop(name: String, n: Int, dueUs: Int => Long, grouped: Boolean)(
    fire: (Int, Int) => Unit) extends Thread(name) {
  val sentUs = new Array[Long](n)
  @volatile var fired = 0
  @volatile var error: Throwable = _
  setDaemon(true)
  override def run(): Unit =
    try {
      var i = 0
      while (i < n) {
        Clock.sleepUntil(dueUs(i))
        val now = Clock.nowUs
        var j = i + 1
        if (grouped) while (j < n && dueUs(j) <= now) j += 1
        var k = i
        while (k < j) { sentUs(k) = now; k += 1 }
        fire(i, j)
        i = j
        fired = j
      }
    } catch { case e: Throwable => error = e }
  def latenessMs: Seq[Double] = (0 until fired).map(i => (sentUs(i) - dueUs(i)) / 1000.0)
}

/** Process-level counters from the JVM's MXBeans and /proc. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuMs: Double = os.getProcessCpuTime / 1e6
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }
  def startUs: Long = ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
  def flags: Seq[String] = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq

  /** CPU and GC spent since `cpu0`/`gc0`, plus totals and peak RSS. */
  def window(cpu0: Double, gc0: Long): String = Json.obj(
    "window_cpu_ms" -> Json.num(cpuMs - cpu0), "window_gc_ms" -> (gcMs - gc0).toString,
    "gc_ms" -> gcMs.toString, "cpu_ms" -> Json.num(cpuMs), "peak_rss_mb" -> Json.num(peakRssMb))
}

/** SparkListener ledger of jobs, stages and tasks, tagged with the request
  * they served: the `perfbench.id` local property (catalog queries) or the
  * streaming query and batch id. Only records while `active`. */
final class Ledger extends SparkListener {
  @volatile var active = false
  private final class StageRec(val tag: String) {
    var submitMs = -1L; var doneMs = -1L; var numTasks = 0; var failed = false
    val taskMs = scala.collection.mutable.ArrayBuffer.empty[Long]
    var attempts = 0; var successes = 0
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var inputBytes = 0L; var inputRows = 0L; var runMs = 0L
  }
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val stages = new ConcurrentHashMap[(Int, Int), StageRec]()
  private val jobs = new ConcurrentLinkedQueue[String]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, String, Int)]()

  private def tagOf(p: java.util.Properties): String =
    if (p == null) "none"
    else Option(p.getProperty("perfbench.id")).getOrElse {
      val b = p.getProperty("streaming.sql.batchId")
      if (b == null) "none"
      else Option(p.getProperty("sql.streaming.queryId"))
        .flatMap(k => Option(Trace.queryNames.get(k))).getOrElse("query") + ":" + b
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
    val tag = tagOf(e.properties)
    e.stageIds.foreach(s => stageTag.put(s, tag))
    jobStart.put(e.jobId, (e.time, tag, e.stageIds.size))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (t0, tag, nStages) =>
      jobs.add(Json.arr(Seq(Json.str(tag), (t0 * 1000L).toString, (e.time * 1000L).toString,
        nStages.toString)))
    }
  private def rec(stageId: Int, attempt: Int): StageRec =
    stages.computeIfAbsent((stageId, attempt),
      _ => new StageRec(Option(stageTag.get(stageId)).getOrElse("none")))
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (stageTag.containsKey(e.stageInfo.stageId)) rec(e.stageInfo.stageId, e.stageInfo.attemptNumber())
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (stageTag.containsKey(e.stageId)) {
      val r = rec(e.stageId, e.stageAttemptId)
      r.synchronized {
        r.attempts += 1
        if (e.taskInfo.successful) { r.successes += 1; r.taskMs += e.taskInfo.duration }
        val m = e.taskMetrics
        if (m != null) {
          r.runMs += m.executorRunTime
          r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          r.inputBytes += m.inputMetrics.bytesRead
          r.inputRows += m.inputMetrics.recordsRead
        }
      }
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    if (stageTag.containsKey(i.stageId)) {
      val r = rec(i.stageId, i.attemptNumber())
      r.synchronized {
        r.submitMs = i.submissionTime.getOrElse(-1L)
        r.doneMs = i.completionTime.getOrElse(-1L)
        r.numTasks = i.numTasks
        r.failed = i.failureReason.isDefined
      }
    }
  }

  def json: String = Json.obj(
    "jobs" -> Json.arr(jobs.asScala),
    "stages" -> Json.arr(stages.asScala.toSeq.sortBy(_._1).map { case ((id, att), r) =>
      r.synchronized(Json.obj(
        "id" -> id.toString, "attempt" -> att.toString, "tag" -> Json.str(r.tag),
        "start_us" -> (r.submitMs * 1000L).toString, "end_us" -> (r.doneMs * 1000L).toString,
        "tasks" -> r.numTasks.toString, "failed" -> r.failed.toString,
        "task_ms" -> Json.longs(r.taskMs), "task_attempts" -> r.attempts.toString,
        "task_successes" -> r.successes.toString, "run_ms" -> r.runMs.toString,
        "shuffle_read_bytes" -> r.shuffleRead.toString,
        "shuffle_write_bytes" -> r.shuffleWrite.toString, "spill_bytes" -> r.spill.toString,
        "input_bytes" -> r.inputBytes.toString, "input_rows" -> r.inputRows.toString))
    }))
}
