package perfbench

import java.time.Instant
import java.time.format.DateTimeFormatter
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.ManifestFunctions
import graft.streaming.{ControlPlane, Dashboard, Metrics, Pipelines, Sinks, StreamSources}

final case class Ctx(spark: SparkSession, seed: Long, seconds: Double, trace: Boolean,
    runDir: String, nproc: Int, ledger: Ledger, args: Map[String, String])

/** One correctness check: `failed` of `attempted` operations were wrong. */
final case class Check(name: String, attempted: Long, failed: Long, detail: String) {
  def json: String = Json.obj("name" -> Json.str(name), "attempted" -> attempted.toString,
    "failed" -> failed.toString, "detail" -> Json.str(detail))
}

/** An in-process source standing in for a Kafka topic: each append is
  * visible to the next trigger. Appends are logged as (source offset,
  * cumulative rows, wall time) so admitted offsets in progress events can be
  * turned back into rows. */
final class Source(spark: SparkSession, nproc: Int) {
  val stream = new MemoryStream[String](Source.ids.getAndIncrement(), spark,
    Some(nproc))(Encoders.STRING)
  private val log = new ConcurrentLinkedQueue[String]()
  private var rows = 0L
  def frames = StreamSources.frames(stream.toDF())
  def append(values: Seq[String]): Unit = synchronized {
    val off = stream.addData(values)
    rows += values.size
    log.add(Json.arr(Seq(off.json(), rows.toString, Clock.nowUs.toString)))
  }
  def json: String = Json.arr(log.asScala)
}

object Source {
  // ids of benchmark sources, clear of the ones Spark hands out itself
  private[perfbench] val ids = new java.util.concurrent.atomic.AtomicInteger(1 << 20)
}

object Streams {
  private val iso = DateTimeFormatter.ISO_INSTANT

  /** Deterministic 64-bit mix of the seed and coordinates (splitmix64). */
  def mix(xs: Long*): Long = xs.foldLeft(0x9E3779B97F4A7C15L) { (h, x) =>
    var z = h + x * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** The reference producer's live event (producer.py field set), stamped
    * with its due time. */
  def liveEvent(sid: String, idx: Long, seq: Long, dueUs: Long): String = {
    val h = math.abs(mix(sid.hashCode.toLong, idx))
    s"""{"stream_id":"$sid","chunk_index":$idx,"sequence_number":$seq,""" +
      s""""timestamp":"${iso.format(Instant.ofEpochMilli(dueUs / 1000L))}",""" +
      s""""size_bytes":${500000L + h % 1500000L},"stream_type":"live","status":"received",""" +
      s""""checksum":"${java.lang.Long.toHexString(h)}","duration_ms":${2000L + h % 2000L},""" +
      s""""keyframe_aligned":true,"audio_track_id":"audio-$sid","video_track_id":"video-$sid"}"""
  }

  def registerNames(qs: StreamingQuery*): Unit =
    qs.foreach(q => Trace.queryNames.put(q.id.toString, q.name))

  def stopIdle(qs: StreamingQuery*): Unit = qs.foreach { q =>
    val deadline = System.nanoTime() + 10_000_000_000L
    while (q.isActive && q.status.isTriggerActive && System.nanoTime() < deadline) Thread.sleep(20)
    q.stop()
  }

  /** Block until `done` or the timeout; true when done. */
  def await(timeoutS: Double)(done: => Boolean): Boolean = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (!done && System.nanoTime() < deadline) Thread.sleep(5)
    done
  }

  def progressJson(q: StreamingQuery): String = Json.arr(q.recentProgress.map(_.json).toSeq)

  /** First-delivery latency per key, in due order; a key never delivered
    * is infinitely late (null in the artifact). */
  def latencies(keys: Seq[String], dueUs: Seq[Long], book: Book): Seq[Double] =
    keys.zip(dueUs).map { case (k, d) =>
      val t = book.firstUs(k)
      if (t < 0) Double.PositiveInfinity else (t - d) / 1000.0
    }

  def deliveryCheck(name: String, keys: Seq[String], book: Book): Check = {
    val missing = keys.count(book.count(_) == 0)
    val twice = keys.count(book.count(_) > 1)
    Check(name, keys.size, missing + twice, s"missing=$missing delivered_twice=$twice")
  }

  def dnum(xs: Iterable[Double]): String = Json.arr(xs.map(Json.num))
}

/** Reference topology: live (1 s) and VOD (5 s) queries on one session,
  * RocksDB keyed state, durable file sinks, open-loop producers, a player
  * poller and a once-a-second metrics scrape. */
object MediaSteady {
  import Streams._

  val LiveStreams = 16
  val LiveRate = 100.0 // chunks/s over all live streams
  val MalformedShare = 100 // one frame in this many is malformed
  val GapEvery = 40 // one chunk in this many jumps its sequence number
  val VodRate = 5.0 // chunks/s through the API
  val ChunksPerVod = 10
  val ReadRate = 20.0 // player calls/s; every 20th slot is a metrics scrape
  val WarmS = 8.0 // seconds of load before the window, while the JIT settles
  val Reps = 3


  private final class Topology(ctx: Ctx, rep: Int) {
    val dir = s"${ctx.runDir}/media/rep$rep"
    val live = new Source(ctx.spark, ctx.nproc)
    val vod = new Source(ctx.spark, ctx.nproc)
    val rawObjects = new Sinks.FileObjectStore(s"$dir/objects")
    val objects = new TimedObjects(rawObjects)
    val meta = new TimedMeta(new Sinks.FileMetadataSink(s"$dir/meta"))
    private var ids = 0L
    val api = new ControlPlane.Api(objects, meta, (_, ev) => vod.append(Seq(ev)),
      newId = () => synchronized { ids += 1; f"${ctx.seed}%x$rep$ids%08d" })
    val liveSids = (0 until LiveStreams).map(k => s"live-${ctx.seed}-r$rep-$k")
    val vodSid0 = s"vod-${ctx.seed}-r$rep-warm"

    // stream starts, a first chunk per live stream and one VOD upload, queued
    // before the queries start so that their first batches deliver them
    liveSids.foreach(s => api.startStream(ControlPlane.StreamStartRequest(
      "home", "away", "league", matchId = Some(s))))
    live.append(liveSids.map(s => liveEvent(s, 0L, 0L, Clock.nowUs)))
    api.uploadVod(ControlPlane.VodUploadRequest("warm", 6.0, 8000000L, streamId = Some(vodSid0)))
    val (vodQ, liveQ) = Pipelines.startTopology(ctx.spark, vod.frames, live.frames,
      objects, meta, s"$dir/ckpt")
    registerNames(vodQ, liveQ)
    require(await(120)(Deliveries.live.size >= LiveStreams && Deliveries.vod.size >= 1),
      "warm-up chunks were not delivered")

    def stop(): Unit = stopIdle(liveQ, vodQ)
  }

  def run(ctx: Ctx): Seq[(String, String)] = {
    val S = ctx.seconds
    // set up Reps times; the last topology stays up for the measurement
    val repS = scala.collection.mutable.ArrayBuffer.empty[Double]
    var topo: Topology = null
    for (rep <- 1 to Reps) {
      Deliveries.clear()
      if (rep == Reps) { Metrics.reset(); Dashboard.series.clear() }
      val t0 = Clock.nowUs
      topo = new Topology(ctx, rep)
      repS += (Clock.nowUs - t0) / 1e6
      if (rep < Reps) topo.stop()
    }
    val t = topo

    // ---- schedules, all from the seed
    val loadStart = Clock.nowUs + 50000L
    val winStart = loadStart + (WarmS * 1e6).toLong
    val winEnd = winStart + (S * 1e6).toLong
    val nLive = ((WarmS + S) * LiveRate).toInt
    val liveDue = Array.tabulate(nLive)(i => loadStart + (i * 1e6 / LiveRate).toLong)
    val malformed = Array.tabulate(nLive)(i => math.floorMod(mix(ctx.seed, 1, i), MalformedShare) == 0)
    val liveSid = new Array[String](nLive)
    val liveIdx = new Array[Long](nLive)
    val liveSeq = new Array[Long](nLive)
    val nextIdx = Array.fill(LiveStreams)(1L)
    val seqOff = Array.fill(LiveStreams)(0L)
    val order = (0 until LiveStreams).sortBy(k => mix(ctx.seed, 2, k))
    var chunks = 0
    var gapSlots = 0L
    var gapPoints = 0
    for (i <- 0 until nLive if !malformed(i)) {
      val k = order(chunks % LiveStreams)
      chunks += 1
      val idx = nextIdx(k); nextIdx(k) += 1
      val g = mix(ctx.seed, 3, k, idx)
      if (math.floorMod(g, GapEvery) == 0) {
        val skip = 1 + math.floorMod(g >>> 8, 3)
        seqOff(k) += skip; gapSlots += skip; gapPoints += 1
      }
      liveSid(i) = t.liveSids(k); liveIdx(i) = idx; liveSeq(i) = idx + seqOff(k)
    }
    val liveGen = new OpenLoop("gen-live", nLive, liveDue(_), grouped = true)((a, b) =>
      t.live.append((a until b).map(i =>
        if (malformed(i)) s"""{"stream_id": <malformed frame $i>"""
        else liveEvent(liveSid(i), liveIdx(i), liveSeq(i), liveDue(i)))))

    val nVod = ((WarmS + S) * VodRate).toInt
    // half a slot out of phase with the live schedule
    val vodDue = Array.tabulate(nVod)(j => loadStart + ((j + 0.5) * 1e6 / VodRate).toLong)
    val vodKey = new Array[String](nVod)
    val apiWriteFail = new java.util.concurrent.atomic.AtomicLong
    val vodGen = new OpenLoop("gen-vod", nVod, vodDue(_), grouped = false)((j, _) => {
      val sid = s"vod-${ctx.seed}-${j / ChunksPerVod}"
      val size = 8000000L + math.floorMod(mix(ctx.seed, 4, j), 42000000L)
      val dur = 4.0 + math.floorMod(mix(ctx.seed, 5, j), 4000L) / 1000.0
      try Trace("api.write", 0, s"$sid#op$j") {
        if (j % ChunksPerVod == 0) {
          t.api.uploadVod(ControlPlane.VodUploadRequest(s"Match $sid", dur, size, streamId = Some(sid)))
          vodKey(j) = Deliveries.key(sid, 0L)
        } else t.api.appendVodChunk(sid, dur, size) match {
          case Some(idx) => vodKey(j) = Deliveries.key(sid, idx)
          case None => apiWriteFail.incrementAndGet()
        }
      } catch { case _: Exception => apiWriteFail.incrementAndGet() }
    })

    val nRead = ((WarmS + S) * ReadRate).toInt
    val readDue = Array.tabulate(nRead)(r => loadStart + ((r + 0.25) * 1e6 / ReadRate).toLong)
    val apiReadFail = new java.util.concurrent.atomic.AtomicLong
    val scrapeFail = new java.util.concurrent.atomic.AtomicLong
    val scrapeBytes = new ConcurrentLinkedQueue[Long]()
    val pollGen = new OpenLoop("gen-poll", nRead, readDue(_), grouped = false)((r, _) => {
      val sid = t.liveSids(r % LiveStreams)
      if (r % 20 == 19) {
        try Trace("metrics.scrape", 0, s"scrape:$r") {
          scrapeBytes.add(Metrics.exposition.getBytes("UTF-8").length.toLong)
        } catch { case _: Exception => scrapeFail.incrementAndGet() }
      } else {
        val ok = try Trace("api.read", 0, s"read:$r") {
          r % 4 match {
            case 0 => t.api.liveManifestUrl(sid).isDefined
            case 1 => t.api.streamMetadata(sid).isDefined
            case 2 => t.api.vodMetadata(t.vodSid0, 0L).isDefined
            case _ => t.api.vodManifestUrl(t.vodSid0).isDefined
          }
        } catch { case _: Exception => false }
        if (!ok) apiReadFail.incrementAndGet()
      }
    })

    val gens = Seq(liveGen, vodGen, pollGen)
    ctx.ledger.active = ctx.trace
    gens.foreach(_.start())
    Clock.sleepUntil(winStart)
    val cpu0 = Jvm.cpuMs; val gc0 = Jvm.gcMs
    Clock.sleepUntil(winEnd)
    val jvm = Jvm.window(cpu0, gc0)
    gens.foreach(_.join())
    ctx.ledger.active = false
    gens.foreach(g => Option(g.error).foreach(e => throw e))

    // ---- drain, then check what the sinks hold
    val liveKeys = t.liveSids.map(Deliveries.key(_, 0L)) ++
      (0 until nLive).filterNot(malformed).map(i => Deliveries.key(liveSid(i), liveIdx(i)))
    val vodKeys = Deliveries.key(t.vodSid0, 0L) +: vodKey.toSeq.filter(_ != null)
    await(60)(Deliveries.live.size >= liveKeys.size && Deliveries.vod.size >= vodKeys.size)
    await(10)(Metrics.counter("spark_live_chunks_processed_total") >= liveKeys.size)
    t.stop()

    val corrupt = Metrics.counter("decode_metrics.corrupt_rows")
    val nMalformed = malformed.count(identity)
    val gapsSeen = Metrics.counter("live_chunk_gaps_total")
    val badManifests = t.liveSids.zipWithIndex.flatMap { case (sid, k) =>
      val last = nextIdx(k) - 1
      val m = t.rawObjects.getString("manifests", s"$sid/live_manifest.m3u8").getOrElse("")
      val segs = m.linesIterator.count(_.startsWith("#EXTINF"))
      val tail = m.linesIterator.filter(l => l.nonEmpty && !l.startsWith("#")).toSeq.lastOption
      if (segs <= 10 && tail.exists(_.endsWith(ManifestFunctions.chunkUri(sid, last)))) None
      else Some(s"$sid:segments=$segs,last=${tail.getOrElse("none")}")
    }
    val checks = Seq(
      deliveryCheck("live_chunks_delivered_once", liveKeys, Deliveries.live),
      deliveryCheck("vod_chunks_ready_once", vodKeys, Deliveries.vod),
      Check("corrupt_rows_counted", nMalformed, math.min(nMalformed.toLong, math.abs(corrupt - nMalformed)),
        s"injected=$nMalformed decode_metrics.corrupt_rows=$corrupt"),
      // a miscount fails at least one gap point, at most all of them
      Check("gaps_counted", gapPoints,
        if (gapsSeen == gapSlots) 0L else math.min(gapPoints.toLong, math.max(1L, math.abs(gapsSeen - gapSlots))),
        s"injected_gap_points=$gapPoints injected_missing=$gapSlots live_chunk_gaps_total=$gapsSeen"),
      Check("live_manifests", LiveStreams, badManifests.size, badManifests.mkString(" ")),
      Check("api_calls", nVod + (nRead - nRead / 20), apiWriteFail.get + apiReadFail.get,
        s"write_failures=${apiWriteFail.get} read_failures=${apiReadFail.get}"),
      Check("metrics_scrapes", nRead / 20, scrapeFail.get, ""),
      Check("sink_calls", Deliveries.puts.get, Deliveries.sinkFailures.get,
        "attempted counts object puts; failed counts exceptions from any sink call"))

    // ---- raw samples for the window
    val inWin = (d: Long) => d >= winStart && d < winEnd
    val liveWin = (0 until nLive).filter(i => !malformed(i) && inWin(liveDue(i)))
    val liveLat = latencies(liveWin.map(i => Deliveries.key(liveSid(i), liveIdx(i))),
      liveWin.map(liveDue(_)), Deliveries.live)
    val vodWin = (0 until nVod).filter(j => vodKey(j) != null && inWin(vodDue(j)))
    val vodLat = latencies(vodWin.map(vodKey(_)), vodWin.map(vodDue(_)), Deliveries.vod)
    def lateness(g: OpenLoop, due: Array[Long]) =
      dnum(g.latenessMs.zipWithIndex.collect { case (l, i) if inWin(due(i)) => l })

    Seq(
      "setup" -> Json.obj("reps_s" -> dnum(repS)),
      "window" -> Json.obj("start_us" -> winStart.toString, "end_us" -> winEnd.toString,
        "load_start_us" -> loadStart.toString,
        "delivered" -> (Deliveries.live.deliveredBetween(winStart, winEnd) +
          Deliveries.vod.deliveredBetween(winStart, winEnd)).toString),
      "load" -> Json.obj("live_rate" -> Json.num(LiveRate), "vod_rate" -> Json.num(VodRate),
        "read_rate" -> Json.num(ReadRate), "live_streams" -> LiveStreams.toString,
        "malformed_frames" -> nMalformed.toString, "gap_points" -> gapPoints.toString,
        "events" -> (nLive + nVod + nRead).toString),
      "live" -> Json.obj("lat_ms" -> dnum(liveLat)),
      "vod" -> Json.obj("lat_ms" -> dnum(vodLat)),
      "gen" -> Json.obj("live" -> lateness(liveGen, liveDue), "vod" -> lateness(vodGen, vodDue),
        "poll" -> lateness(pollGen, readDue)),
      "source" -> Json.obj("live" -> t.live.json, "vod" -> t.vod.json),
      "progress" -> Json.obj("live" -> progressJson(t.liveQ), "vod" -> progressJson(t.vodQ)),
      "scrape_bytes" -> Json.longs(scrapeBytes.asScala),
      "sink" -> Json.obj("puts" -> Deliveries.puts.get.toString,
        "delivered" -> (Deliveries.live.size + Deliveries.vod.size).toString,
        "failures" -> Deliveries.sinkFailures.get.toString),
      "decode" -> Json.obj("corrupt_rows" -> corrupt.toString),
      "checks" -> Json.arr(checks.map(_.json)),
      "jvm" -> jvm)
  }
}
