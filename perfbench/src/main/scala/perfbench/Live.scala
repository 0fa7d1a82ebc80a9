package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLongArray}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.HttpServe
import graft.projection.{SignalProjection, SignalStore}
import graft.sources.FileEventSource
import graft.streaming.StreamingProjection

/** `live`: an open loop. A generator lands a small JSON-lines file on a
  * fixed schedule (written outside the watched directory, then renamed
  * in); each file carries one marker event with a unique id and a current
  * `created_at`. A poller finds each marker on the newest-first listing,
  * and two paced reader threads run the read mix beside it, each response
  * checked against the events landed so far. The stream runs with
  * HttpServe `--live`'s settings: ProcessingTime 1 s, 16 files per
  * trigger, 8 buckets. Freshness is timed from each file's due time.
  * After the window, a burst of files measures the stream's ingest rate.
  */
final class Live(ctx: Ctx) extends Workload {
  import Live._

  private var dir: Path = _
  private var proj: TracedProjection = _
  private var query: StreamingQuery = _
  private var server: com.sun.net.httpserver.HttpServer = _
  private var base: String = _
  private var nextFile = 0
  /** Every event landed so far, per key, in landing order. */
  private val history = mutable.HashMap.empty[String, mutable.ArrayBuffer[Ev]]

  private def watch = dir.resolve("watch")

  /** Fresh state dir and fresh checkpoint, seeded with one file; done
    * when the seed is served.
    */
  def setup(): Unit = {
    close()
    dir = Workload.freshDir(ctx, "live")
    Files.createDirectories(watch)
    Files.createDirectories(dir.resolve("staging"))
    nextFile = 0
    history.clear()
    val seedLog = Gen.signalLog(ctx.seed, SeedEvents, Keys)
    remember(0, seedLog)
    Gen.land(dir.resolve("staging"), watch, "seed.json", seedLog)
    proj = new TracedProjection(ctx.spark, dir.resolve("state").toString, 8)
    query = proj.run(FileEventSource(watch.toString, maxFilesPerTrigger = 16),
      dir.resolve("chk").toString, Trigger.ProcessingTime("1 second"))
    server = HttpServe.startLive(ctx.spark, proj, 0)
    base = s"http://127.0.0.1:${server.getAddress.getPort}"
    val client = new Client(base)
    val deadline = System.nanoTime() + 60000000000L
    while (!client.get("/signals")._2.contains(Gen.keyId(0).take(4)) &&
        System.nanoTime() < deadline) Thread.sleep(50)
  }

  /** Three timed rounds: each one starts a stream and a server (about 3 s). */
  def setupRounds: Int = 3

  private def remember(ordinal: Int, lines: Seq[Gen.Line]): Unit =
    lines.foreach(l => history.getOrElseUpdate(l.id, mutable.ArrayBuffer.empty) +=
      Ev(ordinal, l.seq, l.action == "deleted"))

  /** The signal events of file `f` (its marker is added when it lands),
    * remembered under the file's ordinal `f + 1`; the seed file is 0.
    */
  private def fileEvents(f: Int): Vector[Gen.Line] = {
    val lines = Gen.signalLog(ctx.seed * 1000003L + f, EventsPerFile - 1, Keys, seq0(f))
    remember(f + 1, lines)
    lines
  }

  private def landFile(f: Int, events: Vector[Gen.Line]): Unit = {
    val marker = Gen.marker(seq0(f) + EventsPerFile - 1, f, System.currentTimeMillis() / 1000)
    Trace.span("land")(Gen.land(dir.resolve("staging"), watch, f"f-$f%06d.json", events :+ marker))
  }

  def measure(traced: Boolean): Window = {
    // Triggers fire on whole seconds of the wall clock. The schedule starts
    // a quarter second past one, so files land at .25 and .75 s and wait
    // half a trigger interval on average, in every run alike.
    Thread.sleep((1250 - System.currentTimeMillis() % 1000) % 1000)
    val clock = new Clock
    val periodNs = 1000000000L / FilesPerSecond
    val nFiles = ctx.seconds * FilesPerSecond
    val first = nextFile
    val events = Array.tabulate(nFiles)(i => fileEvents(first + i))
    val due = Array.tabulate(nFiles)(i => clock.t0 + i * periodNs)
    val landing = new AtomicInteger(0)
    val landedAt = new AtomicLongArray(nFiles)
    val seenAt = new AtomicLongArray(nFiles)
    ctx.progress.drain()

    val generator = new Thread(() => {
      var i = 0
      while (i < nFiles) {
        val wait = due(i) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        landing.set(i + 1)
        landFile(first + i, events(i))
        landedAt.set(i, System.nanoTime())
        i += 1
      }
    }, "perfbench-generator")

    val stopPoll = new AtomicBoolean(false)
    val pollErrors = new AtomicInteger(0)
    val markerIds = (0 until nFiles).map(i => Gen.markerId(first + i) -> i).toMap
    val poller = new Thread(() => {
      val client = new Client(base)
      val pending = new ConcurrentHashMap[String, Integer](markerIds.map { case (k, v) => k -> Int.box(v) }.asJava)
      while (!stopPoll.get() && !pending.isEmpty) {
        val (status, body) = Trace.span("poll")(client.get("/signals"))
        val at = System.nanoTime()
        if (status != 200) pollErrors.incrementAndGet()
        else Live.markers(body).foreach { id =>
          val i = pending.remove(id)
          if (i != null) seenAt.set(i, at)
        }
        Thread.sleep(PollSleepMs)
      }
    }, "perfbench-poller")

    // A read sent at `sent` may see any prefix of the files from those
    // already served to the poller by then to those landing when it ends.
    val readers = new Readers(base, ctx.seed, Keys, ReaderThreads, (req, sent, status, body) =>
      check(req, status, body, first + 1 + visibleLead(seenAt, sent), first + 1 + landing.get))
    generator.start(); poller.start(); readers.start()
    Thread.sleep(math.max(0L, (clock.t0 + ctx.seconds * 1000000000L - System.nanoTime()) / 1000000L))
    readers.finish()
    val closeNs = System.nanoTime()
    generator.join()
    val backlogEnd = (0 until nFiles).count { i =>
      val l = landedAt.get(i); val s = seenAt.get(i)
      l != 0 && l <= closeNs && (s == 0 || s > closeNs)
    } * EventsPerFile
    // Drain off the clock: every marker must become visible.
    val drainDeadline = System.nanoTime() + DrainSec * 1000000000L
    while ((0 until nFiles).exists(seenAt.get(_) == 0L) && System.nanoTime() < drainDeadline)
      Thread.sleep(20)
    stopPoll.set(true)
    poller.join()
    val landed = Array.tabulate(nFiles)(landedAt.get)
    val seen = Array.tabulate(nFiles)(seenAt.get)
    nextFile += nFiles
    val windowS = (closeNs - clock.t0) / 1e9
    val batches = ctx.progress.drain().filter(_.rows > 0)
    val late = latenessMs(due, landed)
    // Per-batch counters are read before the burst adds its own batches.
    val streamLayers = if (!traced) Map.empty[String, Double] else {
      // The poller's GETs go through the same handlers as the readers'.
      val requests = (readers.all.size + Trace.named("poll").size).max(1).toDouble
      StreamLayers(batches) ++ readers.layers ++ freshLayers(clock, batches, landed, seen) ++ Map(
        "gen.late_p99_ms" -> Stats.percentile(late, 0.99),
        "http.jobs_per_request" ->
          Trace.named("spark.job").count(_.attrs("batch") < 0) / requests,
        "http.gen_swaps" -> batches.size.toDouble)
    }
    val (ingestEps, burstBatches, burstOk) = burst()

    val missing = seen.count(_ == 0L)
    if (missing > 0) System.err.println(s"[perfbench] $missing markers never became visible")
    val fresh = freshnessMs(due, seen)
    val tail = Stats.tailLevel(fresh.size).filter(_ > 0.5).toSeq
    val stateMb = Workload.treeFiles(dir.resolve("state")).map(Files.size).sum / 1048576.0
    val figures = Seq(
      Figure("fresh_p50_ms", Stats.percentile(fresh, 0.5), "ms"),
      Figure("fresh_samples", fresh.size, "count")) ++
      tail.map(p => Figure(f"fresh_p${p * 100}%.0f_ms", Stats.percentile(fresh, p), "ms")) ++ Seq(
      Figure("backlog_end", backlogEnd, "events"),
      Figure("gen.late_p99_ms", Stats.percentile(late, 0.99), "ms"),
      Figure("ingest_eps", ingestEps, "1/s"),
      Figure("burst_batches", burstBatches, "count"),
      Figure("state_mb", stateMb, "MB")) ++
      readers.figures(windowS)
    val layers = if (!traced) Map.empty[String, Double]
      else streamLayers ++ Map("http.fs_ops_per_request" -> fsOpsPerRequest()) ++
        StreamLayers.store(proj.store, dir.resolve("state")) ++
        DirectStore.layers(proj.view, Gen.keyId(1))
    Window(
      throughput = ingestEps,
      p50Ms = Stats.percentile(fresh, 0.5),
      attempted = readers.attempted.get + nFiles + 1,
      failed = readers.failed.get + missing + pollErrors.get + (if (burstOk) 0 else 1),
      figures = figures, layers = layers)
  }

  /** Ingest capacity: `BurstFiles` files land at once, between two
    * triggers, and the stream folds them at 16 files per batch. The rate
    * is their events over the summed `triggerExecution` of those batches,
    * so it is set by the stream alone, not by the generator's schedule.
    * Returns (events/s, batches, whether every event was folded in time).
    */
  private def burst(): (Double, Int, Boolean) = {
    val files = (0 until BurstFiles).map(nextFile + _)
    val events = files.map(fileEvents)
    nextFile += BurstFiles
    // ProcessingTime triggers fire on whole seconds of the wall clock.
    Thread.sleep((1300 - System.currentTimeMillis() % 1000) % 1000)
    ctx.progress.drain()
    files.zip(events).foreach { case (f, e) => landFile(f, e) }
    val want = BurstFiles.toLong * EventsPerFile
    val got = mutable.ArrayBuffer.empty[ProgressLog.Batch]
    val deadline = System.nanoTime() + DrainSec * 1000000000L
    while (got.map(_.rows).sum < want && System.nanoTime() < deadline) {
      Thread.sleep(20)
      got ++= ctx.progress.drain().filter(_.rows > 0)
    }
    val rows = got.map(_.rows).sum
    if (rows != want) System.err.println(s"[perfbench] burst folded $rows of $want events")
    val busyS = got.map(_.ms("triggerExecution")).sum / 1000.0
    (if (busyS > 0) rows / busyS else 0.0, got.size, rows == want)
  }

  /** File-system operations of the HTTP handlers per request, over a
    * fixed run of the read mix against the settled store (no generation
    * swap can happen in it), so that the count repeats exactly.
    */
  private def fsOpsPerRequest(): Double = {
    val client = new Client(base)
    val mix = new Mix(ctx.seed, Keys)
    val before = CountingFileSystem.total("http")
    (1 to ProbeRequests).foreach(_ => client.get(mix.next().path))
    (CountingFileSystem.total("http") - before).toDouble / ProbeRequests
  }

  /** A read's response against every state the key may be in: lists are
    * the newest-first top 50 (or a priority page in id order) whose rows
    * each match an event of their key; a point lookup is such a row, or
    * a 404 when the key may be deleted or was never written.
    */
  private def check(req: Req, status: Int, body: String, lo: Int, hi: Int): Boolean = {
    def states(id: String) = Live.states(history.getOrElse(id, Nil), lo, hi)
    def rowOk(r: JsonNode) = {
      val id = r.path("id").asText
      id.startsWith("mk-") || states(id).exists(_.exists(e =>
        !e.deleted && r.path("title").asText.endsWith(s" ${e.seq}")))
    }
    req.route match {
      case "health" => status == 200
      case "list" | "list_priority" =>
        status == 200 && parse(body).exists { rows =>
          val rs = rows.elements().asScala.toVector
          rows.isArray && rs.forall(_.isObject) && listingOrdered(rs.map(r => (r.path("id").asText,
            r.path("created_at").asText, r.path("priority").asText)), req.priority) &&
            rs.forall(rowOk)
        }
      case _ =>
        val id = req.id.get
        if (status == 404) body == NotFound && states(id).exists(_.forall(_.deleted))
        else status == 200 && parse(body).exists(r => r.path("id").asText == id && rowOk(r))
    }
  }

  /** Freshness split per file: land → start of the trigger that read it,
    * that batch's execution, batch end → first served. Files are read in
    * landing order, so the batch of file i follows from cumulative rows.
    */
  private def freshLayers(clock: Clock, batches: Seq[ProgressLog.Batch], landed: Array[Long],
      seen: Array[Long]): Map[String, Double] = {
    val ordered = batches.sortBy(_.batchId)
    val cum = ordered.scanLeft(0L)(_ + _.rows / EventsPerFile).tail
    val parts = landed.indices.flatMap { i =>
      val b = cum.indexWhere(_ > i)
      if (b < 0 || seen(i) == 0) None
      else {
        val batch = ordered(b)
        val landMs = clock.epochMs(landed(i))
        Some((batch.startMs - landMs, batch.ms("triggerExecution").toDouble,
          clock.epochMs(seen(i)) - batch.endMs))
      }
    }
    val backlog = ordered.zipWithIndex.map { case (b, k) =>
      landed.count(l => l != 0 && clock.epochMs(l) < b.startMs) - (if (k == 0) 0L else cum(k - 1))
    }
    Map(
      "fresh.pickup_p50_ms" -> Stats.percentile(parts.map(_._1), 0.5),
      "fresh.exec_p50_ms" -> Stats.percentile(parts.map(_._2), 0.5),
      "fresh.serve_p50_ms" -> Stats.percentile(parts.map(_._3), 0.5),
      "sources.backlog_files_max" -> (if (backlog.isEmpty) 0.0 else backlog.max.toDouble))
  }

  /** The final view must equal the batch projection of every landed file. */
  def verify(): (Long, Long) = {
    query.processAllAvailable()
    val expected = fingerprint(SignalProjection.project(SignalProjection.decode(
      ctx.spark.read.schema(FileEventSource(".").schema).json(watch.toString))))
    val ok = fingerprint(proj.view) == expected
    if (!ok) System.err.println("[perfbench] live view differs from the batch projection")
    (1L, if (ok) 0L else 1L)
  }

  override def close(): Unit = {
    if (server != null) server.stop(0)
    if (query != null) { query.stop(); query.awaitTermination() }
    server = null; query = null
  }
}

object Live {
  val FilesPerSecond = 2
  val EventsPerFile = 100
  val SeedEvents = 10000
  val Keys = 10000L
  val ReaderThreads = 2
  val PollSleepMs = 10L
  val DrainSec = 30
  /** Files of the capacity burst: four batches at 16 files per trigger. */
  val BurstFiles = 64
  val ListSize = 50
  val ProbeRequests = 40
  val NotFound = """{"error": "not found"}"""

  /** One landed event of a key: the ordinal of its file, its seq, and
    * whether it deletes the key.
    */
  final case class Ev(ordinal: Int, seq: Long, deleted: Boolean)

  /** First seq of file `f`; the seed file holds seqs below SeedEvents. */
  def seq0(f: Int): Long = SeedEvents + f.toLong * EventsPerFile

  private val MarkerRe = "\"id\": \"(mk-[0-9]+)\"".r
  private val Json = new ObjectMapper()

  /** Per served file: first served − due (ms); unserved files excluded. */
  def freshnessMs(due: Array[Long], seen: Array[Long]): Seq[Double] =
    due.indices.filter(seen(_) != 0L).map(i => (seen(i) - due(i)) / 1e6)

  /** Per file: landed − due (ms), the generator's lateness. */
  def latenessMs(due: Array[Long], landed: Array[Long]): Seq[Double] =
    due.indices.map(i => (landed(i) - due(i)) / 1e6)

  /** Marker ids present in a listing body. */
  def markers(body: String): Iterator[String] = MarkerRe.findAllMatchIn(body).map(_.group(1))

  /** How many of a window's files were surely visible at `t`: the leading
    * run of files whose marker had been served by then (a batch folds
    * files in landing order).
    */
  def visibleLead(seen: AtomicLongArray, t: Long): Int = {
    var i = 0
    while (i < seen.length && seen.get(i) != 0L && seen.get(i) <= t) i += 1
    i
  }

  /** The states a key may be served in when any prefix of `lo` to `hi`
    * files is visible: its last event among those files, None when it
    * has none. `evs` are the key's events in landing order.
    */
  def states(evs: collection.Seq[Ev], lo: Int, hi: Int): Seq[Option[Ev]] =
    (lo to hi).map(p => evs.takeWhile(_.ordinal < p).lastOption).distinct

  /** Listing order: the newest-first listing holds exactly `ListSize` rows
    * by `created_at` descending, then id descending; a priority page holds
    * up to `MaxPageSize` rows of that priority by id ascending. Rows are
    * (id, created_at, priority).
    */
  def listingOrdered(rows: Seq[(String, String, String)], priority: Option[String]): Boolean =
    priority match {
      case None => rows.size == ListSize && rows.zip(rows.drop(1)).forall {
        case ((i1, c1, _), (i2, c2, _)) => c1 > c2 || (c1 == c2 && i1 > i2)
      }
      case Some(p) => rows.nonEmpty && rows.size <= SignalStore.MaxPageSize &&
        rows.forall(_._3 == p) && rows.zip(rows.drop(1)).forall { case (a, b) => a._1 < b._1 }
    }

  private def parse(body: String): Option[JsonNode] =
    try Some(Json.readTree(body)) catch { case NonFatal(_) => None }

  /** Row count and order-independent hash of a view's columns. */
  def fingerprint(view: DataFrame): (Long, java.math.BigDecimal) = {
    val r = view.select(ViewColumns.map(col): _*)
      .agg(count(lit(1)), sum(xxhash64(ViewColumns.map(col): _*).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  val ViewColumns: Seq[String] =
    Seq("id", "seq", "action", "title", "content", "priority", "author",
      "created_at", "updated_at")
}

/** The production projection with each public `processBatch` call wrapped
  * in a `batch` span.
  */
final class TracedProjection(spark: org.apache.spark.sql.SparkSession,
    stateDir: String, buckets: Int)
    extends StreamingProjection(spark, stateDir, buckets) {
  override def processBatch(batch: DataFrame, batchId: Long): Unit =
    Trace.span("batch")(super.processBatch(batch, batchId))
}

/** Monotonic clock with an epoch-ms view, to line bench times up with
  * Spark's progress timestamps.
  */
final class Clock {
  val t0: Long = System.nanoTime()
  private val epoch0 = System.currentTimeMillis()
  def epochMs(nanos: Long): Double = epoch0 + (nanos - t0) / 1e6
}
