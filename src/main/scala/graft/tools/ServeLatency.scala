package graft.tools

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.HttpServe
import graft.streaming.StreamingProjection

/** Steady-state serving-latency capture (SCALING.md §10): HttpChaos
  * proved the live serving loop SURVIVES executor loss; this measures
  * what it COSTS — per-route p50/p95/p99 under concurrent clients,
  * in two phases:
  *
  *   calm    the event log fully replayed, state static: one serving
  *           generation, every request hits the memoized per-generation
  *           plans ([[HttpServe]]'s Serving cache) — the reference's
  *           read path (1 ZRANGE + N HGETALL over a settled view,
  *           data-plane/internal/projection/signal.go:70-81) measured
  *           like-for-like;
  *   ingest  the same routes while the streaming projection SUSTAINS
  *           micro-batches (a feeder appends an events file per second
  *           for the whole window), so requests race generation swaps —
  *           the serving-set rebuild cost and the one-generation-lag
  *           consistency window show up in the tail.
  *
  * The generation-token cache-hit rate is derived by construction:
  * [[HttpServe]] rebuilds the Serving exactly once per generation
  * advance (the volatile-swap `current()` path; retries would add more,
  * and the capture requires zero errors), so
  * hit_rate = 1 − generations_advanced / requests, with the advance
  * count read from the projection's own state store token.
  *
  * Output: one labeled JSON line per phase, APPENDED to
  * SERVELAT.local.json (the streamtp.sh record discipline — never
  * truncated), each carrying load1 at start so the artifact-side calm
  * check can reject contended captures.
  *
  * Usage: runMain graft.tools.ServeLatency [nEvents] [nFiles] [windowSec] [clients]
  */
object ServeLatency {

  private final case class Route(name: String, path: String) {
    val lats = new ConcurrentLinkedQueue[java.lang.Long]() // micros
  }

  private def pct(sorted: Array[Long], p: Double): Double = {
    // nearest-rank on the sorted micros, reported in ms
    val idx = math.min(sorted.length - 1, math.max(0,
      math.ceil(p * sorted.length).toInt - 1))
    sorted(idx) / 1000.0
  }

  def main(args: Array[String]): Unit = {
    val nEvents = if (args.length > 0) args(0).toLong else 1000000L
    val nFiles = if (args.length > 1) args(1).toInt else 32
    val windowSec = if (args.length > 2) args(2).toInt else 60
    val nClients = if (args.length > 3) args(3).toInt else 4
    val nKeys = math.max(1000L, nEvents / 10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    // SPARK_GRAFT_MASTER / SPARK_GRAFT_JARS / SPARK_GRAFT_EXECUTOR_MEM:
    // same contract as Bench/StreamThroughput — point the capture at the
    // tools/cluster.sh standalone cluster so serving collects fetch
    // state across real process boundaries (§10's topology column).
    val builder = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    sys.env.get("SPARK_GRAFT_JARS").foreach(builder.config("spark.jars", _))
    sys.env.get("SPARK_GRAFT_EXECUTOR_MEM")
      .foreach(builder.config("spark.executor.memory", _))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_CONF=k=v,k=v — Bench's injector, ONE shared definition
    // (graft.Bench.injectConf) so the parse cannot drift between tools;
    // the applied confs ride in the JSON line so the record is
    // self-describing.
    val injectedConf = graft.Bench.injectConf(spark)
    def load1: Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage

    val root = java.nio.file.Files.createTempDirectory("graft-servelat-").toString
    val inDir = s"$root/in"

    // ---- fixture synthesis (off the clock): HttpChaos's log shape ----
    val r = spark.range(nEvents).withColumnRenamed("id", "i")
    val key = concat(lit("sig-"), pmod(xxhash64(col("i")), lit(nKeys)))
    val ts = date_format(
      timestamp_seconds(lit(1700000000L) + pmod(col("i"), lit(86400L))),
      "yyyy-MM-dd'T'HH:mm:ssXXX")
    def eventJson = to_json(struct(
      when(pmod(col("i"), lit(17L)) === 0, lit("deleted"))
        .when(pmod(col("i"), lit(3L)) === 0, lit("created"))
        .otherwise(lit("updated")).as("action"),
      key.as("id"),
      concat(lit("title for event "), col("i")).as("title"),
      concat(lit("content payload body for synthetic event number "),
        col("i"), lit(" carrying a realistically sized message")).as("content"),
      when(pmod(col("i"), lit(3L)) === 0, "Low")
        .when(pmod(col("i"), lit(3L)) === 1, "Medium")
        .otherwise(lit("High")).as("priority"),
      concat(lit("author-"), pmod(col("i"), lit(97L))).as("author"),
      ts.as("created_at"),
      ts.as("updated_at")))
    r.select(col("i").as("seq"), eventJson.as("value"))
      .repartition(nFiles).write.json(inDir)
    // feeder files for the ingest phase, staged off the clock: one
    // ~(nEvents/nFiles)-row JSON file per second of window
    val feedSrc = s"$root/feedsrc"
    val perFeed = math.max(1000L, nEvents / nFiles)
    spark.range(nEvents, nEvents + perFeed * windowSec)
      .withColumnRenamed("id", "i")
      .select(col("i").as("seq"), eventJson.as("value"))
      .withColumn("slot", expr(s"(seq - $nEvents) div $perFeed"))
      .repartition(col("slot"))
      .write.partitionBy("slot").json(feedSrc)

    val proj = new StreamingProjection(spark, s"$root/state")

    def measure(phase: String, server: com.sun.net.httpserver.HttpServer,
        genToken: () => Long): String = {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val routes = Seq(
        Route("list", "/signals"),
        Route("list_priority", "/signals?priority=High"),
        Route("point", "/signals/sig-0"),
        Route("health", "/health"))
      val stop = new AtomicBoolean(false)
      val errors = new AtomicLong
      val gen0 = genToken()
      val genChanges = new AtomicLong
      val lastGen = new AtomicLong(gen0)
      val loadStart = load1
      val clients = (0 until nClients).map { ci =>
        new Thread(() => {
          val client = HttpClient.newBuilder()
            .connectTimeout(Duration.ofSeconds(30)).build()
          var i = ci
          while (!stop.get()) {
            val route = routes(i % routes.size)
            val req = HttpRequest.newBuilder(URI.create(base + route.path))
              .timeout(Duration.ofSeconds(60)).GET().build()
            val t0 = System.nanoTime()
            try {
              val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
              if (resp.statusCode() >= 500) errors.incrementAndGet()
              route.lats.add((System.nanoTime() - t0) / 1000L)
            } catch { case scala.util.control.NonFatal(_) =>
              errors.incrementAndGet()
            }
            i += 1
          }
        }, s"servelat-$phase-$ci")
      }
      clients.foreach { t => t.setDaemon(true); t.start() }
      val deadline = System.nanoTime() + windowSec * 1000000000L
      while (System.nanoTime() < deadline) {
        val g = genToken() // one Serving rebuild per advance, by construction
        if (g != lastGen.get()) { genChanges.incrementAndGet(); lastGen.set(g) }
        Thread.sleep(20)
      }
      stop.set(true)
      clients.foreach(_.join(70000))
      val requests = routes.map(_.lats.size().toLong).sum
      val hitRate =
        if (requests == 0) 0.0 else 1.0 - genChanges.get().toDouble / requests
      def r3(x: Double): Double = math.rint(x * 1000) / 1000
      val routeJson = routes.map { rt =>
        import scala.jdk.CollectionConverters._
        val xs = rt.lats.iterator().asScala.map(_.longValue()).toArray.sorted
        s""""${rt.name}":{"n":${xs.length},"p50_ms":${r3(pct(xs, 0.50))}""" +
          s""","p95_ms":${r3(pct(xs, 0.95))},"p99_ms":${r3(pct(xs, 0.99))}""" +
          s""","max_ms":${r3(xs.lastOption.getOrElse(0L) / 1000.0)}}"""
      }.mkString(",")
      s"""{"tool":"serve_latency","phase":"$phase","events":$nEvents""" +
        s""","master":"${spark.sparkContext.master}"""" +
        s""","conf":"${HttpServe.jsonEscape(injectedConf)}"""" +
        s""","clients":$nClients,"window_sec":$windowSec,"requests":$requests""" +
        s""","errors":${errors.get()},"gen_changes":${genChanges.get()}""" +
        s""","gen_cache_hit_rate":${r3(hitRate)},"routes":{$routeJson}""" +
        s""","load1_start":${r3(loadStart)},"load1_end":${r3(load1)}}"""
    }

    // ---- phase 1: calm — replay to completion, then measure ----
    val q1 = proj.runFileStream(inDir, s"$root/chk", maxFilesPerTrigger = 4)
    q1.awaitTermination()
    val server1 = HttpServe.startLive(spark, proj, port = 0)
    val calmLine = measure("calm", server1, () => proj.store.currentGenToken)
    server1.stop(0)
    println(calmLine)

    // ---- phase 2: under sustained ingest — feeder appends 1 file/s ----
    // The stream resumes q1's checkpoint over the same log, so batch ids
    // continue past the store's commits. Each feed file is copied next to
    // the log, then moved in atomically: a trigger never lists a
    // half-written file.
    val q2 = proj.run(graft.sources.FileEventSource(inDir, maxFilesPerTrigger = 4),
      s"$root/chk",
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
    val feedStop = new AtomicBoolean(false)
    val feeder = new Thread(() => {
      val slots = new java.io.File(feedSrc).listFiles()
        .filter(_.getName.startsWith("slot=")).sortBy(_.getName)
      val landing = java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(root, "landing"))
      var k = 0
      while (!feedStop.get() && k < slots.length) {
        slots(k).listFiles().filter(_.getName.endsWith(".json"))
          .zipWithIndex.foreach { case (f, j) =>
            val name = s"feed-$k-$j.json"
            java.nio.file.Files.move(
              java.nio.file.Files.copy(f.toPath, landing.resolve(name)),
              java.nio.file.Paths.get(inDir, name),
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          }
        k += 1
        Thread.sleep(1000)
      }
    }, "servelat-feeder")
    feeder.setDaemon(true)
    feeder.start()
    val server2 = HttpServe.startLive(spark, proj, port = 0)
    val ingestLine = measure("ingest", server2, () => proj.store.currentGenToken)
    feedStop.set(true)
    q2.stop()
    server2.stop(0)
    println(ingestLine)

    spark.stop()
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(root))
  }
}
