package graft

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.DerivedSignalLog
import graft.projection.SignalStore
import graft.streaming.StreamingProjection

/** HTTP read API (SURVEY §2.1 S7) — the reference's three routes over the
  * projected view (data-plane/internal/handler/signal.go:24-81):
  *
  *   GET /signals            → newest-first, hard cap 50
  *   GET /signals?priority=P → equality filter
  *   GET /signals/{id}       → point lookup, 404 if absent
  *   GET /health             → 200 {"status":"ok"} / 503
  *
  * Response rows are the all-string read model (domain/signal.go:47-55):
  * typed columns internally, strings rendered at the edge (RFC3339
  * timestamps). A serving layer, not an engine operator: each request is a
  * Catalyst-planned query over the materialized view.
  *
  * LIVE serving (the reference's consumer-feeds-reads loop,
  * handler/signal.go:30-46 reading the Redis view the running consumer
  * updates): [[startLive]] serves the routes off the streaming
  * projection's [[graft.streaming.BucketedStateStore]] — every request
  * observes the newest complete generation, so a signal merged by the
  * stream between two requests is visible to the second one. Both the
  * serving PLANS and the rendered RESULTS are memoized, per GENERATION:
  * a new generation swaps in a fresh serving set (one volatile
  * reference), so memoization never serves stale state, and within a
  * generation a listing costs one collect and a repeated point lookup
  * costs a map probe — the reference's Redis read path (the rendered
  * view IS the cache; the consumer's writes are the invalidation).
  */
object HttpServe {

  // TCP_NODELAY for the JDK http server (read once at ServerConfig class
  // init, so it must be set before the first HttpServer.create in this
  // JVM — this object initializer runs before any start()). Without it,
  // every keep-alive response written as headers+body (two small writes)
  // rides Nagle against the client's delayed ACK: a flat ~40 ms floor on
  // cached responses (measured — the ServeLatency clients saw 44 ms p50
  // on bodies curl fetched in 1 ms over fresh connections).
  System.setProperty("sun.net.httpserver.nodelay", "true")

  def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Render the typed view as the all-string read model. */
  def readModel(view: DataFrame): DataFrame = {
    val rfc3339 = "yyyy-MM-dd'T'HH:mm:ssXXX"
    view.select(
      col("id"),
      coalesce(col("title"), lit("")).as("title"),
      coalesce(col("content"), lit("")).as("content"),
      coalesce(col("priority"), lit("")).as("priority"),
      coalesce(col("author"), lit("")).as("author"),
      coalesce(date_format(col("created_at"), rfc3339), lit("")).as("created_at"),
      coalesce(date_format(col("updated_at"), rfc3339), lit("")).as("updated_at"))
  }

  private def rowJson(r: org.apache.spark.sql.Row): String =
    r.schema.fieldNames.map { f =>
      s""""${jsonEscape(f)}": "${jsonEscape(r.getAs[String](f))}""""
    }.mkString("{", ", ", "}")

  /** What the server serves: a view plus a VERSION TOKEN. The serving
    * layer re-resolves `generation` per request (cheap — one listing of
    * the state store's commit log, nothing on a static view) and rebuilds
    * its memoized plan set only when the token moves. On an object store
    * a production deployment would cache the token with a short TTL;
    * the invalidation contract is unchanged.
    */
  trait ViewSource {
    def generation: Long
    def view: DataFrame
  }

  /** Static batch view — generation never moves, plans memoized forever. */
  private final class StaticViewSource(v: DataFrame) extends ViewSource {
    def generation: Long = 0L
    def view: DataFrame = v
  }

  /** Live streaming state — the store's newest commit, a whole batch,
    * exactly what [[graft.streaming.BucketedStateStore.read]] serves.
    * The token is [[graft.streaming.BucketedStateStore.currentGenToken]]
    * (newest commit + 1). It is read before the view is resolved, so a
    * commit landing in between pairs a newer view with an older token,
    * and the next request's token moves past it and rebuilds.
    */
  private final class LiveViewSource(proj: StreamingProjection) extends ViewSource {
    def generation: Long = proj.store.currentGenToken
    def view: DataFrame = proj.view
  }

  /** One generation's serving set: the resolved view, its SignalStore
    * (whose health probe + listing plans are one-time lazy costs), and
    * the listing-plan memo. Swapped atomically as one unit when the
    * source's generation moves — a request can never pair plan and memo
    * from different generations.
    */
  private final class Serving(val gen: Long, val view: DataFrame) {
    val store = new SignalStore(view)
    // Serving-plan memo: the listing surface has a FIXED set of distinct
    // plans (default newest-first + one per priority LABEL in the
    // reference's domain), so each is analyzed/optimized/planned ONCE
    // per generation — a Dataset's QueryExecution is a lazy val, and
    // collect() on the same object only re-executes the cached physical
    // plan. The memo is keyed by the Option itself (never its getOrElse
    // rendering — Some("") must not alias None's default listing) and
    // only DOMAIN values are ever inserted: a client-supplied string
    // outside {Low, Medium, High} builds its empty-result query
    // per-request, so the map is bounded at 4 entries no matter what
    // clients send (the same unbounded-key reasoning that keeps point
    // lookups un-memoized).
    private val memoizable: Set[Option[String]] =
      Set(None, Some("Low"), Some("Medium"), Some("High"))
    private val memo =
      new java.util.concurrent.ConcurrentHashMap[Option[String], DataFrame]()
    private def build(priority: Option[String]): DataFrame =
      readModel(priority match {
        case Some(p) => store.listByPriority(p)
        case None => store.listByCreatedAt()
      })
    def listing(priority: Option[String]): DataFrame =
      if (memoizable(priority)) memo.computeIfAbsent(priority, build)
      else build(priority)

    // RESULT memo (r14 verdict #3): memoizing the PLAN still executed
    // the top-50 collect per request (§10 measured list p50 176 ms at
    // generation-cache hit rate 1.0 — all plan hits, all paying the
    // collect). The rendered JSON bodies are cached instead, keyed
    // exactly like the plans and generation-scoped BY CONSTRUCTION:
    // the caches live inside this Serving, the volatile swap replaces
    // the whole Serving when the source's generation token moves, and
    // a generation's parquet files are immutable — so a cached body can
    // never outlive its data (the reference's read path is precisely
    // this: Redis IS the rendered result, invalidated by the consumer's
    // writes). Listings: the same bounded 4-key domain as the plan
    // memo. Point lookups: per-id bodies INCLUDING misses (a 404 is as
    // immutable as a hit within a generation), bounded by a true LRU
    // (r15 verdict #4 — the earlier clear-on-full dropped the hot keys
    // along with the cold tail whenever key-uniform traffic crossed the
    // bound; the LRU keeps re-referenced keys resident no matter how
    // many distinct cold keys stream past).
    private val listingBodies =
      new java.util.concurrent.ConcurrentHashMap[Option[String], String]()
    def listingBody(priority: Option[String]): String = {
      def render =
        listing(priority).collect().map(rowJson).mkString("[", ",", "]")
      if (memoizable(priority)) listingBodies.computeIfAbsent(priority, _ => render)
      else render
    }
    private val pointBodies =
      new LruBodyCache[String, Option[String]](PointCacheMax)
    def pointBody(id: String): Option[String] =
      pointBodies.get(id) {
        readModel(view.where(col("id") === id)).limit(1).collect()
          .headOption.map(rowJson)
      }
  }

  private[graft] val PointCacheMax = 4096

  /** Probe-sample count for the healthTtlAutoK derivation — enough for a
    * stable median, cheap enough to pay once at server start.
    */
  private[graft] val TtlProbeSamples = 5

  /** Bounded LRU body cache (r15 verdict #4). Access-ordered
    * LinkedHashMap with eldest-entry eviction; the compute runs OUTSIDE
    * the lock (a point-lookup collect must not serialize every other
    * cached probe) and is SINGLE-FLIGHT per key (r16 ADVICE: without
    * it, a cold-start thundering herd on one id could run up to
    * pool-width identical Spark collects concurrently — idempotent but
    * wasted work): concurrent misses on the same key share one compute
    * through an in-flight future; distinct keys still compute fully in
    * parallel. Values are non-null by contract (`Option`, never null).
    */
  private[graft] final class LruBodyCache[K, V <: AnyRef](max: Int) {
    private val map = new java.util.LinkedHashMap[K, V](512, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
        this.size() > max
    }
    private val inflight =
      new java.util.concurrent.ConcurrentHashMap[K, java.util.concurrent.CompletableFuture[V]]()
    def get(k: K)(compute: => V): V = {
      val hit = map.synchronized(map.get(k))
      if (hit != null) hit
      else {
        val mine = new java.util.concurrent.CompletableFuture[V]()
        val race = inflight.putIfAbsent(k, mine)
        if (race != null) {
          // a concurrent miss on this key is already computing — wait
          // for its value; unwrap join's CompletionException so waiters
          // observe the same failure the computer threw
          try race.join()
          catch { case e: java.util.concurrent.CompletionException =>
            throw Option(e.getCause).getOrElse(e)
          }
        } else {
          try {
            // re-check under the claim: the prior computer may have
            // cached and released between our map miss and the claim
            val again = map.synchronized(map.get(k))
            val v = if (again != null) again else {
              val computed = compute
              map.synchronized(map.put(k, computed))
              computed
            }
            mine.complete(v)
            v
          } catch { case t: Throwable => mine.completeExceptionally(t); throw t }
          finally inflight.remove(k, mine)
        }
      }
    }
    private[graft] def contains(k: K): Boolean =
      map.synchronized(map.containsKey(k))
    private[graft] def size: Int = map.synchronized(map.size())
  }

  /** TTL verdict cache for the health route (r15 verdict #5 / builder's
    * own #1): `graft.serve.healthTtlMs` = 0 (the DEFAULT) keeps today's
    * contract — every probe executes, a probe should probe; a nonzero
    * TTL serves the memoized verdict for at most ttlMs, taking the
    * per-request execute (~12-15 ms p50) off a production traffic path
    * with a STATED staleness bound. ASYMMETRIC (r16 verdict "what's
    * wrong" #3): only HEALTHY verdicts are SERVED from cache — an
    * unhealthy probe result re-probes on the very next request, so
    * recovery is visible immediately instead of up to ttlMs late, at the
    * same cost (during an outage every request probes, exactly the
    * default-off behavior; the TTL only shields the healthy steady
    * state, which is where the traffic is). Probe failures propagate and
    * are never cached.
    *
    * Stores are ASYMMETRIC under races, mirroring the serving asymmetry
    * (r17 ADVICE, tightened by this round's own review): a HEALTHY
    * result stores by COMPARE-AND-SET against the verdict read at entry
    * — if ANY probe stored since (healthy or not), that evidence is
    * newer and the stale healthy result must not overwrite it (the r17
    * last-writer-wins form let a slow pre-outage healthy probe cache
    * "ok" for a full TTL right after an observed failure). An UNHEALTHY
    * result stores UNCONDITIONALLY — it is never served from cache, it
    * only forces future requests to re-probe, so recording it can only
    * cost probes, never a wrong 200; a CAS here would be the opposite
    * bug (review finding: a fast healthy store winning the slot made a
    * NEWER unhealthy observation lose its CAS and the outage ride the
    * TTL). Stale-unhealthy-clobbers-newer-healthy is the accepted
    * residual: it forces re-probes until the next healthy probe, the
    * safe direction by construction.
    *
    * The ttl is a SUPPLIER (r17 verdict #3): [[AutoTtl]] re-derives the
    * bound on a slow cadence, and each get() reads the current value.
    * Injected clock so the spec pins the bound deterministically.
    */
  private[graft] final class TtlVerdict(ttl: () => Long, now: () => Long) {
    def this(ttlMs: Long, now: () => Long) = this(() => ttlMs, now)
    def this(ttlMs: Long) = this(ttlMs, () => System.nanoTime())
    private final class V(val ok: Boolean, val at: Long)
    private val last = new java.util.concurrent.atomic.AtomicReference[V](null)
    def get(probe: => Boolean): Boolean = {
      val ttlMs = ttl()
      if (ttlMs <= 0) probe
      else {
        val v0 = last.get()
        val t = now()
        if (v0 != null && v0.ok && t - v0.at < ttlMs * 1000000L) true
        else {
          val v = probe
          if (v) last.compareAndSet(v0, new V(true, now()))
          else last.set(new V(false, now()))
          v
        }
      }
    }
  }

  /** Slow-cadence TTL re-derivation (r17 verdict #3): the r17 form
    * derived ttl = k × probe p50 ONCE at server start, freezing a
    * long-lived server's staleness bound at startup probe cost — plan
    * cache growth or store growth drifts the probe's real cost out from
    * under the bound. The evidence is now the SERVED TRAFFIC itself:
    * every executed probe's duration lands in a bounded ring of the
    * newest [[TtlProbeSamples]] observations, and at most once per
    * `rederiveMs` (conf `graft.serve.healthTtlRederiveMs`, default
    * [[DefaultRederiveMs]]; 0 keeps the startup value forever) the ttl
    * re-derives over the ring — no dedicated probe traffic after
    * startup. Self-healing corollary: a startup whose derivation probes
    * failed (empty live store) starts at ttl 0 = default-off and
    * derives a real bound from its first served probes at the first
    * cadence tick. An explicit `graft.serve.healthTtlMs` never
    * constructs this class at all — the manual dial stays absolute.
    */
  private[graft] final class AutoTtl(k: Long, rederiveMs: Long,
      initialTtlMs: Long, initialSamples: Seq[Double],
      now: () => Long = () => System.nanoTime()) {
    private val ring = new java.util.ArrayDeque[java.lang.Double]()
    initialSamples.takeRight(TtlProbeSamples)
      .foreach(d => ring.addLast(d))
    @volatile private var ttlMs = initialTtlMs
    @volatile private var nextAt = now() + rederiveMs * 1000000L
    def current: Long = ttlMs
    def observe(probeMs: Double): Unit = {
      // derivation + write stay INSIDE the lock (review finding: a
      // thread stalled between snapshot and write could overwrite a
      // newer tick's bound with its stale one a cadence later); the
      // p50 over ≤ 5 doubles costs nothing at once-per-cadence
      val derived: Option[(Long, Long, Int)] = ring.synchronized {
        ring.addLast(probeMs)
        while (ring.size > TtlProbeSamples) ring.removeFirst()
        if (rederiveMs > 0 && now() >= nextAt) {
          nextAt = now() + rederiveMs * 1000000L
          import scala.jdk.CollectionConverters._
          val t = derivedTtlMs(ring.asScala.map(_.doubleValue()).toSeq, k)
          val prev = ttlMs
          ttlMs = t
          if (t != prev) Some((t, prev, ring.size)) else None
        } else None
      }
      derived.foreach { case (t, prev, n) =>
        System.err.println(
          s"[http] re-derived healthTtlMs=$t (was $prev; k=$k over the " +
            s"last $n served probes)")
      }
    }
  }

  /** Default re-derivation cadence: long enough that the derivation cost
    * (a p50 over ≤ 5 doubles) and the log line are invisible, short
    * enough that a drifting probe cost is tracked within minutes.
    */
  private[graft] val DefaultRederiveMs = 300000L

  /** Production TTL derived from the probe's OWN measured cost (r16
    * verdict's #5 ask — the deploy gets the number from evidence, not a
    * guess): ttl = k × the measured probe p50. The rationale is an
    * amortization bound: with ttl = k·p50, a steady request stream pays
    * at most one probe per k probe-lengths of wall time — i.e. the probe
    * consumes ≤ 1/k of the health route's serving capacity — while
    * staleness stays ≤ k·p50 (for the HEALTHY verdict only; [[
    * TtlVerdict]] never caches unhealthy). p50 (the median, lower of the
    * two middles at even n) rather than mean: one GC-outlier probe must
    * not inflate the deploy's staleness bound. Empty samples or k ≤ 0
    * derive 0 = the default-off contract.
    */
  private[graft] def derivedTtlMs(probeMs: Seq[Double], k: Long): Long =
    if (probeMs.isEmpty || k <= 0) 0L
    else {
      val p50 = probeMs.sorted.apply((probeMs.size - 1) / 2)
      math.ceil(k * p50).toLong
    }

  def main(args: Array[String]): Unit = {
    val spark = SessionDefaults(SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val server = args.headOption match {
      // Live mode — the reference's server shape (cmd/server/main.go:55-73:
      // consumer goroutine + HTTP handlers over the view it updates):
      // a continuous file-stream projection ingests JSON-lines events
      // appearing under watchDir while the routes serve the state store.
      case Some("--live") =>
        val Array(_, watchDir, stateDir, chkDir) = args.take(4)
        val port = if (args.length > 4) args(4).toInt else 8080
        val proj = new StreamingProjection(spark, stateDir)
        proj.run(graft.sources.FileEventSource(watchDir, maxFilesPerTrigger = 16),
          chkDir,
          org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
        startLive(spark, proj, port)
      case _ =>
        val sfDir = args(0)
        val port = if (args.length > 1) args(1).toInt else 8080
        val view = DerivedSignalLog.signals(spark, sfDir).cache()
        view.count() // materialize once; serving queries hit the cache
        start(spark, view, port)
    }
    println(s"[http] serving on :${server.getAddress.getPort} (Ctrl-C to stop)")
    Thread.currentThread().join()
  }

  /** Serve a static batch view (port 0 = ephemeral; returns the bound
    * server). One generation forever — plans memoized for the server's
    * lifetime.
    */
  def start(spark: SparkSession, view: DataFrame, port: Int): HttpServer =
    start(spark, new StaticViewSource(view), port)

  /** Serve the LIVE streaming projection: requests read the newest
    * complete state-store generation, so signals merged by the running
    * stream are visible to the next request — the rebuild of the
    * reference's consumer-updates-Redis / handler-reads-Redis loop.
    */
  def startLive(spark: SparkSession, proj: StreamingProjection, port: Int): HttpServer =
    start(spark, new LiveViewSource(proj), port)

  /** Retry-once policy for serving-set reads: a TRANSIENT failure
    * (in-flight generation files aged out by retention, or any other
    * NonFatal read failure) rebuilds the serving set and retries the
    * request once — a second failure is real and propagates to the 500
    * path with the first failure chained as a suppressed exception so
    * its diagnostics survive. Fatal JVM errors (OutOfMemoryError,
    * LinkageError, interrupts) must NOT trigger a second full collect —
    * that can worsen an OOM — so they propagate immediately: `rebuild`
    * is by-name and is never evaluated on the fatal path.
    */
  private[graft] def retryOnce[A, T](firstSet: => A, rebuild: => A)(body: A => T): T =
    try body(firstSet)
    catch { case scala.util.control.NonFatal(first) =>
      try body(rebuild)
      catch { case scala.util.control.NonFatal(second) =>
        second.addSuppressed(first)
        throw second
      }
    }

  // Concurrent handler pool (r14 verdict #3's second half): with no
  // executor, com.sun.net.httpserver runs EVERY handler on the one
  // dispatcher thread — a cached listing then queues behind whatever
  // uncached collect is in flight (measured: cached-body p50 ~44 ms
  // behind health's ~56 ms probe; with the pool, ≤ ~5 ms). ONE pool
  // SHARED by every server in the JVM (r15 ADVICE: a per-start fixed
  // pool was never shut down, so each ephemeral test server leaked 16
  // idle threads for the JVM lifetime) — production runs one server per
  // JVM, so the serving concurrency is unchanged, and stop() needs no
  // extra lifecycle. Daemon threads so an un-stopped ephemeral server
  // never blocks JVM exit.
  private lazy val handlerPool = java.util.concurrent.Executors
    .newFixedThreadPool(16, (r: Runnable) => {
      val t = new Thread(r, "graft-http")
      t.setDaemon(true)
      t
    })

  def start(spark: SparkSession, source: ViewSource, port: Int): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    server.setExecutor(handlerPool)

    // Generation-checked swap: one volatile reference; requests in flight
    // keep serving their generation's plans (parquet generation dirs are
    // immutable, and retention keeps the newest two commits' files, so
    // ONE commit of lag reads consistent files), new requests get the new
    // set. A plan can still outlive retention when 2+ batches rewrite the
    // same bucket during one request's collect() (1-second triggers make
    // that reachable) — `attempt` below covers that residual window by
    // retrying ONCE on a freshly-resolved serving set before failing the
    // request.
    // Per-start lock: servers started in the same JVM must not share a
    // rebuild lock (a failure storm on one endpoint would serialize
    // serving-set rebuilds across ALL servers), so synchronize on a lock
    // owned by this start() call, never on the HttpServe singleton.
    val rebuildLock = new Object
    @volatile var serving: Serving = null
    def current(): Serving = {
      val g = source.generation
      val s = serving
      if (s != null && s.gen == g) s
      else rebuildLock.synchronized {
        val again = serving
        val g2 = source.generation
        if (again != null && again.gen == g2) again
        else { val n = new Serving(g2, source.view); serving = n; n }
      }
    }
    def attempt[T](body: Serving => T): T =
      retryOnce(current(), rebuildLock.synchronized {
        val f = new Serving(source.generation, source.view)
        serving = f; f
      })(body)

    def respond(ex: HttpExchange, code: Int, body: String): Unit = {
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(code, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
      ex.close()
    }

    // graft.serve.healthTtlMs: 0 (default) = per-request probe (today's
    // semantics, unchanged); > 0 = serve the memoized healthy verdict for
    // at most that many ms (see [[TtlVerdict]]). When it is UNSET and
    // graft.serve.healthTtlAutoK > 0, the TTL is DERIVED from evidence
    // instead of guessed ([[derivedTtlMs]]): the probe runs
    // TtlProbeSamples times against the startup serving set,
    // ttl = k × measured p50, and thereafter RE-derives on a slow
    // cadence from the served probes themselves ([[AutoTtl]] — r17
    // verdict #3). An explicit healthTtlMs always wins over the
    // derivation (fixed forever, no re-derivation); neither conf set
    // keeps the default-off contract.
    val explicitTtl =
      spark.conf.getOption("graft.serve.healthTtlMs").map(_.toLong)
    val autoTtl: Option[AutoTtl] =
      if (explicitTtl.nonEmpty) None
      else {
        val k = spark.conf.getOption("graft.serve.healthTtlAutoK")
          .map(_.toLong).getOrElse(0L)
        if (k <= 0) None
        else {
          val samples =
            try (1 to TtlProbeSamples).map { _ =>
              val t0 = System.nanoTime()
              attempt(_.store.health)
              (System.nanoTime() - t0) / 1e6
            }
            catch { case scala.util.control.NonFatal(e) =>
              // a probe that can't run yet (empty live store at startup)
              // must not wedge server start — start at default-off; the
              // cadence derives a real bound from the first served probes
              System.err.println(
                s"[http] healthTtlAutoK derivation probe failed (${e.getMessage}); TTL starts 0")
              Seq.empty[Double]
            }
          val ttl = derivedTtlMs(samples, k)
          val cadence = spark.conf.getOption("graft.serve.healthTtlRederiveMs")
            .map(_.toLong).getOrElse(DefaultRederiveMs)
          System.err.println(s"[http] derived healthTtlMs=$ttl " +
            s"(k=$k, probe samples ${samples.map(m => f"$m%.1f").mkString("[", ",", "]")} ms; " +
            s"re-derive cadence ${cadence}ms)")
          Some(new AutoTtl(k, cadence, ttl, samples))
        }
      }
    val healthVerdict = new TtlVerdict(
      () => explicitTtl.orElse(autoTtl.map(_.current)).getOrElse(0L),
      () => System.nanoTime())
    // Each EXECUTED probe is timed and fed to the re-derivation ring —
    // the staleness bound tracks what probes actually cost this server,
    // with zero dedicated probe traffic after startup.
    def timedProbe(): Boolean = {
      val t0 = System.nanoTime()
      val r = attempt(_.store.health)
      autoTtl.foreach(_.observe((System.nanoTime() - t0) / 1e6))
      r
    }
    server.createContext("/health", (ex: HttpExchange) =>
      try {
        if (healthVerdict.get(timedProbe()))
          respond(ex, 200, """{"status":"ok"}""")
        else respond(ex, 503, """{"status":"down"}""")
      } catch {
        case _: Throwable => respond(ex, 503, """{"status":"down"}""")
      })

    server.createContext("/signals", (ex: HttpExchange) => {
      val path = ex.getRequestURI.getPath
      val id = path.stripPrefix("/signals").stripPrefix("/")
      try {
        if (id.nonEmpty) {
          attempt(_.pointBody(id)) match {
            case Some(body) => respond(ex, 200, body)
            case None => respond(ex, 404, """{"error": "not found"}""")
          }
        } else {
          val priority = Option(ex.getRequestURI.getQuery)
            .flatMap(_.split("&").collectFirst {
              case kv if kv.startsWith("priority=") => kv.stripPrefix("priority=")
            })
          respond(ex, 200, attempt(_.listingBody(priority)))
        }
      } catch {
        case e: Throwable => respond(ex, 500, s"""{"error": "${jsonEscape(e.getMessage)}"}""")
      }
    })

    server.start()
    server
  }
}
