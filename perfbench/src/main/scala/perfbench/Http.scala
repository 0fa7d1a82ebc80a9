package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.projection.SignalStore

object HttpRoutes {
  val names: Seq[String] = Seq("list", "list_priority", "point_hot", "point_cold", "health")
  val HotKeys = 64
}

/** One request of the read mix. */
final case class Req(route: String, path: String, id: Option[String] = None,
    priority: Option[String] = None)

/** The read mix: 30 % newest-first listing, 25 % priority listing, 20 %
  * point lookups over 64 hot keys, 20 % point lookups uniform over every
  * key (one in ten of them for an id that never existed), 5 % health.
  * Routes follow a fixed cycle of 20 slots, so every window holds the same
  * proportions; priorities and keys are drawn from the seed.
  */
final class Mix(seed: Long, nKeys: Long) {
  private val rnd = new java.util.SplittableRandom(seed)
  private val hot = {
    val r = new java.util.SplittableRandom(seed ^ 0x5eedL)
    Vector.fill(HttpRoutes.HotKeys)(Gen.keyId(r.nextLong(nKeys)))
  }
  private var slot = rnd.nextInt(Mix.Cycle.size)
  def next(): Req = {
    val u = Mix.Cycle(slot)
    slot = (slot + 1) % Mix.Cycle.size
    if (u < 30) Req("list", "/signals")
    else if (u < 55) {
      val p = Gen.Priorities(rnd.nextInt(3))
      Req("list_priority", s"/signals?priority=$p", priority = Some(p))
    } else if (u < 75) {
      val id = hot(rnd.nextInt(hot.size))
      Req("point_hot", s"/signals/$id", Some(id))
    } else if (u < 95) {
      val k = rnd.nextLong(nKeys)
      val id = if (rnd.nextInt(10) == 0) Gen.absentId(k) else Gen.keyId(k)
      Req("point_cold", s"/signals/$id", Some(id))
    } else Req("health", "/health")
  }
}

object Mix {
  /** Twenty slots, one per 5 % of the mix, interleaved so that heavy
    * routes are spread over the cycle.
    */
  val Cycle: IndexedSeq[Int] = IndexedSeq(0, 30, 55, 75, 5, 35, 60, 80, 10, 40,
    95, 15, 45, 65, 85, 20, 50, 70, 90, 25)
}

/** A blocking HTTP/1.1 client on one thread (keep-alive connection). */
final class Client(base: String) {
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()
  /** (status, body); status -1 on a transport failure or timeout. */
  def get(path: String): (Int, String) =
    try {
      val r = http.send(HttpRequest.newBuilder(URI.create(base + path))
        .timeout(Duration.ofSeconds(30)).GET().build(), HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    } catch { case scala.util.control.NonFatal(_) => (-1, "") }
}

/** Readers of the mix, one client per thread. Each thread sends on a
  * fixed schedule, one request per [[Readers.IntervalMs]], and a request's
  * latency is timed from when it was due, so a stall also counts against
  * the requests queued behind it. `check` sees the request, the time it
  * was sent, and the response.
  */
final class Readers(base: String, seed: Long, nKeys: Long, threads: Int,
    check: (Req, Long, Int, String) => Boolean) {
  val lats: Map[String, ConcurrentLinkedQueue[java.lang.Double]] =
    HttpRoutes.names.map(_ -> new ConcurrentLinkedQueue[java.lang.Double]()).toMap
  val attempted = new AtomicLong
  val failed = new AtomicLong
  private val stop = new AtomicBoolean(false)
  private val mixes = (0 until threads).map(t => new Mix(seed * 31 + t, nKeys))
  private var workers: Seq[Thread] = Nil

  def start(): Unit = {
    stop.set(false)
    workers = mixes.zipWithIndex.map { case (mix, t) =>
      val th = new Thread(() => {
        val client = new Client(base)
        var due = System.nanoTime()
        while (!stop.get()) {
          val req = mix.next()
          val wait = due - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          val t0 = due
          due += Readers.IntervalMs * 1000000L
          val sent = System.nanoTime()
          val (status, body) = Trace.span("request")(client.get(req.path))
          lats(req.route).add((System.nanoTime() - t0) / 1e6)
          attempted.incrementAndGet()
          if (!check(req, sent, status, body)) {
            if (failed.incrementAndGet() <= 3)
              System.err.println(s"[perfbench] bad response $status for ${req.path}")
          }
        }
      }, s"perfbench-reader-$t")
      th.setDaemon(true)
      th.start()
      th
    }
  }

  def finish(): Unit = { stop.set(true); workers.foreach(_.join(60000)) }

  def route(r: String): Seq[Double] = lats(r).asScala.map(_.doubleValue).toSeq
  def routes(rs: String*): Seq[Double] = rs.flatMap(route)
  def all: Seq[Double] = routes(HttpRoutes.names: _*)

  def figures(windowS: Double): Seq[Figure] = {
    val list = routes("list", "list_priority")
    val point = routes("point_hot", "point_cold")
    Seq(Figure("serve_rps", all.size / windowS, "1/s"),
      Figure("list_p50_ms", Stats.percentile(list, 0.5), "ms"),
      Figure("list_p99_ms", Stats.percentile(list, 0.99), "ms"),
      Figure("point_p50_ms", Stats.percentile(point, 0.5), "ms"),
      Figure("point_p99_ms", Stats.percentile(point, 0.99), "ms"),
      Figure("health_p99_ms", Stats.percentile(route("health"), 0.99), "ms"),
      Figure("requests", all.size, "count"))
  }

  def layers: Map[String, Double] =
    HttpRoutes.names.flatMap { r =>
      Seq(s"http.${r}_p50_ms" -> Stats.percentile(route(r), 0.5),
        s"http.${r}_p99_ms" -> Stats.percentile(route(r), 0.99))
    }.toMap
}

object Readers {
  /** Each reader sends one request per 2 s, so every run offers the
    * stream the same small read load. On 4 cores heavier reads made the
    * freshness median swing by a third between runs.
    */
  val IntervalMs = 2000L
}

/** Direct calls into [[SignalStore]] over the same view the server
  * serves, bypassing HTTP, the generation token and the caches.
  */
object DirectStore {
  def layers(view: DataFrame, id: String): Map[String, Double] = {
    val st = new SignalStore(view)
    Map(
      "signalstore.list_ms" -> Workload.timedMedian(11)(st.listByCreatedAt().collect()),
      "signalstore.list_priority_ms" ->
        Workload.timedMedian(11)(st.listByPriority("High").collect()),
      "signalstore.find_ms" -> Workload.timedMedian(11)(st.findById(id)),
      "signalstore.health_ms" -> Workload.timedMedian(11)(st.health))
  }
}
