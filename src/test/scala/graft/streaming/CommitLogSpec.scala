package graft.streaming

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.{HttpServe, SparkSuite}
import graft.projection.SignalProjection

/** The store's commit log: a batch becomes visible only when its
  * `_commits/N` file lands, so readers see whole batches; a failed commit
  * leaves the previous batch served and intact; retention keeps the newest
  * two commits; and a dir written before the log is adopted.
  */
class CommitLogSpec extends SparkSuite {

  private def tmp(): String =
    Files.createTempDirectory("graft-commitlog-").toFile.getAbsolutePath

  private def ev(action: String, id: String, title: String): String =
    s"""{"action":"$action","id":"$id","title":"$title","content":"c",""" +
      s""""priority":"High","author":"a","created_at":"2026-01-01T00:00:00Z",""" +
      s""""updated_at":"2026-01-01T00:00:00Z"}"""

  /** Raw `(seq, value)` frame: one event per key, seqs from `seq0`. */
  private def raw(seq0: Long, action: String, title: String, ids: Seq[String]): DataFrame = {
    import spark.implicits._
    ids.zipWithIndex.map { case (id, i) => (seq0 + i, ev(action, id, title)) }
      .toDF("seq", "value")
  }

  private def latest(df: DataFrame): DataFrame =
    SignalProjection.latestByKey(SignalProjection.decode(df))

  private def idTitles(df: DataFrame): Set[(String, String)] =
    df.select("id", "title").collect().map(r => (r.getString(0), r.getString(1))).toSet

  private def commitFiles(local: String): Seq[String] =
    Option(new File(local, "_commits").list()).toSeq.flatten
      .filter(_.forall(_.isDigit)).sortBy(_.toLong)

  /** Bucket → generation map of commit `n`: its text lines after the
    * first, one `bucket gen` pair each.
    */
  private def commitMap(local: String, n: Long): Map[Long, Long] =
    Files.readAllLines(new File(local, s"_commits/$n").toPath).toArray
      .map(_.toString).drop(1).filter(_.nonEmpty)
      .map { l => val Array(b, g) = l.split(' '); b.toLong -> g.toLong }.toMap

  private def genDirs(local: String): Set[(Long, Long)] =
    new File(local).listFiles().filter(_.getName.startsWith("bucket=")).toSet
      .flatMap { (b: File) =>
        b.listFiles().filter(_.getName.startsWith("gen=")).map(g =>
          b.getName.stripPrefix("bucket=").toLong -> g.getName.stripPrefix("gen=").toLong)
      }

  private val keys = (0 until 16).map(i => s"k$i")

  test("a multi-bucket commit stalled between bucket renames: reads, token and live /signals see batch N whole") {
    FaultFs.register(spark.sparkContext.hadoopConfiguration)
    val local = tmp()
    val proj = new StreamingProjection(spark, FaultFs.path(local), numBuckets = 4)
    proj.processBatch(raw(0, "created", "v0", keys), 0L)
    proj.processBatch(raw(100, "updated", "v1", keys), 1L)
    val batch2 = raw(200, "updated", "v2", keys)
    val touched = {
      import spark.implicits._
      keys.toDF("id").select(proj.store.bucketOf(col("id")))
        .distinct().collect().map(_.getLong(0)).sorted.toSeq
    }
    assert(touched.size >= 2, s"fixture: batch 2 must touch several buckets: $touched")
    val held = touched.last
    val v1 = keys.map(_ -> "v1").toSet
    val v2 = keys.map(_ -> "v2").toSet

    val server = HttpServe.startLive(spark, proj, port = 0)
    val client = HttpClient.newHttpClient()
    val IdTitle = """"id": "([^"]*)", "title": "([^"]*)"""".r
    def listing(): Set[(String, String)] = {
      val resp = client.send(HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:${server.getAddress.getPort}/signals")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200, resp.body())
      IdTitle.findAllMatchIn(resp.body()).map(m => (m.group(1), m.group(2))).toSet
    }
    def observed(): (Set[(String, String)], Long, Set[(String, String)]) =
      (idTitles(proj.store.read().get), proj.store.currentGenToken, listing())

    val stalled = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    FaultFs.onRename = (_, dst) => {
      if (dst.toString.endsWith(s"/bucket=$held/gen=2")) {
        stalled.countDown()
        release.await(120, TimeUnit.SECONDS)
      }
      true
    }
    implicit val ec: ExecutionContext = ExecutionContext.global
    try {
      assert(observed() == ((v1, 2L, v1)))
      val merging = Future(proj.processBatch(batch2, 2L))
      assert(stalled.await(120, TimeUnit.SECONDS), "the held bucket's rename never ran")
      // every other touched bucket's batch-2 generation is renamed into
      // place while the held one waits: a half-renamed batch is on disk
      val deadline = System.nanoTime() + 60000000000L
      def othersRenamed = touched.init.forall(b => new File(local, s"bucket=$b/gen=2").exists())
      while (!othersRenamed && System.nanoTime() < deadline) Thread.sleep(20)
      assert(othersRenamed, "the other buckets' renames did not complete")
      (1 to 3).foreach(i => assert(observed() == ((v1, 2L, v1)), s"read $i during the stall"))
      release.countDown()
      Await.result(merging, 120.seconds)
      assert(observed() == ((v2, 3L, v2)))
    } finally {
      release.countDown()
      FaultFs.reset()
      server.stop(0)
    }
  }

  test("a failed commit-file rename leaves batch N-1 served whole and intact; the replay converges") {
    FaultFs.register(spark.sparkContext.hadoopConfiguration)
    val local = tmp()
    val store = new BucketedStateStore(spark, FaultFs.path(local), numBuckets = 4)
    val b0 = raw(0, "created", "v0", keys)
    val b1 = raw(100, "updated", "v1", keys.take(8)).union(raw(150, "deleted", null, keys.slice(8, 10)))
    val b2 = raw(200, "updated", "v2", keys.drop(4)).union(raw(300, "created", "new", Seq("n1", "n2")))
    store.merge(latest(b0), 0L)
    store.merge(latest(b1), 1L)
    val before = idTitles(store.read().get)
    val committed = commitMap(local, 1L)

    FaultFs.onRename = (_, dst) => !dst.toString.endsWith("/_commits/2")
    try intercept[IllegalArgumentException](store.merge(latest(b2), 2L))
    finally FaultFs.reset()

    assert(genDirs(local).exists(_._2 == 2L),
      "fixture: the failure must come after the bucket renames")
    assert(commitFiles(local) == Seq("0", "1"))
    assert(store.currentGenToken == 2L)
    assert(idTitles(store.read().get) == before, "batch 1 must be served in full")
    committed.foreach { case (b, g) =>
      val d = new File(local, s"bucket=$b/gen=$g")
      assert(d.list().exists(_.startsWith("part-")), s"commit 1 references a deleted $d")
    }

    store.merge(latest(b2), 2L) // the checkpoint's replay of batch 2
    val oneShot = SignalProjection.fromRaw(b0.union(b1).union(b2))
    assert(idTitles(store.read().get.where(col("action") =!= "deleted")) == idTitles(oneShot))
    assert(store.currentGenToken == 3L)
  }

  test("retention keeps the newest two commits and only the generations they reference") {
    val local = tmp()
    val store = new BucketedStateStore(spark, local, numBuckets = 2)
    (0 to 3).foreach(g => store.merge(latest(raw(g * 100L, "updated", s"v$g", keys)), g.toLong))
    assert(commitFiles(local) == Seq("2", "3"))
    val referenced = Seq(2L, 3L).flatMap(n => commitMap(local, n).toSeq).toSet
    assert(genDirs(local) == referenced)
    assert(idTitles(store.readAt(2L).get) == keys.map(_ -> "v2").toSet)
    assert(idTitles(store.readAt(3L).get) == keys.map(_ -> "v3").toSet)
    val e = intercept[IllegalStateException](store.readAt(1L))
    assert(e.getMessage.contains("retention") && e.getMessage.contains("no longer servable"))
  }

  test("readAt before the store's first commit is empty, and a compaction that empties a bucket writes no generation for it") {
    val local = tmp()
    val store = new BucketedStateStore(spark, local, numBuckets = 1)
    store.merge(latest(raw(0, "deleted", null, Seq("gone"))), 5L)
    assert(store.readAt(4L).isEmpty)
    assert(store.compact(horizonSeq = 100L) == 6L)
    assert(store.read().isEmpty)
    assert(commitMap(local, 6L).isEmpty)
    assert(!genDirs(local).exists(_._2 == 6L), "no empty generation dir")
    assert(store.readAt(5L).get.count() == 1L)
  }

  test("a dir written before the commit log is adopted once: each bucket's newest non-empty generation, at the newest two generations") {
    val local = tmp()
    val store = new BucketedStateStore(spark, local, numBuckets = 4)
    store.merge(latest(raw(0, "created", "v0", keys)), 0L)
    store.merge(latest(raw(100, "updated", "v1", keys.take(6))), 1L)
    val served = store.read().get
      .select(col("id"), col("title"), store.bucketOf(col("id")).as("b"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // the old layout: no commit log, and one bucket whose newest
    // generation an old compaction left empty
    val emptied = served.map(_._3).max
    val legacyDirs = genDirs(local)
    val log = new File(local, "_commits")
    log.listFiles().foreach(_.delete())
    assert(log.delete())
    assert(new File(local, s"bucket=$emptied/gen=4").mkdirs())

    val adopted = new BucketedStateStore(spark, local, numBuckets = 4)
    assert(adopted.currentGenToken == 5L)
    assert(commitFiles(local) == Seq("1", "4"))
    val want = served.filter(_._3 != emptied).map(r => (r._1, r._2)).toSet
    assert(idTitles(adopted.read().get) == want)
    assert(idTitles(adopted.readAt(3L).get) == served.map(r => (r._1, r._2)).toSet)
    assert(legacyDirs.subsetOf(genDirs(local)), "adoption deletes nothing")
    assert(intercept[IllegalStateException](adopted.readAt(0L))
      .getMessage.contains("no longer servable"))
    // an adopted store takes merges like any other
    adopted.merge(latest(raw(200, "created", "v5", Seq("k99"))), 5L)
    assert(idTitles(adopted.read().get) == want + ("k99" -> "v5"))
  }

  test("replaying the newest batch of an adopted dir folds it into the state before it") {
    val local = tmp()
    val store = new BucketedStateStore(spark, local, numBuckets = 4)
    val b0 = raw(0, "created", "v0", keys)
    val b1 = raw(100, "updated", "v1", keys.take(3))
    store.merge(latest(b0), 0L)
    store.merge(latest(b1), 1L)
    // the old layout, its checkpoint not yet past batch 1
    val log = new File(local, "_commits")
    log.listFiles().foreach(_.delete())
    assert(log.delete())

    val adopted = new BucketedStateStore(spark, local, numBuckets = 4)
    adopted.merge(latest(b1), 1L)
    val want = keys.map(k => k -> (if (keys.take(3).contains(k)) "v1" else "v0")).toSet
    assert(idTitles(adopted.read().get) == want)
    assert(idTitles(adopted.readAt(0L).get) == keys.map(_ -> "v0").toSet)
    adopted.merge(latest(raw(200, "updated", "v2", keys.takeRight(2))), 2L)
    assert(idTitles(adopted.read().get) ==
      want -- keys.takeRight(2).map(_ -> "v0") ++ keys.takeRight(2).map(_ -> "v2"))
  }

  test("a merge at a compaction's generation is refused, not taken for a replay") {
    val local = tmp()
    val store = new BucketedStateStore(spark, local, numBuckets = 2)
    store.merge(latest(raw(0, "created", "v0", keys).union(raw(50, "deleted", null, Seq("gone")))), 0L)
    assert(store.compact(horizonSeq = 100L) == 1L)
    val compacted = idTitles(store.read().get)
    assert(!compacted.exists(_._1 == "gone"))
    val e = intercept[IllegalArgumentException](
      store.merge(latest(raw(200, "created", "new", Seq("n1"))), 1L))
    assert(e.getMessage.contains("compaction"))
    assert(idTitles(store.read().get) == compacted)
    store.merge(latest(raw(200, "created", "new", Seq("n1"))), 2L)
    assert(idTitles(store.read().get) == compacted + ("n1" -> "new"))
  }
}
