package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.TestGroupState

import graft.SparkSuite
import graft.operators.DerivedSignalLog
import graft.projection.SignalProjection

class StreamingSpec extends SparkSuite {

  private def tmp(): String =
    Files.createTempDirectory("graft-test-").toFile.getAbsolutePath

  test("file-stream replay converges to the batch fold") {
    val dir = tmp()
    val log = DerivedSignalLog.log(spark, sf("sf0.001"))
    val eventCols = log.columns.filterNot(_ == "seq").map(col)
    log.select(col("seq"), to_json(struct(eventCols.toIndexedSeq: _*)).as("value"))
      .repartition(3).write.json(s"$dir/events")

    val proj = new StreamingProjection(spark, s"$dir/state", numBuckets = 4)
    proj.runFileStream(s"$dir/events", s"$dir/chk").awaitTermination()

    val streamed = proj.view.select("id", "seq", "action")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val batch = SignalProjection.project(log)
      .collect().map(r => (r.getAs[String]("id"), r.getAs[Long]("seq"))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("state merge is idempotent on batchId replay") {
    val dir = tmp()
    val store = new BucketedStateStore(spark, dir, numBuckets = 4)
    val batch = SignalProjection.latestByKey(
      SignalProjection.decode(rawEvents))
    store.merge(batch, gen = 7L)
    val first = store.read().get.collect().map(_.toString).sorted.toSeq
    store.merge(batch, gen = 7L) // crash-replay of the same micro-batch
    val second = store.read().get.collect().map(_.toString).sorted.toSeq
    assert(first == second)
  }

  test("a merge older than the newest commit is refused: a state dir reused under a fresh checkpoint") {
    val dir = tmp()
    val store = new BucketedStateStore(spark, dir, numBuckets = 4)
    val batch = SignalProjection.latestByKey(SignalProjection.decode(rawEvents))
    store.merge(batch, gen = 5L)
    // a fresh checkpoint restarts batch ids at 0
    val e = intercept[IllegalArgumentException](store.merge(batch, gen = 0L))
    assert(e.getMessage.contains("fresh checkpoint"), e.getMessage)
    assert(store.currentMaxGen == 5L)
    store.merge(batch, gen = 5L) // the replay of the newest batch is still allowed
  }

  test("incremental merges apply LWW and deletes across batches") {
    val dir = tmp()
    val store = new BucketedStateStore(spark, dir, numBuckets = 4)
    def batchOf(events: (Long, String)*) =
      SignalProjection.latestByKey(SignalProjection.decode(raw(events: _*)))

    store.merge(batchOf(
      0L -> ev("created", "a", "t0"), 1L -> ev("created", "b", "t0")), 0L)
    store.merge(batchOf(
      2L -> ev("updated", "a", "t1"), 3L -> """{"action":"deleted","id":"b"}"""), 1L)

    val state = store.read().get.collect()
      .map(r => r.getAs[String]("id") -> (r.getAs[Long]("seq"), r.getAs[String]("action")))
      .toMap
    assert(state("a") == (2L, "updated"))
    assert(state("b") == (3L, "deleted")) // tombstone retained in state
  }

  test("checkpoint resume: stopping and restarting does not lose or redo work") {
    val dir = tmp()
    val log = DerivedSignalLog.log(spark, sf("sf0.001"))
    val eventCols = log.columns.filterNot(_ == "seq").map(col)
    val jsonLog = log.select(col("seq"),
      to_json(struct(eventCols.toIndexedSeq: _*)).as("value"))

    // phase 1: only the first half of the log is visible
    jsonLog.where(col("seq") < 500).coalesce(1).write.json(s"$dir/events")
    val proj = new StreamingProjection(spark, s"$dir/state", numBuckets = 4)
    proj.runFileStream(s"$dir/events", s"$dir/chk").awaitTermination()
    val afterHalf = proj.view.count()
    assert(afterHalf > 0)

    // phase 2: the rest arrives; SAME checkpoint dir -> only new files run
    jsonLog.where(col("seq") >= 500).coalesce(1).write.mode("append")
      .json(s"$dir/events")
    proj.runFileStream(s"$dir/events", s"$dir/chk").awaitTermination()

    val streamed = proj.view.collect()
      .map(r => (r.getAs[String]("id"), r.getAs[Long]("seq"))).toSet
    val batch = SignalProjection.project(log)
      .collect().map(r => (r.getAs[String]("id"), r.getAs[Long]("seq"))).toSet
    assert(streamed == batch)
  }

  test("s9 streamed curation features equal the batch rowFeatures projection") {
    import org.apache.spark.sql.functions._
    val dir = sf("sf0.001")
    val streamed = graft.SparkEntry.queries("s9_stream_curation")(spark, dir)
    val batch = graft.operators.CurationPipeline.rowFeatures(
      graft.Tables(spark, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text")))
      .select(col("doc_id"), col("lang_ok"), col("quality_ok"), col("repetition_ok"))
      .withColumn("stream_keep",
        (col("lang_ok") === 1 && col("quality_ok") === 1 &&
          col("repetition_ok") === 1).cast("int"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("s19 stream-static LM gate equals batch t19 scores + the half-mean gate") {
    import org.apache.spark.sql.functions._
    val dir = sf("sf0.001")
    val streamed = graft.SparkEntry.queries("s19_stream_lm_gate")(spark, dir)
    // every doc scored exactly once despite the 2-batch parity split
    assert(streamed.count() === 500)
    assert(streamed.select("doc_id").distinct().count() === 500)
    val scores = graft.operators.TextPack.bigramLmScores(
      graft.Tables(spark, dir, "documents"))
    val mean = scores.agg(
      sum(col("avgq").cast("decimal(38,0)")).as("tot_q"),
      count(lit(1)).as("n_docs"))
    val batch = scores.crossJoin(broadcast(mean))
      .select(col("doc_id"), col("n_trans"), col("avg_p6"),
        (col("avgq").cast("decimal(38,0)") * 2 * col("n_docs") >= col("tot_q"))
          .cast("int").as("fluent"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("s20 drift monitor: streamed windows equal batch hours, stat and flag recompute exactly") {
    import org.apache.spark.sql.functions._
    val dir = sf("sf0.001")
    val rows = graft.SparkEntry.queries("s20_stream_drift")(spark, dir)
      .collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getInt(4)))
    assert(rows.nonEmpty)
    // one output row per event-time hour, with the batch event count
    val batchHours = graft.Tables(spark, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("h")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    assert(rows.length === batchHours.size)
    rows.foreach { case (w, nw, _, _, _) =>
      assert(batchHours.get(w).contains(nw), s"window $w count $nw")
    }
    val nRef = batchHours.values.sum
    rows.foreach { case (w, nw, num, tv, flag) =>
      // tv is exactly the one terminal division of the integer stat,
      // and the alert flag is the cross-multiplied 5% threshold
      assert(tv === num.toDouble / (2L * nw * nRef).toDouble, s"window $w tv")
      assert(flag === (if (num * 10 > nw * nRef) 1 else 0), s"window $w flag")
      assert(num >= 0 && num <= 2L * nw * nRef, s"window $w stat out of range")
    }
  }

  test("compact() drops old tombstones but keeps state intact") {
    val dir = tmp()
    val store = new BucketedStateStore(spark, dir, numBuckets = 4)
    val batch = SignalProjection.latestByKey(SignalProjection.decode(raw(
      0L -> ev("created", "keep", "t"),
      1L -> """{"action":"deleted","id":"gone"}""")))
    store.merge(batch, gen = 0L)
    assert(store.read().get.count() == 2) // tombstone retained

    store.compact(horizonSeq = 100L, gen = 1L)
    val rows = store.read().get.collect()
    assert(rows.map(_.getAs[String]("id")).toSeq == Seq("keep"))
  }

  test("compact() derives the successor generation and rejects shadowing gens") {
    val dir = tmp()
    val store = new BucketedStateStore(spark, dir, numBuckets = 4)
    val batch = SignalProjection.latestByKey(SignalProjection.decode(raw(
      0L -> ev("created", "keep", "t"),
      1L -> """{"action":"deleted","id":"gone"}""")))
    store.merge(batch, gen = 7L)

    // Long.MaxValue would permanently shadow every later merge(batchId);
    // a stale gen would itself be shadowed by current state. Both rejected.
    intercept[IllegalArgumentException](store.compact(100L, Long.MaxValue))
    intercept[IllegalArgumentException](store.compact(100L, gen = 7L))

    // 1-arg overload: derives currentMaxGen + 1 and reports it.
    assert(store.compact(horizonSeq = 100L) == 8L)
    assert(store.currentMaxGen == 8L)
    assert(store.read().get.collect().map(_.getAs[String]("id")).toSeq == Seq("keep"))

    // a later merge with a higher batchId is visible, not shadowed
    store.merge(SignalProjection.latestByKey(SignalProjection.decode(raw(
      2L -> ev("created", "next", "t2")))), gen = 9L)
    assert(store.read().get.collect().map(_.getAs[String]("id")).sorted.toSeq
      == Seq("keep", "next"))
  }

  test("LiveProjection.foldKey keeps the highest-seq event across batches") {
    val e1 = LiveProjection.KeyedEvent(5L, "created", "k", Some("t"), None, None, None, None, None)
    val e2 = LiveProjection.KeyedEvent(3L, "updated", "k", Some("old"), None, None, None, None, None)

    import org.apache.spark.api.java.Optional
    val s1 = TestGroupState.create[LiveProjection.KeyedEvent](
      Optional.empty(), org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
      1000L, Optional.empty(), hasTimedOut = false)
    val out1 = LiveProjection.foldKey("k", Iterator(e2, e1), s1).toSeq
    assert(out1.map(_.seq) == Seq(5L)) // batch-internal LWW

    val s2 = TestGroupState.create[LiveProjection.KeyedEvent](
      Optional.of(e1), org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
      1000L, Optional.empty(), hasTimedOut = false)
    val out2 = LiveProjection.foldKey("k", Iterator(e2), s2).toSeq
    assert(out2.map(_.seq) == Seq(5L)) // stale event can't regress state
  }

  private def ev(action: String, id: String, title: String): String =
    s"""{"action":"$action","id":"$id","title":"$title","priority":"Low",
       |"author":"u","created_at":"2026-01-01T00:00:00Z",
       |"updated_at":"2026-01-01T00:00:00Z"}""".stripMargin.replace("\n", "")

  private def raw(events: (Long, String)*) = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      events.map { case (s, v) => org.apache.spark.sql.Row(s, v) }.asJava,
      new org.apache.spark.sql.types.StructType()
        .add("seq", "long").add("value", "string"))
  }

  private def rawEvents = raw(
    0L -> ev("created", "x", "a"),
    1L -> ev("updated", "x", "b"),
    2L -> ev("created", "y", "c"))
}
