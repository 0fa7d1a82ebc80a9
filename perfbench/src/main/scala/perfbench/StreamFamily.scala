package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.SparkEntry

/** `stream_family`: the registered `s*` streaming queries, each timed once
  * (construction, which runs the stream, plus a noop write) over the
  * fixture tables kept in the benchmark's data directory. This is the only
  * workload over StreamingPack's stateful operators and the store's
  * `compact`/`readAt`. Each output is then checked, off the clock, against
  * the row count and hash recorded once for it.
  */
final class StreamFamily(ctx: Ctx) extends Workload {
  import StreamFamily._

  private val fixture = ctx.data.resolve(FixtureDir).toString
  private val oracle: Map[String, (Long, Long)] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(ctx.data.resolve(OracleFile)))
    node.properties().asScala.map { e =>
      e.getKey -> (e.getValue.get("rows").asLong, e.getValue.get("hash").asText.toLong)
    }.toMap
  }

  /** Touch every fixture table once: schema inference and a small
    * codegen'd action, as the bench harness warms up.
    */
  def setupRounds: Int = 7

  def setup(): Unit = Tables.foreach(t => graft.Tables(ctx.spark, fixture, t).limit(1).count())

  def measure(traced: Boolean): Window = {
    val fns = SparkEntry.queries
    var failed = 0L
    val runs = Queries.map { name =>
      val t0 = System.nanoTime()
      val (df, cons, plan) = try {
        val df = Trace.span("construct")(fns(name)(ctx.spark, fixture))
        val t1 = System.nanoTime()
        if (traced) Trace.span("plan")(df.queryExecution.executedPlan)
        val t2 = System.nanoTime()
        Trace.span("execute")(df.write.format("noop").mode("overwrite").save())
        (Some(df), (t1 - t0) / 1e9, (t2 - t1) / 1e9)
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
        (None, 0.0, 0.0)
      }
      val t3 = System.nanoTime()
      val ok = df.exists(d => fingerprint(d) == oracle(name))
      if (!ok) {
        failed += 1
        System.err.println(s"[perfbench] $name output does not match its recorded hash")
      }
      Run(name, t0, t3, cons, plan)
    }
    val walls = runs.map(_.wallS)
    val total = walls.sum
    val layers = if (!traced) Map.empty[String, Double] else {
      val jobs = Trace.named("spark.job")
        .filter(j => runs.exists(r => j.startNs >= r.startNs && j.startNs <= r.endNs))
      def sumAttr(a: String) = jobs.map(_.attrs(a)).sum.toDouble
      Map(
        "queries.cons_s" -> runs.map(_.consS).sum,
        "queries.plan_s" -> runs.map(_.planS).sum,
        "queries.exec_s" -> runs.map(r => r.wallS - r.consS - r.planS).sum,
        "queries.jobs" -> jobs.size.toDouble,
        "queries.tasks" -> sumAttr("tasks"),
        "queries.task_s" -> sumAttr("task_ms") / 1000.0,
        "queries.shuffle_mb" -> sumAttr("shuffle_b") / 1048576.0,
        "queries.spill_mb" -> sumAttr("spill_b") / 1048576.0) ++
        runs.map(r => s"queries.${r.name}_s" -> r.wallS)
    }
    Window(
      throughput = Queries.size / total,
      p50Ms = Stats.median(walls) * 1000,
      attempted = Queries.size, failed = failed,
      figures = Figure("queries_s", total, "s") +: runs.map(r => Figure(r.name, r.wallS, "s")),
      layers = layers)
  }

  def verify(): (Long, Long) = (0L, 0L)
}

object StreamFamily {
  val FixtureDir = "sf0.01"
  val OracleFile = "stream_family_oracle.json"
  val Tables: Seq[String] = Seq("events", "documents")

  /** The 23 registered streaming queries, in a fixed order. */
  val All: Seq[String] = (1 to 23).map { i =>
    SparkEntry.queries.keys.find(_.startsWith(s"s${i}_"))
      .getOrElse(sys.error(s"no registered query s${i}_*"))
  }

  /** The timed subset: one pass of all 23 takes about 52 s on 4 cores,
    * more than a run can afford, so a run times the queries over the
    * store and the stateful operators: the projection replay and live
    * projection into BucketedStateStore (s1, s6), the direct store with
    * compaction (s12), compaction (s13), the claims store (s14), time
    * travel through `readAt` (s15), the complete-mode window (s2), the
    * stream-stream join (s3), deduplication (s7) and session windows (s8).
    * The recorded oracle covers all 23.
    */
  val Queries: Seq[String] = Seq(1, 2, 3, 6, 7, 8, 12, 13, 14, 15).map(i => All(i - 1))

  private final case class Run(name: String, startNs: Long, endNs: Long,
      consS: Double, planS: Double) {
    def wallS: Double = (endNs - startNs) / 1e9
  }

  /** Row count and order-independent hash of a query's collected output. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val rows = df.collect()
    (rows.length.toLong, Stats.multisetHash(rows.iterator.map(Stats.canonical)))
  }

  /** One-time oracle recording: dump every query's output for the DuckDB
    * crosscheck (`<work>/dump`, with its oracle_sql.json) and write each
    * output's row count and hash to `out`.
    */
  def recordOracle(ctx: Ctx, out: Path): Unit = {
    val fixture = ctx.data.resolve(FixtureDir).toString
    graft.Verify.dump(ctx.spark, fixture, ctx.work.resolve("dump").toString, Some(All.toSet))
    val entries = All.map { name =>
      val (rows, hash) = fingerprint(SparkEntry.queries(name)(ctx.spark, fixture))
      s"""  "$name": {"rows": $rows, "hash": "$hash"}"""
    }
    Files.write(out, entries.mkString("{\n", ",\n", "\n}\n").getBytes(StandardCharsets.UTF_8))
  }
}
