package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Ctx(spark: SparkSession, seed: Long, seconds: Int, work: Path,
    data: Path, progress: ProgressLog)

/** A named figure for the human-readable summary. */
final case class Figure(name: String, value: Double, unit: String)

/** One measured window: the end-to-end figures, the correctness tally of
  * everything checked inside it, the named figures for the summary, and
  * (traced windows) the per-layer metrics.
  */
final case class Window(throughput: Double, p50Ms: Double, attempted: Long,
    failed: Long, figures: Seq[Figure], layers: Map[String, Double] = Map.empty)

trait Workload {
  /** Once per process, before the set-ups: JIT and codegen warm-up that
    * users of a long-running server pay once.
    */
  def warm(): Unit = ()
  /** Build the measured state from scratch; called several times, the
    * last one is measured.
    */
  def setup(): Unit
  /** Set-ups timed per run, after one uncounted; `setup_s` is their median. */
  def setupRounds: Int
  def measure(traced: Boolean): Window
  /** Checks run after the measured windows: (attempted, failed). */
  def verify(): (Long, Long)
  def close(): Unit = ()
}

object Workload {
  /** A fresh, empty directory under the run's work directory. */
  def freshDir(ctx: Ctx, name: String): Path = {
    val d = ctx.work.resolve(name)
    deleteTree(d)
    Files.createDirectories(d)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      val all = try walk.iterator().asScala.toSeq finally walk.close()
      all.reverseIterator.foreach(Files.deleteIfExists)
    }

  def treeFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val walk = Files.walk(p)
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).toSeq finally walk.close()
    }

  def millis(ns: Long): Double = ns / 1e6

  /** Median wall of `n` calls of `body`, in ms. */
  def timedMedian(n: Int)(body: => Any): Double =
    Stats.median((1 to n).map { _ =>
      val t0 = System.nanoTime(); body; millis(System.nanoTime() - t0)
    })
}

/** Per-layer metrics derived from a traced window's micro-batches, job
  * spans and file-system counters.
  */
object StreamLayers {
  def apply(batches: Seq[ProgressLog.Batch]): Map[String, Double] = {
    val bs = batches.filter(_.rows > 0)
    val n = bs.size.max(1).toDouble
    val ids = bs.map(_.batchId).toSet
    val jobs = Trace.named("spark.job").filter(s => ids.contains(s.attrs("batch")))
    def perBatch(attr: String) = jobs.map(_.attrs(attr)).sum / n
    def fs(op: String) = Trace.counter("fs.stream." + op) / n
    val trig = bs.map(_.ms("triggerExecution").toDouble)
    Map(
      "streaming.batches" -> bs.size.toDouble,
      "streaming.trigger_p50_ms" -> Stats.percentile(trig, 0.5),
      "streaming.trigger_p99_ms" -> Stats.percentile(trig, 0.99),
      "streaming.addbatch_p50_ms" -> Stats.percentile(bs.map(_.ms("addBatch").toDouble), 0.5),
      "streaming.coord_ms_per_batch" ->
        bs.map(b => b.ms("triggerExecution") - b.ms("addBatch")).sum / n,
      "streaming.jobs_per_batch" -> jobs.size / n,
      "streaming.tasks_per_batch" -> perBatch("tasks"),
      "streaming.task_ms_per_batch" -> perBatch("task_ms"),
      "streaming.shuffle_kb_per_batch" -> perBatch("shuffle_b") / 1024.0,
      "sources.offset_ms" -> bs.map(b => b.ms("latestOffset") + b.ms("getBatch")).sum / n,
      "store.fs_ops_per_batch" -> CountingFileSystem.total("stream") / n,
      "store.list_per_batch" -> fs("list"),
      "store.exists_per_batch" -> fs("exists"),
      "store.rename_per_batch" -> fs("rename"),
      "store.delete_per_batch" -> fs("delete"),
      "store.create_per_batch" -> fs("create"))
  }

  /** Direct store probes and its on-disk shape. */
  def store(st: graft.streaming.BucketedStateStore, dir: Path): Map[String, Double] = {
    val files = Workload.treeFiles(dir)
    val walk = Files.walk(dir)
    val gens = try walk.iterator().asScala
      .count(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("gen="))
    finally walk.close()
    Map(
      "store.token_ms" -> Workload.timedMedian(21)(st.currentGenToken),
      "store.read_ms" -> Workload.timedMedian(11)(st.read()),
      "store.files" -> files.size.toDouble,
      "store.gens" -> gens.toDouble,
      "store.state_mb" -> files.map(Files.size).sum / 1048576.0)
  }
}
