package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Pass-through local file system that counts top-level operations into
  * [[Trace]] (`fs.<scope>.<op>`). Registered as `fs.file.impl` by the traced
  * session only; calls nested inside another counted call are not
  * counted again.
  */
class CountingFileSystem extends LocalFileSystem {
  private def op[T](name: String)(body: => T): T = {
    val d = CountingFileSystem.depth.get()
    if (d == 0) Trace.count(CountingFileSystem.scope + name)
    CountingFileSystem.depth.set(d + 1)
    try body finally CountingFileSystem.depth.set(d)
  }
  override def listStatus(f: Path): Array[FileStatus] = op("list")(super.listStatus(f))
  override def listLocatedStatus(f: Path) = op("list")(super.listLocatedStatus(f))
  override def listStatusIterator(f: Path) = op("list")(super.listStatusIterator(f))
  override def exists(f: Path): Boolean = op("exists")(super.exists(f))
  override def getFileStatus(f: Path): FileStatus = op("stat")(super.getFileStatus(f))
  override def rename(src: Path, dst: Path): Boolean = op("rename")(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    op("delete")(super.delete(f, recursive))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    op("mkdirs")(super.mkdirs(f, permission))
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    op("open")(super.open(f, bufferSize))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    op("create")(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
}

object CountingFileSystem {
  val Ops: Seq[String] =
    Seq("list", "exists", "stat", "rename", "delete", "mkdirs", "open", "create")
  private val depth = new ThreadLocal[Int] { override def initialValue(): Int = 0 }

  /** Which layer caused an operation: `http` on an HTTP handler thread;
    * `stream` on the stream's own threads and in tasks of a micro-batch
    * job; `read` in tasks of any other job (serving collects); `other`
    * for the benchmark's own calls.
    */
  private def scope: String = {
    val tc = org.apache.spark.TaskContext.get()
    val t = Thread.currentThread().getName
    if (tc != null) {
      if (tc.getLocalProperty("streaming.sql.batchId") != null) "fs.stream." else "fs.read."
    } else if (t.startsWith("graft-http")) "fs.http."
    else if (t.startsWith("stream execution") || t.startsWith("pool-")) "fs.stream."
    else "fs.other."
  }

  def total(scope: String): Long = Ops.map(o => Trace.counter(s"fs.$scope.$o")).sum
}

/** Spark job spans for the traced run: each job records its task count,
  * task time, shuffle and spill, and the micro-batch that ran it (the
  * `streaming.sql.batchId` local property; -1 outside a stream).
  */
final class JobListener extends SparkListener {
  private final class Acc(val startNs: Long, val batch: Long) {
    var tasks = 0L; var taskMs = 0L; var shuffleB = 0L; var spillB = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, Acc]()
  private val stageJob = new ConcurrentHashMap[Integer, Integer]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Trace.on) {
      val batch = Option(e.properties)
        .flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
        .map(_.toLong).getOrElse(-1L)
      jobs.put(e.jobId, new Acc(System.nanoTime(), batch))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = stageJob.get(e.stageId)
    val acc = if (j == null) null else jobs.get(j.intValue)
    val m = e.taskMetrics
    if (acc != null && m != null) acc.synchronized {
      acc.tasks += 1
      acc.taskMs += m.executorRunTime
      acc.shuffleB += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      acc.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val acc = jobs.remove(e.jobId)
    if (acc != null) acc.synchronized {
      Trace.record("spark.job", 0L, acc.startNs, System.nanoTime(),
        Map("batch" -> acc.batch, "tasks" -> acc.tasks, "task_ms" -> acc.taskMs,
          "shuffle_b" -> acc.shuffleB, "spill_b" -> acc.spillB))
    }
  }

  /** Listener delivery is asynchronous: wait until no job is open (2 s cap). */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 2000000000L
    Thread.sleep(100)
    while (!jobs.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
  }
}

/** Every micro-batch's progress, traced or not (Spark reports it anyway). */
final class ProgressLog extends StreamingQueryListener {
  import ProgressLog.Batch
  val batches = new ConcurrentLinkedQueue[Batch]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    import scala.jdk.CollectionConverters._
    batches.add(Batch(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.numInputRows, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
  def drain(): Seq[Batch] = {
    import scala.jdk.CollectionConverters._
    val xs = batches.asScala.toSeq
    batches.clear()
    xs
  }
}

object ProgressLog {
  final case class Batch(batchId: Long, startMs: Long, rows: Long,
      durations: Map[String, Long]) {
    def ms(k: String): Long = durations.getOrElse(k, 0L)
    def endMs: Long = startMs + ms("triggerExecution")
  }
}
