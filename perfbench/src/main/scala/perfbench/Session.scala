package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Path

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The session exactly as production builds it: the shared
  * [[graft.SessionDefaults]], `local[nproc]`, shuffle partitions = nproc.
  * Only scratch locations point into the run's work directory, and only
  * the traced session swaps in the counting file system.
  */
object Session {
  def nproc: Int = Runtime.getRuntime.availableProcessors

  def build(work: Path, traced: Boolean): SparkSession = {
    val n = nproc.toString
    val b = graft.SessionDefaults(SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString))
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** Host and JVM state, sampled at the start and end of a measured window,
  * so that a contended run can be told apart from the artifact alone.
  */
final class HostState {
  private val os = ManagementFactory.getOperatingSystemMXBean
  private def procCpuNs: Long = os match {
    case o: com.sun.management.OperatingSystemMXBean => o.getProcessCpuTime
    case _ => -1L
  }
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  def load1PerCore: Double = os.getSystemLoadAverage / Session.nproc

  val load1StartPerCore: Double = load1PerCore
  private var wall0 = System.nanoTime()
  private var cpu0 = procCpuNs
  private var gc0 = gcMs

  /** Restart the cpu/wall and GC window (peaks are reset too). */
  def mark(): Unit = {
    wall0 = System.nanoTime(); cpu0 = procCpuNs; gc0 = gcMs
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
  }
  def cpuPerWall: Double = (procCpuNs - cpu0).toDouble / (System.nanoTime() - wall0)
  def gcSec: Double = (gcMs - gc0) / 1000.0
  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0
}
