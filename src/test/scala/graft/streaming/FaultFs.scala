package graft.streaming

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

/** Test-only Hadoop FileSystem: the local file system under its own
  * `faultfs` scheme, with every rename passed through [[FaultFs.onRename]]
  * first. A spec fails a chosen rename by returning false (the way Hadoop
  * file systems report most rename failures) or stalls it by blocking.
  */
class FaultFs extends RawLocalFileSystem {
  override def getUri: URI = FaultFs.Uri
  override def getScheme: String = FaultFs.Scheme
  override def rename(src: Path, dst: Path): Boolean =
    FaultFs.onRename(src, dst) && super.rename(src, dst)
}

object FaultFs {
  val Scheme = "faultfs"
  val Uri: URI = URI.create(s"$Scheme:///")

  /** Runs before every rename; false fails it. Reset with [[reset]]. */
  @volatile var onRename: (Path, Path) => Boolean = (_, _) => true
  def reset(): Unit = onRename = (_, _) => true

  def register(conf: Configuration): Unit =
    conf.set(s"fs.$Scheme.impl", classOf[FaultFs].getName)

  /** The `faultfs` URI of an absolute local path. */
  def path(local: String): String = s"$Scheme://$local"
}
