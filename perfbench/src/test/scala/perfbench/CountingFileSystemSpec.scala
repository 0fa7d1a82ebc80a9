package perfbench

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

class CountingFileSystemSpec extends AnyFunSuite {

  /** The same sequence of operations, with every observable result. */
  private def script(fs: FileSystem, root: Path): Seq[Any] = {
    val a = new Path(root, "a/f.txt")
    val out = fs.create(a, true)
    out.write("hello".getBytes("UTF-8"))
    out.close()
    val in = fs.open(a)
    val body = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    Seq(
      body,
      fs.exists(a),
      fs.mkdirs(new Path(root, "b")),
      fs.rename(a, new Path(root, "b/g.txt")),
      fs.exists(a),
      fs.listStatus(new Path(root, "b")).map(_.getPath.getName).sorted.toSeq,
      fs.getFileStatus(new Path(root, "b/g.txt")).getLen,
      fs.delete(new Path(root, "b"), true),
      fs.exists(new Path(root, "b")))
  }

  /** Run on a thread whose name puts its operations in the `other` scope. */
  private def onThread[T](body: => T): T = {
    var r: Option[T] = None
    val t = new Thread(() => r = Some(body), "perfbench-test")
    t.start(); t.join()
    r.get
  }

  private def init(fs: FileSystem): FileSystem = {
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    fs
  }

  test("the counting file system returns exactly what the local one does") {
    val d1 = Files.createTempDirectory("cfs-a")
    val d2 = Files.createTempDirectory("cfs-b")
    try {
      val plain = script(init(new LocalFileSystem), new Path(d1.toUri))
      Trace.start()
      val counted = try onThread(script(init(new CountingFileSystem), new Path(d2.toUri)))
      finally Trace.stop()
      assert(counted == plain)
      assert(Trace.counter("fs.other.create") == 1)
      assert(Trace.counter("fs.other.rename") == 1)
      assert(Trace.counter("fs.other.exists") == 3)
      assert(Trace.counter("fs.other.list") == 1)
      // exists() is implemented with getFileStatus(); nested calls are not
      // counted twice
      assert(Trace.counter("fs.other.stat") == 1)
    } finally Seq(d1, d2).foreach(Workload.deleteTree)
  }

  test("nothing is counted while tracing is off") {
    val d = Files.createTempDirectory("cfs-off")
    try {
      Trace.stop(); Trace.reset()
      onThread(script(init(new CountingFileSystem), new Path(d.toUri)))
      assert(CountingFileSystem.total("other") == 0)
    } finally Workload.deleteTree(d)
  }

  test("a Spark round trip through the counting file system reads back the same rows") {
    val d = Files.createTempDirectory("cfs-spark")
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
      .config("spark.hadoop.fs.file.impl.disable.cache", "true")
      .getOrCreate()
    try {
      Trace.start()
      val df = spark.range(1000).selectExpr("id", "id * 7 % 13 AS v")
      df.write.parquet(d.resolve("t").toString)
      val back = spark.read.parquet(d.resolve("t").toString)
      assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
      assert(Seq("stream", "read", "http", "other").map(CountingFileSystem.total).sum > 0)
    } finally { Trace.stop(); spark.stop(); Workload.deleteTree(d) }
  }
}
