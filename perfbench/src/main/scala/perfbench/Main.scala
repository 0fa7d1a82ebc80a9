package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.Locale

/** Benchmark entry point, one workload per process:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --work DIR --data DIR [--record FILE]
  *
  * Prints one JSON line last: the end-to-end metrics (`--trace 0`) or the
  * per-layer metrics (`--trace 1`). A human-readable summary, host state
  * included, goes to stderr and to `<work>/record.json`.
  */
object Main {

  /** The end-to-end metrics of an untraced run, with their units. */
  val EndToEnd: Seq[(String, String)] =
    Seq("setup_s" -> "s", "throughput" -> "1/s", "p50_ms" -> "ms")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val tracing = args.getOrElse("trace", "0") == "1"
    val work = Paths.get(args("work")).toAbsolutePath
    val data = Paths.get(args("data")).toAbsolutePath
    require(Workloads.names.contains(workload), s"unknown workload $workload")

    val spark = Session.build(work, tracing)
    val host = new HostState
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val jobs = if (tracing) Some(new JobListener) else None
    jobs.foreach(spark.sparkContext.addSparkListener)
    val ctx = Ctx(spark, seed, seconds, work, data, progress)
    args.get("record").foreach { out =>
      StreamFamily.recordOracle(ctx, Paths.get(out))
      spark.stop()
      return
    }
    val w = Workloads(workload, ctx)

    w.warm()
    // The first set-up pays the JVM's one-time costs and is not counted.
    val setups = (0 to w.setupRounds).map { _ =>
      val t0 = System.nanoTime(); w.setup(); (System.nanoTime() - t0) / 1e9
    }.tail
    val setupS = Stats.median(setups)

    val (window, metrics) =
      if (!tracing) {
        host.mark()
        val win = w.measure(traced = false)
        (win, EndToEnd.zip(Seq(setupS, win.throughput, win.p50Ms))
          .map { case ((n, u), v) => Figure(n, v, u) })
      } else {
        // The first untraced window only warms up (it may pay one-time
        // staging); the overhead compares the traced window with the
        // untraced one that follows it.
        val before = w.measure(traced = false)
        Trace.start()
        host.mark()
        val traced = w.measure(traced = true)
        jobs.foreach(_.settle())
        Trace.stop()
        val after = w.measure(traced = false)
        val win = traced.copy(attempted = before.attempted + traced.attempted + after.attempted,
          failed = before.failed + traced.failed + after.failed)
        val common = Map(
          "spark.jobs" -> Trace.named("spark.job").size.toDouble,
          "jvm.gc_s" -> host.gcSec,
          "jvm.heap_peak_mb" -> host.heapPeakMb,
          "jvm.cpu_per_wall" -> host.cpuPerWall,
          "host.load1_start_per_core" -> host.load1StartPerCore,
          "host.load1_end_per_core" -> host.load1PerCore,
          "trace.overhead_pct" -> (after.throughput / win.throughput - 1) * 100)
        Trace.writeOut(work.resolve("trace.jsonl"))
        val layers = common ++ win.layers
        val unknown = layers.keySet -- Layers.names
        require(unknown.isEmpty, s"per-layer metrics not declared: ${unknown.mkString(", ")}")
        (win, Layers.all.map { case (n, u) => Figure(n, layers.getOrElse(n, 0.0), u) })
      }
    val (va, vf) = w.verify()
    w.close()
    val attempted = window.attempted + va
    val failed = window.failed + vf

    val summary = Seq(
      Figure("setup_s", setupS, "s"),
      Figure("failed_ratio", failed.toDouble / attempted.max(1L), "ratio")) ++
      window.figures ++ Seq(
      Figure("host.load1_start_per_core", host.load1StartPerCore, "load/core"),
      Figure("host.load1_end_per_core", host.load1PerCore, "load/core"),
      Figure("host.cpu_per_wall", host.cpuPerWall, "cores"))
    summary.foreach(f => System.err.println(
      String.format(Locale.ROOT, "[perfbench] %-28s %14.4f %s", f.name, f.value: java.lang.Double, f.unit)))
    Files.write(work.resolve("record.json"),
      (s"""{"workload":"$workload","seed":$seed,"seconds":$seconds,"trace":$tracing,""" +
        s""""setups_s":${setups.map(num).mkString("[", ",", "]")},""" +
        s""""summary":${metricsJson(summary)}}""" + "\n").getBytes(StandardCharsets.UTF_8))

    spark.stop()
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":${metricsJson(metrics)}}""")
  }

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else java.math.BigDecimal.valueOf(x).toPlainString

  def metricsJson(fs: Seq[Figure]): String =
    fs.map(f => s""""${f.name}":{"value":${num(f.value)},"unit":"${f.unit}"}""")
      .mkString("{", ",", "}")
}

object Workloads {
  val names: Seq[String] = Seq("live", "stream_family")
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "live" => new Live(ctx)
    case "stream_family" => new StreamFamily(ctx)
  }
}
