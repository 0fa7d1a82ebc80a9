package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

/** Synthetic signal logs, derived only from a seed. The program receives
  * the generated JSON-lines files, never the seed.
  */
object Gen {

  /** One log line: the file source's `(seq, value)` frame. */
  final case class Line(seq: Long, id: String, action: String, json: String) {
    def text: String = s"""{"seq":$seq,"value":"${escape(json)}"}"""
  }

  val Priorities: IndexedSeq[String] = IndexedSeq("Low", "Medium", "High")

  /** Signal ids for key indices; `absent` ids never appear in any log. */
  def keyId(k: Long): String = f"sig-$k%07d"
  def absentId(k: Long): String = f"none-$k%07d"
  def markerId(file: Long): String = f"mk-$file%06d"

  private val Base = 1700000000L // 2023-11-14, older than any marker

  private def rfc3339(epochSec: Long): String =
    java.time.format.DateTimeFormatter.ISO_OFFSET_DATE_TIME.format(
      java.time.OffsetDateTime.ofInstant(
        java.time.Instant.ofEpochSecond(epochSec), java.time.ZoneOffset.UTC))

  private val Words = IndexedSeq("cpu", "disk", "latency", "alert", "queue",
    "deploy", "error", "spike", "node", "backlog", "memory", "timeout")

  /** `n` events over `nKeys` uniform keys, seq `seq0` upward: about 6 %
    * deletes, the rest created/updated with the production field shape.
    */
  def signalLog(seed: Long, n: Int, nKeys: Long, seq0: Long = 0L): Vector[Line] = {
    val rnd = new java.util.SplittableRandom(seed)
    Vector.tabulate(n) { i =>
      val seq = seq0 + i
      val id = keyId(rnd.nextLong(nKeys))
      val u = rnd.nextInt(100)
      if (u < 6) Line(seq, id, "deleted", s"""{"action":"deleted","id":"$id"}""")
      else {
        val action = if (u < 40) "created" else "updated"
        val ts = Base + rnd.nextLong(86400L * 30)
        val words = (0 until 3 + rnd.nextInt(12)).map(_ => Words(rnd.nextInt(Words.size)))
        event(seq, id, action, s"${words.take(3).mkString(" ")} $seq",
          words.mkString(" "), Priorities(rnd.nextInt(3)),
          s"author-${rnd.nextInt(97)}", rfc3339(ts), rfc3339(ts + rnd.nextInt(3600)))
      }
    }
  }

  /** A uniquely identifiable, currently-dated event the poller finds on
    * the newest-first listing.
    */
  def marker(seq: Long, file: Long, nowEpochSec: Long): Line =
    event(seq, markerId(file), "created", s"marker $file", "freshness marker",
      "High", "perfbench", rfc3339(nowEpochSec), rfc3339(nowEpochSec))

  private def event(seq: Long, id: String, action: String, title: String,
      content: String, priority: String, author: String, created: String,
      updated: String): Line =
    Line(seq, id, action,
      s"""{"action":"$action","id":"$id","title":"${escape(title)}",""" +
        s""""content":"${escape(content)}","priority":"$priority",""" +
        s""""author":"$author","created_at":"$created","updated_at":"$updated"}""")

  def escape(s: String): String = graft.HttpServe.jsonEscape(s)

  /** Write `lines` as one JSON-lines file. */
  def write(path: Path, lines: Seq[Line]): Unit = {
    val sb = new java.lang.StringBuilder
    lines.foreach(l => sb.append(l.text).append('\n'))
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
  }

  /** Land a file atomically: write it outside the watched directory, then
    * rename it in, so a micro-batch never reads a half-written file.
    */
  def land(staging: Path, watch: Path, name: String, lines: Seq[Line]): Unit = {
    val tmp = staging.resolve(name)
    write(tmp, lines)
    Files.move(tmp, watch.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Split a log into `files` contiguous JSON-lines files under `dir`. */
  def stage(dir: Path, log: Vector[Line], files: Int): Unit = {
    Files.createDirectories(dir)
    val per = (log.size + files - 1) / files
    log.grouped(per).zipWithIndex.foreach { case (part, i) =>
      write(dir.resolve(f"part-$i%04d.json"), part)
    }
  }
}
