package graft.streaming

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.projection.SignalProjection

/** Keyed state table for the streaming projection: hash-bucketed parquet
  * generations, published a whole batch at a time by a commit log.
  *
  * Layout:
  *   - `dir/bucket=<b>/gen=<batchId>/part-*.parquet`: bucket b as batch
  *     batchId rewrote it;
  *   - `dir/_commits/<N>`: batch N's commit, the generation of every
  *     bucket that holds data;
  *   - `dir/_store_manifest`: the layout parameters.
  *
  * Why this shape (the 100 TB design):
  *   - **Incremental merge.** A micro-batch only rewrites the buckets its
  *     keys hash into: merge cost is O(touched state), not O(total state).
  *     With B buckets and a batch touching k keys, at most min(k, B)
  *     buckets are read+rewritten. B scales with state size (config), so
  *     bucket files stay executor-memory-sized.
  *   - **Idempotent replay = exactly-once.** Generations and commits are
  *     named by the Structured Streaming batchId. A batch replayed after a
  *     crash rewrites the same gen dirs and the same commit from the
  *     commit before it — the checkpoint + idempotent sink contract
  *     (strictly stronger than the reference's at-least-once + idempotent
  *     Redis apply, consumer.go:46-51).
  *   - **Readers see whole batches and never block.** A merge stages its
  *     output, renames each touched bucket's new generation into place,
  *     and only then writes `_commits/N` (temp + rename). Readers resolve
  *     every path from one commit, so a read racing a commit sees batch
  *     N-1 or batch N in full, never a mix — the per-batch atomicity of
  *     the reference's one-transaction Redis apply. Structured Streaming's
  *     own `offsets/`+`commits/` logs and Delta's `_delta_log` are the
  *     same design; this slot is where such a table format would plug in.
  *   - **Retention.** The newest two commits are kept, with every gen dir
  *     they reference, so [[readAt]] serves any generation from the older
  *     of the two on. Older commit files are deleted once the new commit
  *     is durable; a bucket's unreferenced generations are deleted the
  *     next time a commit rewrites that bucket.
  *
  * Tombstones (action='deleted') are retained in state so late replays of
  * older events cannot resurrect deleted keys; [[compact]] drops them once
  * the log horizon passes (the same role as Kafka compaction tombstone
  * retention).
  */
class BucketedStateStore(
    spark: SparkSession,
    dir: String,
    numBuckets: Int = 8,
    key: String = "id",
    seq: String = "seq") {

  private val root = new Path(dir)
  private def fs: FileSystem =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Opt-in phase timing (`graft.store.diag=true`): prints each merge
    * phase's wall to stderr so StreamDiag sessions can attribute the
    * non-job addBatch time (driver FS round trips vs Spark jobs).
    * Diagnostic only — never read in a query path.
    */
  private def diag[T](phase: String)(body: => T): T =
    if (!spark.conf.getOption("graft.store.diag").contains("true")) body
    else {
      val t0 = System.nanoTime()
      val r = body
      System.err.println(
        f"[store-diag] $phase ${(System.nanoTime() - t0) / 1e6}%.1f ms")
      r
    }

  def bucketOf(c: Column): Column = pmod(xxhash64(c), lit(numBuckets))

  /** Layout manifest (r16 review finding): `bucketOf` decides which
    * buckets a merge reads AND where it writes, so reopening an existing
    * state dir with a different `numBuckets`/`key`/`seq` silently splits
    * keys across two bucket sets — merge never reads the old copy,
    * read() unions and serves BOTH rows, and a tombstone can only ever
    * hide one of them. The manifest is stamped on the store's first
    * write (temp + rename, like the commits) and every instance
    * validates against it ONCE before its first read or merge; a
    * mismatch fails loudly with the original parameters in the message.
    *
    * Pre-manifest dirs (older checkpoints) get an EXPLICIT adoption gate
    * (r16 ADVICE: the r16 form silently stamped the OPENING instance's
    * parameters on first write — so opening an old checkpoint with the
    * wrong numBuckets both performed the split-key merge the manifest
    * exists to prevent AND canonized the wrong layout as manifest
    * truth): first contact (read OR merge) with a manifest-less dir
    * that already has bucket dirs throws unless
    * `graft.store.adoptLayout=true`, and adoption validates the one
    * direction the layout itself can refute — an existing `bucket=N`
    * with N ≥ numBuckets proves the original store was wider (the
    * other direction is unprovable from a sparse listing, which is why
    * adoption is an explicit operator claim, not an inference). Fresh
    * dirs (no bucket dirs yet) stamp on first write as before.
    */
  private val manifestDesc = s"numBuckets=$numBuckets,key=$key,seq=$seq"
  private def manifestPath = new Path(root, "_store_manifest")
  @volatile private var manifestOk = false
  private def checkManifest(stampIfAbsent: Boolean): Unit = {
    if (manifestOk) return
    val mp = manifestPath
    if (fs.exists(mp)) {
      val in = fs.open(mp)
      val got = try new String(in.readAllBytes(), UTF_8).trim
      finally in.close()
      require(got == manifestDesc,
        s"state dir $dir was written with [$got] but opened with " +
          s"[$manifestDesc] — a mismatched layout silently splits keys " +
          "across bucket sets; open the store with the original parameters")
      manifestOk = true
    } else {
      // Manifest absent. A dir that ALREADY has bucket data predates the
      // manifest — the opening instance's parameters are a claim, not a
      // fact, so require the operator to make the claim explicitly
      // before any read/merge touches the buckets (and refuse outright
      // when the layout itself disproves it).
      val preManifest = allBuckets
      if (preManifest.nonEmpty) {
        require(spark.conf.getOption("graft.store.adoptLayout")
            .contains("true"),
          s"state dir $dir has bucket data but no layout manifest (a " +
            "pre-manifest checkpoint); opening it with the wrong " +
            "parameters would silently split keys across bucket sets. " +
            "If these opening parameters ARE the original ones " +
            s"[$manifestDesc], set graft.store.adoptLayout=true to " +
            "adopt and stamp them")
        val maxB = preManifest.max
        require(maxB < numBuckets,
          s"state dir $dir holds bucket=$maxB but was opened with " +
            s"numBuckets=$numBuckets — the original store was wider; " +
            "the adoption claim is refuted by the layout itself")
        // Validated adoption STAMPS immediately, read path included (r17
        // verdict #4: validate-only left manifestOk unset, so a read-only
        // consumer of an adopted legacy dir re-listed every bucket and
        // re-validated on every read until some merge stamped). Writing
        // the manifest the operator just claimed IS the point of the
        // claim — adoption is a one-time explicit upgrade action, after
        // which the dir is an ordinary manifest'd store. On the READ
        // path the stamp is best-effort (review finding: a consumer
        // with r-x-only access to the dir could previously read an
        // adopted legacy dir and now couldn't at all): a stamp failure
        // logs and memoizes the validation for THIS instance only —
        // the claim is not canonized, but reads proceed; a WRITE path
        // failure propagates (a merge needs write access regardless).
        if (stampIfAbsent) stampManifest()
        else try stampManifest()
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"[store] adoption of $dir validated but the manifest stamp " +
              s"failed (${e.getMessage}) — likely a read-only consumer; " +
              "memoizing the validation for this instance only")
          manifestOk = true
        }
      } else if (stampIfAbsent && fs.exists(root)) {
        stampManifest()
      }
    }
  }

  private def stampManifest(): Unit = {
    val tmp = new Path(root, "_store_manifest.tmp")
    val out = fs.create(tmp, true)
    try out.write(manifestDesc.getBytes(UTF_8))
    finally out.close()
    if (fs.rename(tmp, manifestPath)) manifestOk = true
    else {
      // Hadoop filesystems report rename failure by returning false; the
      // benign cause is a CONCURRENT stamper winning the race, in which
      // case the manifest now exists and re-validating it terminates.
      // Any other cause must fail loudly here — recursing while the
      // manifest is still absent would re-enter the adoption branch and
      // this method forever (the exists() guard is the termination
      // proof).
      require(fs.exists(manifestPath),
        s"could not stamp layout manifest $manifestPath (rename returned " +
          "false and no concurrent stamp exists)")
      checkManifest(stampIfAbsent = false)
    }
  }

  private def bucketPath(b: Long): Path = new Path(root, s"bucket=$b")
  private def genPath(b: Long, g: Long): Path = new Path(bucketPath(b), s"gen=$g")
  private def commitsPath = new Path(root, "_commits")
  private def commitPath(n: Long): Path = new Path(commitsPath, n.toString)

  /** The numbers n of `p`'s entries named `<prefix>n`, ascending: one
    * listing. `absent` answers for a `p` that does not exist.
    */
  private def numbered(p: Path, prefix: String,
      absent: => Seq[Long] = Seq.empty): Seq[Long] = {
    val Numbered = (java.util.regex.Pattern.quote(prefix) + "(\\d+)").r
    try fs.listStatus(p).toSeq.map(_.getPath.getName)
      .collect { case Numbered(n) => n.toLong }.sorted
    catch { case _: FileNotFoundException => absent }
  }

  private def allBuckets: Seq[Long] = numbered(root, "bucket=")

  /** Commit `id` of the log: the generation of every bucket that holds
    * data, the store's first commit (readAt below it is empty, not aged
    * out) and whether [[compact]] wrote it. Stored as text: `first`, plus
    * ` compact` for a compaction, then one `bucket gen` line each.
    */
  private case class Commit(id: Long, first: Long, gens: Map[Long, Long],
      compacted: Boolean = false) {
    def only(buckets: Seq[Long]): Map[Long, Long] = gens.filter(kv => buckets.contains(kv._1))
  }

  /** Committed batch ids, ascending: one listing of `_commits`. A dir
    * written before the commit log has no `_commits` and is adopted here.
    */
  private def commitIds(): Seq[Long] = {
    checkManifest(stampIfAbsent = false)
    numbered(commitsPath, "", absent = adoptLegacy())
  }

  /** Adopt a dir written before the commit log. Its newest generation N
    * may be a batch its checkpoint never committed, so a replay of N must
    * find the state before N: adoption commits both N and the generation
    * below it, each as the map the old per-bucket readers served at that
    * generation (each bucket's newest generation at or below it, when
    * that generation holds data). Both land in one directory rename.
    * Older history is unknown, so [[readAt]] below them is unservable.
    */
  private def adoptLegacy(): Seq[Long] = {
    val gens = allBuckets.map(b => b -> numbered(bucketPath(b), "gen="))
    def servedAt(g: Long): Commit = Commit(g, first = 0L, gens.flatMap { case (b, gs) =>
      gs.takeWhile(_ <= g).lastOption.filter(bg =>
        fs.listStatus(genPath(b, bg)).exists(_.getPath.getName.startsWith("part-"))).map(b -> _)
    }.toMap)
    val adopted = gens.flatMap(_._2).distinct.sorted.takeRight(2)
    if (adopted.nonEmpty) {
      val log = new Path(root, "_commits.adopting")
      fs.delete(log, true)
      adopted.foreach(g => writeCommit(servedAt(g), replay = false, log))
      require(fs.rename(log, commitsPath), s"rename $log -> $commitsPath failed")
    }
    adopted
  }

  private def readCommit(n: Long): Commit = {
    val in = fs.open(commitPath(n))
    val lines = try new String(in.readAllBytes(), UTF_8).linesIterator.toSeq
      finally in.close()
    val head = lines.head.split(' ')
    Commit(n, head(0).toLong,
      lines.tail.map(_.split(' ')).map(bg => bg(0).toLong -> bg(1).toLong).toMap,
      compacted = head.length > 1)
  }

  private def writeCommit(c: Commit, replay: Boolean, log: Path = commitsPath): Unit = {
    val tmp = new Path(log, s"${c.id}.tmp")
    val out = fs.create(tmp, true)
    val head = c.first.toString + (if (c.compacted) " compact" else "")
    try out.write((head +: c.gens.toSeq.sorted.map { case (b, g) => s"$b $g" })
      .mkString("", "\n", "\n").getBytes(UTF_8))
    finally out.close()
    val dst = new Path(log, c.id.toString)
    if (replay) fs.delete(dst, false)
    require(fs.rename(tmp, dst), s"rename $tmp -> $dst failed")
  }

  /** Current state (tombstones included); None if no state yet. */
  def read(): Option[DataFrame] = readAt(Long.MaxValue)

  /** TIME-TRAVEL read: state as of generation `maxGen` (inclusive), served
    * from the newest commit ≤ maxGen — a whole-batch snapshot (the
    * Delta/Iceberg version-read analog). The window is the newest two
    * commits (production sizes retention to its audit horizon). Below the
    * oldest retained commit the answer is None when the store had no
    * commit yet at `maxGen`; otherwise that snapshot was deleted by
    * retention and this throws instead of serving a newer one.
    */
  def readAt(maxGen: Long): Option[DataFrame] = {
    val ids = commitIds()
    ids.takeWhile(_ <= maxGen).lastOption.map(readCommit) match {
      case Some(c) => readPaths(c.gens)
      case None if ids.isEmpty || maxGen < readCommit(ids.head).first => None
      case None => throw new IllegalStateException(
        s"readAt($maxGen): the commit for generation $maxGen was deleted by " +
          s"retention (oldest retained commit: ${ids.head}) — the snapshot " +
          "is no longer servable; raise retention or read a newer generation")
    }
  }

  /** The store's data-file schema, memoized per instance (r19, guide
    * §1.2 step 1): `spark.read.parquet` re-infers the schema on every
    * call — a footer-read job per micro-batch merge (~40-75 ms of driver
    * wall, measured via `graft.store.diag`). The store's schema is
    * invariant by construction (the manifest pins the layout, and every
    * generation is written by the same [[SignalProjection.latestByKey]]
    * fold — a drifted schema would already fail merge's unionByName), so
    * the first write or first inferred read fixes it for the instance.
    */
  @volatile private var knownSchema: Option[org.apache.spark.sql.types.StructType] = None

  /** Read the given bucket → generation dirs; None if there are none. */
  private def readPaths(gens: Map[Long, Long]): Option[DataFrame] =
    if (gens.isEmpty) None
    else {
      val paths = gens.toSeq.sorted.map { case (b, g) => genPath(b, g).toString }
      val df = knownSchema.fold(spark.read)(sc => spark.read.schema(sc)).parquet(paths: _*)
      if (knownSchema.isEmpty) knownSchema = Some(df.schema)
      Some(df)
    }

  /** Merge one micro-batch (already reduced to per-key latest) into state
    * as generation `gen`. Only buckets containing batch keys are read and
    * rewritten. `gen` equal to the newest commit is a replay of that batch:
    * it folds into the commit before it, never into its own output.
    */
  def merge(batchLatest: DataFrame, gen: Long): Unit = {
    val ids = commitIds()
    val newest = ids.lastOption.map(readCommit)
    newest.foreach { c =>
      require(c.id <= gen,
        s"merge(gen=$gen) is older than the newest commit (${c.id}) of " +
          s"$dir. Likely cause: the state dir is reused under a fresh " +
          "checkpoint, which restarts batch ids at 0. Resume the checkpoint " +
          "that wrote this store, or give the new checkpoint a fresh state dir")
      require(!(c.id == gen && c.compacted),
        s"merge(gen=$gen) would replace the compaction commit $gen of $dir; " +
          "resume the stream with batch ids above the gen compact() returned")
    }
    val withBucket = batchLatest.withColumn("_bucket", bucketOf(col(key)))
    // Tiny driver-side collect: at most numBuckets longs (config-bounded,
    // scale-independent) — not a data collect.
    val affected = diag("merge.affected-probe") {
      withBucket.select(col("_bucket")).distinct()
        .collect().map(_.getLong(0)).toSeq.sorted
    }
    if (affected.isEmpty) return

    val base = if (newest.exists(_.id == gen)) ids.init.lastOption.map(readCommit) else newest
    val oldState = diag("merge.read-old")(base.flatMap(c => readPaths(c.only(affected))))
      .map(_.withColumn("_bucket", bucketOf(col(key))))
    val combined = oldState.fold(withBucket)(_.unionByName(withBucket))
    // ONE exchange per merge, not two (r18, guide §2.1): repartition to
    // the bucket layout the write needs FIRST, then fold grouped by
    // (_bucket, key) — _bucket is a function of the key, so the fold is
    // unchanged, and the bucket partitioning satisfies the aggregate's
    // distribution, eliding the fold's own key shuffle. (Both inputs are
    // already per-key latest — the batch by foreachBatch's reduction, the
    // old state by construction — so the dropped map-side combine had
    // nothing to combine.)
    val merged = SignalProjection.latestByKey(
      combined.repartition(numBuckets, col("_bucket")), key, seq,
      alsoGroup = Seq("_bucket"))
    diag("merge.write-buckets")(
      commitBatch(merged, affected, gen, ids, base, compaction = false))
  }

  /** Publish `data` (carrying a `_bucket` column) as batch `gen`: stage
    * it, rename each `affected` bucket's new generation into place, then
    * write `_commits/gen` — `base`'s map with the affected buckets
    * replaced; a bucket left without rows drops out — and apply retention.
    */
  private def commitBatch(data: DataFrame, affected: Seq[Long], gen: Long,
      ids: Seq[Long], base: Option[Commit], compaction: Boolean): Unit = {
    val staging = new Path(root, s"_staging_gen_$gen")
    fs.delete(staging, true)
    // co-locate each bucket into one task before the partitioned write:
    // one file per bucket per generation instead of (shuffle-partitions ×
    // buckets) small files — fewer renames, and readers open exactly one
    // file per bucket. At larger state, raise numBuckets, not files/bucket
    // — and note numBuckets now ALSO bounds the merge fold's CPU
    // parallelism (r18 ADVICE: the one-exchange merge repartitions to
    // numBuckets before the fold, so a small-numBuckets store folds on
    // few tasks; size B to state volume AND the cores a merge should use).
    // merge already holds exactly this layout — re-shuffling it here would
    // undo the one-exchange plan it built.
    val laid = if (compaction) data.repartition(numBuckets, col("_bucket"))
      else data
    diag("write.staging-job")(
      laid.write.partitionBy("_bucket").parquet(staging.toString))
    // The staged data files carry exactly this schema minus the partition
    // column — seed the read-path memo so the NEXT merge skips footer
    // inference (see [[readPaths]]).
    if (knownSchema.isEmpty)
      knownSchema = Some(org.apache.spark.sql.types.StructType(
        data.schema.fields.filterNot(_.name == "_bucket")))

    // Stamp/validate the layout manifest once the root exists (the
    // staging write above created it on a fresh store). A fresh store's
    // `_commits` dir exists before its first bucket rename, so a crash
    // before the first commit reads as empty, never as a legacy dir.
    checkManifest(stampIfAbsent = true)
    if (ids.isEmpty) fs.mkdirs(commitsPath)

    // Buckets touch disjoint paths, so their renames run CONCURRENTLY (on
    // an object store each costs a few RPC round trips; serializing B of
    // them multiplies that latency by B). Until the commit below, no
    // reader resolves these paths.
    val staged = numbered(staging, "_bucket=")
    diag("write.commit-loop")(
      forEachConcurrently(staged)(renameBucket(_, staging, gen)))
    val commit = Commit(gen, base.fold(gen)(_.first),
      base.fold(Map.empty[Long, Long])(_.gens) -- affected ++ staged.map(_ -> gen),
      compaction)
    writeCommit(commit, replay = ids.contains(gen))
    fs.delete(staging, true)

    // Retention, only now that the new commit is durable: keep it and
    // `base`, drop older commit files, and delete the rewritten buckets'
    // generations neither of the two references.
    ids.takeWhile(_ < base.fold(gen)(_.id)).foreach(n => fs.delete(commitPath(n), false))
    forEachConcurrently(affected) { b =>
      val keep = Set(base.flatMap(_.gens.get(b)), commit.gens.get(b)).flatten
      numbered(bucketPath(b), "gen=").filterNot(keep).foreach(g => fs.delete(genPath(b, g), true))
    }
  }

  /** Move one bucket's staged output to its generation dir. */
  private def renameBucket(b: Long, staging: Path, gen: Long): Unit = {
    val src = new Path(staging, s"_bucket=$b")
    val dst = genPath(b, gen)
    fs.delete(dst, true) // idempotent replay of the same batchId
    // fs.delete reports failure by returning FALSE like rename below;
    // renaming into a still-existing dst is the nastier failure — HDFS
    // then moves src INSIDE dst (gen=N/_bucket=b/part-*), whose
    // underscore dir is invisible to Spark, so the committed generation
    // would read EMPTY: a silent wipe. Verify the target is gone first.
    require(!fs.exists(dst),
      s"could not delete existing $dst for idempotent replay — failing " +
        "the batch so the checkpoint retries instead of committing an " +
        "empty generation")
    fs.mkdirs(dst.getParent)
    // Hadoop FileSystems report most rename failures by returning
    // FALSE (quota, concurrent delete, S3A copy failure) — not by
    // throwing. Swallowing it would let the commit reference a
    // generation that was never created. Fail the batch so the
    // checkpoint retries it.
    require(fs.rename(src, dst), s"rename $src -> $dst failed")
  }

  /** Run `body` over the buckets on a bounded pool; any failure
    * propagates (unwrapped) and fails the batch.
    * Single-element and empty inputs stay on the calling thread.
    */
  private def forEachConcurrently(buckets: Seq[Long])(body: Long => Unit): Unit =
    if (buckets.size <= 1) buckets.foreach(body)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(buckets.size, 8))
      try buckets.map(b => pool.submit[Unit](() => body(b))).foreach { f =>
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      } finally pool.shutdown()
    }

  /** Newest commit; -1 if the store is empty. */
  def currentMaxGen: Long = commitIds().lastOption.getOrElse(-1L)

  /** Version token for serving-layer cache invalidation: newest commit + 1,
    * 0 when the store is empty. One listing; a commit publishes a whole
    * batch, so the token moves exactly when the served state does.
    */
  def currentGenToken: Long = currentMaxGen + 1

  /** Drop tombstones older than `horizonSeq` (log-compaction analog),
    * writing the compacted buckets as generation `currentMaxGen + 1` —
    * the only gen that supersedes every existing one WITHOUT shadowing
    * future `merge(batchId)` writes. Returns the gen readers should
    * treat as current (resume the stream with batchIds above it; the
    * commit is marked as a compaction, so a merge at its gen is refused
    * rather than taken for a replay): the new gen if any bucket was
    * rewritten, else the unchanged max (a tombstone-free store compacts
    * to a no-op — no empty commit churn).
    */
  def compact(horizonSeq: Long): Long = {
    val g = currentMaxGen + 1
    if (compact(horizonSeq, g).nonEmpty) g else g - 1
  }

  /** Drop tombstones older than `horizonSeq` (log-compaction analog).
    * BUCKET-SELECTIVE: only buckets that actually hold a pre-horizon
    * tombstone are read and rewritten — the new commit keeps every other
    * bucket's current generation files verbatim. At 100× state size a
    * compaction epoch therefore costs O(buckets-with-old-tombstones),
    * not O(total state). Returns the rewritten bucket ids.
    *
    * The rewrite is deliberately not `merge`, which can only upsert: a
    * merge would resurrect the tombstones from the old generation it
    * unions with.
    *
    * `gen` must be strictly newer than the newest commit and finite: a
    * sentinel like Long.MaxValue would refuse every later
    * merge(batchId). Prefer the 1-arg overload, which derives the
    * successor gen itself.
    */
  def compact(horizonSeq: Long, gen: Long): Seq[Long] = {
    val ids = commitIds()
    val base = ids.lastOption.map(readCommit)
    val cur = base.fold(-1L)(_.id)
    require(gen > cur && gen < Long.MaxValue,
      s"compact gen=$gen must be a finite generation newer than the " +
        s"current max ($cur); use compact(horizonSeq) to derive it")
    base.flatMap(c => readPaths(c.gens)) match {
      case None => Seq.empty
      case Some(st) =>
        // Tombstone compaction is a SIGNAL-schema operation on an
        // otherwise schema-generic store (key/seq are parameters, the
        // tombstone marker is not): fail loudly and early on a store
        // without the signal action column (s14's claims store, s12's
        // struct-ordered store) instead of an opaque AnalysisException
        // mid-scan — and share the ONE Deleted constant so a marker
        // change can never silently turn compact into a no-op that
        // retains every tombstone forever (r16 review finding).
        require(st.columns.contains("action"),
          s"compact() requires the signal read-model 'action' column; " +
            s"this store's schema is [${st.columns.mkString(", ")}]")
        val tombstone =
          col("action") === graft.domain.SignalSchema.Deleted
        // Which buckets hold a pre-horizon tombstone? One filtered scan
        // (the action/seq predicates push down to the parquet readers),
        // then a driver collect bounded by numBuckets longs — config-
        // bounded like merge()'s, never a data collect.
        val affected = st
          .where(tombstone && col(seq) < horizonSeq)
          .select(bucketOf(col(key)).as("_bucket")).distinct()
          .collect().map(_.getLong(0)).toSeq.sorted
        if (affected.nonEmpty) {
          val kept = readPaths(base.get.only(affected)).get
            .where(!(tombstone && col(seq) < horizonSeq))
            .withColumn("_bucket", bucketOf(col(key)))
          commitBatch(kept, affected, gen, ids, base, compaction = true)
        }
        affected
    }
  }
}
