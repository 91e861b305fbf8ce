package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The segment lifecycle shared by the five persisted index layouts:
  * BM25 term-sharded postings, dedup shingle-sharded postings, IVF and
  * IVF-PQ cell-partitioned vectors, and binary-quantized (BQ) codes. It
  * is Lucene's segment model on parquet directories:
  *
  *   - WRITE:   a leased [[rebuild]] clears every lifecycle state, then
  *              writes one clustered layout, O(partitions) files;
  *   - APPEND:  new files into the resolved table ([[appendTo]]);
  *   - SEGMENT: each micro-batch is an immutable unpartitioned
  *              `batch=<id>` directory ([[writeSegment]]), replayed by
  *              per-batch overwrite; readers union base and segments
  *              ([[readLive]]);
  *   - REMOVE:  O(batch) tombstone ids, no partition rewritten; readers
  *              anti-join them. BM25 lists its delete batches in its
  *              versioned stats row instead of a loose sidecar, so the
  *              delete set and the stats shift flip in one swap;
  *   - FOLD:    a leased fold ([[leasedFold]]) snapshots the live
  *              segments and tombstones, version-swaps the merged base
  *              and retires exactly that snapshot with one fold of grace;
  *   - MAINTAIN: [[cycle]] acts on a threshold-gated [[maintenancePlan]];
  *   - UPGRADE: [[upgrade]] (and the BM25 and dedup steps on it) migrates
  *              an index written in a retired on-disk format, once.
  *
  * Every path comes from one [[Paths]] value, in one of two conventions:
  * `nested` (`$root/<table>`, `$root/segments`, `$root/tombstones`;
  * BM25, dedup, BQ) and `sibling` (the table is `$root` itself, with
  * `$root.segments` and `$root.tombstones` beside it, because a subdir
  * inside a cell-partitioned table would break partition discovery;
  * IVF, IVF-PQ).
  */
object IndexLayout {

  private def fsOf(spark: SparkSession,
                   p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ---------------------------------------------------------------------
  // Version-pointer indirection (object-store-safe swaps).
  //
  // A swappable table directory D is EITHER a plain parquet layout at D
  // (what the index writers emit) OR a versioned one: data at the SIBLING
  // `D.v<n>` with a tiny manifest FILE `D._CURRENT` holding `n`. All
  // operator reads and appends go through [[resolve]], so flipping the
  // manifest retargets every reader atomically. [[writeSwap]] writes the
  // full new layout to `D.v<n+1>` FIRST and flips the manifest LAST —
  // on an object store (where directory rename is copy+delete) a reader
  // never observes a missing or partial table: before the flip it reads
  // the old version, after it the new one; old versions are deleted only
  // after the flip, and a crash at any point leaves at worst an orphan
  // version directory that the next swap garbage-collects. (Siblings,
  // not `D/v=<n>` subdirs: a version subdir inside D would pollute
  // Spark's partition discovery for readers of the old layout mid-swap.)
  //
  // Two availability refinements for long scans and object stores:
  //
  //  - N-1 RETENTION: a flip deletes only layouts at least TWO swaps old
  //    — the version (or plain dir) that was current until this flip
  //    survives one more swap. A reader that resolved the old version and
  //    is mid-scan when a compaction lands keeps its parquet files until
  //    the NEXT compaction; at 100 TB, where a scan is minutes long and
  //    compaction is routine, immediate GC would delete files under every
  //    scan that straddles a swap. (One compaction-interval of grace is
  //    the standard snapshot-retention trade — readers slower than a full
  //    compaction cycle take an explicit PIN, below.)
  //
  //  - SNAPSHOT PINS: [[pinCurrent]] drops a tiny `D._PIN.v<n>.<token>`
  //    file; every flip's GC skips pinned layouts, so a pinned version
  //    survives ANY number of swaps until [[unpin]] releases it — the
  //    Iceberg-snapshot idea reduced to one marker object per pin. Pins
  //    are crash-visible state: a reader that dies without unpinning
  //    leaks retention (bounded: one layout copy per leaked pin) until
  //    an operator clears it — the deliberate trade, since auto-expiry
  //    would reintroduce exactly the delete-under-a-slow-reader race
  //    pins exist to close.
  //
  //  - FLIP-WINDOW TOLERANCE: the manifest flip is tmp + rename(OVERWRITE)
  //    — atomic on HDFS/local, but an object-store connector may
  //    implement rename as copy+delete, leaving a window where NO
  //    manifest is visible. A one-time marker FILE `D._VERSIONED`
  //    (created before the first flip, deleted only by [[clearVersions]])
  //    records that this table HAS a manifest, so [[resolve]] can tell
  //    "manifest mid-rename / lost" (marker present: re-read once, then
  //    fall back to the highest version directory — complete data by the
  //    write-before-flip invariant) from "plain layout" (no marker: the
  //    plain dir, never a half-written version sibling).
  // ---------------------------------------------------------------------

  /** The manifest's current version, or None for a plain (unversioned)
    * layout. A manifest that exists but cannot be parsed is corruption —
    * loud, never a silent fallback to stale plain data.
    */
  /** Driver-side manifest probes since JVM start — each is ≥1 filesystem
    * round-trip (an exists + maybe a read), i.e. ≥1 object-store API call
    * in production. Counted so IndexLayoutSpec can assert the
    * multi-layout read path stays O(1) manifest probes per sub-table as
    * the segment count grows (segments are never versioned, so resolving
    * each one was pure chatter).
    */
  private[graft] val manifestProbes = new java.util.concurrent.atomic.AtomicLong

  def currentVersion(spark: SparkSession, dir: String): Option[Int] = {
    manifestProbes.incrementAndGet()
    val m = new org.apache.hadoop.fs.Path(dir + "._CURRENT")
    val fs = fsOf(spark, m)
    if (!fs.exists(m)) None
    else {
      val in = fs.open(m)
      val raw = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                finally in.close()
      val n = raw.trim
      require(n.nonEmpty && n.forall(_.isDigit), s"corrupt manifest $m: '$raw'")
      Some(n.toInt)
    }
  }

  /** The version a reader is EFFECTIVELY served (None = the plain
    * layout): the manifest's version, or — manifest absent but the
    * `_VERSIONED` marker present (mid-rename flip window, or lost) — one
    * re-read, then the highest COMMITTED version directory. Committed
    * only: a compactor killed mid-[[prepareVersion]] leaves a partial
    * `dir.v<max>` with no completion marker, and serving it would be
    * silent partial data; every COMPLETED prepare stamps the marker
    * before the flip, so the highest committed sibling is always a full
    * layout. This single derivation is shared by [[resolve]] (what
    * readers scan), [[flipVersion]] (what GC must spare) and
    * [[pinCurrent]] (what a pin must protect) — the three MUST agree, or
    * a flip after manifest loss deletes files under the readers/pins
    * that resolved through the fallback.
    */
  private[graft] def effectiveVersion(spark: SparkSession,
                                      dir: String): Option[Int] =
    currentVersion(spark, dir).orElse {
      val marker = new org.apache.hadoop.fs.Path(dir + "._VERSIONED")
      if (!fsOf(spark, marker).exists(marker)) None
      else currentVersion(spark, dir) match { // re-read: rename window
        case s @ Some(_) => s
        case None =>
          val vs = committedVersionDirs(spark, dir)
          require(vs.nonEmpty,
            s"$dir is marked versioned but has no manifest and no " +
              "complete version directories — corrupt layout, or version " +
              "directories that predate the completion marker: run the " +
              "index's upgrade (IndexLayout.upgrade) once while its " +
              "manifest is intact")
          Some(vs.map(_._1).max)
      }
    }

  /** The directory actually holding `dir`'s data: `dir.v<n>` when a
    * version manifest exists, `dir` itself otherwise. Every operator
    * read/append of a swappable table goes through this.
    *
    * Manifest absent but the `_VERSIONED` marker present means the
    * manifest is mid-rename (an object-store flip window) or lost: the
    * manifest is re-read once (the rename usually completes within the
    * round-trip), then the HIGHEST COMMITTED version directory is used —
    * complete by its `_GRAFT_COMMITTED` marker (a crashed-prepare
    * orphan, which has no marker, is never served), and under N-1
    * retention the highest committed is the one being (or just) flipped
    * to. A plain layout (no `_VERSIONED` marker) never consults version
    * siblings, so a reader during a FIRST compaction's prepare phase
    * cannot resolve to the in-progress `dir.v1`.
    */
  def resolve(spark: SparkSession, dir: String): String =
    effectiveVersion(spark, dir) match {
      case Some(n) => s"$dir.v$n"
      case None    => dir
    }

  /** Post-append visibility check: direct appends write into the
    * RESOLVED directory, but a compaction running concurrently snapshots
    * the old version, writes the next one, and flips — rows appended
    * after its snapshot would sit in a retired version, invisible to
    * readers while the merged stats still count them. Appenders capture
    * the resolved target BEFORE the write and call this AFTER it: a flip
    * in between fails LOUDLY (the retired version survives one more swap
    * under N-1 retention, so re-running the append loses nothing).
    *
    * The guard is a DETECTOR, not a lock: it catches every flip that
    * completes before the check runs, but a compactor that snapshotted
    * the layout before this append's files landed and flips after the
    * check still strands the rows silently. The contract therefore
    * stands: direct appends must not run concurrently with compaction —
    * streaming SEGMENTS are the concurrent-safe write path (they land
    * beside the base and compaction folds only the snapshot it listed);
    * this guard exists to make accidental violations loud in the common
    * case, not to license the combination.
    */
  def assertAppendVisible(spark: SparkSession, dir: String,
                          target: String): Unit = {
    val now = resolve(spark, dir)
    require(now == target,
      s"concurrent compaction flipped $dir during a direct append " +
        s"(target $target is no longer current: $now) — the appended " +
        "rows are in a retired version; re-run the append, or use the " +
        "segment write path for writes concurrent with compaction")
  }

  /** Pin the CURRENTLY-resolved layout of `dir` against compaction GC
    * and return the pin token. The pinned snapshot (the plain dir for an
    * unversioned table — version 0 — or the current `dir.v<n>`) survives
    * every subsequent swap until [[unpin]] releases the token; pair with
    * [[resolve]] taken at the same moment for a scan that may outlast
    * several compaction cycles. One tiny marker object per pin; pins do
    * not block compactions, only the GC of their snapshot.
    *
    * The read-version-then-write-pin race against a concurrent flip is
    * benign BECAUSE of N-1 retention: a flip landing between the two
    * steps cannot GC the version being pinned (it was current until
    * that flip, so retention spares it), and the late-landing pin then
    * protects it from the flip after that.
    */
  def pinCurrent(spark: SparkSession, dir: String): String =
    pinVersion(spark, dir, effectiveVersion(spark, dir).getOrElse(0))

  /** Drop the pin marker for an explicit version number. The version is
    * derived by [[pinCurrent]]/[[withPin]] through [[effectiveVersion]]
    * — the SAME fallback readers resolve with — so during a manifest
    * rename window or after manifest loss the pin protects exactly the
    * snapshot the paired resolve scans, never the plain dir (version 0)
    * while readers are on `dir.v<n>`.
    */
  private def pinVersion(spark: SparkSession, dir: String, v: Int): String = {
    val token = java.util.UUID.randomUUID().toString
    val p = new org.apache.hadoop.fs.Path(s"$dir._PIN.v$v.$token")
    fsOf(spark, p).create(p, true).close()
    token
  }

  /** Run `body` against a pinned snapshot of `dir`: pins the currently
    * effective version, hands `body` the pinned layout's CONCRETE data
    * directory (scan that path, not a fresh `resolve` — later flips
    * retarget resolve but cannot GC the pin), and releases the pin on
    * ALL exits, including failure. This is the supported pairing the
    * raw pin/resolve/unpin triple leaves by convention: the pinned
    * version and the scanned directory are derived from one
    * [[effectiveVersion]] read, so they cannot disagree. (A flip landing
    * between that read and the pin-marker write is benign under N-1
    * retention — see [[pinCurrent]].) Use for any read that may outlast
    * a compaction cycle: exports, full-corpus audits, retrain input
    * scans taken outside the maintenance lease.
    */
  def withPin[T](spark: SparkSession, dir: String)(body: String => T): T = {
    val (data, token) = pinResolved(spark, dir)
    try body(data)
    finally unpin(spark, dir, token)
  }

  /** [[withPin]]'s acquisition half, for callers whose pin lifetime
    * cannot be a single lexical scope (e.g. several pins taken together
    * under a short maintenance lease, then held across a long scan):
    * pins the currently effective version and returns (the pinned
    * layout's concrete data directory to scan, the token to [[unpin]]).
    * The version and the directory derive from one [[effectiveVersion]]
    * read, so they cannot disagree; the caller owns releasing the token
    * on every exit.
    */
  def pinResolved(spark: SparkSession, dir: String): (String, String) = {
    val v = effectiveVersion(spark, dir).getOrElse(0)
    val token = pinVersion(spark, dir, v)
    (if (v == 0) dir else s"$dir.v$v", token)
  }

  /** Release a [[pinCurrent]] token: the pinned layout becomes ordinary
    * retention state and the NEXT swap garbage-collects it (if it is by
    * then at least two swaps old). Unknown/already-released tokens are
    * no-ops.
    */
  def unpin(spark: SparkSession, dir: String, token: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val parent = p.getParent
    val fs = fsOf(spark, p)
    if (parent != null && fs.exists(parent)) {
      val suffix = "." + token
      fs.listStatus(parent).toSeq
        .filter(st => st.isFile &&
          st.getPath.getName.startsWith(p.getName + "._PIN.v") &&
          st.getPath.getName.endsWith(suffix))
        .foreach(st => fs.delete(st.getPath, false))
    }
  }

  /** The pins currently held on `dir`: (version, token, ageMillis) per
    * marker, oldest first. Version 0 = the plain layout. The operator
    * tool for pin hygiene: a reader that crashed without unpinning leaks
    * retention (one layout copy per leaked pin, bounded) and is
    * invisible except through this listing — `ageMillis` (marker
    * mod-time) is the triage signal, and `unpin(dir, token)` is the
    * clear. Deliberately NOT auto-expired: expiry would reintroduce the
    * delete-under-a-slow-reader race pins exist to close.
    */
  def listPins(spark: SparkSession,
               dir: String): Seq[(Int, String, Long)] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val parent = p.getParent
    val fs = fsOf(spark, p)
    if (parent == null || !fs.exists(parent)) Seq.empty
    else {
      val re = (java.util.regex.Pattern.quote(p.getName) +
        "\\._PIN\\.v(\\d+)\\.(.+)").r
      val now = System.currentTimeMillis()
      fs.listStatus(parent).toSeq.filter(_.isFile).flatMap { st =>
        st.getPath.getName match {
          case re(n, token) =>
            Some((n.toInt, token, math.max(0L, now - st.getModificationTime)))
          case _ => None
        }
      }.sortBy(-_._3)
    }
  }

  /** The version numbers currently pinned for `dir` (0 = the plain
    * layout).
    */
  private def pinnedVersions(spark: SparkSession, dir: String): Set[Int] =
    listPins(spark, dir).map(_._1).toSet

  // ---------------------------------------------------------------------
  // Single-maintainer lease. SWAP-CLASS maintenance (remove / compact /
  // re-shard / retrain) mutates shared lifecycle state that is
  // SNAPSHOTTED then CLEARED (segment lists, tombstone batches, version
  // manifests): two concurrent maintainers both compute `max+1` in
  // prepareVersion, overwrite the same `dir.v<n+1>`, double-flip, and
  // each one's snapshot clear can delete state the other never folded —
  // silent data loss. The contract is therefore ONE maintainer at a time
  // per index, enforced by a create-exclusive lease marker: the second
  // maintainer fails LOUDLY at acquisition, naming the holder.
  //
  //   - Readers never take the lease — they are isolated by version
  //     snapshots (+ pins), not locks.
  //   - Direct appends keep the cheaper assertAppendVisible detector;
  //     streaming SEGMENT writes are concurrent-safe by design and take
  //     nothing.
  //   - A maintainer that CRASHES leaves a stale lease; the next
  //     maintenance fails loudly until an operator confirms the holder
  //     is dead and runs [[releaseLease]] (runbook in PERF.md). Loud
  //     staleness is the deliberate trade — TTL auto-expiry would let a
  //     paused-but-alive compactor resume into a lease someone else now
  //     holds, which is exactly the double-maintainer corruption again.
  //   - `create(overwrite = false)` is atomic on HDFS/local and on object
  //     stores with conditional create (S3 If-None-Match, GCS
  //     if-generation-match); on a store without it this degrades to a
  //     best-effort detector — the same honesty note as
  //     assertAppendVisible.
  // ---------------------------------------------------------------------

  /** Acquire the single-maintainer lease for the index rooted at `path`
    * (marker: sibling `path._LEASE` — works for both directory-of-tables
    * layouts and partitioned-dir layouts). Throws loudly if held.
    */
  def acquireLease(spark: SparkSession, path: String, op: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path + "._LEASE")
    val fs = fsOf(spark, p)
    val parent = p.getParent
    if (parent != null && !fs.exists(parent)) fs.mkdirs(parent)
    val out =
      try fs.create(p, false)
      catch {
        case e: java.io.IOException =>
          if (fs.exists(p)) throw new IllegalStateException(
            s"maintenance lease $p is already held" +
              leaseHolder(spark, path).fold("")(h => s" by [$h]") +
              s" — refusing to run '$op' concurrently (two maintainers " +
              "can double-flip versions and clear each other's " +
              "snapshots). If the holder crashed, verify it is dead and " +
              "run IndexLayout.releaseLease to recover.")
          else throw e
      }
    // holder metadata is best-effort triage info — a failure writing it
    // must not leave the just-created marker stuck (the caller never
    // entered its try/finally, so releaseLease would never run and the
    // index would need manual recovery for a maintainer that neither
    // crashed nor is running); drop the marker and rethrow
    try {
      try out.write(
        (s"$op pid=${ProcessHandle.current().pid()} " +
          s"acquired=${java.time.Instant.now()}").getBytes("UTF-8"))
      finally out.close()
    } catch {
      case e: Throwable =>
        try fs.delete(p, false) catch { case _: Throwable => () }
        throw e
    }
  }

  /** Release the maintenance lease (also the operator recovery tool for
    * a lease leaked by a crashed maintainer). Idempotent.
    */
  def releaseLease(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path + "._LEASE")
    fsOf(spark, p).delete(p, false)
  }

  /** The current lease marker's contents (op, pid, acquisition time), or
    * None when unheld — the triage signal for a stuck maintenance.
    */
  def leaseHolder(spark: SparkSession, path: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(path + "._LEASE")
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) None
    else {
      // the marker can be released between the exists probe and the open
      // (a maintainer finishing) — a vanished lease is None, not a crash
      // in a read-only triage call
      val in =
        try fs.open(p)
        catch { case _: java.io.FileNotFoundException => return None }
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      catch { case _: java.io.IOException => Some("<unreadable>") }
      finally in.close()
    }
  }

  /** The lease marker parsed for TRIAGE — the operability twin of
    * [[listPins]]: (op, holder metadata, ageMillis), or None when
    * unheld. A crashed maintainer leaves a stale `_LEASE` that blocks
    * all further maintenance loudly; this surfaces who took it
    * (`op`), the pid/acquisition-time metadata it stamped, and how old
    * the marker is (file mod-time — the staleness signal), so the
    * operator can verify the holder is dead and run [[releaseLease]]
    * (runbook in PERF.md). Deliberately NOT auto-expired: TTL expiry
    * would re-admit the double-maintainer race the lease closes.
    */
  def listLease(spark: SparkSession,
                path: String): Option[(String, String, Long)] = {
    val p = new org.apache.hadoop.fs.Path(path + "._LEASE")
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) None
    else {
      val age =
        try math.max(0L, System.currentTimeMillis() -
          fs.getFileStatus(p).getModificationTime)
        catch { case _: java.io.IOException => 0L }
      // leaseHolder returns None if the marker was released between the
      // probes — then the lease is simply gone, not "<unreadable>"
      leaseHolder(spark, path).map { raw =>
        raw.split(" ", 2) match {
          case Array(op, holder) => (op, holder, age)
          case _                 => (raw, "", age)
        }
      }
    }
  }

  /** Run a swap-class maintenance operation under the lease, releasing
    * it on ALL exits (a thrown body must not leave the index
    * unmaintenable — only a process CRASH leaves a stale lease, which is
    * the loud-by-design case above).
    */
  def withLease[T](spark: SparkSession, path: String, op: String)
                  (body: => T): T = {
    acquireLease(spark, path, op)
    try body finally releaseLease(spark, path)
  }

  /** Step 1 of a swap, exposed for the kill-the-compactor spec: write
    * `df` fully into the NEXT version directory `dir.v<n>` (readers are
    * untouched — they still resolve to the old layout) and return n.
    */
  private[graft] def prepareVersion(spark: SparkSession, dir: String,
                                    df: DataFrame,
                                    partCol: Option[String]): Int = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = fsOf(spark, p)
    val existing = versionDirs(spark, dir).map(_._1)
    val next = (currentVersion(spark, dir).getOrElse(0) +: existing)
      .foldLeft(0)(math.max) + 1
    val target = s"$dir.v$next"
    partCol match {
      case Some(c) if !df.isEmpty =>
        // explicit partition count: a bare repartition(col) is
        // AQE-coalescible down to ONE task on a small exchange, which
        // serializes the whole partition-directory fan-out write (the
        // Bm25.writeIndexBody measurement); shuffle-partitions-many
        // tasks each own whole partition values, so the file count
        // stays O(distinct values) while the write runs in parallel
        df.repartition(spark.sessionState.conf.numShufflePartitions,
            col(c))
          .write.mode("overwrite")
          .partitionBy(c).parquet(target)
      case _ =>
        df.write.mode("overwrite").parquet(target)
    }
    // completion marker LAST: a version sibling is a fallback-resolve /
    // GC-spare candidate only once its data is fully written — a
    // compactor killed mid-write leaves a markerless partial dir that
    // readers never serve and the next swap's GC deletes. (An explicit
    // marker, not the committer's _SUCCESS, so completeness does not
    // depend on mapreduce.fileoutputcommitter configuration.) The
    // underscore prefix keeps it invisible to parquet file listing.
    val done = new org.apache.hadoop.fs.Path(s"$target/$CommittedMarker")
    fsOf(spark, done).create(done, true).close()
    next
  }

  /** File name stamped into a version directory by [[prepareVersion]]
    * once its data is completely written.
    */
  private[graft] val CommittedMarker = "_GRAFT_COMMITTED"

  /** The version siblings whose data is COMPLETE (completion marker
    * present) — the only candidates manifest-loss fallback may serve or
    * spare; [[versionDirs]] (all siblings, partial orphans included) is
    * what GC deletes from and next-version numbering maxes over.
    */
  private def committedVersionDirs(
      spark: SparkSession,
      dir: String): Seq[(Int, org.apache.hadoop.fs.Path)] =
    versionDirs(spark, dir).filter { case (_, p) =>
      val done = new org.apache.hadoop.fs.Path(p, CommittedMarker)
      fsOf(spark, p).exists(done)
    }

  /** Step 2 of a swap: atomically retarget readers to version `n` (tmp
    * manifest + overwrite-rename — one tiny object, the only mutation a
    * reader can race), then garbage-collect layouts at least two swaps
    * old. N-1 RETENTION: the layout that was current until THIS flip
    * (the plain dir on a first swap, `dir.v<old>` afterwards) is kept
    * one more swap so readers mid-scan on it complete; everything older
    * — and any crashed-prepare orphan — is deleted. A crash before the
    * flip leaves readers on the old version with an orphan `dir.v<n>`;
    * after it, on the new one.
    */
  private[graft] def flipVersion(spark: SparkSession, dir: String,
                                 n: Int): Unit = {
    // `old` (the layout N-1 retention spares) uses the SAME fallback as
    // resolve: if the manifest is lost but the marker says the table is
    // versioned, readers are resolving the highest COMMITTED version —
    // the GC must spare exactly what they read (`n`'s own dir, committed
    // by prepareVersion just before this call, is excluded so the
    // previous one is spared), not treat the table as plain and delete
    // every version but n, and never spare a crashed-prepare partial
    // while deleting the complete version under readers
    val marker0 = new org.apache.hadoop.fs.Path(dir + "._VERSIONED")
    val old = currentVersion(spark, dir).orElse {
      if (!fsOf(spark, marker0).exists(marker0)) None
      else committedVersionDirs(spark, dir).map(_._1).filter(_ != n)
        .sorted.lastOption
    }
    val m = new org.apache.hadoop.fs.Path(dir + "._CURRENT")
    val tmp = new org.apache.hadoop.fs.Path(dir + "._CURRENT.next")
    val fs = fsOf(spark, m)
    // one-time durable marker FIRST (see the resolve scaladoc): once a
    // manifest can exist, readers must never fall back to the plain dir
    // in its rename window
    val marker = new org.apache.hadoop.fs.Path(dir + "._VERSIONED")
    if (!fs.exists(marker)) fs.create(marker, true).close()
    val out = fs.create(tmp, true)
    try out.write(n.toString.getBytes("UTF-8")) finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      tmp.toUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(tmp, m, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    // cleanup AFTER the flip, sparing the immediately-previous layout
    // (N-1 retention for in-flight readers) and any PINNED snapshot
    // (explicit long-reader holds) — failures here are harmless orphans
    val pinned = pinnedVersions(spark, dir)
    val p = new org.apache.hadoop.fs.Path(dir)
    if (old.isDefined && fs.exists(p) && !pinned(0)) fs.delete(p, true)
    versionDirs(spark, dir)
      .filter { case (v, _) => v != n && !old.contains(v) && !pinned(v) }
      .foreach { case (_, vp) => fs.delete(vp, true) }
  }

  /** The existing `dir.v<n>` sibling version directories. */
  private def versionDirs(spark: SparkSession,
                          dir: String): Seq[(Int, org.apache.hadoop.fs.Path)] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val parent = p.getParent
    val fs = fsOf(spark, p)
    if (parent == null || !fs.exists(parent)) Seq.empty
    else {
      val re = (java.util.regex.Pattern.quote(p.getName) + "\\.v(\\d+)").r
      fs.listStatus(parent).toSeq.filter(_.isDirectory).flatMap { st =>
        st.getPath.getName match {
          case re(n) => Some((n.toInt, st.getPath))
          case _     => None
        }
      }
    }
  }

  /** Migrate the index at `p` to the current on-disk format, once, under
    * the maintenance lease. The version step stamps the
    * [[CommittedMarker]] onto each table's manifest-current version
    * directory: one written before the marker existed is complete (it is
    * current) but looks like a crashed prepare, so the manifest-loss
    * fallback would refuse it. Only the current version is stamped; for
    * its siblings completeness is unknowable. Idempotent: an index
    * already in the current format is left untouched. The BM25 and dedup
    * layouts add their own steps (`Bm25.upgrade`, `DedupOps.upgrade`).
    */
  def upgrade(spark: SparkSession, p: Paths): Unit =
    upgradeWith(spark, p, "IndexLayout.upgrade")(())

  /** [[upgrade]]'s version step, then a layout's own `step`, under one
    * lease.
    */
  private[operators] def upgradeWith(spark: SparkSession, p: Paths, op: String)
                                    (step: => Unit): Unit =
    withLease(spark, p.root, op) {
      p.tableDirs.foreach { dir =>
        currentVersion(spark, dir).foreach { n =>
          val done = new org.apache.hadoop.fs.Path(s"$dir.v$n/$CommittedMarker")
          val fs = fsOf(spark, done)
          if (fs.exists(done.getParent) && !fs.exists(done))
            fs.create(done, true).close()
        }
      }
      step
    }

  /** Reset a table to the plain (unversioned) layout: drop the manifest
    * and every version directory. Fresh index builds call this before
    * their plain overwrite write — a stale manifest from a previous
    * index's compaction must not shadow the rebuild.
    */
  def clearVersions(spark: SparkSession, dir: String): Unit = {
    val m = new org.apache.hadoop.fs.Path(dir + "._CURRENT")
    val fs = fsOf(spark, m)
    fs.delete(m, false)
    fs.delete(new org.apache.hadoop.fs.Path(dir + "._CURRENT.next"), false)
    fs.delete(new org.apache.hadoop.fs.Path(dir + "._VERSIONED"), false)
    // pins are compaction-lifecycle objects; a fresh REBUILD replaces the
    // index wholesale, so surviving pins would hold snapshots of an index
    // that no longer exists — cleared with the versions they pinned
    val p = new org.apache.hadoop.fs.Path(dir)
    val parent = p.getParent
    if (parent != null && fs.exists(parent)) {
      fs.listStatus(parent).toSeq
        .filter(st => st.isFile &&
          st.getPath.getName.startsWith(p.getName + "._PIN.v"))
        .foreach(st => fs.delete(st.getPath, false))
    }
    versionDirs(spark, dir).foreach { case (_, vp) => fs.delete(vp, true) }
  }

  /** Whether `dir` holds a partitioned parquet layout on `partCol` (any
    * `partCol=…` subdirectory) — false for the readable-empty
    * unpartitioned form the index writers emit on an empty corpus.
    * Probes the RESOLVED directory (version-aware).
    */
  def partitionedLayout(spark: SparkSession, dir: String,
                        partCol: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(resolve(spark, dir))
    val fs = fsOf(spark, p)
    fs.exists(p) && fs.listStatus(p).exists(st =>
      st.isDirectory && st.getPath.getName.startsWith(partCol + "="))
  }

  /** Whether `dir` exists and holds at least one row (limit-1 probe) —
    * distinguishes the readable-empty unpartitioned base the index
    * writers emit on an empty corpus (replaceable by an append) from a
    * NON-empty unpartitioned layout (a segment's shape, which older
    * on-disk indexes can have at a base path), which is NOT a valid
    * append target: overwriting it would silently drop its rows while
    * the stats still merge additively.
    * A directory holding no parquet data files at all (e.g. only a
    * `_SUCCESS` left by a cleaned write) counts as no rows — probing it
    * through the reader would throw `unable to infer schema` instead.
    */
  def hasRows(spark: SparkSession, dir: String): Boolean = {
    val r = resolve(spark, dir)
    val p = new org.apache.hadoop.fs.Path(r)
    walkFiles(fsOf(spark, p), p).exists(_.getPath.getName.endsWith(".parquet")) &&
      !readParquet(spark, Seq(r)).isEmpty
  }

  /** Append a distinct id batch to an index's tombstone sidecar
    * ([[Paths.tombDir]]).
    */
  def appendTombstones(ids: DataFrame, idCol: String,
                       tombDir: String): Unit =
    ids.select(col(idCol)).distinct()
      .write.mode("append").parquet(tombDir)

  /** Shard-count marker prefix: `_NSHARDS_<n>` at an index root. */
  private val ShardCountPrefix = "_NSHARDS_"

  /** Persist a layout's shard count as a zero-byte `_NSHARDS_<n>` marker
    * file at the index ROOT — a filesystem touch, no Spark job. Writers
    * record the modulus the shard column was computed with; readers
    * derive the effective count from it instead of trusting a defaulted
    * parameter, so an index built under one default stays correctly
    * pruned when the default changes across versions (a reader filtering
    * `shard = hash mod 64` against data partitioned by `hash mod 256`
    * silently misses duplicate pairs). At the root — not inside the
    * postings dir — so compaction version swaps do not disturb it;
    * re-sharding compactions rewrite it.
    */
  def writeShardCountMarker(spark: SparkSession, root: String,
                            n: Int): Unit = {
    clearShardCountMarker(spark, root)
    val rp = new org.apache.hadoop.fs.Path(root)
    rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(new org.apache.hadoop.fs.Path(rp, ShardCountPrefix + n),
        true).close()
  }

  /** Delete an index root's `_NSHARDS_<n>` marker(s). A rebuild clears
    * the marker with the rest of the lifecycle state BEFORE it writes:
    * a rebuild that crashes after its postings write and before its new
    * marker must leave readers on the caller's modulus, never on the
    * previous index's stale one.
    */
  def clearShardCountMarker(spark: SparkSession, root: String): Unit = {
    val rp = new org.apache.hadoop.fs.Path(root)
    val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(rp))
      fs.listStatus(rp).filter(st =>
          st.isFile && st.getPath.getName.startsWith(ShardCountPrefix))
        .foreach(st => fs.delete(st.getPath, false))
  }

  /** The persisted shard count of an index root, if the layout recorded
    * one (pre-marker indexes return None and keep the caller's value —
    * the old contract, unchanged for them).
    */
  def readShardCountMarker(spark: SparkSession,
                           root: String): Option[Int] = {
    val rp = new org.apache.hadoop.fs.Path(root)
    val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rp)) None
    else fs.listStatus(rp).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith(ShardCountPrefix))
      .flatMap(st => scala.util.Try(
        st.getPath.getName.stripPrefix(ShardCountPrefix).toInt).toOption)
      .headOption
  }

  /** The tombstone sidecar's parquet data files at this moment — the
    * SNAPSHOT a compaction folds and later clears. Parquet part files
    * are immutable and appends only add new ones, so file granularity
    * makes the fold/clear pair exact: a tombstone batch landing DURING
    * a compaction is a file outside the snapshot — neither folded nor
    * deleted, it keeps filtering reads and the next compaction
    * materializes it.
    */
  def tombstoneFiles(spark: SparkSession, tombDir: String): Seq[String] =
    tombstoneStatuses(spark, tombDir).map(_.getPath.toString)

  private def tombstoneStatuses(spark: SparkSession,
                                tombDir: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val p = new org.apache.hadoop.fs.Path(tombDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
  }

  /** The tombstoned ids, or None when nothing was ever removed. A
    * sidecar directory holding no data files (all tombstones
    * materialized by a compaction that cleared exactly its snapshot)
    * reads as None too.
    */
  def readTombstones(spark: SparkSession,
                     tombDir: String): Option[DataFrame] = {
    val files = tombstoneFiles(spark, tombDir)
    if (files.isEmpty) None else Some(readParquet(spark, files))
  }

  /** Drop the rows of `df` whose id a live tombstone file of `tombDir`
    * holds: one anti-join, whether or not anything was removed (see
    * [[antiJoinIds]]).
    */
  def dropTombstoned(df: DataFrame, idCol: String,
                     tombDir: String): DataFrame =
    antiJoinIds(df, idCol, tombstoneStatuses(df.sparkSession, tombDir))

  /** Drop the rows of `df` whose id the parquet data under `roots` holds:
    * tombstone files or tombstone batch directories, listed on the
    * driver. A root that does not exist fails with Spark's missing-path
    * error, as reading it always did: a listed delete set that vanished
    * must not read as "nothing removed".
    */
  def dropIdsIn(df: DataFrame, idCol: String, roots: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    val listed = roots.map { r =>
      val p = new org.apache.hadoop.fs.Path(r)
      val fs = fsOf(spark, p)
      statusOf(fs, p).map(walkFrom(fs, _, sparkVisible).filter(isDataFile).toSeq)
    }
    val missing = roots.zip(listed).collect { case (r, None) => r }
    if (missing.nonEmpty) readParquet(spark, missing) // Spark's missing-path error
    antiJoinIds(df, idCol, listed.flatten.flatten)
  }

  /** `df` minus the ids in the parquet `files`, as ONE plan shape for
    * every delete set, the empty one included: an anti-join on
    * `struct(id, true)` against the files' ids and one
    * `struct(null, false)` row. The extra row matches no id (its second
    * field is false), and it keeps the join: with an empty right side,
    * adaptive execution drops the anti-join at run time, so a read with
    * no tombstones would compile different code from one with them.
    * A plain null id would not do: the optimizer infers `id IS NOT NULL`
    * on the right side of the join and folds such a row away. Null
    * tombstone ids are filtered out, so they match nothing, as in a
    * plain anti-join on the id.
    */
  private def antiJoinIds(df: DataFrame, idCol: String,
                          files: Seq[org.apache.hadoop.fs.FileStatus]): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val spark = df.sparkSession
    val idType = df.schema(idCol).dataType
    val tombs = files.headOption.map(f => f -> footerSchemaOf(spark, f)) match {
      case None               => relation(spark, StructType(Seq(StructField(idCol, idType))), None, Nil)
      case Some((_, Some(s))) => relation(spark, s, None, leavesOf(files, None))
      case Some((_, None))    => spark.read.parquet(files.map(_.getPath.toString): _*)
    }
    def key(id: org.apache.spark.sql.Column, live: Boolean) =
      struct(id.as("id"), lit(live).as("live")).as("__tomb")
    val none = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(null)),
      StructType(Seq(StructField(idCol, idType))))
    val deleted = tombs.select(col(tombs.columns.head).cast(idType).as(idCol))
      .filter(col(idCol).isNotNull).select(key(col(idCol), live = true))
      .unionByName(none.select(key(col(idCol), live = false)))
    df.withColumn("__tomb", key(col(idCol), live = true))
      .join(deleted, Seq("__tomb"), "left_anti").drop("__tomb")
  }

  /** Rewrite a parquet directory in place: read, `transform`, cluster by
    * `partCol` (when given) and write partitioned, then atomically swap
    * the rewritten layout for the old one. A transform that empties the
    * table falls back to the readable-empty unpartitioned form (a
    * zero-row partitioned write would leave no schema-bearing files).
    * No-op when the directory does not exist.
    */
  def rewriteInPlace(spark: SparkSession, dir: String,
                     partCol: Option[String],
                     transform: DataFrame => DataFrame = identity): Unit = {
    val r = resolve(spark, dir)
    val p = new org.apache.hadoop.fs.Path(r)
    if (!fsOf(spark, p).exists(p)) return
    writeSwap(spark, dir, transform(readParquet(spark, Seq(r))), partCol)
  }

  /** Materialize `df` fully into the next version directory `dir.v<n>`,
    * then flip the `dir._CURRENT` manifest to it (see the version-pointer
    * block above). Safe when `df` READS from the current layout (the
    * segment-merge case: the union of base + segments replaces the base)
    * — the rewrite is complete before readers are retargeted, a crash
    * before the flip leaves the old layout serving (plus an orphan the
    * next swap collects), and on object stores no directory is ever
    * renamed or deleted while current. Clusters by `partCol` when given
    * and the frame is non-empty (a zero-row partitioned write would
    * leave no schema-bearing files — the readable-empty fallback is
    * unpartitioned, matching the index writers).
    */
  def writeSwap(spark: SparkSession, dir: String, df: DataFrame,
                partCol: Option[String]): Unit =
    flipVersion(spark, dir, prepareVersion(spark, dir, df, partCol))

  /** Whether a write target is a streaming-segment mini-index path —
    * `<root>/segments/batch=<id>` (BM25/dedup) or the IVF family's
    * sibling `<root>.segments/batch=<id>`. Owned here with the rest of
    * the layout convention: a segment target is written unpartitioned
    * (the layout [[readLive]] relies on), and segment writers skip
    * lifecycle clears (a segment carries no lifecycle state of its own)
    * and never take the maintenance lease (they are the concurrent-safe
    * write path).
    * ANCHORED to the path tail: a segment target ends in its batch
    * directory, so a BASE index that merely lives under some other
    * dataset's `segments/batch=N/` directory is not misclassified into
    * skipping its clears and lease.
    */
  def isSegmentPath(path: String): Boolean =
    path.stripSuffix("/").matches(".*[/.]segments/batch=[^/]+")

  /** Sibling marker-file suffix stamped next to a segment directory a
    * compaction has FOLDED into the base: `batch=<id>._FOLDED` under the
    * segment root. A sibling FILE, not a marker inside the dir, so one
    * `listStatus` of the root yields both dirs and fold state — the
    * per-read probe count stays exactly what it was (the q231 lesson).
    */
  private val FoldedSuffix = "._FOLDED"

  /** One listing of a segment root: (live segment dirs sorted by batch
    * id, previously-folded segment dirs). A FOLDED segment's rows live
    * in the compacted base — readers must skip it or double-read — but
    * its files are retained until the NEXT fold ([[retireSegmentDirs]]),
    * the segment analogue of version N-1 retention: a reader that listed
    * segments just before a fold landed keeps the files its scan needs.
    */
  private def segmentListing(spark: SparkSession,
                             segRoot: String): (Seq[String], Seq[String]) = {
    val p = new org.apache.hadoop.fs.Path(segRoot)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) (Seq.empty, Seq.empty)
    else {
      val st = fs.listStatus(p).toSeq
      val folded = st.filter(s =>
          s.isFile && s.getPath.getName.endsWith(FoldedSuffix))
        .map(_.getPath.getName.stripSuffix(FoldedSuffix)).toSet
      val dirs = st.filter(s =>
        s.isDirectory && s.getPath.getName.startsWith("batch="))
      val (dead, live) = dirs.partition(s => folded(s.getPath.getName))
      (live.sortBy(_.getPath.getName.stripPrefix("batch=").toLong)
         .map(_.getPath.toString),
        dead.map(_.getPath.toString))
    }
  }

  /** The LIVE streaming-segment directories of an index, sorted by batch
    * id: each an immutable mini-index written by a `foreachBatch` fold
    * with per-batch overwrite (a retried batch replaces its OWN segment —
    * exactly-once for replayable sources). A dir a previous fold marked
    * `_FOLDED` is already in the base (reading it would double-count its
    * stats row) and is awaiting retirement by the next fold.
    */
  def segmentDirs(spark: SparkSession, p: Paths): Seq[String] =
    segmentListing(spark, p.segRoot)._1

  /** Delete EXACTLY the given segment directories — what a compaction
    * clears: the snapshot it folded, never the whole segment root. A
    * micro-batch that lands a new segment while compaction runs is
    * outside the snapshot, stays on disk, and remains readable (it was
    * not folded into the base, so reads stay exact).
    */
  def clearSegmentDirs(spark: SparkSession, dirs: Seq[String]): Unit =
    dirs.foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }

  /** The retire half of a fold, with N-1 RETENTION for segments: delete
    * the segment dirs (and markers) a PREVIOUS fold left `_FOLDED`, then
    * MARK this fold's snapshot as folded instead of deleting it. The
    * base data dirs already kept one swap of grace for readers mid-scan;
    * an immediately-deleted segment was the remaining hole — a reader
    * that listed segments just before the fold and scans minutes later
    * (routine at 100 TB) would lose files under a running query. With
    * the marker, that reader's files survive until the NEXT fold, while
    * new readers skip the marked dirs (their rows — and their stats
    * rows — are in the swapped base; [[segmentDirs]] lists live only).
    *
    * Crash semantics: a crash between the delete and the mark leaves
    * this fold's segments LIVE next to a base that already contains
    * their rows — the same already-documented window as a crash before
    * the old immediate clear: reads stay row-exact (the multi-layout
    * distinct guard), summed stats can over-count until the re-run, and
    * re-folding converges (distinct union). `segRoot` is listed fresh
    * for markers rather than trusting the caller's snapshot, so orphan
    * markers (dir already gone) are also collected.
    */
  def retireSegmentDirs(spark: SparkSession, segRoot: String,
                        folded: Seq[String]): Unit = {
    val p = new org.apache.hadoop.fs.Path(segRoot)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      fs.listStatus(p).toSeq
        .filter(s => s.isFile && s.getPath.getName.endsWith(FoldedSuffix))
        .foreach { m =>
          // marker FIRST, dir only if the marker delete won: a lease-free
          // streaming REPLAY of a previously-folded batch clears the
          // marker ([[clearFoldedMarker]]) and rewrites the dir as live —
          // deleting the dir on the strength of a listing taken before
          // that clear would permanently drop the replayed rows once the
          // stream checkpoint advances. delete(marker) returning false
          // means the replay's clear beat us: the dir is (becoming) live
          // again, leave it. The residual window — replay's entire
          // clear + rewrite landing between our two consecutive FS calls
          // — stays excluded by the documented contract that folds do not
          // run concurrently with replays of batches THIS fold retires
          // (an interrupted rewrite fails its micro-batch and the retry
          // converges; only a COMPLETED rewrite inside the ~ms gap loses).
          val dir = new org.apache.hadoop.fs.Path(
            p, m.getPath.getName.stripSuffix(FoldedSuffix))
          if (fs.delete(m.getPath, false)) fs.delete(dir, true)
        }
    }
    folded.foreach { d =>
      val dp = new org.apache.hadoop.fs.Path(d)
      val marker = new org.apache.hadoop.fs.Path(
        dp.getParent, dp.getName + FoldedSuffix)
      marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .create(marker, true).close()
    }
  }

  /** Drop a stale `_FOLDED` marker for one segment dir (see
    * [[writeSegment]]). One blind idempotent delete per micro-batch.
    */
  private def clearFoldedMarker(spark: SparkSession, segDir: String): Unit = {
    val dp = new org.apache.hadoop.fs.Path(segDir.stripSuffix("/"))
    val marker = new org.apache.hadoop.fs.Path(
      dp.getParent, dp.getName + FoldedSuffix)
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(marker, false)
  }

  /** The tombstone sidecar's LIVE data files — [[tombstoneFiles]] minus
    * those a previous fold marked `_FOLDED` (their ids are already
    * physically dropped from the base). What folds SNAPSHOT; readers
    * keep using [[tombstoneFiles]] unchanged — anti-joining a folded
    * file's ids is a no-op against a base that no longer holds them, so
    * the read path needs no marker awareness (and pays no extra calls).
    */
  def liveTombstoneFiles(spark: SparkSession,
                         tombDir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(tombDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else {
      val st = fs.listStatus(p).toSeq.filter(_.isFile)
      val marked = st.filter(_.getPath.getName.endsWith(FoldedSuffix))
        .map(_.getPath.getName.stripSuffix(FoldedSuffix)).toSet
      st.filter(s => s.getPath.getName.endsWith(".parquet") &&
          !marked(s.getPath.getName))
        .map(_.getPath.toString)
    }
  }

  /** The retire half of a tombstone-file fold — the same N-1 grace
    * [[retireSegmentDirs]] gives segments: delete the files (and
    * markers) a PREVIOUS fold marked, then mark this fold's snapshot
    * instead of deleting it. Immediate deletion raced readers: a query
    * that snapshotted the sidecar's file list just before a fold landed
    * would lose its anti-join inputs mid-scan. A marked file keeps
    * filtering reads harmlessly (its ids are gone from the base) until
    * the NEXT fold deletes it.
    */
  def retireTombstoneFiles(spark: SparkSession, tombDir: String,
                           folded: Seq[String]): Unit = {
    val p = new org.apache.hadoop.fs.Path(tombDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      fs.listStatus(p).toSeq
        .filter(s => s.isFile && s.getPath.getName.endsWith(FoldedSuffix))
        .foreach { m =>
          fs.delete(new org.apache.hadoop.fs.Path(
            p, m.getPath.getName.stripSuffix(FoldedSuffix)), false)
          fs.delete(m.getPath, false)
        }
    }
    folded.foreach { f =>
      val fp = new org.apache.hadoop.fs.Path(f)
      val marker = new org.apache.hadoop.fs.Path(
        fp.getParent, fp.getName + FoldedSuffix)
      marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .create(marker, true).close()
    }
  }

  // ---------------------------------------------------------------------
  // Segment lifecycle core. Each layout supplies its Paths, its encoder
  // and its merge rule; the lease, clears, segment targets, append
  // visibility, fold snapshot/retire, maintenance cycle and pinned
  // snapshots are written once, here.
  // ---------------------------------------------------------------------

  /** Where one index's lifecycle state lives: the lease root, the
    * segment root, the tombstone dir and the table dirs (`tables` are
    * sub-table names, the first one the data table the maintenance plan
    * counts files in). Two conventions, see the object scaladoc.
    */
  final case class Paths(root: String, segRoot: String, tombDir: String,
                         nested: Boolean, tables: Seq[String]) {
    /** The base dir of table `sub`: `$root/<sub>`, or `$root` itself in a
      * sibling layout.
      */
    def table(sub: String): String = if (nested) s"$root/$sub" else root
    def dataTable: String = tables.headOption.getOrElse("")
    def tableDirs: Seq[String] = if (nested) tables.map(table) else Seq(root)
    /** The `batch=<id>` target of one streaming segment. */
    def segment(batchId: Long): String = s"$segRoot/batch=$batchId"
  }

  object Paths {
    def nested(root: String, tables: String*): Paths =
      Paths(root, s"$root/segments", s"$root/tombstones", nested = true,
        tables)
    def sibling(root: String): Paths =
      Paths(root, s"$root.segments", s"$root.tombstones", nested = false,
        Nil)
    /** The index root a segment target ([[isSegmentPath]]) belongs to. */
    def rootOf(segment: String): String =
      segment.stripSuffix("/").replaceFirst("[/.]segments/batch=[^/]+$", "")
  }

  /** A fresh build: under the single-maintainer lease, clear the
    * tombstones, the segments and every table's versions, then run
    * `body`. A rebuild replaces the index wholesale: a stale tombstone
    * sidecar or stale segments from a previous index at this path would
    * filter into or union into the new one (readers always span the
    * segment root), and a stale version manifest would shadow the plain
    * layout the rebuild writes (a crash mid-rebuild is a broken BUILD;
    * the availability-critical swap is compaction, which stays
    * versioned). Leased because the clears are destructive swap-class
    * mutations: a rebuild racing a compaction would delete `_CURRENT`
    * under it, and the compactor's flip would re-create a manifest
    * pointing at pre-rebuild data.
    */
  def rebuild[T](spark: SparkSession, p: Paths, op: String)(body: => T): T =
    withLease(spark, p.root, op) {
      clearTombstones(spark, p.tombDir)
      clearSegmentDirs(spark, Seq(p.segRoot))
      p.tableDirs.foreach(clearVersions(spark, _))
      body
    }

  /** A streaming-segment write: drop the target's stale `_FOLDED` marker,
    * then run `body` on the `batch=<id>` target. Without the clear, a
    * replayed micro-batch rewriting a dir an offline fold already marked
    * (the fold captured the crashed write's PARTIAL rows) would stay
    * invisible and be deleted by the next fold, losing the rows beyond
    * the partial capture. Segment writes take no lease and clear nothing
    * else: a segment carries no lifecycle state of its own (they are the
    * concurrent-safe write path).
    */
  def writeSegment[T](spark: SparkSession, target: String)
                     (body: String => T): T = {
    clearFoldedMarker(spark, target)
    body(target)
  }

  /** A direct append into table dir `dir`: resolve the live version,
    * let `write` append into it, then [[assertAppendVisible]] — a
    * compaction flip in between fails loudly instead of stranding the
    * rows in a retired version.
    */
  def appendTo(spark: SparkSession, dir: String)(write: String => Unit): Unit = {
    val target = resolve(spark, dir)
    write(target)
    assertAppendVisible(spark, dir, target)
  }

  /** The fold skeleton over an explicit segment snapshot `segs`: snapshot
    * the live tombstone files, run `fold(segs, tombFiles)`, then retire
    * exactly that snapshot ([[retireSegmentDirs]],
    * [[retireTombstoneFiles]] — one fold of grace). A segment or a
    * tombstone file landing mid-fold is outside the snapshot: neither
    * folded nor retired, it keeps serving and the next fold takes it.
    * `tombstones = false` for BM25, whose delete set is listed in its
    * stats row and swept by its own fold.
    */
  def foldSnapshot[T](spark: SparkSession, p: Paths, segs: Seq[String],
                      tombstones: Boolean = true)
                     (fold: (Seq[String], Seq[String]) => T): T = {
    val tombs =
      if (tombstones) liveTombstoneFiles(spark, p.tombDir) else Seq.empty
    val out = fold(segs, tombs)
    retireSegmentDirs(spark, p.segRoot, segs)
    if (tombstones) retireTombstoneFiles(spark, p.tombDir, tombs)
    out
  }

  /** [[foldSnapshot]] under the maintenance lease over the segments live
    * now — every compaction and retrain.
    */
  def leasedFold[T](spark: SparkSession, p: Paths, op: String,
                    tombstones: Boolean = true)
                   (fold: (Seq[String], Seq[String]) => T): T =
    withLease(spark, p.root, op) {
      foldSnapshot(spark, p, segmentDirs(spark, p), tombstones)(fold)
    }

  /** Acquire a pinned read snapshot over several tables of an index at
    * once, optimistically (a read must neither fail because an hours-long
    * maintenance window holds the lease, nor make maintenance fail): pin
    * each of `tables`, list the live segments, run `list(pinned data
    * dirs, segments)`, then re-read the FIRST table's effective version.
    * A fold, re-shard or rebuild
    * landing mid-snapshot flips it (versions only grow — no ABA): every
    * pin is released and the attempt retries, at most five times.
    * Consistency is validated, not locked. Pins taken by an attempt are
    * released on every failure path inside it; the retry runs outside
    * the handlers, so a released token never reaches an outer catch.
    * Returns the (data dir, token) pins and the listing; release with
    * [[releasePins]].
    */
  def acquirePinned[T](spark: SparkSession, p: Paths, tables: Seq[String])
                      (list: (Seq[String], Seq[String]) => T)
      : (Seq[(String, String)], T) = {
    val dirs = tables.map(p.table)
    def attemptOnce(): Option[(Seq[(String, String)], T)] = {
      val pins = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      try {
        dirs.foreach(d => pins += pinResolved(spark, d))
        val listed = list(pins.map(_._1).toSeq, segmentDirs(spark, p))
        if (resolve(spark, dirs.head) == pins.head._1) Some((pins.toSeq, listed))
        else { releasePins(spark, p, tables, pins.map(_._2).toSeq); None }
      } catch {
        case e: Throwable =>
          releasePins(spark, p, tables, pins.map(_._2).toSeq); throw e
      }
    }
    var snap: Option[(Seq[(String, String)], T)] = None
    var attempt = 0
    while (snap.isEmpty) {
      require(attempt < 5,
        s"${dirs.head} version keeps flipping mid-snapshot — " +
          "pause the compaction schedule and retry")
      snap = attemptOnce()
      attempt += 1
    }
    snap.get
  }

  /** Release [[acquirePinned]]'s pins, last pinned first (idempotent,
    * token-scoped). `tokens` may be shorter than `tables` (a failed
    * acquisition).
    */
  def releasePins(spark: SparkSession, p: Paths, tables: Seq[String],
                  tokens: Seq[String]): Unit =
    tables.zip(tokens).reverse.foreach { case (t, tok) =>
      unpin(spark, p.table(t), tok)
    }

  /** Table `sub` of an index, split by origin: the version-resolved
    * base [[Paths.table]] and each streaming segment's part
    * ([[segmentParts]]). `segs` is an explicit segment snapshot — what
    * the folds pass, so the set they fold is exactly the set they later
    * retire (a segment arriving mid-fold is neither); by default the
    * live segments are listed now.
    *
    * Only the base is version-resolved, and EXACTLY ONCE. Segments are
    * immutable plain per-batch overwrites that no compaction versions,
    * so a manifest probe per segment was O(segments) filesystem calls
    * per read — on an object store, API calls per query (the q231
    * regression). And classification IS the listing: a second resolve
    * to tell base from segment could race a compaction flip into
    * classifying the stale base as a segment, skipping the
    * crash-duplicate guards. In a nested layout a missing base is None,
    * unless no segment part exists either: then the base path stays, so
    * reading an absent index fails with Spark's standard missing-path
    * error. A sibling layout's base is its root, which its build always
    * writes.
    */
  def liveParts(spark: SparkSession, p: Paths, sub: String,
                segs: Option[Seq[String]] = None): (Option[String], Seq[String]) = {
    val base = resolve(spark, p.table(sub))
    val parts = segmentParts(spark, p, sub, segs.getOrElse(segmentDirs(spark, p)))
    if (!p.nested) (Some(base), parts)
    else (Some(base).filter(b => parts.isEmpty || exists(spark, b)), parts)
  }

  /** Table `sub`'s part in each of the segment dirs `segs`: the segment
    * dir itself in a sibling layout, its existing `<seg>/<sub>` in a
    * nested one (a crashed segment write can leave a table missing).
    */
  def segmentParts(spark: SparkSession, p: Paths, sub: String,
                   segs: Seq[String]): Seq[String] =
    if (!p.nested) segs
    else segs.map(d => s"$d/$sub").filter(exists(spark, _))

  /** Whether `dir` exists (one filesystem probe). */
  def exists(spark: SparkSession, dir: String): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(dir)
    fsOf(spark, hp).exists(hp)
  }

  /** The one live read of a base+segments table: (the base, ONE
    * relation over all segment parts), both always present. No other
    * code reads segments.
    *
    * Both are built from the driver's own listing ([[walkFiles]] with
    * Spark's hidden-name rule), handed to Spark as a file index with
    * its partitions, files and footer schema already known
    * ([[relation]]): no read runs a partition-discovery or
    * schema-inference job, and nothing is listed twice. (Spark's own
    * discovery lists a 64-shard base with a 64-task job, as it goes
    * parallel above 32 leaf dirs.)
    *
    *   - The base's `<key>=N` directories become the key column, typed
    *     `int` and appended after the data columns, as discovery gives
    *     them. `keys` keeps only the listed values: shard and cell
    *     pruning happens in the listing, not in a filter literal. An
    *     unpartitioned base (the readable-empty layout) is read whole.
    *   - All segments are one relation: N segments cost one footer and
    *     one scan setup instead of N (the per-segment fixed cost was the
    *     measured LSM read-amplification slope, PERF.md "Round 6:
    *     streaming index segments"). A segment is unpartitioned by
    *     construction (the writers choose the layout from the target
    *     path, [[isSegmentPath]]), so it carries its key as a data
    *     column and `keys` does not apply to it.
    *   - An absent part is a relation with no files and the other part's
    *     columns, so the plan has one shape in every lifecycle state and
    *     its generated code does not change as segments come and go.
    *
    * A base the listing cannot read as such (a missing path, no data
    * file, a non-integer key, a footer without Spark's schema) goes to
    * [[readParquet]] unpruned, so Spark's own errors stay Spark's own.
    */
  def readLive(spark: SparkSession, base: Option[String], segParts: Seq[String],
               keys: Option[Seq[Int]] = None): (DataFrame, DataFrame) = {
    val b = base.map(path => path -> listBase(spark, path, keys.map(_.toSet)))
    val s = listFlat(spark, segParts)
    val segSchema = s.flatMap(_.schema)
    val baseDf = b.map {
      case (_, Some(l @ Listed(_, _, Some(data), _))) => relation(spark, data, l.partCol, l.leaves)
      case (_, Some(l)) if !l.hasData && segSchema.isDefined =>
        relation(spark, segSchema.get, None, Nil)
      case (path, None) if segSchema.isDefined && !exists(spark, path) =>
        relation(spark, segSchema.get, None, Nil)
      case (path, _) => readParquet(spark, Seq(path))
    }
    val segDf = (s, segSchema) match {
      case (Some(l), Some(data)) => relation(spark, data, None, l.leaves)
      case (Some(l), None) if !l.hasData && baseDf.isDefined =>
        relation(spark, baseDf.get.schema, None, Nil)
      case (Some(l), None) if l.hasData =>
        spark.read.parquet(l.leaves.flatMap(_.files).map(_.getPath.toString): _*)
      case _ => readParquet(spark, segParts) // Spark's missing-path or inference error
    }
    (baseDf.getOrElse(relation(spark, segDf.schema, None, Nil)), segDf)
  }

  /** A listed leaf directory: its `<key>=N` value (None when
    * unpartitioned) and the data files directly in it.
    */
  private final case class Leaf(dir: org.apache.hadoop.fs.Path, key: Option[Int],
                                files: Array[org.apache.hadoop.fs.FileStatus])

  /** One part of a live read as listed: its partition key, its kept
    * leaves, whether it holds any data file, and the data schema from
    * the footer of the file Spark's inference would open (None when
    * there is no data file, or its footer has no Spark schema).
    */
  private final case class Listed(partCol: Option[String], leaves: Seq[Leaf],
                                  schema: Option[org.apache.spark.sql.types.StructType],
                                  hasData: Boolean)

  private object Listed {
    def apply(partCol: Option[String], leaves: Seq[Leaf], spark: SparkSession,
              first: Option[org.apache.hadoop.fs.FileStatus]): Listed =
      Listed(partCol, leaves, first.flatMap(footerSchemaOf(spark, _)), first.isDefined)
  }

  /** The base `dir`, listed: one `listStatus` of `dir`, then a walk of
    * each kept `<key>=N` directory (or of the whole dir when it holds no
    * key directories). The schema file is the first data file of the
    * whole base in full-path order — the one inference over the unpruned
    * base would open — so a pruned read has the unpruned read's columns;
    * a pruned-away dir is walked only while no earlier dir has supplied
    * it. None when `dir` does not exist or its key directories are not
    * one integer key.
    */
  private def listBase(spark: SparkSession, dir: String,
                       keys: Option[Set[Int]]): Option[Listed] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = fsOf(spark, p)
    statusOf(fs, p).filter(_.isDirectory).flatMap { st =>
      val keyed = fs.listStatus(st.getPath).toSeq
        .filter(c => c.isDirectory && sparkVisible(c.getPath.getName) &&
          c.getPath.getName.contains("="))
        .sortBy(c => walkKey(c, c.getPath.getName))
        .map(c => (c, c.getPath.getName.split("=", 2)))
      def files(d: org.apache.hadoop.fs.FileStatus) =
        walkFrom(fs, d, sparkVisible).filter(isDataFile).toSeq
      if (keyed.isEmpty) {
        val all = files(st)
        Some(Listed(None, leavesOf(all, None), spark, all.headOption))
      } else {
        val name = keyed.head._2(0)
        if (keyed.exists { case (_, kv) => kv(0) != name || kv(1).toIntOption.isEmpty }) None
        else {
          val dirs = keyed.map { case (d, kv) => d -> kv(1).toInt }
          val kept = dirs.collect {
            case (d, v) if keys.forall(_(v)) => v -> files(d)
          }.toMap
          val first = dirs.iterator
            .flatMap { case (d, v) => kept.getOrElse(v, files(d)) }.nextOption()
          Some(Listed(Some(name), dirs.flatMap { case (_, v) =>
            kept.get(v).toSeq.flatMap(leavesOf(_, Some(v)))
          }, spark, first))
        }
      }
    }
  }

  /** Unpartitioned parts (segment dirs), listed and walked in full-path
    * order; None when one of them does not exist.
    */
  private def listFlat(spark: SparkSession, parts: Seq[String]): Option[Listed] = {
    val roots = parts.map { s =>
      val p = new org.apache.hadoop.fs.Path(s)
      val fs = fsOf(spark, p)
      statusOf(fs, p).map(fs -> _)
    }
    if (roots.contains(None)) None
    else {
      val files = roots.flatten.sortBy { case (_, st) => walkKey(st, st.getPath.toString) }
        .flatMap { case (fs, st) => walkFrom(fs, st, sparkVisible).filter(isDataFile) }
      Some(Listed(None, leavesOf(files, None), spark, files.headOption))
    }
  }

  private def isDataFile(st: org.apache.hadoop.fs.FileStatus): Boolean =
    st.getPath.getName.endsWith(".parquet")

  /** `files` grouped by their directory, in walk order. */
  private def leavesOf(files: Seq[org.apache.hadoop.fs.FileStatus],
                       key: Option[Int]): Seq[Leaf] = {
    val byDir = scala.collection.mutable.LinkedHashMap
      .empty[org.apache.hadoop.fs.Path, scala.collection.mutable.ArrayBuffer[org.apache.hadoop.fs.FileStatus]]
    files.foreach(f => byDir.getOrElseUpdate(f.getPath.getParent,
      scala.collection.mutable.ArrayBuffer.empty) += f)
    byDir.iterator.map { case (d, fs) => Leaf(d, key, fs.toArray) }.toSeq
  }

  /** A parquet relation over listed `leaves`: Spark's `InMemoryFileIndex`
    * with the partition spec given and every leaf's files in its status
    * cache, so building it lists nothing, infers nothing and starts no
    * job. The data schema is made nullable, as every parquet read makes
    * it; `partCol` is an `int` partition column, as discovery types a
    * `<key>=N` directory. With no leaves it is a relation with no files:
    * it reads no rows, yet the optimizer keeps it (it prunes only empty
    * local relations), so the plan keeps its shape. Two such relations
    * are equal only when they list the same files ([[ListedFileIndex]]).
    */
  private def relation(spark: SparkSession, dataSchema: org.apache.spark.sql.types.StructType,
                       partCol: Option[String], leaves: Seq[Leaf]): DataFrame = {
    import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation,
      PartitionPath, PartitionSpec}
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val partSchema = StructType(partCol.toSeq.map(StructField(_, IntegerType)))
    val listed = leaves.map(l => l.dir -> l.files).toMap
    val cache = new FileStatusCache {
      override def getLeafFiles(path: org.apache.hadoop.fs.Path) = listed.get(path)
      override def putLeafFiles(path: org.apache.hadoop.fs.Path,
                                files: Array[org.apache.hadoop.fs.FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val spec = PartitionSpec(partSchema, if (partCol.isEmpty) Nil else leaves.map { l =>
      PartitionPath(org.apache.spark.sql.catalyst.InternalRow(l.key.get), l.dir)
    })
    val index = new ListedFileIndex(spark, leaves, cache, spec)
    spark.baseRelationToDataFrame(HadoopFsRelation(index, partSchema,
      asNullable(dataSchema).asInstanceOf[StructType], None,
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
      Map.empty)(spark))
  }

  /** The file index of a [[relation]]: Spark's `InMemoryFileIndex`,
    * whose equality compares root paths alone, made equal only when the
    * listed files are equal too. Without that, two reads of one
    * directory with different file lists (a tombstone snapshot and the
    * live files after a later removal) count as one relation in a plan,
    * and a reused exchange serves the first list to both.
    */
  private final class ListedFileIndex(
      spark: SparkSession, leaves: Seq[Leaf],
      cache: org.apache.spark.sql.execution.datasources.FileStatusCache,
      spec: org.apache.spark.sql.execution.datasources.PartitionSpec)
      extends org.apache.spark.sql.execution.datasources.InMemoryFileIndex(
        spark, leaves.map(_.dir), Map.empty, None, cache, Some(spec), None) {
    private val listed = leaves.flatMap(_.files.map(f =>
      (f.getPath, f.getLen, f.getModificationTime))).toSet
    override def equals(other: Any): Boolean = other match {
      case o: ListedFileIndex => super.equals(o) && listed == o.listed
      case _ => false
    }
    override def hashCode(): Int = (super.hashCode(), listed).hashCode()
  }

  /** `t` with every field, element and value nullable, as a file read
    * types its data schema.
    */
  private def asNullable(t: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    t match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = asNullable(f.dataType), nullable = true)))
      case a: ArrayType  => ArrayType(asNullable(a.elementType), containsNull = true)
      case m: MapType    => MapType(asNullable(m.keyType), asNullable(m.valueType),
        valueContainsNull = true)
      case other         => other
    }
  }

  /** The offline fold input shared by the compactions, retrains and
    * audits: table `sub`'s [[liveParts]] over the segment snapshot
    * `segs`, read by [[readLive]], DISTINCT, minus the ids of an
    * explicit tombstone snapshot ([[dropIdsIn]]). The distinct is what
    * makes a crashed fold converge: a segment left both folded and
    * present collapses into the identical base rows.
    */
  def foldLive(spark: SparkSession, p: Paths, sub: String,
               segs: Seq[String], idCol: String, tombs: Seq[String]): DataFrame = {
    val (base, parts) = liveParts(spark, p, sub, Some(segs))
    val (b, s) = readLive(spark, base, parts)
    dropIdsIn(b.unionByName(s).distinct(), idCol, tombs)
  }

  /** The live rows of an index's data table — base ∪ live segments
    * minus live tombstones, through [[foldLive]] — for the offline
    * audits. Lease-free: a read, not a fold.
    */
  def liveRows(spark: SparkSession, p: Paths, idCol: String): DataFrame =
    foldLive(spark, p, p.dataTable, segmentDirs(spark, p), idCol,
      liveTombstoneFiles(spark, p.tombDir))

  /** Total on-disk bytes under `dirs` — a driver-side FS metadata read
    * (no Spark job), the cheap proxy the segment-id guards use to pick
    * their join regime without paying a count action on a query path.
    */
  def dirBytes(spark: SparkSession, dirs: Seq[String]): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    dirs.map { d =>
      val hp = new org.apache.hadoop.fs.Path(d)
      val fs = hp.getFileSystem(conf)
      if (fs.exists(hp)) fs.getContentSummary(hp).getLength else 0L
    }.sum
  }

  /** Parquet bytes across live segments above which the crash-duplicate
    * guards (BqIndex.readCodes, IvfIndex.readCells) switch from a
    * broadcast anti-join on the segment id set to a shuffle anti-join.
    * The broadcast regime is the steady streaming state (segments are
    * micro-batch-sized); the cap makes the guard CODE-bounded, not
    * policy-bounded — a BQ `streamIndex` caller who never compacts
    * accumulates segments until an uncapped broadcast would hurt, and
    * this regime flip (never a corpus `distinct()`) absorbs that
    * instead. Same cap-with-fallback discipline as
    * `DedupOps.ExactFpBroadcastMaxRows`; the readers' private[graft]
    * overloads take the cap, so the regime-equality specs can force the
    * fallback on a small corpus.
    */
  private[graft] val SegGuardBroadcastMaxBytes: Long = 256L * 1024 * 1024

  /** The capped crash-duplicate guard shared by the segment-state reads:
    * `base ANTI-JOIN segIds ∪ segments`, broadcast while `segBytes` (the
    * [[dirBytes]] of the live segment dirs) is at most `maxBytes`,
    * shuffle anti-join above it.
    */
  private[operators] def segGuardedUnion(base: DataFrame, segments: DataFrame,
                                         idCol: String, segBytes: Long,
                                         maxBytes: Long): DataFrame = {
    val segIds = segments.select(idCol)
    val guarded =
      if (segBytes <= maxBytes)
        base.join(org.apache.spark.sql.functions.broadcast(segIds),
          Seq(idCol), "left_anti")
      else base.join(segIds, Seq(idCol), "left_anti")
    guarded.unionByName(segments)
  }

  /** Remove the tombstone sidecar (after compaction materialized it). */
  def clearTombstones(spark: SparkSession, tombDir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(tombDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
  }

  // ---------------------------------------------------------------------
  // Maintenance POLICY. The mechanisms above (folds, compactions,
  // retrains) are all manually invoked; at 100 TB someone must decide
  // WHEN — by measurement, not guesswork (the q236 drift audit's model:
  // measure, then act). [[maintenancePlan]] reads the listings a read
  // path already takes — live/folded segments, live tombstone batches,
  // data-file count, lease, pins — and turns them into threshold-gated
  // recommendations. It is a pure READ (no lease taken, nothing
  // mutated): the scheduler that acts on it takes the lease per action,
  // exactly as a human operator would.
  // ---------------------------------------------------------------------

  /** Thresholds for [[maintenancePlan]]. Defaults express the standard
    * trade-offs: each live segment is one more layout every read unions
    * (read amplification grows linearly — fold before it is felt); each
    * live tombstone batch is one more anti-join input (and deleted rows
    * still occupy the base — compact to reclaim); small files from
    * appends push scan task count up (compact to re-cluster); retrain
    * when the measured quantizer drift (q236's mean distance-to-assigned-
    * centroid, current model vs a retrained one) exceeds the gap in
    * basis points. `maxDataFiles` is OPT-IN (default unlimited): the
    * small-file trigger must be sized RELATIVE to the layout's
    * clustered baseline — a freshly-compacted table is already
    * O(shards × writer-parallelism) files, the TARGET state, so a fixed
    * default would re-trigger compaction on the state compaction itself
    * produces (an endless rewrite loop for a scheduler acting on the
    * plan). Pass ≈ 3–4× your layout's post-compaction file count to
    * enable it; the segment/tombstone triggers carry the common cases
    * without it (every append lands a segment or a sidecar batch).
    */
  final case class MaintenanceThresholds(
      maxLiveSegments: Int = 8,
      maxTombstoneBatches: Int = 8,
      maxDataFiles: Int = Int.MaxValue,
      maxDriftBps: Long = 1000L,
      // BQ's drift form (q241): fraction of code bits that would flip
      // under a freshly trained threshold model, in basis points — 500
      // = 5% of bits, past which Hamming pre-ranks have drifted off the
      // corpus geometry and a rebuild is due
      maxBitFlipBps: Long = 500L)

  /** What [[maintenancePlan]] measured and what it recommends.
    * `actions` is (action, reason) pairs — action ∈ {"fold", "compact",
    * "retrain"}; fold and compact both map to the family's
    * `compactIndex` (one pass folds segments AND materializes
    * tombstones), listed separately so the reason names the pressure.
    * `lease`/`pins` are operability context: a scheduler must not queue
    * an action while a (live) maintainer holds the lease, and pins
    * explain retained snapshot bytes.
    */
  final case class MaintenancePlan(
      liveSegments: Int,
      foldedAwaitingRetire: Int,
      tombstoneBatches: Int,
      dataFiles: Int,
      lease: Option[(String, String, Long)],
      pins: Int,
      actions: Seq[(String, String)]) {
    def recommends(action: String): Boolean = actions.exists(_._1 == action)
  }

  /** What one maintenance [[cycle]] — every layout's `maintain`, and the
    * maintained streams' per-batch fold — measured, recommended, and
    * actually DID. `acted` ⊆ {"compact", "retrain"} — empty when the
    * plan recommended nothing, or when a live maintainer held the lease
    * (the cycle then reports instead of queuing behind it; a crashed
    * holder is a manual `releaseLease` decision by design).
    */
  final case class MaintenanceOutcome(
      plan: MaintenancePlan,
      acted: Seq[String]) {
    def skippedOnLease: Boolean = acted.isEmpty && plan.lease.isDefined &&
      plan.actions.nonEmpty
  }

  /** Threshold-gated maintenance recommendations for one index, from
    * its [[Paths]]: the data table (version-resolved for the file count),
    * the segment root (live vs `_FOLDED`), the tombstone dir (live data
    * files — or pass `tombstoneBatches` for BM25, whose delete batches
    * are stats-listed directories) and the lease root.
    *
    * `drift` is the q236 audit's (currentMeanD2, retrainedMeanD2) for
    * the vector layouts — the planner cannot (and should not) run the
    * audit itself from FS metadata, so retrain is recommended only when
    * the caller supplies a measurement.
    *
    * The measurements (`tombstoneBatches`, `drift`, `bitFlipBps`) are
    * by-name and taken only while no maintainer holds the lease. Each is
    * Spark work — BM25's stats read, a drift audit's fresh training pass
    * over every live row — and under a held lease no cycle can act on
    * it. Such a plan reports the lease and the metadata: no retrain is
    * gated, and `tombstoneBatches` is the tombstone dir's file count
    * (0 for BM25's batch directories).
    */
  def maintenancePlan(spark: SparkSession, p: Paths,
                      t: MaintenanceThresholds,
                      tombstoneBatches: => Option[Int] = None,
                      drift: => Option[(Long, Long)] = None,
                      bitFlipBps: => Option[Long] = None): MaintenancePlan = {
    val measured = listLease(spark, p.root).isEmpty
    def measure[A](m: => Option[A]): Option[A] = if (measured) m else None
    val (liveSegs, folded) = segmentListing(spark, p.segRoot)
    val tombs = measure(tombstoneBatches)
      .getOrElse(liveTombstoneFiles(spark, p.tombDir).size)
    val dataDir = p.table(p.dataTable)
    val files = dataFileCount(spark, dataDir)
    val actions = Seq.newBuilder[(String, String)]
    if (liveSegs.size >= t.maxLiveSegments)
      actions += (("fold",
        s"${liveSegs.size} live segments >= ${t.maxLiveSegments}: every " +
          "read unions one layout per segment — fold them into the base"))
    if (tombs >= t.maxTombstoneBatches)
      actions += (("compact",
        s"$tombs live tombstone batches >= ${t.maxTombstoneBatches}: " +
          "reads anti-join each batch and deleted rows still occupy " +
          "the base — compact to materialize"))
    if (files >= t.maxDataFiles)
      actions += (("compact",
        s"$files data files >= ${t.maxDataFiles}: append-accumulated " +
          "small files inflate scan task count — compact to re-cluster"))
    measure(drift).foreach { case (cur, retrained) =>
      if (retrained > 0 && (cur - retrained) * 10000L > retrained * t.maxDriftBps)
        actions += (("retrain",
          s"mean quantization error $cur vs $retrained after retrain " +
            s"(> ${t.maxDriftBps} bps gap): the cell structure no longer " +
            "reflects the corpus — retrainCompact"))
    }
    measure(bitFlipBps).foreach { bps =>
      if (bps > t.maxBitFlipBps)
        actions += (("retrain",
          s"$bps bps of code bits flip under a freshly trained threshold " +
            s"model (> ${t.maxBitFlipBps} bps): Hamming pre-ranks have " +
            "drifted off the corpus geometry — rebuild (writeIndex)"))
    }
    MaintenancePlan(liveSegs.size, folded.size, tombs, files,
      listLease(spark, p.root), listPins(spark, dataDir).size,
      actions.result())
  }

  /** One maintenance cycle over a computed plan: nothing to do, or a live
    * maintainer holds the lease → report and skip (never queue behind
    * it, never throw); `retrain` recommended and the layout supplies one
    * → retrain (it folds segments and tombstones in the same pass, so a
    * co-recommended compact is subsumed); otherwise → compact. Returns
    * the outcome and the model to search with from here on — `retrain`'s
    * result iff it acted, else `model`.
    */
  def cycle[M](plan: MaintenancePlan, model: M, compact: () => Unit,
               retrain: Option[() => M] = None): (MaintenanceOutcome, M) =
    if (plan.actions.isEmpty || plan.lease.isDefined)
      (MaintenanceOutcome(plan, Seq.empty), model)
    else retrain.filter(_ => plan.recommends("retrain")) match {
      case Some(r) => (MaintenanceOutcome(plan, Seq("retrain")), r())
      case None    => compact(); (MaintenanceOutcome(plan, Seq("compact")), model)
    }

  /** Total parquet data-file bytes under `dir` (recursive, through
    * [[walkFiles]]; 0 when the directory does not exist).
    */
  def parquetBytes(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    walkFiles(fsOf(spark, p), p)
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
  }

  /** Parquet data-file count under the RESOLVED `dir` (recursive, through
    * [[walkFiles]]) — what compaction bounds; asserted in the layout
    * specs.
    */
  def dataFileCount(spark: SparkSession, dir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(resolve(spark, dir))
    walkFiles(fsOf(spark, p), p).count(_.getPath.getName.endsWith(".parquet"))
  }

  // ---------------------------------------------------------------------
  // Driver-side file metadata: one listing walk, one schema resolution.
  //
  // Both sit on every lifecycle call (the maintenance plan's file count,
  // every base/segment/tombstone/stats read), so their fixed cost is paid
  // per micro-batch, not per byte.
  // ---------------------------------------------------------------------

  /** Every file under `root` (`root` itself when it is a file; nothing
    * when it does not exist), depth-first in full-path string order,
    * found with `listStatus` alone. Lazy: a directory is listed only
    * when the walk reaches it, so a caller that stops at its first match
    * lists only the directories on the way there.
    *
    * Why not `fs.listFiles(root, true)`: it wraps every entry in a
    * `LocatedFileStatus`, whose constructor reads permission, owner and
    * group. On a local filesystem without Hadoop's native library each
    * of those reads starts a shell `stat` process — measured 1.42-1.66 s
    * for 192 files in 64 directories, against 8-13 ms for this walk.
    * Spark's own listing (`HadoopFSUtils`) builds its statuses without
    * permissions for the same reason.
    *
    * `keep` filters entry names (files and directories below `root`);
    * by default nothing is skipped, so hidden, `_`-prefixed and
    * `_temporary` directories are walked exactly as `listFiles` walks
    * them (a checksummed filesystem hides its `.crc` files from both).
    *
    * Object-store trade: one LIST per directory, where `listFiles` can
    * make one flat listing of the whole prefix. That is the
    * per-directory listing Spark's `InMemoryFileIndex` already makes on
    * every read of the same table, and the tables walked here are
    * partitioned 64 ways at most.
    */
  private[graft] def walkFiles(
      fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path,
      keep: String => Boolean = _ => true): Iterator[org.apache.hadoop.fs.FileStatus] =
    statusOf(fs, root).iterator.flatMap(walkFrom(fs, _, keep))

  private def statusOf(fs: org.apache.hadoop.fs.FileSystem,
                       p: org.apache.hadoop.fs.Path): Option[org.apache.hadoop.fs.FileStatus] =
    try Some(fs.getFileStatus(p))
    catch { case _: java.io.FileNotFoundException => None }

  private def walkFrom(fs: org.apache.hadoop.fs.FileSystem,
                       st: org.apache.hadoop.fs.FileStatus,
                       keep: String => Boolean): Iterator[org.apache.hadoop.fs.FileStatus] =
    if (!st.isDirectory) Iterator.single(st)
    else fs.listStatus(st.getPath).filter(c => keep(c.getPath.getName))
      .sortBy(c => walkKey(c, c.getPath.getName)).iterator
      .flatMap(walkFrom(fs, _, keep))

  /** Sort key of a walked entry from its name (or full path): with `/`
    * appended for a directory, sibling order is the order of the full
    * path strings of everything below them.
    */
  private def walkKey(st: org.apache.hadoop.fs.FileStatus, name: String): String =
    if (st.isDirectory) name + "/" else name

  /** Whether Spark's file listing keeps an entry name: it skips `_`- and
    * `.`-prefixed names (a `_` name holding `=` is a partition dir) and
    * in-flight `._COPYING_` files. Summary files (`_metadata`,
    * `_common_metadata`) are skipped here too: Spark never takes a
    * schema from them unless asked to.
    */
  private def sparkVisible(name: String): Boolean =
    !((name.startsWith("_") && !name.contains("=")) ||
      name.startsWith(".") || name.endsWith("._COPYING_"))

  /** The parquet data file Spark's schema inference would open for a
    * read of `paths` — the first in full-path string order among the
    * files its listing keeps — or None when there is none.
    */
  private def firstDataFile(spark: SparkSession,
                            paths: Seq[String]): Option[org.apache.hadoop.fs.FileStatus] = {
    // one status probe per path; then, as the paths are disjoint trees,
    // walking them in key order finds the global first without listing
    // the paths after the one that holds it
    val roots = paths.flatMap { s =>
      val p = new org.apache.hadoop.fs.Path(s)
      val fs = fsOf(spark, p)
      statusOf(fs, p).map(fs -> _)
    }.sortBy { case (_, st) => walkKey(st, st.getPath.toString) }
    roots.iterator.flatMap { case (fs, st) => walkFrom(fs, st, sparkVisible) }
      .find(_.getPath.getName.endsWith(".parquet"))
  }

  /** Whether a read of `dir` would find a parquet data file (false when
    * `dir` does not exist) — the "nothing written here" test.
    */
  private[graft] def holdsData(spark: SparkSession, dir: String): Boolean =
    firstDataFile(spark, Seq(dir)).isDefined

  /** Footer key under which Spark's parquet writer stamps the row schema
    * as JSON (`ParquetReadSupport.SPARK_METADATA_KEY`).
    */
  private val SparkRowMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  /** A parquet read of whole index tables (stats rows, doc sidecars,
    * tombstones, compaction inputs): `spark.read.parquet(paths)` with
    * the schema resolved on the driver, so the read launches no
    * schema-inference job (a one-task Spark job per read without it:
    * 17 of the 112 jobs of a 100-doc streamed ingest batch). Live
    * base+segment reads go through [[readLive]] instead.
    *
    * The schema is the Spark row schema stamped in the footer of the
    * file Spark's own inference would open ([[firstDataFile]]), read
    * through the parquet-hadoop API: the same file and the same schema,
    * so the frame is the one inference gives. Partition discovery still
    * runs (a partitioned table keeps its `shard`/`cell` column, appended
    * after the data columns).
    *
    * Whatever the driver cannot resolve — a missing path, no data file,
    * a footer without the key or one that does not parse — goes to
    * Spark's own inference unchanged, so its errors (missing path,
    * "unable to infer schema", unreadable footer) stay Spark's own.
    * Inference here is Spark's default one-file inference: no session
    * in this engine turns `spark.sql.parquet.mergeSchema` on.
    */
  def readParquet(spark: SparkSession, paths: Seq[String]): DataFrame =
    firstDataFile(spark, paths).flatMap(footerSchemaOf(spark, _))
      .fold(spark.read)(spark.read.schema).parquet(paths: _*)

  /** The Spark row schema stamped in the footer of data file `st`, or
    * None when the footer lacks the key or does not parse.
    */
  private def footerSchemaOf(spark: SparkSession, st: org.apache.hadoop.fs.FileStatus)
      : Option[org.apache.spark.sql.types.StructType] =
    try {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromStatus(st, spark.sparkContext.hadoopConfiguration)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try Option(r.getFooter.getFileMetaData.getKeyValueMetaData
        .get(SparkRowMetadataKey))
      finally r.close()
    }.map(org.apache.spark.sql.types.DataType.fromJson).collect {
      case s: org.apache.spark.sql.types.StructType => s
    } catch { case scala.util.control.NonFatal(_) => None }
}
