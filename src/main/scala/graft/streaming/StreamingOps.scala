package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructField, StructType, TimestampNTZType, TimestampType}
import org.apache.spark.Partition
import graft.operators.{Bm25, BqIndex, DedupOps, IndexLayout, IvfIndex, IvfPq}

/** Structured Streaming re-expression of the reference's incremental
  * semantics (SURVEY.md §2.10):
  *  - T1 generator-based batch streaming of parquet
  *    (`utils/gcs_reader.py:173-217`) → file-source streaming with
  *    `maxFilesPerTrigger` / `Trigger.AvailableNow`;
  *  - T3 timestamped-append + downstream dedup → append-mode sink +
  *    `dropDuplicates` on the watermark key;
  *  - windowed aggregation with a watermark for late data (absent in the
  *    reference but required the moment ingestion streams).
  *
  * The transforms are the *same logical plans* as the batch operators in
  * `graft.operators.Sessionization` — one definition of the aggregation,
  * two execution modes; correctness of the streaming mode is asserted by
  * equality with the batch result in StreamingSpec.
  */
object StreamingOps {

  /** Streaming reader for an events-shaped parquet directory. The schema
    * must be supplied (streaming sources don't infer); epoch-nano `ts`
    * columns are normalized exactly like the batch loader.
    */
  def readEvents(spark: SparkSession, path: String, schema: StructType,
                 maxFilesPerTrigger: Int = 1): DataFrame = {
    val raw = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(path)
    if (schema.fields.exists(f => f.name == "ts" && f.dataType == LongType))
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else if (schema.fields.exists(f =>
        f.name == "ts" && f.dataType == TimestampNTZType))
      // plain timestamp[us] files; session tz is UTC so the cast preserves
      // the instant, and watermarks require TimestampType
      raw.withColumn("ts", col("ts").cast(TimestampType))
    else raw
  }

  /** Tumbling-window aggregation with watermark — streaming twin of
    * `Sessionization.tumbling`.
    */
  def tumblingCounts(events: DataFrame, width: String,
                     watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width).getField("start").as("window_start"),
        col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        round(sum(col("value")), 2).as("sum_value"))

  /** Stream-deduplicated events (T3/T4 semantics: idempotent re-delivery). */
  def dedupedStream(events: DataFrame, watermark: String): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Gap sessionization via Spark's NATIVE `session_window` aggregation —
    * the built-in alternative to [[statefulSessions]] when per-session
    * output is aggregate-shaped (count/sum/bounds): the state-store
    * session merging is Spark's own, codegen-friendly, and needs no
    * custom state class. Prefer this form; drop to
    * `flatMapGroupsWithState` only when sessions must EMIT per-event or
    * carry non-aggregate state (the [[statefulSessions]] cases).
    * Equality with the batch sessionizer is pinned in StreamingSpec.
    */
  def sessionWindowCounts(events: DataFrame, gap: String,
                          watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).cast("long").as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("n_events"), col("sum_value"))

  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class SessionState(start: Long, last: Long, n: Long, sum: Double)
  final case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, sum_value: Double)

  /** Stateful gap sessionization over a stream
    * (`flatMapGroupsWithState`): per-user session state lives in the state
    * store; a session closes when a later event arrives past the gap (or
    * on event-time timeout after the watermark passes). The streaming twin
    * of `Sessionization.sessionize` — equality on closed sessions is
    * asserted in StreamingSpec.
    */
  def statefulSessions(events: org.apache.spark.sql.Dataset[SessionEvent],
                       gapSeconds: Long, watermark: String)
      : org.apache.spark.sql.Dataset[SessionOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    val gapUs = gapSeconds * 1000000L

    // state timestamps in MICROseconds — Timestamp.getTime is millis and
    // would truncate the micros the event-time column carries
    def toMicros(t: java.sql.Timestamp): Long =
      math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
    def fromMicros(us: Long): java.sql.Timestamp = {
      val ts = new java.sql.Timestamp(math.floorDiv(us, 1000000L) * 1000L)
      ts.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
      ts
    }

    def close(s: SessionState, uid: Long): SessionOut =
      // BigDecimal HALF_UP to match Spark's round(col, 2) in the batch twin
      SessionOut(uid, fromMicros(s.start), fromMicros(s.last), s.n,
        BigDecimal(s.sum).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)

    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(close(_, uid))
            state.remove()
            out.iterator
          } else {
            val evs = it.toSeq.sortBy(e => toMicros(e.ts))
            val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            var st = state.getOption
            evs.foreach { e =>
              val t = toMicros(e.ts)
              st = st match {
                case Some(s) if t - s.last <= gapUs =>
                  Some(SessionState(s.start, math.max(s.last, t), s.n + 1, s.sum + e.value))
                case Some(s) =>
                  out += close(s, uid)
                  Some(SessionState(t, t, 1, e.value))
                case None =>
                  Some(SessionState(t, t, 1, e.value))
              }
            }
            st.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp((s.last + gapUs) / 1000) // timeout API is millis
            }
            out.iterator
          }
      }
  }

  /** Stream-stream event-time interval join: each left row joins right rows
    * of the same key with `right.ts` in `[left.ts - maxLagSeconds, left.ts]`
    * (streaming attribution — the unbounded-stream counterpart of
    * `Temporal.asofJoin`, which needs bounded input for "latest"; a stream
    * can only bound the lookback). Watermarks on BOTH sides let Spark evict
    * buffered rows once event time passes `ts + maxLag + watermark`, so
    * state stays O(key-rate × lag window) instead of growing forever.
    *
    * `right` must expose its timestamp as `r_ts` and its key under the same
    * name as `left`'s `keyCol`; all other right columns pass through.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
                   maxLagSeconds: Long, watermark: String): DataFrame = {
    val l = left.withWatermark("ts", watermark).as("l")
    val r = right.withWatermark("r_ts", watermark).as("r")
    l.join(r,
      col(s"l.$keyCol") === col(s"r.$keyCol") &&
        col("r.r_ts") >= col("l.ts") - expr(s"INTERVAL $maxLagSeconds SECONDS") &&
        col("r.r_ts") <= col("l.ts"))
      .drop(col(s"r.$keyCol"))
  }

  final case class PatEvent(user_id: Long, ts: java.sql.Timestamp, event_type: String)
  final case class PatBuffer(as: List[Long], bs: List[Long]) // epoch micros
  final case class PatMatch(user_id: Long, a_ts: java.sql.Timestamp,
      b_ts: java.sql.Timestamp, lag_sec: Double)

  /** CEP-style sequence detection on a stream: per key, emit (a, b) when an
    * `aType` event is FOLLOWED BY a `bType` event within `withinSeconds`
    * (b = the earliest such follower; every A matches at most once, Bs are
    * reusable across As — the "A FOLLOWED-BY B" pattern of Flink CEP /
    * MATCH_RECOGNIZE, which Spark has no native operator for).
    *
    * Correctness under out-of-order arrival: emitting eagerly on each B
    * would bind an A to a *later* B when the true first B is still in
    * flight. Instead both event kinds buffer in the state store, and an A
    * resolves only once the event-time watermark passes `a_ts + within` —
    * no earlier B can arrive after that. State per key is O(events inside
    * the lag window + watermark delay), evicted monotonically; emission is
    * exactly the batch semantics, independent of batch boundaries.
    */
  def patternMatches(events: org.apache.spark.sql.Dataset[PatEvent],
                     aType: String, bType: String, withinSeconds: Long,
                     watermark: String)
      : org.apache.spark.sql.Dataset[PatMatch] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    val winUs = withinSeconds * 1000000L

    def toMicros(t: java.sql.Timestamp): Long =
      math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
    def fromMicros(us: Long): java.sql.Timestamp = {
      val ts = new java.sql.Timestamp(math.floorDiv(us, 1000000L) * 1000L)
      ts.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
      ts
    }

    // resolve expired As against the B buffer; returns (matches, kept state)
    def resolve(uid: Long, st: PatBuffer, wmUs: Long): (Seq[PatMatch], PatBuffer) = {
      val (expired, pending) = st.as.partition(a => a + winUs < wmUs)
      val matches = expired.sorted.flatMap { a =>
        st.bs.filter(b => b > a && b <= a + winUs).minOption
          .map(b => PatMatch(uid, fromMicros(a), fromMicros(b), (b - a) / 1e6))
      }
      // pending As all have a + win >= wm, so any B they can use has
      // b > a >= wm - win; future As have a >= wm > wm - win too
      (matches, PatBuffer(pending, st.bs.filter(_ + winUs >= wmUs)))
    }

    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[PatEvent], state: GroupState[PatBuffer]) =>
          val st0 = state.getOption.getOrElse(PatBuffer(Nil, Nil))
          val incoming = it.toSeq
          val st1 = PatBuffer(
            st0.as ++ incoming.collect { case e if e.event_type == aType => toMicros(e.ts) },
            st0.bs ++ incoming.collect { case e if e.event_type == bType => toMicros(e.ts) })
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (matches, kept) = resolve(uid, st1, wmUs)
          if (kept.as.isEmpty && kept.bs.isEmpty) {
            if (state.exists) state.remove()
          } else {
            state.update(kept)
            // wake when the earliest pending A expires (or stale Bs need
            // eviction); must be strictly past the current watermark
            val nextUs = (kept.as.map(_ + winUs) ++ kept.bs.map(_ + winUs)).min
            state.setTimeoutTimestamp(
              math.max(nextUs / 1000L + 1L, state.getCurrentWatermarkMs() + 1L))
          }
          matches.iterator
      }
  }

  /** Batch twin of [[patternMatches]] — same first-follower semantics as
    * one bounded query (per-key equi-join + time-range residual, then
    * min-per-A). Equality with the streaming form is pinned in
    * StreamingSpec.
    */
  def patternMatchesBatch(events: DataFrame, aType: String, bType: String,
                          withinSeconds: Long): DataFrame = {
    val a = events.filter(col("event_type") === aType)
      .select(col("user_id"), col("ts").as("a_ts"))
    val b = events.filter(col("event_type") === bType)
      .select(col("user_id").as("b_uid"), col("ts").as("b_ts"))
    a.join(b, col("user_id") === col("b_uid") &&
        col("b_ts") > col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr(s"INTERVAL $withinSeconds SECONDS"))
      .groupBy(col("user_id"), col("a_ts"))
      .agg(min(col("b_ts")).as("b_ts"))
      .withColumn("lag_sec",
        (col("b_ts").cast("double") - col("a_ts").cast("double")))
  }

  /** Continuous-ingestion exact dedup: every micro-batch is fingerprinted,
    * deduped batch-locally (keep-min-id), anti-joined against the persisted
    * fingerprint index, and only first-ever-seen docs are appended to
    * `outDir`; their fingerprints are appended to `indexDir`.
    *
    * This is the accumulating-state shape that scales: the index holds one
    * small row per distinct document ever seen, the per-batch check is a
    * hash anti-join on the fingerprint (broadcast when the batch is small),
    * and nothing re-reads the historical corpus. Writes go through
    * [[graft.sinks.Sinks.idempotentBatchAppend]] (batch=<id> overwrite),
    * out before index: a retried batch replaces its own prior partial
    * output and the recomputation converges — exactly-once for replayable
    * sources without a transaction log.
    */
  def incrementalDedup(docs: DataFrame, idCol: String, textCol: String,
                       indexDir: String, outDir: String,
                       checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val withFp = batch.withColumn("fp",
          graft.functions.TextFns.fingerprint(col(textCol)))
        val local = graft.operators.Relational
          .dedupKeepFirst(withFp, Seq("fp"), Seq(col(idCol)))
        // exclude THIS batch's partition: a retried batch must not see its
        // own prior (possibly partial) index write, or the anti-join would
        // empty the batch and the overwrite would erase its earlier output
        val known =
          try spark.read.parquet(indexDir)
            .filter(col("batch") =!= batchId).select("fp")
          catch { case _: org.apache.spark.sql.AnalysisException =>
            local.select("fp").limit(0)
          }
        val fresh = local.join(known, Seq("fp"), "left_anti")
          .persist() // two sinks below — don't recompute the anti-join
        // batch=<id> overwrite semantics: a retried batch REPLACES its own
        // prior partial output (out first, then index — a crash between
        // the two replays with the index unchanged and converges)
        graft.sinks.Sinks.idempotentBatchAppend(fresh.drop("fp"), outDir, batchId)
        graft.sinks.Sinks.idempotentBatchAppend(fresh.select("fp"), indexDir, batchId)
        fresh.unpersist()
        ()
      }
      .start()

  /** Continuous-ingestion NEAR-dup dedup: the minhash-LSH ladder run
    * incrementally. Each micro-batch computes one-pass minhash signatures,
    * finds candidates by banded-key collision — batch-locally and against
    * the persisted signature index — confirms with estimated Jaccard
    * (matching signature positions / k ≥ threshold), and appends only
    * survivors' signatures to the index.
    *
    * Scale shape: the index holds one k-long signature per surviving doc —
    * never text; band keys are recomputed from signatures on read (a cheap
    * narrow map — a separately persisted band file could go out of sync
    * with the signatures on a crash between appends). The per-batch probe
    * is an equi-join on (band, key) against state that grows with
    * *distinct* content only.
    * Greedy semantics: within a batch the smaller id of a confirmed pair
    * survives; docs shorter than `n` tokens have no signature and always
    * survive. Same batchId-overwrite exactly-once write path as
    * [[incrementalDedup]].
    */
  def incrementalNearDedup(docs: DataFrame, idCol: String, textCol: String,
                           indexDir: String, outDir: String,
                           checkpointDir: String, n: Int = 3, k: Int = 32,
                           bands: Int = 8, threshold: Double = 0.5): StreamingQuery = {
    val rpb = k / bands
    val simEst = udf { (a: Seq[Long], b: Seq[Long]) =>
      if (a == null || b == null) 0.0
      else a.iterator.zip(b.iterator).count { case (x, y) => x == y }.toDouble / k
    }
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val sigs = graft.operators.DedupOps
          .minhashSignaturesOnePass(batch, idCol, textCol, n, k)
          .select(col(idCol),
            array((0 until k).map(i => col(s"mh_$i")): _*).as("sig"))
          .persist()
        def bandKeys(d: DataFrame) = d.select(col(idCol), col("sig"),
            explode(array((0 until bands).map { b =>
              struct(lit(b).as("band"),
                hash((b * rpb until (b + 1) * rpb).map(col("sig")(_)): _*)
                  .as("key"))
            }: _*)).as("bk"))
          .select(col(idCol), col("sig"),
            col("bk.band").as("band"), col("bk.key").as("key"))
        val newBands = bandKeys(sigs).persist()
        // single-directory index: only signatures persist; band keys are a
        // deterministic function of the signature and are recomputed on
        // read. Two separate index files could go out of sync on a
        // mid-batch crash (bands written, sigs not) and silently disable
        // dedup against all prior history.
        // exclude THIS batch's partition (same retry hazard as
        // incrementalDedup: a replayed batch must not match its own sigs)
        val oldSigs =
          try spark.read.parquet(s"$indexDir/sigs")
            .filter(col("batch") =!= batchId).select(col(idCol), col("sig"))
          catch { case _: org.apache.spark.sql.AnalysisException =>
            sigs.limit(0)
          }
        // vs the index: any band collision -> estimated-Jaccard confirm.
        // The probe join ships only (id, band, key) int rows; the k-long
        // signatures are re-joined for the (few) matched candidates only —
        // carrying signatures through the banded shuffle would grow every
        // batch's shuffle with the full index size.
        val candOld = newBands.select(col(idCol), col("band"), col("key"))
          .join(bandKeys(oldSigs).select(col(idCol).as("__old"),
            col("band"), col("key")), Seq("band", "key"))
          .filter(col(idCol) =!= col("__old")) // a doc is never its own dup
          .select(col(idCol), col("__old")).distinct()
        val vsIndex = candOld
          .join(sigs, Seq(idCol))
          .join(oldSigs.select(col(idCol).as("__old"), col("sig").as("__osig")),
            Seq("__old"))
          .filter(simEst(col("sig"), col("__osig")) >= threshold)
          .select(col(idCol))
        // batch-local: keep the smaller id of each confirmed colliding pair
        val local = newBands.select(col(idCol).as("__a"), col("sig").as("__asig"),
            col("band"), col("key"))
          .join(newBands.select(col(idCol).as("__b"), col("sig").as("__bsig"),
            col("band"), col("key")), Seq("band", "key"))
          .filter(col("__a") < col("__b"))
          .select(col("__a"), col("__b"), col("__asig"), col("__bsig")).distinct()
          .filter(simEst(col("__asig"), col("__bsig")) >= threshold)
          .select(col("__b").as(idCol))
        val dropIds = vsIndex.union(local).distinct().persist()
        val survivors = batch.join(dropIds, Seq(idCol), "left_anti").persist()
        graft.sinks.Sinks.idempotentBatchAppend(survivors, outDir, batchId)
        val keptSigs = sigs.join(survivors.select(idCol), Seq(idCol), "left_semi")
        graft.sinks.Sinks.idempotentBatchAppend(keptSigs, s"$indexDir/sigs", batchId)
        Seq(sigs, newBands, dropIds, survivors).foreach(_.unpersist())
        ()
      }
      .start()
  }

  /** Continuous-ingestion winnowing dedup: [[incrementalNearDedup]]'s
    * shape with [[graft.operators.DedupOps.winnowingFingerprints]] as the
    * index — where minhash-LSH gives probabilistic recall, winnowing
    * DETERMINISTICALLY surfaces any new doc sharing a ≥ w+k-1-token run
    * with stream history (≥ `minShared` shared fingerprints drops it).
    *
    * State per surviving doc is its ~2/(w+1)-sparse fingerprint set
    * (hex strings — never text); the probe is a fingerprint-keyed
    * equi-join against state that grows with distinct content only.
    * Greedy batch-local semantics and the batch=<id>-overwrite
    * exactly-once path match the other incremental dedup sinks; a
    * replayed batch excludes its own index partition.
    */
  def incrementalWinnowDedup(docs: DataFrame, idCol: String, textCol: String,
                             indexDir: String, outDir: String,
                             checkpointDir: String, k: Int = 3, w: Int = 4,
                             minShared: Long = 5L): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val fp = graft.operators.DedupOps
          .winnowingFingerprints(batch, idCol, textCol, k, w).persist()
        val oldFp =
          try spark.read.parquet(s"$indexDir/fps")
            .filter(col("batch") =!= batchId)
            .select(col(idCol), col("fingerprint"))
          catch { case _: org.apache.spark.sql.AnalysisException =>
            fp.limit(0)
          }
        val vsIndex = fp
          .join(oldFp.select(col(idCol).as("__old"), col("fingerprint")),
            Seq("fingerprint"))
          .groupBy(col(idCol), col("__old"))
          .agg(count(lit(1)).as("shared"))
          .filter(col("shared") >= minShared)
          .select(col(idCol))
        val local = fp.select(col(idCol).as("__a"), col("fingerprint"))
          .join(fp.select(col(idCol).as("__b"), col("fingerprint")),
            Seq("fingerprint"))
          .filter(col("__a") < col("__b"))
          .groupBy(col("__a"), col("__b"))
          .agg(count(lit(1)).as("shared"))
          .filter(col("shared") >= minShared)
          .select(col("__b").as(idCol))
        val dropIds = vsIndex.union(local).distinct().persist()
        val survivors = batch.join(dropIds, Seq(idCol), "left_anti").persist()
        graft.sinks.Sinks.idempotentBatchAppend(survivors, outDir, batchId)
        val keptFp = fp.join(survivors.select(idCol), Seq(idCol), "left_semi")
        graft.sinks.Sinks.idempotentBatchAppend(keptFp, s"$indexDir/fps", batchId)
        Seq(fp, dropIds, survivors).foreach(_.unpersist())
        ()
      }
      .start()

  /** Continuous-ingestion CHAR-level dedup: the streaming twin of
    * [[graft.operators.DedupOps.cdcDupProfile]], completing the
    * incremental family (exact fingerprint / minhash / winnowing / CDC).
    * Each micro-batch is content-defined-chunked; a new document is
    * dropped when ≥ `maxDupFrac` of its distinct-chunk chars match the
    * accumulated survivor index (or an earlier surviving doc of the same
    * batch, lower id first) — the shift-resistant dedup token-level
    * fingerprints miss when an edit re-aligns every fixed window.
    *
    * Index rows are (id, md5(chunk), chunk chars): hash-keyed so corpus
    * TEXT never persists in the index, length-weighted so the drop rule
    * is the char fraction q179 profiles. Per-doc chunk multiplicity is
    * collapsed BEFORE comparison (distinct content per doc) — a
    * self-repeating doc can't double-count its own duplication. Replay
    * safety: reads exclude the current batchId, writes go through the
    * batch=<id>-overwrite sink — the [[incrementalWinnowDedup]] contract.
    */
  def incrementalCdcDedup(docs: DataFrame, idCol: String, textCol: String,
                          indexDir: String, outDir: String,
                          checkpointDir: String, w: Int = 8,
                          modulus: Int = 64,
                          maxDupFrac: Double = 0.5): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // distinct chunk content per doc, char-weighted
        val ch = graft.operators.DedupOps
          .cdcChunks(batch, idCol, textCol, w, modulus)
          .select(col(idCol), md5(col("chunk")).as("h"),
            length(col("chunk")).cast("long").as("len"))
          .distinct().persist()
        val tot = ch.groupBy(col(idCol)).agg(sum(col("len")).as("__tot"))
        val oldCh =
          try spark.read.parquet(s"$indexDir/chunks")
            .filter(col("batch") =!= batchId)
            .select(col("h")).distinct()
          catch { case _: org.apache.spark.sql.AnalysisException =>
            ch.select(col("h")).limit(0)
          }
        val vsIndex = ch.join(oldCh, Seq("h"))
          .groupBy(col(idCol)).agg(sum(col("len")).as("__shared"))
          .join(tot, Seq(idCol))
          .filter(col("__shared") >= lit(maxDupFrac) * col("__tot"))
          .select(col(idCol))
        val local = ch.select(col(idCol).as("__a"), col("h"))
          .join(ch.select(col(idCol).as("__b"), col("h"),
            col("len")), Seq("h"))
          .filter(col("__a") < col("__b"))
          .groupBy(col("__a"), col("__b")).agg(sum(col("len")).as("__shared"))
          .join(tot.select(col(idCol).as("__b"), col("__tot")), Seq("__b"))
          .filter(col("__shared") >= lit(maxDupFrac) * col("__tot"))
          .select(col("__b").as(idCol))
        val dropIds = vsIndex.union(local).distinct().persist()
        val survivors = batch.join(dropIds, Seq(idCol), "left_anti").persist()
        graft.sinks.Sinks.idempotentBatchAppend(survivors, outDir, batchId)
        val keptCh = ch.join(survivors.select(idCol), Seq(idCol), "left_semi")
        graft.sinks.Sinks.idempotentBatchAppend(keptCh, s"$indexDir/chunks", batchId)
        Seq(ch, dropIds, survivors).foreach(_.unpersist())
        ()
      }
      .start()

  /** Continuous-ingestion benchmark decontamination: the streaming twin of
    * [[graft.operators.DedupOps.decontaminate]]. Each micro-batch shingles
    * its documents (one narrow pass), counts distinct n-grams shared with
    * the FIXED benchmark gram set, and keeps only documents at or below
    * `maxSharedGrams`; survivors append with the same batch=<id>-overwrite
    * exactly-once path as the dedup sinks.
    *
    * State never grows with the stream: the benchmark gram set is static
    * (persisted once by the caller, broadcast per batch while small). No
    * cross-batch index is needed — contamination is a property of the doc
    * against the benchmark, not of the stream history.
    */
  def streamDecontaminate(docs: DataFrame, idCol: String, textCol: String,
                          benchGrams: DataFrame, n: Int,
                          maxSharedGrams: Long, outDir: String,
                          checkpointDir: String): StreamingQuery = {
    val bench = benchGrams.select(col("shingle")).distinct().persist()
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val grams = graft.operators.DedupOps
          .shingles(batch, idCol, textCol, n)
        val contaminated = grams
          .join(broadcast(bench), Seq("shingle"))
          .groupBy(col(idCol))
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") > maxSharedGrams)
          .select(col(idCol))
        val keep = batch.join(contaminated, Seq(idCol), "left_anti")
        graft.sinks.Sinks.idempotentBatchAppend(keep, outDir, batchId)
        ()
      }
      .start()
  }

  /** Continuous-ingestion SPAN excision: the streaming twin of
    * [[graft.operators.DedupOps.exciseContamination]]. Where
    * [[streamDecontaminate]] drops whole contaminated documents, this
    * cuts only the contaminated token ranges from each micro-batch's
    * documents (against the FIXED benchmark gram set) and appends the
    * per-doc excision proof (id, n_tokens_kept, kept_md5) with the
    * batch=<id>-overwrite exactly-once path.
    *
    * State never grows with the stream: the gram set is static and
    * benchmark-bounded (broadcast per batch), excision is a property of
    * the doc against the benchmark — no cross-batch index, so replayed
    * batches are trivially idempotent.
    */
  def streamExcise(docs: DataFrame, idCol: String, textCol: String,
                   benchGrams: DataFrame, n: Int, outDir: String,
                   checkpointDir: String): StreamingQuery = {
    val bench = benchGrams.select(col("shingle")).distinct().persist()
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val out = graft.operators.DedupOps
          .exciseAgainst(batch, idCol, textCol, n, bench)
        graft.sinks.Sinks.idempotentBatchAppend(out, outDir, batchId)
        ()
      }
      .start()
  }

  /** Continuous-ingestion curation spine — the streaming twin of the
    * batch curation funnel (q166's shape): each micro-batch runs
    *   1. quality gate ([[graft.functions.TextFns.qualityScore]] ≥
    *      `minQuality` — a codegen column score, no shuffle),
    *   2. benchmark decontamination against the FIXED gram set (broadcast
    *      while small; state never grows with the stream),
    *   3. winnowing near-dedup — batch-local greedy (lower id wins), then
    *      against the accumulated fingerprint index (detection guarantee
    *      for any shared run of ≥ w+k-1 tokens),
    * and appends three exactly-once outputs with the batch=<id>-overwrite
    * path: survivors, their fingerprint index rows, and ONE funnel-stats
    * row (batch_id, n_in, n_quality_drop, n_contaminated, n_dup, n_out) —
    * the same attrition accounting the batch
    * [[graft.operators.Profiling.filterFunnel]] publishes, here per batch.
    *
    * Scale shape: per-batch work is batch-sized; cross-batch state is the
    * ~2/(w+1)-sparse fingerprint index of SURVIVING docs only (hex
    * strings, never text). A replayed batch excludes its own index
    * partition, so crash-retry converges (spec'd like the other
    * incremental sinks).
    */
  def curationStream(docs: DataFrame, idCol: String, textCol: String,
                     benchGrams: DataFrame, n: Int, maxSharedGrams: Long,
                     minQuality: Long, indexDir: String, outDir: String,
                     statsDir: String, checkpointDir: String,
                     k: Int = 3, w: Int = 4,
                     minShared: Long = 5L): StreamingQuery = {
    val bench = benchGrams.select(col("shingle")).distinct().persist()
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val nIn = batch.count()
        val q = batch.filter(
          graft.functions.TextFns.qualityScore(col(textCol)) >= minQuality)
          .persist()
        val nQ = q.count()
        val grams = graft.operators.DedupOps.shingles(q, idCol, textCol, n)
        val contaminated = grams.join(broadcast(bench), Seq("shingle"))
          .groupBy(col(idCol)).agg(count(lit(1)).as("__ns"))
          .filter(col("__ns") > maxSharedGrams)
          .select(col(idCol))
        val clean = q.join(contaminated, Seq(idCol), "left_anti").persist()
        val nClean = clean.count()
        val fp = graft.operators.DedupOps
          .winnowingFingerprints(clean, idCol, textCol, k, w).persist()
        val oldFp =
          try spark.read.parquet(s"$indexDir/fps")
            .filter(col("batch") =!= batchId)
            .select(col(idCol), col("fingerprint"))
          catch { case _: org.apache.spark.sql.AnalysisException =>
            fp.limit(0)
          }
        val vsIndex = fp
          .join(oldFp.select(col(idCol).as("__old"), col("fingerprint")),
            Seq("fingerprint"))
          .groupBy(col(idCol), col("__old"))
          .agg(count(lit(1)).as("shared"))
          .filter(col("shared") >= minShared)
          .select(col(idCol))
        val local = fp.select(col(idCol).as("__a"), col("fingerprint"))
          .join(fp.select(col(idCol).as("__b"), col("fingerprint")),
            Seq("fingerprint"))
          .filter(col("__a") < col("__b"))
          .groupBy(col("__a"), col("__b"))
          .agg(count(lit(1)).as("shared"))
          .filter(col("shared") >= minShared)
          .select(col("__b").as(idCol))
        val dropIds = vsIndex.union(local).distinct()
        val out = clean.join(dropIds, Seq(idCol), "left_anti").persist()
        val nOut = out.count()
        graft.sinks.Sinks.idempotentBatchAppend(out, outDir, batchId)
        val keptFp = fp.join(out.select(idCol), Seq(idCol), "left_semi")
        graft.sinks.Sinks.idempotentBatchAppend(keptFp, s"$indexDir/fps", batchId)
        import spark.implicits._
        val stats = Seq((batchId, nIn, nIn - nQ, nQ - nClean,
            nClean - nOut, nOut))
          .toDF("batch_id", "n_in", "n_quality_drop", "n_contaminated",
            "n_dup", "n_out")
        graft.sinks.Sinks.idempotentBatchAppend(stats, statsDir, batchId)
        Seq(q, clean, fp, out).foreach(_.unpersist())
        ()
      }
      .start()
  }

  /** Streaming DSIR scoring: the stream-static form of
    * [[graft.operators.DataSelection.scoreWith]] — each micro-batch of
    * documents is scored against the FIXED (word, lr) importance-ratio
    * table (the nightly-recomputed model artifact), and scored rows append
    * with the batch=<id>-overwrite exactly-once path.
    *
    * State never grows with the stream: the ratio table is vocabulary-
    * sized and static (persisted by the caller); scoring is per-batch
    * tokenize + join + doc aggregate, no cross-batch state at all.
    */
  def streamDsirScore(docs: DataFrame, idCol: String, textCol: String,
                      ratio: DataFrame, outDir: String,
                      checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val scored = graft.operators.DataSelection
          .scoreWith(ratio, batch, idCol, textCol)
        graft.sinks.Sinks.idempotentBatchAppend(scored, outDir, batchId)
        ()
      }
      .start()

  /** Streaming k-means assignment: the stream-static form of
    * [[graft.operators.KMeansOps.assignWith]] — each micro-batch of
    * embedding rows is assigned to the FIXED trained centroids (the
    * model artifact) and appended with the batch=<id>-overwrite
    * exactly-once path. Like [[streamDsirScore]], state never grows:
    * centroids are model-sized and broadcast per batch.
    */
  def streamKMeansAssign(rows: DataFrame, idCol: String, vecCol: String,
                         model: Array[Array[Double]], outDir: String,
                         checkpointDir: String): StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val assigned = graft.operators.KMeansOps
          .assignWith(model, batch, idCol, vecCol)
        graft.sinks.Sinks.idempotentBatchAppend(assigned, outDir, batchId)
        ()
      }
      .start()

  /** Drain a streaming query into an in-memory table and stop (test/dev
    * harness — production sinks write parquet with checkpointing).
    */
  /** One doc entering the seeded packing scan: the q184 fields plus the
    * shard's carried window state from the previous batches.
    */
  private[streaming] final case class PackSeedIn(shard: Long, ord: String,
                                                 id: Long, nTok: Long,
                                                 startBin: Long,
                                                 startFill: Long)

  /** Continuous-ingestion sequence packing: the streaming twin of
    * [[graft.operators.DataSelection.packSequences]]. Each micro-batch
    * packs its docs in deterministic within-batch order (md5 rank per
    * shard), CONTINUING each shard's last open window from the persisted
    * state — so the accumulated assignment equals the batch packer run
    * once over the arrival order (batch-twin spec). Docs over the budget
    * are flagged `bin = -1` exactly like the batch rule.
    *
    * State is nShards rows — (shard, bin, fill), the open-window cursor —
    * re-written per batch through the batch=<id>-overwrite sink; reads
    * exclude the current batchId and take each shard's latest surviving
    * row, so a replayed batch re-packs from the SAME seed it saw before
    * the crash and converges ([[incrementalDedup]]'s contract). The
    * assignment output itself is corpus-sized and append-only.
    */
  def incrementalPack(docs: DataFrame, idCol: String, textCol: String,
                      budget: Long, nShards: Int, stateDir: String,
                      outDir: String, checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val h = md5(col(idCol).cast("string"))
        val tok = batch.select(
          (conv(substring(h, 1, 4), 16, 10).cast("int") % nShards)
            .cast("long").as("shard"),
          h.as("ord"), col(idCol).cast("long").as("id"),
          graft.functions.TextFns.tokenCount(col(textCol)).as("nTok"))
        // latest surviving state per shard, excluding this batch's own
        // (possibly partial) prior write
        val state =
          try {
            val all = spark.read.parquet(stateDir)
              .filter(col("batch") =!= batchId)
            graft.operators.Relational.dedupKeepFirst(
                all, Seq("shard"), Seq(col("batch").desc))
              .select(col("shard"), col("bin").as("startBin"),
                col("fill").as("startFill"))
          } catch { case _: org.apache.spark.sql.AnalysisException =>
            Seq.empty[(Long, Long, Long)]
              .toDF("shard", "startBin", "startFill")
          }
        val seeded = tok.join(broadcast(state), Seq("shard"), "left")
          .select(col("shard"), col("ord"), col("id"), col("nTok"),
            coalesce(col("startBin"), lit(-1L)).as("startBin"),
            coalesce(col("startFill"), lit(0L)).as("startFill"))
        val assigns = seeded.as[PackSeedIn]
          // explicit count: exempt from AQE coalescing (see Bm25)
          .repartition(
            spark.sessionState.conf.numShufflePartitions, col("shard"))
          .sortWithinPartitions("shard", "ord", "id")
          .mapPartitions { it =>
            var cur = Long.MinValue; var bin = -1L; var fill = 0L
            it.map { r =>
              if (r.shard != cur) {
                cur = r.shard; bin = r.startBin; fill = r.startFill
              }
              if (r.nTok > budget)
                graft.operators.DataSelection.PackAssign(r.shard, r.id, -1L, r.nTok)
              else {
                if (bin < 0L || fill + r.nTok > budget) { bin += 1L; fill = 0L }
                fill += r.nTok
                graft.operators.DataSelection.PackAssign(r.shard, r.id, bin, r.nTok)
              }
            }
          }
          .toDF().persist()
        graft.sinks.Sinks.idempotentBatchAppend(assigns, outDir, batchId)
        // new cursor per shard touched this batch: the last open window
        // and its fill (tokens this batch landed in it, plus the carried
        // fill iff the batch never advanced past the seeded window)
        val packed = assigns.filter(col("bin") >= 0L)
        val lastBin = packed.groupBy(col("shard")).agg(max(col("bin")).as("bin"))
        val newState = packed.join(lastBin, Seq("shard", "bin"))
          .groupBy(col("shard"), col("bin"))
          .agg(sum(col("nTok")).cast("long").as("__batchFill"))
          .join(state, Seq("shard"), "left")
          .select(col("shard"), col("bin"),
            (col("__batchFill") + when(col("bin") === col("startBin"),
              coalesce(col("startFill"), lit(0L))).otherwise(lit(0L)))
              .cast("long").as("fill"))
        graft.sinks.Sinks.idempotentBatchAppend(newState, stateDir, batchId)
        assigns.unpersist()
        ()
      }
      .start()

  /** Continuous maintenance of a persisted BM25 index
    * (`Bm25.writeIndex` layout) through [[segmentSink]]: each micro-batch
    * becomes an immutable mini-index segment. `Bm25.topKIndexed` reads
    * base + segments (summing the exact per-layout stats rows, so
    * retrieval is row-identical to a from-scratch rebuild over
    * everything); `Bm25.compactIndex` folds segments into the base.
    */
  def streamBm25Index(docs: DataFrame, idCol: String, textCol: String,
                      indexDir: String, checkpointDir: String,
                      nShards: Int = 64): StreamingQuery =
    segmentSink(docs, checkpointDir, (b, id) => Bm25.writeIndex(b, idCol,
      textCol, Bm25.paths(indexDir).segment(id), nShards))

  /** Continuous maintenance of a persisted dedup index
    * (`DedupOps.writeDedupIndex` layout) through [[segmentSink]].
    * `DedupOps.dedupAgainstIndex` spans base + segments with the base
    * partition-pruned, so an increment checked against the streamed index
    * gets the identical exact answer a from-scratch build gives.
    */
  def streamDedupIndex(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, indexDir: String, checkpointDir: String,
                       nShards: Int = DedupOps.DefaultShingleShards): StreamingQuery =
    segmentSink(docs, checkpointDir, (b, id) => DedupOps.writeDedupIndex(b,
      idCol, textCol, n, DedupOps.paths(indexDir).segment(id), nShards))

  /** Continuous maintenance of a persisted IVF index
    * (`IvfIndex.writeIndex` layout, which must exist — the centroid model
    * is trained offline) through [[segmentSink]]: each micro-batch is
    * assigned to the EXISTING centroids (`IvfIndex.writeSegment`);
    * centroids drift only at retrain.
    */
  def streamIvfIndex(rows: DataFrame, idCol: String, embCol: String,
                     model: IvfIndex.Model,
                     indexDir: String, checkpointDir: String): StreamingQuery =
    segmentSink(rows, checkpointDir, (b, id) =>
      IvfIndex.writeSegment(b, idCol, embCol, model, indexDir, id))

  /** Continuous maintenance of a persisted IVF-PQ index
    * (`IvfPq.writeIndex` layout, which must exist — both quantizers are
    * trained offline) through [[segmentSink]]: each micro-batch is
    * assigned and encoded with the EXISTING quantizers
    * (`IvfPq.writeSegment`).
    */
  def streamIvfPqIndex(rows: DataFrame, idCol: String, embCol: String,
                       model: IvfPq.Model,
                       indexDir: String,
                       checkpointDir: String): StreamingQuery =
    segmentSink(rows, checkpointDir, (b, id) =>
      IvfPq.writeSegment(b, idCol, embCol, model, indexDir, id))

  /** Continuous maintenance of a persisted binary-quantization index
    * (`BqIndex.writeIndex` layout, which must exist — the threshold
    * model is trained at build time) through [[segmentSink]]: each
    * micro-batch is encoded against the PERSISTED model
    * (`BqIndex.writeSegment`); thresholds drift only at rebuild.
    */
  def streamBqIndex(rows: DataFrame, idCol: String, qvCol: String,
                    indexDir: String, checkpointDir: String): StreamingQuery =
    segmentSink(rows, checkpointDir, (b, id) =>
      BqIndex.writeSegment(b, idCol, qvCol, indexDir, id))

  /** SELF-MAINTAINING [[streamDedupIndex]]: after each segment, a
    * planner-gated fold ([[segmentSink]]'s maintenance cycle), so read
    * amplification is BOUNDED BY POLICY, not by an operator remembering
    * to compact.
    */
  def streamDedupIndexMaintained(
      docs: DataFrame, idCol: String, textCol: String, n: Int,
      indexDir: String, checkpointDir: String,
      nShards: Int = DedupOps.DefaultShingleShards,
      thresholds: IndexLayout.MaintenanceThresholds =
        IndexLayout.MaintenanceThresholds()): StreamingQuery =
    segmentSink(docs, checkpointDir, (b, id) => DedupOps.writeDedupIndex(b,
        idCol, textCol, n, DedupOps.paths(indexDir).segment(id), nShards),
      Some((DedupOps.maintenancePlan(_, indexDir, thresholds),
        DedupOps.compactDedupIndex(_, indexDir, idCol))))

  /** SELF-MAINTAINING [[streamBqIndex]]. */
  def streamBqIndexMaintained(
      rows: DataFrame, idCol: String, qvCol: String,
      indexDir: String, checkpointDir: String,
      thresholds: IndexLayout.MaintenanceThresholds =
        IndexLayout.MaintenanceThresholds()): StreamingQuery =
    segmentSink(rows, checkpointDir, (b, id) =>
        BqIndex.writeSegment(b, idCol, qvCol, indexDir, id),
      Some((BqIndex.maintenancePlan(_, indexDir, thresholds),
        BqIndex.compactIndex(_, indexDir, idCol))))

  /** SELF-MAINTAINING [[streamBm25Index]]. The fold is `Bm25.compactIndex`,
    * which snapshots the CURRENT stats row's delete-batch list under the
    * lease, so BM25's stats-coupled invariant (the summed (n, avgdl) and
    * the tombstone set come from one resolved snapshot) holds exactly as
    * offline.
    */
  def streamBm25IndexMaintained(
      docs: DataFrame, idCol: String, textCol: String,
      indexDir: String, checkpointDir: String, nShards: Int = 64,
      thresholds: IndexLayout.MaintenanceThresholds =
        IndexLayout.MaintenanceThresholds()): StreamingQuery =
    segmentSink(docs, checkpointDir, (b, id) => Bm25.writeIndex(b, idCol,
        textCol, Bm25.paths(indexDir).segment(id), nShards),
      Some((Bm25.maintenancePlan(_, indexDir, thresholds),
        Bm25.compactIndex(_, indexDir, idCol))))

  /** SELF-MAINTAINING [[streamIvfIndex]]. The fold
    * (`IvfIndex.compactIndex`) is model-preserving, so the caller's
    * search model stays valid; RETRAIN stays a measured offline decision
    * (`IvfIndex.maintain`).
    */
  def streamIvfIndexMaintained(
      rows: DataFrame, idCol: String, embCol: String,
      model: IvfIndex.Model,
      indexDir: String, checkpointDir: String,
      thresholds: IndexLayout.MaintenanceThresholds =
        IndexLayout.MaintenanceThresholds()): StreamingQuery =
    segmentSink(rows, checkpointDir, (b, id) =>
        IvfIndex.writeSegment(b, idCol, embCol, model, indexDir, id),
      Some((IvfIndex.maintenancePlan(_, indexDir, thresholds),
        IvfIndex.compactIndex(_, indexDir, idCol))))

  /** SELF-MAINTAINING [[streamIvfPqIndex]] (IvfIndex's planner and fold:
    * the layouts share path conventions and the (cell, id, …) shape).
    */
  def streamIvfPqIndexMaintained(
      rows: DataFrame, idCol: String, embCol: String,
      model: IvfPq.Model,
      indexDir: String, checkpointDir: String,
      thresholds: IndexLayout.MaintenanceThresholds =
        IndexLayout.MaintenanceThresholds()): StreamingQuery =
    segmentSink(rows, checkpointDir, (b, id) =>
        IvfPq.writeSegment(b, idCol, embCol, model, indexDir, id),
      Some((IvfIndex.maintenancePlan(_, indexDir, thresholds),
        IvfIndex.compactIndex(_, indexDir, idCol))))

  /** The one index sink behind the `stream*Index` functions. Each
    * micro-batch is spread to full parallelism (the often single-file
    * batch would otherwise run the encoder in one task) and handed to
    * the layout's segment `write` with its batch id: an immutable,
    * unpartitioned `batch=<id>` segment written with per-batch
    * OVERWRITE, so a replayed batch replaces its own prior (possibly
    * partial) segment and the index converges — exactly-once for
    * replayable sources. No history is read or rewritten: a batch costs
    * O(batch), independent of the accumulated index (the Lucene
    * ingestion model).
    *
    * With `fold` = (plan, compact), each batch then runs one
    * [[IndexLayout.cycle]] on a plan computed WITHOUT an audit, so a
    * stream never retrains, and folds when the plan asks — unless
    * another maintainer holds the lease: then the batch skips the fold
    * and a later batch folds, instead of failing the query. Folding in
    * the batch thread makes the composition safe: foreachBatch
    * serializes batches, replays included, so a fold never runs
    * concurrently with a replay of a segment it retires. The fold blocks
    * the stream for its duration (the LSM ingestion trade, bounded by
    * the thresholds).
    */
  private def segmentSink(
      rows: DataFrame, checkpointDir: String,
      write: (DataFrame, Long) => Unit,
      fold: Option[(SparkSession => IndexLayout.MaintenancePlan,
                    SparkSession => Unit)] = None): StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        write(batch.repartition(spark.sparkContext.defaultParallelism), batchId)
        fold.foreach { case (plan, compact) =>
          IndexLayout.cycle(plan(spark), (), () => compact(spark))
        }
        ()
      }
      .start()

  def runToMemory(df: DataFrame, name: String, outputMode: String): DataFrame = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    df.sparkSession.table(name)
  }
}
