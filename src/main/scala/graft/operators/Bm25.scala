package graft.operators

import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Okapi BM25 retrieval over a document corpus (Robertson & Zaragoza 2009,
  * "The Probabilistic Relevance Framework: BM25 and Beyond"). The reference
  * pipeline ranks papers by keyword relevance when building citation slices
  * (`metadata_enricher.py` keyword scoring family); BM25 is the standard
  * form of that capability at corpus scale.
  *
  * Plan shape (the 100 TB path):
  *   - one corpus scan → explode to (doc, term) postings, keyed aggregate
  *     for tf; `doc_len` rides along in the grouping key (functionally
  *     dependent on doc_id — adds no cardinality, saves a join);
  *   - postings are immediately semi-joined to the BROADCAST query-term
  *     table, so df/idf and scoring touch only matching postings — the
  *     inverted-index access pattern, never a full-corpus rescore;
  *   - corpus stats (N, avgdl) are two scalars collected once;
  *   - per-query top-k is a rank window over the scored postings, whose
  *     cardinality is bounded by (matching docs × queries), not the corpus.
  *
  * Scores are rounded to 6dp BEFORE ranking so ordering is stable across
  * engines (float tie order is not portable); doc_id breaks exact ties.
  */
object Bm25 {

  /** Tokenize a query string with the SAME tokenizer as the corpus side
    * (`TextFns.words`: lowercased `[a-z]{3,}` runs), deduplicated.
    */
  def queryTerms(q: String): Seq[String] =
    "[a-z]{3,}".r.findAllIn(q.toLowerCase).toSeq.distinct

  /** Top-k docs per query by BM25. `queries` = (query_id, query_text).
    * Output: (query_id, rank, doc_id-named idCol, score).
    */
  def topK(docs: DataFrame, idCol: String, textCol: String,
           queries: Seq[(String, String)], k: Int,
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._

    // Corpus stats: two scalars, one tiny job.
    val stats = docs.agg(
      count(lit(1)).cast("double").as("n"),
      avg(size(TextFns.words(col(textCol)))).as("avgdl")).head()
    val nDocs = stats.getDouble(0)
    // empty corpus: avg aggregates to null; 1.0 keeps tfNorm finite (the
    // posting table is empty anyway, so the value never scores a row)
    val avgdl = if (stats.isNullAt(1)) 1.0 else stats.getDouble(1)

    // Postings restricted to query terms: doc_len in the grouping key
    // (per-doc constant) so no second corpus pass or join is needed. The
    // term restriction happens as an ARRAY filter before the explode —
    // exploded cardinality is Σ(matching tokens), not Σ(doc_len); the
    // token array is materialized in the prior projection so the lambda
    // does not re-run the tokenizer regexp per element.
    val termSet = queries.flatMap { case (_, q) => queryTerms(q) }.distinct
    val postings = docs
      .select(col(idCol), TextFns.words(col(textCol)).as("__toks"))
      .select(col(idCol), size(col("__toks")).cast("long").as("doc_len"),
        explode(filter(col("__toks"), t => t.isInCollection(termSet))).as("term"))
      .groupBy(col(idCol), col("doc_len"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))

    scoreAndRank(postings, idCol, termsFrame(spark, queries, nDocs, avgdl),
      k, k1, b)
  }

  /** The broadcast query-terms frame: one (query_id, term) row per query
    * term, with the corpus stats (n, avgdl) as columns. As columns, not
    * literals, the stats stay out of the generated code, which then does
    * not change as the index grows or shrinks; the arithmetic is the
    * same, so the scores are bit for bit those of literal stats.
    */
  private def termsFrame(spark: org.apache.spark.sql.SparkSession,
                         queries: Seq[(String, String)], nDocs: Double,
                         avgdl: Double): DataFrame = {
    import spark.implicits._
    queries.flatMap { case (qid, q) => queryTerms(q).map(t => (qid, t, nDocs, avgdl)) }
      .toDF("query_id", "term", "n", "avgdl")
  }

  /** Score + rank query-term-restricted postings (shared by [[topK]] and
    * [[topKIndexed]] — identical arithmetic, so the indexed path is
    * row-identical by construction). df per matching term is at most
    * |query terms| rows — broadcast back. `terms` is a [[termsFrame]].
    */
  private def scoreAndRank(postings: DataFrame, idCol: String,
                           terms: DataFrame, k: Int, k1: Double,
                           b: Double): DataFrame = {
    val dfByTerm = postings.groupBy(col("term"))
      .agg(countDistinct(col(idCol)).cast("double").as("df"))

    val idf: Column = log(lit(1.0) +
      (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfNorm: Column = col("tf") * (lit(k1) + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("doc_len") / col("avgdl")))

    val scored = postings
      .join(broadcast(dfByTerm), Seq("term"))
      .join(broadcast(terms), Seq("term"))
      .groupBy(col("query_id"), col(idCol))
      .agg(round(sum(idf * tfNorm), 6).as("score"))

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col(idCol))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(idCol), col("score"))
  }

  /** The shard a term's postings live in: plain `String.hashCode` mod
    * nShards — the same JVM function computes it at build time (column)
    * and at query time (driver), so pruning and layout cannot diverge.
    */
  private def shardOf(term: String, nShards: Int): Int =
    math.floorMod(term.hashCode, nShards)

  /** Persist the FULL inverted index, TERM-SHARDED (the Lucene layout
    * idea on parquet): postings (id, doc_len, term, tf) partitioned by
    * `shard = hash(term) mod nShards`, plus a one-row stats table
    * (n_docs, avgdl). A query then reads only its terms' shards —
    * partition pruning bounds retrieval I/O by the query vocabulary, not
    * the corpus (the same layout property `IvfIndex.writeIndex` gives
    * vector search).
    *
    * The target path decides the layout: a streaming-segment target
    * (`$root/segments/batch=<id>`, [[IndexLayout.isSegmentPath]]) is
    * written UNPARTITIONED, `shard` riding along as a data column — the
    * shape the one segment read ([[IndexLayout.readLive]]) requires.
    */
  def writeIndex(docs: DataFrame, idCol: String, textCol: String,
                 path: String, nShards: Int = 64): Unit =
    if (IndexLayout.isSegmentPath(path))
      IndexLayout.writeSegment(docs.sparkSession, path)(
        writeIndexBody(docs, idCol, textCol, _, nShards, segment = true))
    else
      IndexLayout.rebuild(docs.sparkSession, paths(path), "Bm25.writeIndex")(
        writeIndexBody(docs, idCol, textCol, path, nShards, segment = false))

  /** The lifecycle paths of a [[writeIndex]] layout rooted at `path`. */
  private[graft] def paths(path: String): IndexLayout.Paths =
    IndexLayout.Paths.nested(path, "postings", "docs", "stats")

  /** The build itself — everything in [[writeIndex]] after the lifecycle
    * clears; runs under the rebuild lease for base paths, bare for
    * segment writes.
    */
  private def writeIndexBody(docs: DataFrame, idCol: String,
                             textCol: String, path: String,
                             nShards: Int, segment: Boolean): Unit = {
    // codegen'd shard assignment (graft.functions.JavaHashModExpr):
    // same JVM hash as the driver-side shardOf, inlined into the build's
    // whole-stage-codegen pipeline instead of crossing the UDF bridge
    val shardCol = graft.functions.ShardExpr.javaHashMod(col("term"), nShards)
    // ONE doc-level tokenize pass, cached: the (id, doc_len) projection
    // feeds the stats aggregate, the emptiness probe (sum_len == 0 ⟺ no
    // exploded token anywhere) and the doc sidecar below — the previous
    // shape re-tokenized the whole corpus for each of the three (guide
    // §1.2: fix the pass count before the per-task work). The postings
    // build keeps its own full-token pass (it needs the terms, not just
    // the counts).
    val dl = docs.select(col(idCol),
      size(TextFns.words(col(textCol))).cast("long").as("doc_len"))
      .cache()
    try {
      // emptiness probe, only where it gates anything (the partitioned
      // write): a doc with tokens exists ⟺ some doc_len > 0 — a take(1)
      // over dl, not a corpus re-tokenize
      lazy val noTokens = dl.filter(col("doc_len") > 0).isEmpty
      val unclustered = docs
        .select(col(idCol), TextFns.words(col(textCol)).as("__toks"))
        .select(col(idCol), size(col("__toks")).cast("long").as("doc_len"),
          explode(col("__toks")).as("term"))
        .groupBy(col(idCol), col("doc_len"), col("term"))
        .agg(count(lit(1)).cast("double").as("tf"))
        .withColumn("shard", shardCol)
      if (segment)
        // a streaming SEGMENT writes unpartitioned — Lucene's small-segment
        // shape: a micro-batch's postings are cheap to scan in full, while
        // a nShards-directory partitioned write is ~all fixed cost at
        // micro-batch size; compaction folds segments into the base's
        // pruned partitioned form. AQE is disabled inside foreachBatch, so
        // the post-aggregate stage stays at shuffle.partitions width and
        // the write emitted 32 tiny files per micro-batch table.
        // coalesce(1) collapses only the final write stage (the tokenize
        // map side keeps its parallelism): one file per segment table.
        unclustered.coalesce(1).write.mode("overwrite")
          .parquet(s"$path/postings")
      else {
        // cluster by shard so the partitioned write emits O(nShards) files
        // instead of tasks × nShards. The partition count is EXPLICIT: a
        // bare repartition(col) is AQE-coalescible, and the measured
        // effect at bench scale was the whole nShards-directory write
        // collapsing into ONE task (job-level profile: a single task
        // reading the entire clustering exchange) — serial file creation.
        // An explicit count is exempt from AQE coalescing, so ~nShards
        // tasks write ~one directory each, in parallel.
        val w = unclustered.repartition(nShards, col("shard"))
          .write.mode("overwrite")
        // a zero-row partitioned write leaves no schema-bearing files and
        // the index would be unreadable — an empty corpus writes
        // unpartitioned (shard stays as a data column; the query-side
        // filter still applies)
        if (noTokens) w.parquet(s"$path/postings")
        else w.partitionBy("shard").parquet(s"$path/postings")
      }
      // the stats table aggregates the CACHED dl with the same operands
      // the raw-text aggregate used: n counts all docs, avg/sum/count of
      // doc_len skip null-text docs exactly as avg(size(words)) did —
      // bit-identical stats, one cached scan; same postings → stats →
      // sidecar write order as before the restructure
      dl.agg(count(lit(1)).cast("double").as("n"),
          avg(col("doc_len")).as("avgdl"),
          coalesce(sum(col("doc_len")).cast("double"), lit(0.0)).as("sum_len"),
          count(col("doc_len")).cast("double").as("n_len"))
        .withColumn("tomb_dirs", typedLit(Seq.empty[String]))
        .write.mode("overwrite").parquet(s"$path/stats")
      // doc-level sidecar (id, doc_len): doc-count-sized, the lookup table
      // [[removeFromIndex]] needs to shrink the stats EXACTLY without a
      // full postings scan (a doc's postings touch ~every shard — deletes
      // must never pay that read). doc_len is null for null text, mirroring
      // the avg's skip-nulls semantics. Segment sidecars coalesce like
      // segment postings (micro-batch-bounded, one file).
      (if (segment) dl.coalesce(1) else dl)
        .write.mode("overwrite").parquet(s"$path/docs")
    } finally dl.unpersist()
  }

  /** Stats row: (n, avgdl, sum_len, n_len, tomb_dirs). Readers take
    * (n, avgdl) positionally; the EXACT token total and non-null-doc
    * count ride behind so [[appendToIndex]]/[[removeFromIndex]] can
    * merge stats bit-identically to a from-scratch avg — token counts
    * are integral, so the sums stay exact in doubles (≤ 2^53), and avgdl
    * recomputes as sum_len/n_len, the same two exact operands `avg`
    * divides (avgdl alone is already-rounded — n·avgdl would NOT
    * recover the sum; and the divisor must be the NON-NULL doc count,
    * because `avg` skips null-text docs while n counts them).
    *
    * `tomb_dirs` is the authoritative list of LIVE tombstone batch
    * directories — the reader's delete set. Keeping the list IN the
    * versioned stats row is what makes a removal atomic: the shifted
    * (n, avgdl) and the tombstone batch that explains the shift become
    * visible in the same manifest flip, so a reader scores either the
    * fully-pre or the fully-post state, never filtered postings against
    * unshifted stats (see [[removeFromIndex]]).
    *
    * Since the round-12 single-tokenize restructure the row is written
    * inside [[writeIndexBody]] from the cached (id, doc_len) projection —
    * same operands, same schema, one corpus scan fewer.
    */

  /** Threshold-gated maintenance recommendations for a [[writeIndex]]
    * layout ([[IndexLayout.maintenancePlan]]) — pure read, no lease.
    * BM25's delete batches are stats-listed DIRECTORIES (the atomic
    * removal design), so the batch count comes from the current stats
    * row, not a sidecar file listing.
    */
  def maintenancePlan(spark: org.apache.spark.sql.SparkSession, path: String,
                      t: IndexLayout.MaintenanceThresholds =
                        IndexLayout.MaintenanceThresholds())
      : IndexLayout.MaintenancePlan =
    IndexLayout.maintenancePlan(spark, paths(path), t,
      tombstoneBatches = Some(tombstoneDirs(spark, path).size))

  /** One cron-able maintenance cycle for a BM25 layout: PLAN
    * ([[maintenancePlan]]) → [[IndexLayout.cycle]] → [[compactIndex]],
    * which folds segments AND materializes tombstones in one pass. BM25
    * has no trained model, so there is no audit and no retrain (df/idf
    * re-derive from the postings at query time).
    */
  def maintain(spark: org.apache.spark.sql.SparkSession, path: String,
               idCol: String = "doc_id",
               t: IndexLayout.MaintenanceThresholds =
                 IndexLayout.MaintenanceThresholds())
      : IndexLayout.MaintenanceOutcome =
    IndexLayout.cycle(maintenancePlan(spark, path, t), (),
      () => compactIndex(spark, path, idCol))._1

  /** The tombstone batch directories the CURRENT stats row lists — the
    * reader-visible delete set (staged-but-uncommitted and
    * already-folded batches under `$path/tombstones/rm_*` are not in
    * it). Empty for an index that never saw a removal.
    */
  private[graft] def tombstoneDirs(spark: org.apache.spark.sql.SparkSession,
                                   path: String): Seq[String] =
    readStatsRow(spark, IndexLayout.resolve(spark, s"$path/stats"))
      .map(tombDirsOf).getOrElse(Seq.empty)

  /** The `tomb_dirs` list of a current-format stats row. */
  private def tombDirsOf(r: org.apache.spark.sql.Row): Seq[String] =
    r.getSeq[String](4)

  /** Anti-join `df` against an extra id set (no-op for None). */
  private def dropIds(df: DataFrame, idCol: String,
                      ids: Option[DataFrame]): DataFrame =
    ids.fold(df)(t => df.join(t.toDF(idCol), Seq(idCol), "left_anti"))

  /** Fold a new document batch INTO a [[writeIndex]] layout: postings
    * append under the SAME term-sharding, stats merge exactly. df/idf
    * need no maintenance — they are derived from the postings at query
    * time, so retrieval after an append is row-identical to an index
    * rebuilt from scratch over the union (pinned in Bm25Spec). Caller
    * contract: batch ids are new.
    *
    * The stats merge is EXACT, not approximate: n adds, sum_len adds
    * (both integral-valued doubles, exact ≤ 2^53), and the merged
    * avgdl = sum_len/n divides the same two exact operands a full-corpus
    * `avg` would — bit-identical scores, so q228 shares q139's oracle.
    *
    * An index built on an EMPTY corpus has an unpartitioned zero-row
    * postings file (the readable-empty layout); appending shard=…
    * directories next to it would be a mixed layout Spark can't read, so
    * that case overwrites the empty file with a fresh partitioned build.
    *
    * Unlike the other layouts' appends (pure file adds), a BM25 append
    * ends in a STATS VERSION SWAP — and the merged row carries the current
    * `tomb_dirs` forward, so an unleased append racing a removal's
    * commit would read the pre-removal row and swap back a stats version
    * with the removal's batch UNLISTED: the removed docs silently
    * resurrect and the orphaned batch dir is swept at the next
    * compaction, irreversibly. BM25 appends therefore take the
    * single-maintainer lease (the postings/docs file appends keep the
    * cheaper `assertAppendVisible` detector as belt-and-braces; the
    * lease also closes the append-vs-flip strand-window the detector
    * could only detect). Streaming segments remain the lease-free
    * concurrent write path.
    */
  def appendToIndex(docs: DataFrame, idCol: String, textCol: String,
                    path: String, nShards: Int = 64): Unit =
    IndexLayout.withLease(docs.sparkSession, path, "Bm25.appendToIndex") {
      appendToIndexLeased(docs, idCol, textCol, path, nShards)
    }

  private def appendToIndexLeased(docs: DataFrame, idCol: String,
                                  textCol: String, path: String,
                                  nShards: Int): Unit = {
    val spark = docs.sparkSession
    // the stats row first, so a retired format is refused before any
    // file is appended
    val old = readStatsRow(spark, IndexLayout.resolve(spark, s"$path/stats"))
    val shardCol = graft.functions.ShardExpr.javaHashMod(col("term"), nShards)
    // ONE doc-level tokenize pass, cached — feeds the stats delta, the
    // emptiness probe (sum_len == 0) and the sidecar append; the batch
    // was previously re-tokenized for each (the writeIndexBody
    // restructure, applied to the append path)
    val dl = docs.select(col(idCol),
      size(TextFns.words(col(textCol))).cast("long").as("doc_len"))
      .cache()
    try {
    val delta = dl.agg(count(lit(1)).cast("double"),
      coalesce(sum(col("doc_len")).cast("double"), lit(0.0)),
      count(col("doc_len")).cast("double")).head()
    val postings = docs
      .select(col(idCol), TextFns.words(col(textCol)).as("__toks"))
      .select(col(idCol), size(col("__toks")).cast("long").as("doc_len"),
        explode(col("__toks")).as("term"))
      .groupBy(col(idCol), col("doc_len"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
      .withColumn("shard", shardCol)
      // explicit count: exempt from AQE coalescing (see writeIndexBody)
      .repartition(nShards, col("shard"))
    val noTokens = delta.getDouble(1) == 0.0
    if (!noTokens) {
      val mode =
        if (IndexLayout.partitionedLayout(spark, s"$path/postings", "shard"))
          "append"
        else {
          // readable-empty base: replace, don't mix layouts. A NON-empty
          // unpartitioned base (a segment's shape, which older on-disk
          // indexes can have) — overwriting would silently drop its
          // postings while the stats below still merge additively;
          // refuse instead.
          require(!IndexLayout.hasRows(spark, s"$path/postings"),
            s"$path/postings is a non-empty UNPARTITIONED layout (a " +
              "segment-style build) — not an append target; rebuild with " +
              "writeIndex or compact first")
          "overwrite"
        }
      IndexLayout.appendTo(spark, s"$path/postings")(
        postings.write.mode(mode).partitionBy("shard").parquet(_))
    }
    IndexLayout.appendTo(spark, s"$path/docs")(
      dl.write.mode("append").parquet(_))
    IndexLayout.writeSwap(spark, s"$path/stats",
      mergedStatsDf(spark, old, delta, sign = 1.0,
        old.map(tombDirsOf).getOrElse(Seq.empty)),
      None)
    } finally dl.unpersist()
  }

  /** The one-row stats frame after shifting the `old` row by a (n,
    * sum_len, n_len) delta — +1 for appends, −1 for removals — carrying
    * `tombDirs` as the new live tombstone-batch list. All three
    * components are integral-valued doubles: the shifted values are
    * exact, and avgdl = sum_len/n_len matches a from-scratch avg bit for
    * bit. A missing old row merges against zeros — the base row an index
    * that only ever saw streaming segments starts from.
    *
    * Callers flip it in by a VERSION SWAP, not an in-place overwrite:
    * stats are a one-row table every retrieval reads, and an in-place
    * overwrite has a delete-then-write window in which a reader silently
    * loses the base row (readStatsRow answers None and the layout sum is
    * simply missing a term — wrong, not loud). Swapping makes every
    * LIVE-index stats mutation atomic, the same discipline as
    * postings/docs compaction, and a stale stats manifest can never
    * shadow the first materialization; fresh builds keep the plain
    * overwrite (a crash there is a broken build, not a serving index).
    */
  private def mergedStatsDf(spark: org.apache.spark.sql.SparkSession,
                            old: Option[org.apache.spark.sql.Row],
                            delta: org.apache.spark.sql.Row, sign: Double,
                            tombDirs: Seq[String]): DataFrame = {
    val (oldN, oldSum, oldNLen) = old match {
      case Some(r) => (r.getDouble(0), r.getDouble(2), r.getDouble(3))
      case None    => (0.0, 0.0, 0.0)
    }
    val n2 = oldN + sign * delta.getDouble(0)
    val s2 = oldSum + sign * delta.getDouble(1)
    val nLen2 = oldNLen + sign * delta.getDouble(2)
    import spark.implicits._
    Seq((n2, s2, nLen2)).toDF("n", "sum_len", "n_len")
      .select(col("n"),
        when(col("n_len") === 0.0, lit(null).cast("double"))
          .otherwise(col("sum_len") / col("n_len")).as("avgdl"),
        col("sum_len"), col("n_len"),
        typedLit(tombDirs).as("tomb_dirs"))
  }

  /** Tombstone documents OUT of a [[writeIndex]] layout — an O(batch)
    * staged tombstone directory plus ONE stats version-swap; NO shard is
    * rewritten (a doc's terms hash across ~every shard, so a physical
    * delete would rewrite the whole index). [[topKIndexed]] anti-joins
    * the LISTED tombstone batches before scoring, which also re-derives
    * df correctly (df is computed from the filtered postings at query
    * time); [[compactIndex]] materializes the removals. The stats shift
    * reads the removed docs' lengths from the doc sidecar — never the
    * postings. Ids not in the index (or already removed) are ignored.
    *
    * ATOMIC to readers: the staged batch directory is invisible until
    * the stats row listing it flips in ([[IndexLayout.writeSwap]] — one
    * manifest rename), and that same row carries the shifted n/avgdl.
    * A reader interleaving anywhere inside a removal therefore scores
    * either the fully-pre state (old stats, batch unlisted) or the
    * fully-post state (shifted stats, batch filtering) — never filtered
    * postings against unshifted stats, the torn state the earlier
    * append-tombstones-then-swap-stats sequence could expose for one
    * swap's duration (pinned in Bm25Spec "a reader between stage and
    * commit"). A crash before the commit leaves only an unlisted orphan
    * directory, swept by the next compaction.
    *
    * Removal is SWAP-CLASS maintenance and takes the index's
    * single-maintainer lease: it reads lifecycle state (the current
    * tombstone list, the sidecar) that a concurrent compaction snapshots
    * and rewrites, and its stats swap would race the compactor's
    * (see [[IndexLayout.acquireLease]]).
    */
  def removeFromIndex(ids: DataFrame, idCol: String, path: String): Unit = {
    val spark = ids.sparkSession
    IndexLayout.withLease(spark, path, "Bm25.removeFromIndex") {
      stageRemoval(spark, ids, idCol, path)
        .foreach(commitRemoval(spark, path, _))
    }
  }

  /** Step 1 of a removal (exposed for the atomicity spec): restrict the
    * batch to ids actually live in the index — sidecars ∩ batch minus
    * already-listed tombstones, so double-removal cannot double-shift —
    * write them as a STAGED (unlisted, reader-invisible) batch
    * directory, and return the one-row stats frame that
    * [[commitRemoval]] flips in: shifted totals + the list including
    * the new batch. None for a no-op batch (nothing live to remove).
    * The sidecar union spans base + streaming segments, so a doc that
    * only ever arrived through the stream still shifts the stats; the
    * shift lands on the BASE stats row (readers SUM the per-layout
    * rows, so the total stays exact even when the base row goes
    * negative component-wise).
    */
  private[graft] def stageRemoval(spark: org.apache.spark.sql.SparkSession,
                                  ids: DataFrame, idCol: String,
                                  path: String): Option[DataFrame] = {
    val (docsBase, docsSegs) = IndexLayout.liveParts(spark, paths(path), "docs")
    val old = readStatsRow(spark, IndexLayout.resolve(spark, s"$path/stats"))
    val listed = old.map(tombDirsOf).getOrElse(Seq.empty)
    val (b, segs) = IndexLayout.readLive(spark, docsBase, docsSegs)
    val removed = IndexLayout.dropIdsIn(b.unionByName(segs), idCol, listed)
      .join(ids.select(col(idCol)).distinct(), Seq(idCol), "left_semi")
      .distinct() // a crashed compaction can duplicate sidecar rows
      .cache()
    try {
      val delta = removed.agg(count(lit(1)).cast("double"),
        coalesce(sum(col("doc_len")).cast("double"), lit(0.0)),
        count(col("doc_len")).cast("double")).head()
      if (delta.getDouble(0) == 0.0) None
      else {
        val batchDir =
          s"${paths(path).tombDir}/rm_${java.util.UUID.randomUUID()}"
        removed.select(col(idCol)).write.mode("overwrite").parquet(batchDir)
        Some(mergedStatsDf(spark, old, delta, sign = -1.0,
          listed :+ batchDir))
      }
    } finally removed.unpersist()
  }

  /** Step 2 of a removal: the single reader-visible mutation — flip the
    * stats row (shifted totals + the batch now listed) in one version
    * swap.
    */
  private[graft] def commitRemoval(spark: org.apache.spark.sql.SparkSession,
                                   path: String,
                                   statsDf: DataFrame): Unit =
    IndexLayout.writeSwap(spark, s"$path/stats", statsDf, None)

  /** Segment-merge for the BM25 layout: rewrite postings clustered by
    * shard with tombstoned docs dropped (appends' small files merged,
    * removals made physical, streaming segments folded into the base),
    * rewrite the doc sidecar likewise, clear the segments and the
    * tombstones. Query results are identical before and after (pinned in
    * Bm25Spec).
    *
    * Crash semantics with segments: the fold is a DISTINCT union and the
    * stats recompute from the folded sidecar, so re-running a crashed
    * compaction converges (already-folded segments collapse into the
    * identical rows they duplicated). The segment list is SNAPSHOTTED
    * once — the fold reads exactly that set and the cleanup deletes
    * exactly that set, so a micro-batch landing a new segment while
    * compaction runs is neither folded nor deleted: it stays a readable
    * segment (its own stats row still sums in) and the next compaction
    * folds it. In the window between the base swap and the segment
    * cleanup, reads stay rank-correct for postings ([[topKIndexed]]
    * distincts its query-restricted multi-layout union) but can
    * over-count the summed stats — re-run `compactIndex` to repair.
    *
    * Pass `reshardTo = Some(n)` to RE-BUCKET the postings to a new shard
    * count during the fold — the lifecycle move for a corpus that
    * outgrew its build-time nShards (per-shard posting volume, and so
    * per-query read cost, grows with the corpus at fixed nShards; a
    * re-shard restores the constant per-shard volume a fresh build at n
    * would have). Same hash function, new modulus, recomputed from the
    * term column in the same pass that rewrites every shard anyway — a
    * re-sharding compaction costs no more I/O than a plain one.
    * Queries after it must pass the NEW nShards to [[topKIndexed]].
    */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
                   path: String, idCol: String = "doc_id",
                   reshardTo: Option[Int] = None): Unit =
    IndexLayout.leasedFold(spark, paths(path), "Bm25.compactIndex",
        tombstones = false) {
      (segs, _) => foldStatsListed(spark, path, idCol, segs, reshardTo,
        tombstoneDirs(spark, path))
    }

  /** Recompute the shard column at a new shard count (identity when
    * `reshardTo` is empty) — applied inside the compaction rewrite.
    */
  private def reshard(df: DataFrame, reshardTo: Option[Int]): DataFrame =
    reshardTo match {
      case Some(n) =>
        df.withColumn("shard",
          graft.functions.ShardExpr.javaHashMod(col("term"), n))
      case None => df
    }

  /** [[compactIndex]] over an explicit segment snapshot, unleased —
    * split out so the spec can replay the race where a segment arrives
    * between the snapshot and the retire. The delete set is not the
    * shared tombstone snapshot but the stats-listed batches, swept by
    * [[sweepTombstoneBatches]].
    */
  private[graft] def compactIndexFolding(
      spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, segs: Seq[String],
      reshardTo: Option[Int] = None): Unit =
    IndexLayout.foldSnapshot(spark, paths(path), segs, tombstones = false) {
      (segs, _) => foldStatsListed(spark, path, idCol, segs, reshardTo,
        tombstoneDirs(spark, path))
    }

  /** The BM25 fold of segment snapshot `segs` and delete set `tombDirs`:
    * a compaction passes the current stats row's batch list (the
    * reader-visible delete set; under the maintenance lease no removal
    * can extend it mid-fold), [[upgrade]] the loose tombstone files of
    * the retired format. The fold drops exactly these ids, the post-fold
    * stats row lists nothing, and batch directories are physically
    * deleted only once no still-existing stats version lists them (N-1
    * retention / pins for the delete set, mirroring the data dirs) — a
    * reader mid-scan on the just-retired stats row keeps the batches its
    * anti-join reads.
    */
  private def foldStatsListed(spark: org.apache.spark.sql.SparkSession,
                              path: String, idCol: String, segs: Seq[String],
                              reshardTo: Option[Int],
                              tombDirs: Seq[String]): Unit = {
    if (segs.isEmpty) {
      val sharded =
        IndexLayout.partitionedLayout(spark, s"$path/postings", "shard")
      IndexLayout.rewriteInPlace(spark, s"$path/postings",
        if (sharded) Some("shard") else None,
        df => reshard(IndexLayout.dropIdsIn(df, idCol, tombDirs), reshardTo))
      IndexLayout.rewriteInPlace(spark, s"$path/docs", None,
        IndexLayout.dropIdsIn(_, idCol, tombDirs))
      // the shifted totals are already exact — the stats swap here only
      // retires the materialized batch list (skipped when there is none)
      if (tombDirs.nonEmpty) swapStatsFromDocs(spark, path)
    } else {
      def folded(sub: String): DataFrame =
        IndexLayout.foldLive(spark, paths(path), sub, segs, idCol, tombDirs)
      IndexLayout.writeSwap(spark, s"$path/postings",
        reshard(folded("postings"), reshardTo), Some("shard"))
      IndexLayout.writeSwap(spark, s"$path/docs", folded("docs"), None)
      // recompute the BASE stats row from the folded sidecar: the same
      // exact integral operands a from-scratch build aggregates, and
      // derived-from-folded state is what makes a crashed re-run
      // converge. An unfolded (post-snapshot) segment keeps its own
      // stats row, which readers still sum in. Atomic stats swap for
      // the same reader-window reason as removals — compaction runs
      // against a SERVING index.
      swapStatsFromDocs(spark, path)
    }
    sweepTombstoneBatches(spark, path)
  }

  /** Swap in a stats row recomputed from the (folded) doc sidecar, with
    * an empty tombstone-batch list.
    */
  private def swapStatsFromDocs(spark: org.apache.spark.sql.SparkSession,
                                path: String): Unit =
    IndexLayout.writeSwap(spark, s"$path/stats",
      IndexLayout.readParquet(spark, Seq(IndexLayout.resolve(spark, s"$path/docs")))
        .agg(count(lit(1)).cast("double").as("n"),
          avg(col("doc_len")).as("avgdl"),
          coalesce(sum(col("doc_len")).cast("double"), lit(0.0)).as("sum_len"),
          count(col("doc_len")).cast("double").as("n_len"))
        .withColumn("tomb_dirs", typedLit(Seq.empty[String])),
      None)

  /** Migrate a [[writeIndex]] layout to the current on-disk format, once,
    * under the maintenance lease: [[IndexLayout.upgrade]]'s version step,
    * then the stats step when any live stats row is in a retired format.
    * The retired formats are a row without the `tomb_dirs` list (or with
    * a null one), whose removals were loose tombstone files directly
    * under `tombstones/`, and the older 2-field (n, avgdl) row, whose
    * token total is lost. The step folds the live segments and the loose
    * tombstone files into the base, the way a compaction folds listed
    * batches, and recomputes the stats row from the folded doc sidecar
    * ([[swapStatsFromDocs]]); the fold's sweep then retires the loose
    * files. Idempotent: a current index is left untouched.
    */
  def upgrade(spark: org.apache.spark.sql.SparkSession, path: String,
              idCol: String = "doc_id"): Unit = {
    val p = paths(path)
    IndexLayout.upgradeWith(spark, p, "Bm25.upgrade") {
      val (base, segs) = IndexLayout.liveParts(spark, p, "stats")
      if ((base.toSeq ++ segs).flatMap(statsRowAt(spark, _)).exists(!_._2))
        IndexLayout.foldSnapshot(spark, p, IndexLayout.segmentDirs(spark, p),
            tombstones = false) { (segs, _) =>
          val loose = IndexLayout.tombstoneFiles(spark, p.tombDir)
          if (segs.isEmpty && loose.isEmpty) swapStatsFromDocs(spark, path)
          else foldStatsListed(spark, path, idCol, segs, None, loose)
        }
    }
  }

  /** Delete tombstone batch directories no STILL-EXISTING stats layout
    * (current version, N-1 retained version, pinned snapshots) lists —
    * folded batches whose referencing stats versions have been GC'd,
    * plus orphans staged by a crashed removal. Run after every
    * compaction's stats swap: a batch folded by THIS compaction is
    * still listed by the just-retired stats version (kept one swap by
    * N-1 retention for readers mid-anti-join on it) and is swept by the
    * NEXT compaction — the delete set gets exactly the retention of the
    * data it filters. Batches are compared by their unique rm_<uuid>
    * leaf name, so stored-string vs fully-qualified path spellings
    * cannot desync the sweep. A listed entry may also be a single
    * parquet file (a loose tombstone file that an append adopted into
    * the list while the retired format was still read); unlisted ones go
    * the same way, which is how the loose files [[upgrade]] folded are
    * retired. A stats layout in a retired format (the one N-1 retention
    * keeps for a swap after [[upgrade]]) lists nothing.
    */
  private def sweepTombstoneBatches(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val parent = new org.apache.hadoop.fs.Path(path)
    val fs = parent.getFileSystem(conf)
    if (!fs.exists(parent)) return
    val statsLayouts = fs.listStatus(parent).toSeq.filter { st =>
      val n = st.getPath.getName
      st.isDirectory && (n == "stats" || n.matches("stats\\.v\\d+"))
    }.map(_.getPath.toString)
    val keep: Set[String] = statsLayouts.flatMap(statsRowAt(spark, _))
      .collect { case (r, true) => tombDirsOf(r) }.flatten
      .map(d => d.substring(d.lastIndexOf('/') + 1)).toSet
    val root = new org.apache.hadoop.fs.Path(paths(path).tombDir)
    if (fs.exists(root))
      fs.listStatus(root).toSeq.filter { st =>
        val n = st.getPath.getName
        !keep(n) && (n.startsWith("rm_") || n.endsWith(".parquet"))
      }.foreach(st => fs.delete(st.getPath, true))
  }

  /** The stats columns of the current on-disk format. */
  private val StatsColumns = Seq("n", "avgdl", "sum_len", "n_len", "tomb_dirs")

  /** Whether stats `rows`, read from frames `dfs`, are in the current
    * format: the five [[StatsColumns]], and a `tomb_dirs` list, which
    * every writer stamps non-null. `rows` is only read when the columns
    * match.
    */
  private def isCurrent(dfs: Seq[DataFrame],
                        rows: => Seq[org.apache.spark.sql.Row]): Boolean =
    dfs.forall(_.columns.toSeq == StatsColumns) && !rows.exists(_.isNullAt(4))

  /** The refusal of stats in a retired format, naming [[upgrade]]. */
  private def retiredStats(where: String): String =
    s"$where holds BM25 stats in a retired on-disk format: run " +
      "Bm25.upgrade(spark, <index path>) once to migrate the index"

  /** The one stats row of a stats layout, with whether it is in the
    * current format, or None when the layout is absent or holds no data
    * file (an index that only ever saw streaming segments, an orphan
    * version dir from a crashed swap). Any other failure propagates: a
    * stats row read as missing would merge the next append or removal
    * against zeros and drop the base's (n, avgdl) and its `tomb_dirs`
    * delete set.
    */
  private def statsRowAt(spark: org.apache.spark.sql.SparkSession,
                         dir: String): Option[(org.apache.spark.sql.Row, Boolean)] =
    if (!IndexLayout.holdsData(spark, dir)) None
    else {
      val df = IndexLayout.readParquet(spark, Seq(dir))
      val r = df.head()
      Some((r, isCurrent(Seq(df), Seq(r))))
    }

  /** [[statsRowAt]], refusing a retired format. */
  private def readStatsRow(spark: org.apache.spark.sql.SparkSession,
                           dir: String): Option[org.apache.spark.sql.Row] =
    statsRowAt(spark, dir).map { case (r, current) =>
      require(current, retiredStats(dir))
      r
    }

  /** All per-layout stats rows in ONE job instead of a head() job per
    * layout — a streamed index holds base + one stats row per live
    * segment, and the per-layout heads were the measured fixed cost of
    * every indexed retrieval (guide §1: fewer actions). Both parts
    * must be in the current format (checked on the footer schemas before
    * the union, and on the rows), so the positional reads in
    * [[summedStats]]/[[tombDirsOf]] hold.
    */
  private def readStatsRows(spark: org.apache.spark.sql.SparkSession,
                            base: Option[String],
                            segs: Seq[String]): Seq[org.apache.spark.sql.Row] =
    if (base.isEmpty && segs.isEmpty) Seq.empty
    else {
      val (b, s) = IndexLayout.readLive(spark, base, segs)
      lazy val rows = b.unionByName(s).collect().toSeq
      require(isCurrent(Seq(b, s), rows),
        retiredStats((base.toSeq ++ segs).mkString(", ")))
      rows
    }

  /** Exact (n, avgdl) across per-layout stats rows: the integral n /
    * sum_len / n_len components ADD exactly in doubles, and the summed
    * avgdl divides the same two exact operands a from-scratch avg over
    * the union would — bit-identical to a rebuild, which is what lets
    * the streamed index share the batch oracle.
    */
  private def summedStats(rows: Seq[org.apache.spark.sql.Row]): (Double, Double) = {
    val n = rows.map(_.getDouble(0)).sum
    val sumLen = rows.map(_.getDouble(2)).sum
    val nLen = rows.map(_.getDouble(3)).sum
    (n, if (nLen == 0.0) 1.0 else sumLen / nLen)
  }

  /** [[topK]] over a [[writeIndex]] layout: the query terms' shards are
    * computed driver-side and only their shard directories are listed
    * and read, so the scan reads ~|query terms|/nShards of the index
    * (pinned in Bm25Spec); within them a filter restricts to exactly
    * the query terms, and scoring proceeds identically to [[topK]] (df
    * for a query term is complete by construction — ALL its postings
    * live in its shard). Row-identical to the scan path.
    *
    * Spans the base layout plus any streaming segments
    * ([[graft.streaming.StreamingOps.streamBm25Index]]): the base scan is
    * shard-pruned, the one segment scan is read whole (segments are
    * micro-batch-sized), stats sum exactly across the per-layout rows,
    * and df/idf derive from the unioned postings at query time — so a
    * streamed index retrieves row-identically to one rebuilt from
    * scratch over everything.
    */
  def topKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                  idCol: String, queries: Seq[(String, String)], k: Int,
                  k1: Double = 1.2, b: Double = 0.75,
                  nShards: Int = 64): DataFrame = {
    val (statsBase, statsSegs) =
      IndexLayout.liveParts(spark, paths(path), "stats")
    val statsRows = readStatsRows(spark, statsBase, statsSegs)
    val (base, segs) = IndexLayout.liveParts(spark, paths(path), "postings")
    topKOverLayouts(spark, base, segs, statsRows,
      statsRows.flatMap(tombDirsOf).distinct, idCol, queries, k, k1, b,
      nShards, None)
  }

  /** [[topKIndexed]] over an already-acquired [[Snapshot]] — the entry
    * for reads that must pair with ANOTHER index's snapshot under one
    * consistency point ([[Hybrid.searchIndexed]]) or outlast a
    * compaction cycle. Scoring is [[topKIndexed]]'s, verbatim;
    * `extraExclude` drops ids beyond this index's own delete set BEFORE
    * scoring (df/idf re-derive over the remainder) — the cross-index
    * delete-union hook. The caller owns [[releaseSnapshot]].
    */
  def topKIndexedSnapshot(spark: org.apache.spark.sql.SparkSession,
                          snap: Snapshot, idCol: String,
                          queries: Seq[(String, String)], k: Int,
                          k1: Double = 1.2, b: Double = 0.75,
                          nShards: Int = 64,
                          extraExclude: Option[DataFrame] = None): DataFrame =
    topKOverLayouts(spark, Some(snap.base), snap.segPostings,
      readStatsRows(spark, snap.statsBase, snap.statsSegs), snap.tombSources,
      idCol, queries, k, k1, b, nShards, extraExclude)

  /** The shard-pruned scoring core shared by [[topKIndexed]] (fresh
    * resolve) and [[topKIndexedSnapshot]] (pinned snapshot): the base and
    * segment postings, stats rows and delete-set sources are explicit, so
    * the two entries differ ONLY in how the snapshot was acquired.
    *
    * One plan shape for every query and lifecycle state: base ∪
    * segments (an absent part is a relation with no files), the query
    * terms, DISTINCT, minus the delete set, and the stats as columns of
    * the terms frame. Shards are pruned in the listing and terms by one
    * array literal, not by IN-list literals, so neither
    * the query nor the index state changes the generated code: a warm
    * search compiles nothing.
    */
  private def topKOverLayouts(spark: org.apache.spark.sql.SparkSession,
                              base: Option[String], segs: Seq[String],
                              statsRows: Seq[org.apache.spark.sql.Row],
                              tombSources: Seq[String], idCol: String,
                              queries: Seq[(String, String)], k: Int,
                              k1: Double, b: Double, nShards: Int,
                              extraExclude: Option[DataFrame]): DataFrame = {
    val (nDocs, avgdl) = summedStats(statsRows)
    val terms = termsFrame(spark, queries, nDocs, avgdl)
    val termSet = queries.flatMap { case (_, q) => queryTerms(q) }.distinct
    val (baseRead, segRead) = IndexLayout.readLive(spark, base, segs,
      Some(termSet.map(shardOf(_, nShards)).distinct))
    // the terms as ONE array literal: generated code references it
    // whatever its length, where an IN list inlines a test per term
    val matching = baseRead.unionByName(segRead).drop("shard")
      .filter(array_contains(typedLit(termSet), col("term")))
    // a crashed compaction can leave a segment both folded and present;
    // distinct over the query-restricted (matching docs × terms, never
    // corpus-sized) union keeps scores exact in that window.
    // Tombstoned docs (see [[removeFromIndex]]) drop BEFORE scoring, so
    // df re-derives over live docs only. The delete set comes from the
    // SAME stats rows that supplied (n, avgdl) above — one resolved
    // snapshot, so the filter and the stats can never be torn against
    // each other.
    val postings = dropIds(
      IndexLayout.dropIdsIn(matching.distinct(), idCol, tombSources),
      idCol, extraExclude)
    scoreAndRank(postings, idCol, terms, k, k1, b)
  }

  /** Copy the LIVE postings (base + streaming segments, tombstoned docs
    * dropped) to `outDir` as one shard-clustered parquet table — the
    * offline hand-off scan (training-data export, index migration,
    * cross-cluster copy). At 100 TB this is exactly the minutes-to-hours
    * full scan that can straddle SEVERAL compaction cycles, and N-1
    * retention alone only guarantees one.
    *
    * The snapshot — base-postings PIN, stats PIN, delete set, segment
    * list — is acquired as ONE consistent unit OPTIMISTICALLY (an
    * export is a read: it must neither fail because an hours-long
    * maintenance window holds the lease, nor make maintenance fail),
    * then the long scan runs under the pins. Each piece closes a
    * distinct race:
    *   - the base pin keeps the scanned version's files across any
    *     number of compactions ([[IndexLayout.pinResolved]]);
    *   - the STATS pin keeps the pinned row's tombstone BATCH DIRS on
    *     disk ([[sweepTombstoneBatches]] keeps every batch a
    *     still-existing stats layout lists — and a pinned layout exists
    *     until unpinned), so the export's anti-join never loses its
    *     input mid-scan;
    *   - CONSISTENCY between the two pins is validated, not locked: the
    *     base's effective version is re-read after everything else is
    *     pinned/listed — any fold/re-shard/retrain landing mid-snapshot
    *     flips the postings manifest, the re-check sees a different
    *     version (versions only grow — no ABA), both pins release and
    *     the snapshot retries. A removal landing mid-snapshot needs no
    *     retry: it swaps only stats, and its delete set paired with the
    *     unchanged physical base is exactly the removal's semantics.
    *     Without the check, pins taken one-after-another could pair a
    *     pre-fold base with a post-fold (empty) delete set and emit
    *     removed docs;
    *   - segments listed in the snapshot survive at least one fold
    *     ([[IndexLayout.retireSegmentDirs]] N-1 retention); an export
    *     expected to outlast SEVERAL folds should pause the fold
    *     schedule (segments have no pin mechanism — they are retired by
    *     the fold after the next).
    * Pins are released on every exit, including failure.
    */
  def exportLivePostings(spark: org.apache.spark.sql.SparkSession,
                         path: String, idCol: String,
                         outDir: String): Unit = {
    val snap = acquireSnapshot(spark, path)
    try {
      val (b, segs) =
        IndexLayout.readLive(spark, Some(snap.base), snap.segPostings)
      val unioned = b.unionByName(segs)
      val deduped =
        if (snap.segPostings.nonEmpty) unioned.distinct() else unioned
      IndexLayout.dropIdsIn(deduped, idCol, snap.tombSources)
        // explicit count: exempt from AQE coalescing (see writeIndexBody)
        .repartition(spark.sessionState.conf.numShufflePartitions,
          col("shard"))
        .write.mode("overwrite").parquet(outDir)
    } catch {
      case e: Throwable =>
        // snapshotted segments survive exactly ONE fold (N-1 retention);
        // an export that straddled two folds loses its segment dirs
        // mid-scan — name the cause instead of surfacing a bare
        // FileNotFound from deep in the scan
        val conf = spark.sparkContext.hadoopConfiguration
        val gone = snap.segPostings.filterNot { d =>
          val hp = new org.apache.hadoop.fs.Path(d)
          hp.getFileSystem(conf).exists(hp)
        }
        if (gone.nonEmpty) throw new IllegalStateException(
          s"export snapshot lost ${gone.size} segment dir(s) mid-scan " +
            s"(e.g. ${gone.head}) — the export outlived two folds; pause " +
            "the fold schedule and re-run the export", e)
        else throw e
    } finally releaseSnapshot(spark, path, snap)
  }

  /** One pinned, internally-validated read snapshot of a [[writeIndex]]
    * layout — the [[exportLivePostings]] acquisition REIFIED, so reads
    * that must pair with another index's snapshot under one consistency
    * point ([[Hybrid.searchIndexed]]) or span a long scan can hold it:
    * the resolved+pinned postings base, the pinned base stats layout
    * (whose pin keeps the listed tombstone batch dirs on disk —
    * `sweepTombstoneBatches` retains every batch a still-existing stats
    * layout lists; None when no base stats row exists yet), live segment
    * postings/stats paths, and the delete-set sources captured from the
    * SAME stats read as the (n, avgdl) inputs. Release with
    * [[releaseSnapshot]] on every exit.
    */
  final case class Snapshot(base: String, baseTok: String, statsTok: String,
                            statsBase: Option[String],
                            statsSegs: Seq[String],
                            segPostings: Seq[String],
                            tombSources: Seq[String])

  /** Acquire a [[Snapshot]] through [[IndexLayout.acquirePinned]]: pin
    * postings, pin stats, list the live segments and the delete set from
    * the pinned stats, then validate that the postings did not flip
    * (retried, bounded).
    */
  def acquireSnapshot(spark: org.apache.spark.sql.SparkSession,
                      path: String): Snapshot = {
    val p = paths(path)
    val (pins, (statsBase, statsSegs, segs, tombSources)) =
      IndexLayout.acquirePinned(spark, p, PinnedTables) { (pinned, segRoots) =>
        val statsBase = Some(pinned(1)).filter(IndexLayout.exists(spark, _))
        val statsSegs = IndexLayout.segmentParts(spark, p, "stats", segRoots)
        (statsBase, statsSegs,
          IndexLayout.segmentParts(spark, p, "postings", segRoots),
          readStatsRows(spark, statsBase, statsSegs).flatMap(tombDirsOf)
            .distinct)
      }
    Snapshot(pins(0)._1, pins(0)._2, pins(1)._2, statsBase, statsSegs, segs,
      tombSources)
  }

  /** The tables a [[Snapshot]] pins: postings (the validated one), stats. */
  private val PinnedTables = Seq("postings", "stats")

  /** Release a [[Snapshot]]'s pins (idempotent, token-scoped). */
  def releaseSnapshot(spark: org.apache.spark.sql.SparkSession,
                      path: String, snap: Snapshot): Unit =
    IndexLayout.releasePins(spark, paths(path), PinnedTables,
      Seq(snap.baseTok, snap.statsTok))

  /** Exact retrieval-evaluation metrics for [[topK]]: per query, MRR,
    * recall@k and nDCG@k (binary gains) against deterministic boolean-AND
    * pseudo-qrels — a document is relevant to a query iff it contains
    * EVERY query term. The relevance rule is independent of the BM25
    * scoring formula (qrels don't tautologically reward the ranker) and
    * is restated verbatim by the SQL oracle. All three metrics are
    * emitted ×1e6 fixed point, with the DCG/IDCG terms floored to
    * integers BEFORE summing so the aggregation order cannot perturb the
    * result: (query_id, n_relevant, n_retrieved_relevant, mrr_x1e6,
    * recall_x1e6, ndcg_x1e6) — one row per query even at zero relevant.
    *
    * Scale shape: qrels come from the same array-filtered posting scan as
    * [[topK]] (exploded cardinality = matching tokens only) aggregated to
    * (query, doc) matched-term counts; everything downstream of that
    * aggregate — hits, first ranks, ideal-gain spines — is bounded by
    * (matching docs × queries), never the corpus. The queries/term tables
    * broadcast.
    */
  def evalMetrics(docs: DataFrame, idCol: String, textCol: String,
                  queries: Seq[(String, String)], k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ranked = topK(docs, idCol, textCol, queries, k)
    val terms = queries.flatMap { case (qid, q) => queryTerms(q).map(qid -> _) }
      .toDF("query_id", "term")
    val nTerms = queries.map { case (qid, q) => (qid, queryTerms(q).size.toLong) }
      .toDF("query_id", "n_terms")
    val termSet = queries.flatMap { case (_, q) => queryTerms(q) }.distinct
    // binary-gain DCG term at 1-based rank r, floored to a long so sums
    // are integer-exact and engine-portable
    def gain(r: Column): Column =
      floor(lit(1000000.0) / log2(r + lit(1)) + lit(0.5)).cast("long")
    val qrel = docs
      .select(col(idCol), TextFns.words(col(textCol)).as("__toks"))
      .select(col(idCol),
        explode(filter(col("__toks"), t => t.isInCollection(termSet))).as("term"))
      .distinct()
      .join(broadcast(terms), Seq("term"))
      .groupBy(col("query_id"), col(idCol))
      .agg(count(lit(1)).as("__m"))
      .join(broadcast(nTerms), Seq("query_id"))
      .filter(col("__m") === col("n_terms"))
      .select(col("query_id"), col(idCol))
    val nRel = qrel.groupBy(col("query_id"))
      .agg(count(lit(1)).cast("long").as("n_relevant"))
    val hits = ranked.join(qrel, Seq("query_id", idCol))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).cast("long").as("n_retrieved_relevant"),
        min(col("rank")).cast("long").as("__first"),
        sum(gain(col("rank"))).cast("long").as("__dcg"))
    val ideal = nRel
      .select(col("query_id"),
        explode(sequence(lit(1L), least(col("n_relevant"), lit(k.toLong))))
          .as("__i"))
      .groupBy(col("query_id"))
      .agg(sum(gain(col("__i"))).cast("long").as("__idcg"))
    queries.map(_._1).toDF("query_id")
      .join(nRel, Seq("query_id"), "left")
      .join(hits, Seq("query_id"), "left")
      .join(ideal, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_relevant"), lit(0L)).as("n_relevant"),
        coalesce(col("n_retrieved_relevant"), lit(0L)).as("n_retrieved_relevant"),
        when(col("__first").isNull, lit(0L))
          .otherwise(floor(lit(1000000.0) / col("__first") + lit(0.5))
            .cast("long")).as("mrr_x1e6"),
        when(coalesce(col("n_relevant"), lit(0L)) === 0, lit(0L))
          .otherwise(floor(coalesce(col("n_retrieved_relevant"), lit(0L))
            * lit(1000000.0) / col("n_relevant") + lit(0.5)).cast("long"))
          .as("recall_x1e6"),
        when(col("__idcg").isNull || col("__dcg").isNull, lit(0L))
          .otherwise(floor(col("__dcg") * lit(1000000.0) / col("__idcg")
            + lit(0.5)).cast("long")).as("ndcg_x1e6"))
  }
}
