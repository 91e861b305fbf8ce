package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hybrid (lexical + dense) retrieval over TWO PERSISTED index layouts
  * under ONE consistency point — the serving query a production RAG
  * stack actually runs: BM25 over the term-sharded inverted index
  * ([[Bm25.topKIndexedSnapshot]]) and ANN over the binary-quantization
  * code table ([[BqIndex.searchBatchSnapshot]]), reciprocal-rank-fused
  * ([[Similarity.rrfFuse]], Cormack et al. 2009). The in-memory twin is
  * q162 (`Bm25.topK` + `Similarity.rankJoin`); this is the same fusion
  * over live INDEX state — segments, tombstones, version swaps and all.
  *
  * Reference parity: the reference serves retrieval from its vector
  * store alone (src/DataPipeline/embeddings/vector_store.py:1); the
  * lexical leg, the persisted layouts, and the cross-index snapshot are
  * the production-RAG surface the brief adds on top.
  *
  * Cross-index consistency is the point of this operator, and it is
  * validated, not locked (reads never take maintenance leases):
  *
  *   - each side's `acquireSnapshot` is internally race-free (pin base,
  *     pin stats/model, re-read the effective version, retry on flip);
  *   - a CROSS check then re-reads BOTH effective versions after both
  *     snapshots are held: the BM25 side was acquired first, so a fold
  *     landing on it while the BQ side was being pinned would pair a
  *     pre-fold lexical list with a post-fold dense one — the re-check
  *     sees the flipped manifest (versions only grow — no ABA), releases
  *     both and retries, bounded;
  *   - the DELETE SETS must not tear: a removal rolls out per-index, so
  *     mid-rollout one index still serves a doc the other has deleted.
  *     Both sides' delete sets are captured once under the held pins and
  *     their UNION is excluded from BOTH rank lists — a doc deleted from
  *     either index can never resurface through the other, and each
  *     side's scores re-derive (df/idf; shortlist) over the remainder.
  *
  * Pins survive COMPACTIONS (version swaps retain pinned layouts —
  * soak-pinned in LifecycleSoakSpec); a fresh REBUILD
  * (`writeIndex` — leased, wholesale) clears pins with the index they
  * pinned, so a rebuild racing a held query fails that query loudly
  * (lost files), never silently mixes layouts — retry on the new
  * version, the `clearVersions` contract.
  *
  * Scale shape: both legs keep their index-pruned plans — the lexical
  * scan reads only the query terms' shards (partition filter), the
  * dense pre-rank scans only the 8-byte code table with the
  * WindowGroupLimit partial top-k below the query-keyed exchange — and
  * fusion joins two (queries × kPerSide)-sized rank lists, never the
  * corpus. The fused result (≤ queries × k rows) is materialized on the
  * driver BEFORE the pins release, so the returned frame cannot lazily
  * re-scan layouts whose pins are gone.
  */
object Hybrid {

  /** Fused top-`k` per query over a BM25 layout at `bmPath` and a BQ
    * layout at `bqPath`. `corpus` is the caller's live VECTOR table (the
    * BQ rerank's source of truth); `denseQueries` carries
    * (`denseIdCol`: query id, `qvCol`: quantized vector) — give it the
    * SAME query-id values as `lexQueries`' first components so fusion
    * aligns (the two indexes must share a doc-id space, the RAG-serving
    * contract). `shortlist` ≥ live corpus size makes the dense leg
    * exact (the q240 degradation), which is what the oracle checks.
    */
  def searchIndexed(spark: SparkSession, bmPath: String, bqPath: String,
                    corpus: DataFrame, denseQueries: DataFrame,
                    lexQueries: Seq[(String, String)],
                    lexIdCol: String, denseIdCol: String, qvCol: String,
                    kPerSide: Int, k: Int, shortlist: Int,
                    rrfK: Int = 60, nShards: Int = 64): DataFrame = {
    var attempt = 0
    var held: Option[(Bm25.Snapshot, BqIndex.Snapshot)] = None
    while (held.isEmpty) {
      require(attempt < 5,
        s"$bmPath/$bqPath versions keep flipping mid-snapshot — " +
          "pause the compaction schedules and retry")
      val bm = Bm25.acquireSnapshot(spark, bmPath)
      val bq =
        try BqIndex.acquireSnapshot(spark, bqPath)
        catch {
          case e: Throwable =>
            Bm25.releaseSnapshot(spark, bmPath, bm); throw e
        }
      if (IndexLayout.resolve(spark, s"$bmPath/postings") != bm.base ||
          IndexLayout.resolve(spark, s"$bqPath/codes") != bq.codes) {
        BqIndex.releaseSnapshot(spark, bqPath, bq)
        Bm25.releaseSnapshot(spark, bmPath, bm)
        attempt += 1
      } else held = Some((bm, bq))
    }
    val (bm, bq) = held.get
    try {
      val fused = fusedFrame(spark, bqPath, bm, bq, corpus, denseQueries,
        lexQueries, lexIdCol, denseIdCol, qvCol, kPerSide, k, shortlist,
        rrfK, nShards)
      // ≤ queries × k rows — bounded driver materialization, under pins
      val rows = fused.collect().toIndexedSeq
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
        fused.schema)
    } finally {
      BqIndex.releaseSnapshot(spark, bqPath, bq)
      Bm25.releaseSnapshot(spark, bmPath, bm)
    }
  }

  /** The lazy fused frame over ALREADY-HELD snapshots — what
    * [[searchIndexed]] materializes under its pins, exposed separately
    * so the plan-shape pin asserts on the exact plan the operator runs
    * (both legs index-pruned, fusion rank-list-sized).
    */
  private[graft] def fusedFrame(spark: SparkSession, bqPath: String,
                                bm: Bm25.Snapshot, bq: BqIndex.Snapshot,
                                corpus: DataFrame, denseQueries: DataFrame,
                                lexQueries: Seq[(String, String)],
                                lexIdCol: String, denseIdCol: String,
                                qvCol: String, kPerSide: Int, k: Int,
                                shortlist: Int, rrfK: Int,
                                nShards: Int): DataFrame = {
    val bmDel =
      if (bm.tombSources.isEmpty) None
      else Some(IndexLayout.readParquet(spark, bm.tombSources).toDF("__del"))
    val bqDel = IndexLayout.readTombstones(spark, bq.tombDir)
      .map(_.toDF("__del"))
    val del = (bmDel.toSeq ++ bqDel.toSeq)
      .reduceOption(_.unionByName(_)).map(_.distinct())
    val lex = Bm25.topKIndexedSnapshot(spark, bm, lexIdCol, lexQueries,
        kPerSide, nShards = nShards, extraExclude = del)
      .select(col("query_id"), col(lexIdCol).as("doc_id"), col("rank"))
    val den = BqIndex.searchBatchSnapshot(spark, bqPath, bq, corpus,
        denseQueries, denseIdCol, qvCol, shortlist, kPerSide,
        extraExclude = del)
      .select(col("query_id"), col(denseIdCol).as("doc_id"), col("rank"))
    Similarity.rrfFuse(lex, den, k, rrfK)
  }
}
