package graft

import graft.operators.{Bm25, DedupOps}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev tool: how does the persisted-index lifecycle scale with corpus
  * size? Copy-salted c× corpora (the ScaleProbe convention — token
  * prefixes keep replicas shingle-disjoint, so dup density is constant
  * while size grows c×), then at each factor:
  *
  *   - BUILD the BM25 and dedup indexes (expect ~linear in c: one scan +
  *     one clustered shuffle + O(nShards) files);
  *   - QUERY through them (expect ~flat for BM25 — retrieval reads the
  *     query terms' shards only; increment-bounded for dedup);
  *   - DELETE a fixed-size batch (expect ~flat: O(batch) tombstones +
  *     a sidecar-bounded stats shift, never a shard rewrite).
  *
  * `runMain graft.IndexScaleProbe [factors]`, e.g. 1,2,5,10.
  */
object IndexScaleProbe {
  def main(args: Array[String]): Unit = {
    val factors = (if (args.nonEmpty) args(0) else "1,2,5,10")
      .split(",").map(_.trim.toInt).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val base = Tables(spark, sfDir, "documents").select("doc_id", "text")
    base.count() // warm-up
    val queries = Seq("s1" -> "fast hash join", "s2" -> "stream filter vector")
    factors.foreach { c =>
      val corpus = (0 until c).map { i =>
        base.select((col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
          regexp_replace(col("text"), "([a-z0-9]+)", s"c$i$$1").as("text"))
      }.reduce(_ unionAll _).localCheckpoint()
      val root = Scratch.dir(s"idxscale_c$c")
      def time(f: => Unit): Double = {
        val t0 = System.nanoTime()
        f
        (System.nanoTime() - t0) / 1e9
      }
      // the salted tokens differ per copy, so BM25 queries only match
      // copy-0 text at c=1 prefixes — query the c0-prefixed terms to keep
      // matching-doc cardinality CONSTANT across factors
      val saltedQueries = queries.map { case (qid, q) =>
        qid -> q.split(" ").map("c0" + _).mkString(" ")
      }
      val bmDir = s"$root/bm25"
      val bmBuild = time(Bm25.writeIndex(corpus, "doc_id", "text", bmDir))
      val bmQuery = time {
        Bm25.topKIndexed(spark, bmDir, "doc_id", saltedQueries, k = 10).count()
      }
      val bmDelete = time {
        Bm25.removeFromIndex(
          corpus.filter(col("doc_id") % 1000 === 0).select("doc_id"),
          "doc_id", bmDir)
      }
      val bmQueryPostDel = time {
        Bm25.topKIndexed(spark, bmDir, "doc_id", saltedQueries, k = 10).count()
      }
      val ddDir = s"$root/dedup"
      val ddBuild = time(
        DedupOps.writeDedupIndex(corpus, "doc_id", "text", 3, ddDir))
      // fixed-size increment: copy-0 docs re-salted as new ids — constant
      // batch while the index grows c×
      val increment = base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 900000000L).as("doc_id"),
          regexp_replace(col("text"), "([a-z0-9]+)", "c0$1").as("text"))
        .localCheckpoint()
      val ddQuery = time {
        DedupOps.dedupAgainstIndex(spark, ddDir, increment, "doc_id",
          "text", 3, 0.5).count()
      }
      // re-sharding compaction: re-bucket to 64 shards per unit corpus
      // (constant per-shard posting volume) and measure the restoration.
      // At local-SF wall times the per-job fixed cost floors the timing,
      // so the decisive metric is the pruned SCAN VOLUME a query chews
      // through: rows in the query terms' shards, which grows ~c× at
      // fixed nShards and must return to ~the c=1 level after re-shard.
      def probedShardRows(n: Int): Long = {
        val terms = saltedQueries.flatMap { case (_, q) => Bm25.queryTerms(q) }
          .distinct
        val shards = terms.map(t => math.floorMod(t.hashCode, n)).distinct
        spark.read.parquet(graft.operators.IndexLayout.resolve(
            spark, s"$bmDir/postings"))
          .filter(col("shard").isin(shards.map(Integer.valueOf): _*))
          .count()
      }
      val rowsFixedShards = probedShardRows(64)
      val reN = 64 * c
      val bmReshard = time(
        Bm25.compactIndex(spark, bmDir, "doc_id", reshardTo = Some(reN)))
      val rowsResharded = probedShardRows(reN)
      val bmQueryResharded = time {
        Bm25.topKIndexed(spark, bmDir, "doc_id", saltedQueries, k = 10,
          nShards = reN).count()
      }
      // BQ code-table index: the pre-rank must keep reading ~8 B/vector
      // while the vector table it replaces grows at 8·d B/vector — the
      // 64× compression claim, measured per factor against the ACTUAL
      // parquet byte sizes (vectors written beside the index, the table
      // the rerank joins against in production).
      val embs0 = Tables(spark, sfDir, "embeddings").select(col("vec_id"),
        graft.operators.PortableAnn.quant(col("embedding")).as("qv"))
      val embCorpus = (0 until c).map { i =>
        embs0.select((col("vec_id") + lit(i.toLong * 10000000L)).as("vec_id"),
          col("qv"))
      }.reduce(_ unionAll _).localCheckpoint()
      val bqDir = s"$root/bq"
      val vecDir = s"$root/bq_vectors"
      embCorpus.write.mode("overwrite").parquet(vecDir)
      val bqBuild = time(
        graft.operators.BqIndex.writeIndex(embCorpus, "vec_id", "qv", bqDir))
      val qvec = embs0.filter(col("vec_id") === 0L)
        .select("qv").head().getSeq[Long](0).toArray
      val vectors = spark.read.parquet(vecDir)
      val bqQuery = time {
        graft.operators.BqIndex.searchWithRerank(spark, bqDir, vectors,
          "vec_id", "qv", qvec, shortlist = 50, topK = 10,
          excludeId = Some(0L)).count()
      }
      // SEGMENT-STATE query: a fixed-size live segment (the steady
      // streaming state) — the broadcast anti-join guard must keep the
      // pre-rank scan-shaped, so this row stays ~flat beside bqQuery
      // (the old corpus-wide distinct made it a full shuffle per query)
      graft.operators.BqIndex.writeSegment(
        embs0.filter(col("vec_id") % 10 === 0)
          .select((col("vec_id") + 900000000L).as("vec_id"), col("qv")),
        "vec_id", "qv", bqDir, batchId = 0L)
      val bqQuerySeg = time {
        graft.operators.BqIndex.searchWithRerank(spark, bqDir, vectors,
          "vec_id", "qv", qvec, shortlist = 50, topK = 10,
          excludeId = Some(0L)).count()
      }
      // MANY unfolded segments (a caller who never compacts): the guard
      // is code-bounded — broadcast anti-join under the byte cap,
      // shuffle anti-join above it, never a corpus distinct — so a
      // fixed-size segment pile must stay ~flat in c beside querySegState
      (1 until 24).foreach { b =>
        graft.operators.BqIndex.writeSegment(
          embs0.filter(col("vec_id") % 10 === b % 10)
            .select((col("vec_id") + lit(900000000L + b.toLong * 1000000L))
              .as("vec_id"), col("qv")),
          "vec_id", "qv", bqDir, batchId = b.toLong)
      }
      val bqQueryManySegs = time {
        graft.operators.BqIndex.searchWithRerank(spark, bqDir, vectors,
          "vec_id", "qv", qvec, shortlist = 50, topK = 10,
          excludeId = Some(0L)).count()
      }
      graft.operators.IndexLayout.liveParts(spark,
          graft.operators.IndexLayout.Paths.nested(bqDir), "codes")._2
        .drop(1).foreach { p => // back to the single-segment steady state
          val hp = new org.apache.hadoop.fs.Path(p).getParent
          hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(hp, true)
        }
      // BATCH search, 128 queries in one scan: the two-phase rank keeps
      // every window partition input-partition-bounded, so wall time
      // tracks the ONE code-table scan (~flat per query as c grows),
      // never a per-query single-reducer sort
      val batchQueries = embCorpus.filter(col("vec_id") < 128L)
      val bqBatch = time {
        graft.operators.BqIndex.searchBatch(spark, bqDir, vectors,
          batchQueries, "vec_id", "qv", shortlist = 50, topK = 10,
          excludeSelf = true).count()
      }
      val codeBytes = graft.operators.BqIndex.codeTableBytes(spark, bqDir)
      val vecBytes = graft.operators.IndexLayout.parquetBytes(spark, vecDir)
      println(f"[idxscale] c=$c docs=${corpus.count()} " +
        f"bm25: build=$bmBuild%.2fs query=$bmQuery%.2fs " +
        f"delete=$bmDelete%.2fs queryPostDel=$bmQueryPostDel%.2fs " +
        f"reshard(n=$reN)=$bmReshard%.2fs queryResharded=$bmQueryResharded%.2fs " +
        f"probedRows[n=64]=$rowsFixedShards probedRows[n=$reN]=$rowsResharded | " +
        f"dedup: build=$ddBuild%.2fs checkIncrement=$ddQuery%.2fs | " +
        f"bq: vecs=${embCorpus.count()} build=$bqBuild%.2fs query=$bqQuery%.2fs " +
        f"querySegState=$bqQuerySeg%.2fs query24Segs=$bqQueryManySegs%.2fs " +
        f"batch128=$bqBatch%.2fs " +
        f"codeBytes=$codeBytes vecBytes=$vecBytes " +
        f"bytesRatio=${vecBytes.toDouble / math.max(codeBytes, 1L)}%.1f")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
