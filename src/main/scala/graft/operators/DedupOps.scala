package graft.operators

import graft.functions.TextFns
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document-deduplication family for training-data pipelines: exact
  * (fingerprint groupBy), exact n-gram Jaccard via an inverted shingle
  * index, MinHash+LSH banding, and SimHash/Hamming — the standard ladder
  * from exact to sublinear near-dup detection.
  *
  * The reference only dedups by id (SURVEY.md F1,
  * `DEDUPLICATION_EXPLAINED.md`); content-level dedup is part of the
  * training-pipeline surface this engine adds.
  *
  * Scale design: every operator here is shuffle-by-key with no driver-side
  * state. The inverted-index Jaccard join shuffles (shingle → doc) pairs;
  * hot shingles are the skew risk, mitigated either by the PPJoin prefix
  * filter ([[prefixJaccardPairs]] — hot buckets never enter the index) or
  * by the `maxShingleDf` document-frequency cap on [[ngramJaccardPairs]]
  * (hot shingles skip candidate generation; verification stays exact on
  * full sets). The oracle uses no cap at test scale.
  */
object DedupOps {

  /** Default shard count for the persisted dedup-index layout (writer and
    * every reader share it, so pruning and layout cannot diverge within a
    * default-parameter lifecycle). 64 — the `Bm25.writeIndex` default —
    * rather than the original 256: a `partitionBy` write's cost is
    * dominated by per-directory file/commit overhead, and the measured
    * build at 256 shards paid ~2× the wall of the same build at 64
    * (3.2–5.5 s vs 1.6 s for the q226 base corpus at sf0.1) for no read
    * benefit at any tested scale — a realistic increment's shingles hit
    * every shard either way, and 64 dirs still gives 2× the 32-way
    * bench parallelism. At 100 TB per-shard volume, pass an explicit
    * nShards at build+read time (the parameter exists everywhere) or
    * re-bucket with `compactDedupIndex(reshardTo = ...)` — the shard
    * count is a layout parameter, not a constant, and the default only
    * anchors the small-corpus regime.
    */
  val DefaultShingleShards: Int = 64

  /** Tokenize for shingling: lowercase alnum runs. */
  def tokens(c: org.apache.spark.sql.Column) =
    regexp_extract_all(lower(c), lit("[a-z0-9]+"), lit(0))

  private val tokenRe = java.util.regex.Pattern.compile("[a-z0-9]+")

  /** The shingle tokenizer: lowercase alnum runs of `text`. */
  private def tokenize(text: String): scala.collection.mutable.ArrayBuffer[String] = {
    val m = tokenRe.matcher(text.toLowerCase(java.util.Locale.ROOT))
    val toks = scala.collection.mutable.ArrayBuffer.empty[String]
    while (m.find()) toks += m.group()
    toks
  }

  /** One document's distinct word `n`-gram shingles, in first-occurrence
    * order; empty for null text or fewer than `n` tokens. The body of the
    * shingle UDF and of the driver regimes, so both see the same sets.
    */
  private def shingleSet(text: String, n: Int): Array[String] =
    if (text == null) Array.empty[String]
    else {
      val toks = tokenize(text)
      if (toks.length < n) Array.empty[String]
      else toks.sliding(n).map(_.mkString(" ")).toArray.distinct
    }

  /** Distinct word n-gram shingles per document: (id, shingle) rows.
    *
    * Implemented as a linear-scan UDF rather than
    * `transform(sequence(...), i -> element_at(tokens, i+j))`: higher-order
    * lambdas defeat common-subexpression elimination, so the builtin form
    * re-runs the tokenizer regexp per element — ~n_tokens× more work
    * (measured 16.8 s vs <1 s at sf0.1). Same semantics as the oracle's
    * `regexp_extract_all(lower(text),'[a-z0-9]+')` + n-gram comprehension.
    */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    shingleArrays(df, idCol, textCol, n)
      .select(col(idCol), explode(col("__shingles")).as("shingle"))

  /** Per-document distinct shingle ARRAYS: (id, __shingles) rows. The
    * array form lets writers take each doc's shingle-set size as
    * `size(__shingles)` BEFORE exploding — one scan, no size self-join.
    */
  def shingleArrays(df: DataFrame, idCol: String, textCol: String,
                    n: Int): DataFrame = {
    val gen = udf { text: String => shingleSet(text, n) }
    // NOTE (round 12): a conditional "spread to cores" repartition was
    // inserted here (the single-row-group bench files make every scan
    // stage one task, so this UDF ran single-threaded), MEASURED over
    // the full bench, and REVERTED: one-shot heavy pair queries gained
    // ~0.1-0.4 s, but every iterative or small-input caller lost more
    // (q222 +1.6 s, q178 +1.2 s, q142 +0.7 s — the 32-partition shape
    // propagates into cached/checkpointed loop tables and inflates every
    // downstream job's task count). At 100 TB the scan itself yields
    // ≥ cores partitions, so the single-task stage is a bench-scale
    // artifact the fix made worse, not better.
    df.select(col(idCol), gen(col(textCol)).as("__shingles"))
  }

  /** CCNet-style boilerplate scrub over fixed token windows (the corpus
    * here has no newlines, so `winTokens`-token windows stand in for
    * lines): any window whose exact content appears in ≥ `minDocs`
    * distinct documents is corpus boilerplate; documents are reassembled
    * from the surviving windows in order.
    *
    * Scale shape: the boilerplate set is O(dups) and broadcasts; document
    * text shuffles exactly once (the reassembly groupBy). Returns
    * (id, n_windows, n_dropped, clean_md5).
    */
  def boilerplateScrub(df: DataFrame, idCol: String, textCol: String,
                       winTokens: Int = 10, minDocs: Int = 2): DataFrame = {
    val wins = df
      .select(col(idCol), tokens(col(textCol)).as("ts"))
      // zero-token docs emit NO windows (matching the oracle's empty
      // range(0,0)); without the filter, sequence(0, -1) evaluates
      // DESCENDING to [0,-1] and fabricates two empty-string windows
      .filter(size(col("ts")) > 0)
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(0, cast(ceil(size(ts)/$winTokens.0) as int) - 1)," +
          s" j -> array_join(slice(ts, j*$winTokens+1, $winTokens), ' '))")))
      .withColumnRenamed("pos", "j").withColumnRenamed("col", "g")
    val bp = wins.groupBy(col("g"))
      .agg(countDistinct(col(idCol)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("g"), lit(true).as("is_bp"))
    wins.join(broadcast(bp), Seq("g"), "left")
      .withColumn("is_bp", coalesce(col("is_bp"), lit(false)))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_windows"),
        sum(when(col("is_bp"), 1L).otherwise(0L)).as("n_dropped"),
        // concat_ws skips null elements, so boilerplate windows vanish
        // from the reassembled text while order is kept by the sort key
        md5(concat_ws(" ", expr(
          "transform(array_sort(collect_list(struct(j, if(is_bp, " +
            "cast(null as string), g) as g2))), x -> x.g2)")))
          .as("clean_md5"))
  }

  /** Passage-level duplication profile (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499): every
    * SLIDING `winTokens`-token window is a passage; a passage occurring ≥2
    * times corpus-wide (any document, including the same one) marks its
    * window position as duplicated. Returns per-document
    * (id, n_windows, n_dup_windows, dup_frac) — the fraction of a doc
    * that is repeated content, the signal substring-dedup trims on.
    *
    * Scale shape: windows shuffle once keyed by passage to find the
    * duplicated set, which joins back by SHUFFLE, not broadcast — unlike
    * [[boilerplateScrub]]'s O(boilerplate) set, the duplicated-passage set
    * is corpus-proportional at 100 TB (AQE may still pick broadcast when
    * it is measured small). The window UDF is a linear scan per row (see
    * [[shingles]] for why not `transform(sequence(...))`).
    */
  def duplicatePassages(df: DataFrame, idCol: String, textCol: String,
                        winTokens: Int = 5): DataFrame = {
    val gen = udf { text: String =>
      val toks =
        if (text == null) scala.collection.mutable.ArrayBuffer.empty[String]
        else tokenize(text)
      if (toks.length < winTokens) Array.empty[String]
      else toks.sliding(winTokens).map(_.mkString(" ")).toArray
    }
    val wins = df.select(col(idCol), explode_outer(gen(col(textCol))).as("g"))
    val dup = wins.filter(col("g").isNotNull)
      .groupBy(col("g")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2)
      .select(col("g"))
    wins.join(dup.withColumn("is_dup", lit(true)), Seq("g"), "left")
      .groupBy(col(idCol))
      .agg(count(col("g")).as("n_windows"),
        count(when(col("is_dup"), lit(1))).as("n_dup_windows"))
      .withColumn("dup_frac", when(col("n_windows") === 0, lit(0.0))
        .otherwise(round(col("n_dup_windows").cast("double") / col("n_windows"), 6)))
  }

  /** Character-level duplicated-span removal profile (the substring-dedup
    * step of Lee et al. 2021, arXiv:2107.06499 §4: drop every repeated
    * span, keeping its first occurrence). Every `k`-char window of every
    * document is hashed; a window whose hash occurs ≥2 corpus-wide is a
    * duplicate, and every occurrence EXCEPT the globally first (ordered by
    * (id, offset)) is marked for removal. Overlapping marked windows in a
    * document merge into maximal spans (gaps-and-islands over offsets), so
    * `chars_removed` counts each character once.
    *
    * Unlike [[duplicatePassages]] (token windows, a per-document profile
    * with no keep-first rule), this is the actual dedup DECISION: which
    * byte ranges a substring-level purge would cut. Returns per document
    * (id, n_windows, n_dup_windows, n_spans, chars_removed,
    * dup_char_frac).
    *
    * Scale shape: windows shuffle ONCE keyed by the window hash (a single
    * window-function pass computes both the occurrence count and the
    * global first-occurrence rank — no groupBy+self-join), then the marked
    * subset (O(duplicated windows), not O(corpus)) shuffles by document
    * for the span merge. Hashing bounds the join key at 32 bytes no matter
    * how large `k` is; the md5 is computed before the exchange so raw
    * text never shuffles. A hot window (corpus boilerplate) skews its hash
    * partition — at 100 TB, cap per-hash fan-in like `maxShingleDf` or
    * scrub boilerplate first ([[boilerplateScrub]]).
    */
  def substringDedupSpans(df: DataFrame, idCol: String, textCol: String,
                          k: Int = 30): DataFrame = {
    val wins = df
      .filter(length(col(textCol)) >= k)
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(0, length($textCol) - $k)," +
          s" i -> substring($textCol, i + 1, $k))")))
      .select(col(idCol), col("pos").as("off"), md5(col("col")).as("h"))
    val byHash = Window.partitionBy(col("h"))
    val marked = wins
      .withColumn("rn", row_number().over(byHash.orderBy(col(idCol), col("off"))))
      .withColumn("cnt", count(lit(1)).over(byHash))
      .filter(col("cnt") >= 2 && col("rn") > 1)
      .select(col(idCol), col("off"))
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("off"))
    val prevMax = byDoc.rowsBetween(Window.unboundedPreceding, -1)
    val spans = marked
      .withColumn("pe", max(col("off") + k).over(prevMax))
      .withColumn("ni", when(col("pe").isNull || col("off") >= col("pe"), 1L).otherwise(0L))
      .withColumn("island", sum(col("ni")).over(byDoc))
      .groupBy(col(idCol), col("island"))
      .agg((max(col("off")) + k - min(col("off"))).as("len"),
        count(lit(1)).as("nw"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_spans"),
        sum(col("len")).cast("long").as("chars_removed"),
        sum(col("nw")).cast("long").as("n_dup_windows"))
    df.select(col(idCol), greatest(length(col(textCol)) - (k - 1), lit(0))
        .cast("long").as("n_windows"), length(col(textCol)).as("n_chars"))
      .join(spans, Seq(idCol), "left")
      .select(col(idCol), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("chars_removed"), lit(0L)).as("chars_removed"),
        when(col("n_chars") === 0, lit(0.0))
          .otherwise(round(coalesce(col("chars_removed"), lit(0L))
            .cast("double") / col("n_chars"), 6)).as("dup_char_frac"))
  }

  /** Cross-source n-gram overlap matrix — the curation diagnostic behind
    * "how much does source A duplicate source B" (mirror detection, feed
    * provenance audits, pre-mixing overlap heatmaps). Each source's
    * shingle SET is the union of its documents' distinct `n`-gram
    * shingles; for every source pair sharing ≥1 shingle the matrix
    * reports intersection size, Jaccard, and both directed containments
    * (containment_a = |A∩B| / |A|, the fraction of A already present in
    * B — the asymmetric signal Jaccard hides when sizes differ).
    *
    * Scale shape: one tokenize pass, one distinct (source, shingle)
    * shuffle, one shingle-keyed self-join whose output is bounded by
    * S² per shingle for S distinct sources (sources are enumerable —
    * tens, not millions); the per-source size table is tiny and
    * broadcast-joins onto the pair counts. For a corpus-boilerplate
    * shingle hot across every source, cap document frequency first
    * (`maxShingleDf` playbook) — it contributes 1 to every cell and
    * S²/2 join rows.
    */
  def sourceOverlapMatrix(df: DataFrame, srcCol: String, textCol: String,
                          n: Int): DataFrame = {
    val sh = shingles(df, srcCol, textCol, n).distinct()
      .withColumnRenamed(srcCol, "src").persist()
    val sizes = sh.groupBy("src").agg(count(lit(1)).as("n"))
    val pairs = sh.select(col("src").as("source_a"), col("shingle"))
      .join(sh.select(col("src").as("source_b"), col("shingle")), Seq("shingle"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).cast("long").as("shared"))
    val out = pairs
      .join(sizes.select(col("src").as("source_a"), col("n").as("n_a")), Seq("source_a"))
      .join(sizes.select(col("src").as("source_b"), col("n").as("n_b")), Seq("source_b"))
      .select(col("source_a"), col("source_b"),
        col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"),
        col("shared"),
        round(col("shared") / (col("n_a") + col("n_b") - col("shared")), 6)
          .as("jaccard"),
        round(col("shared") / col("n_a"), 6).as("containment_a"),
        round(col("shared") / col("n_b"), 6).as("containment_b"))
    materializeAndRelease(out, sh)
  }

  /** Blocked edit-distance record linkage: candidate pairs are generated
    * only WITHIN a blocking key (the classic blocking strategy — Fellegi &
    * Sunter record-linkage framing), then verified with banded Levenshtein
    * (`levenshtein(_, _, max)`: early-exit banded DP, O(maxDist·n) per
    * pair instead of O(n²)). Returns (id_a, id_b, s_a, s_b, dist) with
    * id_a < id_b.
    *
    * The length-difference prefilter (|len a − len b| ≤ maxDist, a lower
    * bound on edit distance) is pushed INTO the join key, not applied
    * after: strings join on (block, ⌊len/(maxDist+1)⌋) with the b-side
    * expanded to its 3 adjacent buckets — |len diff| ≤ maxDist implies
    * adjacent buckets, and each eligible pair lands in exactly ONE of the
    * three (its bucket delta is a single value), so the pair set is
    * identical to the naive form while non-candidate pairs never
    * materialize at all (~(maxDist+1)/spread of the block's pairs survive;
    * 3-6× fewer Levenshtein calls on name-like data).
    *
    * Scale shape: one shuffle keyed by (block, length bucket) — the
    * sub-key also splits hot blocks across partitions, the skew playbook
    * `maxShingleDf` uses for hot shingles. Residual risk is a single
    * (block, bucket) cell staying hot — cap block sizes upstream if the
    * blocking key is that degenerate.
    */
  def blockedFuzzyPairs(df: DataFrame, idCol: String, strCol: String,
                        blockCol: org.apache.spark.sql.Column,
                        maxDist: Int): DataFrame = {
    val w = maxDist + 1
    val a = df.select(blockCol.as("blk"), col(idCol).as("id_a"), col(strCol).as("s_a"),
      floor(length(col(strCol)) / w).as("lb"))
    val b = df.select(blockCol.as("blk"), col(idCol).as("id_b"), col(strCol).as("s_b"),
        floor(length(col(strCol)) / w).as("lb0"),
        explode(array(lit(-1L), lit(0L), lit(1L))).as("delta"))
      .select(col("blk"), col("id_b"), col("s_b"), (col("lb0") + col("delta")).as("lb"))
    a.join(b, Seq("blk", "lb"))
      .filter(col("id_a") < col("id_b"))
      .filter(abs(length(col("s_a")) - length(col("s_b"))) <= maxDist)
      .withColumn("dist", levenshtein(col("s_a"), col("s_b"), maxDist).cast("long"))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("s_a"), col("s_b"), col("dist"))
  }

  /** Per-document repetition profile (Gopher/C4-style repetition gates):
    * token count, occurrence count of the most frequent word bigram, total
    * occurrences of trigrams that repeat within the document, and the
    * distinct-trigram count. One linear scan per row — a narrow map with
    * zero shuffle (the explode-and-groupBy form would shuffle every token;
    * see PERF.md on one-pass signature computation). Tokenization matches
    * the oracle's `regexp_extract_all(lower(text), '[a-z0-9]+')`.
    */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val stats = udf { text: String =>
      val toks = scala.collection.mutable.ArrayBuffer.empty[String]
      if (text != null) {
        val m = tokenRe.matcher(text.toLowerCase(java.util.Locale.ROOT))
        while (m.find()) toks += m.group()
      }
      val bi = new java.util.HashMap[String, Int]()
      var i = 0
      while (i + 1 < toks.length) {
        bi.merge(toks(i) + " " + toks(i + 1), 1, (a, b) => a + b)
        i += 1
      }
      var topBi = 0
      bi.values.forEach(v => if (v > topBi) topBi = v)
      val tri = new java.util.HashMap[String, Int]()
      i = 0
      while (i + 2 < toks.length) {
        tri.merge(toks(i) + " " + toks(i + 1) + " " + toks(i + 2), 1, (a, b) => a + b)
        i += 1
      }
      var dupOcc = 0L
      tri.values.forEach(v => if (v > 1) dupOcc += v)
      RepStats(toks.length.toLong, topBi.toLong, dupOcc, tri.size.toLong)
    }
    df.select(col(idCol), stats(col(textCol)).as("r"))
      .select(col(idCol), col("r.n_tokens"), col("r.top_bigram_n"),
        col("r.dup_trigram_occ"), col("r.n_distinct_trigrams"))
  }

  /** Exact dedup by content fingerprint: one row per duplicate group with
    * the keeper (min id) and group size (exact hash-groupBy dedup).
    */
  def exactDupGroups(df: DataFrame, idCol: String, keyCol: org.apache.spark.sql.Column): DataFrame =
    df.select(col(idCol), keyCol.as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keeper"),
        count(lit(1)).cast("long").as("n_dups"))
      .filter(col("n_dups") > 1)

  /** Exact n-gram Jaccard near-dup pairs via inverted shingle index:
    * pairs sharing ≥1 shingle get intersection counts from the index join;
    * set sizes close the formula. With no `maxShingleDf`, no approximation —
    * this is the oracle the MinHash variant is measured against.
    *
    * `maxShingleDf`: document-frequency cap for the INDEX join only.
    * Shingles appearing in more than `cap` documents (corpus boilerplate —
    * the Σ|bucket|² hot buckets that dominate the index-join cost on
    * boilerplate-heavy corpora, PERF.md's measured 58.8 s blowup) are
    * excluded from candidate generation; candidates are then verified
    * against the FULL shingle sets, so reported Jaccard values stay exact.
    * The only loss: a true pair ALL of whose shared shingles are hot is
    * never considered — with cap >> corpus dup-cluster size, such a pair
    * shares only boilerplate, which is what the cap is for.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double,
                        maxShingleDf: Option[Long] = None): DataFrame = {
    maxShingleDf match {
      case None =>
        // each doc's distinct-shingle-set size rides on the index rows
        // (size(__shingles) before the explode — the dedupIndexPostings
        // move), so the old per-id size aggregate and its two closing
        // joins are gone; the pair aggregate groups on (ids, sizes) and
        // the Jaccard closes inline. The self-join itself STAYS: a
        // bucket-expansion rewrite (groupBy shingle + collect_list +
        // local pair explode, one shuffle fewer) was built and measured
        // 0.5 s SLOWER on q24 at sf0.1 (1.88 vs 1.37 — the
        // ObjectHashAggregate loses codegen), and was reverted.
        // shuffle-hash hint: both sides are the same mid-sized index;
        // SMJ's sort of the hot-key shingle column is pure overhead here.
        val sh = shingleArrays(df, idCol, textCol, n)
          .select(col(idCol), size(col("__shingles")).cast("long").as("sz"),
            explode(col("__shingles")).as("shingle"))
          .cache()
        val out = sh.select(col(idCol).as("id_a"), col("sz").as("sz_a"),
            col("shingle"))
          .hint("shuffle_hash")
          .join(sh.select(col(idCol).as("id_b"), col("sz").as("sz_b"),
            col("shingle")), Seq("shingle"))
          .filter(col("id_a") < col("id_b"))
          .groupBy(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
          .agg(count(lit(1)).as("inter"))
          .withColumn("jaccard",
            col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
          .filter(col("jaccard") >= threshold)
          .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        materializeAndRelease(out, sh)
      case Some(cap) =>
        val sh = shingles(df, idCol, textCol, n).cache()
        // hot-shingle set is ≤ |shingle rows|/cap entries — broadcastable
        // for any useful cap; anti-join keeps only sub-cap index rows
        val hot = sh.groupBy(col("shingle"))
          .agg(count(lit(1)).as("df"))
          .filter(col("df") > cap)
          .select("shingle")
        val rare = sh.join(broadcast(hot), Seq("shingle"), "left_anti")
        val cands = rare.select(col(idCol).as("id_a"), col("shingle"))
          .hint("shuffle_hash")
          .join(rare.select(col(idCol).as("id_b"), col("shingle")), Seq("shingle"))
          .filter(col("id_a") < col("id_b"))
          .select("id_a", "id_b").distinct().cache()
        val out = verifyCandidates(sh, cands, idCol, threshold)
        materializeAndRelease(out, sh, cands)
    }
  }

  /** Incremental dedup: flag each NEW-batch doc against an EXISTING corpus
    * — the daily-increment production flow (dedup the increment against the
    * accumulated corpus, never corpus × corpus). One row per new doc:
    * (id, exact_dup, near_dup, max_jaccard): exact = same content
    * fingerprint exists in the corpus; near = some corpus doc clears the
    * n-gram Jaccard threshold.
    *
    * Scale shape: the inverted shingle index joins NEW shingles against
    * OLD shingles only, so candidate cardinality is increment-bound (the
    * new batch is typically ≪ corpus); Jaccard is exact on candidate
    * pairs. The corpus side never self-joins.
    */
  def dedupAgainst(newDf: DataFrame, corpusDf: DataFrame, idCol: String,
                   textCol: String, n: Int, threshold: Double): DataFrame = {
    val exact = newDf
      .select(col(idCol), graft.functions.TextFns.fingerprint(col(textCol)).as("__fp"))
      .join(corpusDf.select(
          graft.functions.TextFns.fingerprint(col(textCol)).as("__fp")).distinct(),
        Seq("__fp"), "left_semi")
      // distinct: an increment repeating an id must not multiply its rows
      // in the left join below (one row per new doc, as dedupAgainstIndex)
      .select(col(idCol)).distinct().withColumn("__exact", lit(1L))
    val shNew = shingles(newDf, idCol, textCol, n).cache()
    val shOld = shingles(corpusDf, idCol, textCol, n).cache()
    val sizesNew = shNew.groupBy(col(idCol)).agg(count(lit(1)).as("sz_a"))
    val sizesOld = shOld.groupBy(col(idCol)).agg(count(lit(1)).as("sz_b"))
    val near = shNew.select(col(idCol).as("id_a"), col("shingle"))
      .hint("shuffle_hash")
      .join(shOld.select(col(idCol).as("id_b"), col("shingle")), Seq("shingle"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizesNew.withColumnRenamed(idCol, "id_a"), Seq("id_a"))
      .join(sizesOld.withColumnRenamed(idCol, "id_b"), Seq("id_b"))
      .withColumn("j",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .groupBy(col("id_a").as(idCol))
      .agg(max(col("j")).as("__mj"))
    val out = newDf.select(col(idCol))
      .join(exact, Seq(idCol), "left")
      .join(near, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__exact"), lit(0L)).as("exact_dup"),
        when(coalesce(col("__mj"), lit(0.0)) >= threshold, 1L).otherwise(0L)
          .as("near_dup"),
        round(coalesce(col("__mj"), lit(0.0)), 6).as("max_jaccard"))
    materializeAndRelease(out, shNew, shOld)
  }

  /** The shard a shingle's postings live in — same JVM function at build
    * (column) and query (driver), so layout and pruning cannot diverge
    * (the `Bm25.writeIndex` convention).
    */
  private def shingleShard(s: String, nShards: Int): Int =
    math.floorMod(s.hashCode, nShards)

  /** Increment-doc count at or under which [[dedupAgainstIndex]]'s
    * distributed regime matches fingerprints in the broadcast regime
    * (increment fingerprints broadcast over the pruned corpus scan — no
    * corpus shuffle); beyond it, the shuffle semi-join fallback. ~50 MB
    * of broadcast at the cap. [[Regimes]] carries it, so the
    * regime-equality spec can force the fallback on a small corpus.
    */
  private[graft] val ExactFpBroadcastMaxRows: Long = 2000000L

  /** Persist a corpus's dedup index, SHINGLE-SHARDED: postings
    * (id, shingle, sz) partitioned by `hash(shingle) mod nShards`, with
    * each doc's TOTAL shingle count denormalized onto every posting row
    * so pruned reads are self-sufficient (a doc's shingles scatter across
    * shards — its size could not be recomputed from one), plus the
    * exact-dup fingerprint table. The incremental-dedup twin of
    * `Bm25.writeIndex` / `IvfIndex.writeIndex`: a new-batch check reads
    * only the batch's shingles' shards, not the corpus.
    */
  def writeDedupIndex(corpusDf: DataFrame, idCol: String, textCol: String,
                      n: Int, path: String,
                      nShards: Int = DefaultShingleShards): Unit = {
    val spark = corpusDf.sparkSession
    if (IndexLayout.isSegmentPath(path))
      // a segment's shard column must share the BASE's modulus — derive
      // it from the base marker (the passed count is just the fallback
      // for pre-marker layouts)
      IndexLayout.writeSegment(spark, path)(writeDedupIndexBody(corpusDf,
        idCol, textCol, n, _, effectiveShards(spark,
          IndexLayout.Paths.rootOf(path), nShards), segment = true))
    else
      IndexLayout.rebuild(spark, paths(path), "DedupOps.writeDedupIndex") {
        // the previous shard-count marker goes with the other lifecycle
        // state: a rebuild crashing before it writes its own must not
        // leave readers pruning with the old modulus
        IndexLayout.clearShardCountMarker(spark, path)
        writeDedupIndexBody(corpusDf, idCol, textCol, n, path, nShards,
          segment = false)
        // persist the build's shard modulus so readers/appenders derive
        // it from the LAYOUT, not from a defaulted parameter — an index
        // written under one DefaultShingleShards must stay correctly
        // pruned when the default changes across versions
        IndexLayout.writeShardCountMarker(spark, path, nShards)
      }
  }

  /** The lifecycle paths of a [[writeDedupIndex]] layout rooted at
    * `path`.
    */
  private[graft] def paths(path: String): IndexLayout.Paths =
    IndexLayout.Paths.nested(path, "shingles", "fingerprints")

  /** The layout's persisted shard count when the index recorded one
    * (every [[writeDedupIndex]] since the marker shipped), else the
    * caller's value — pre-marker indexes keep the old match-your-build
    * contract.
    */
  private def effectiveShards(spark: org.apache.spark.sql.SparkSession,
                              path: String, nShards: Int): Int =
    IndexLayout.readShardCountMarker(spark, path).getOrElse(nShards)

  /** The build itself — everything in [[writeDedupIndex]] after the
    * lifecycle clears; runs under the rebuild lease for base paths, bare
    * for segment writes.
    */
  private def writeDedupIndexBody(corpusDf: DataFrame, idCol: String,
                                  textCol: String, n: Int, path: String,
                                  nShards: Int, segment: Boolean): Unit = {
    val postings =
      dedupIndexPostings(corpusDf, idCol, textCol, n, nShards, !segment)
    val w = postings.write.mode("overwrite")
    // empty corpus: a zero-row partitioned write leaves no schema-bearing
    // files (unreadable index) — write unpartitioned, shard as data column.
    // The probe is the map-only shingle scan's first row (postings are a
    // per-row reshape of it), NOT postings.isEmpty, which would run the
    // whole pipeline a second time just to answer the question.
    // A streaming SEGMENT also writes unpartitioned — Lucene's
    // small-segment shape: a micro-batch's postings are cheap to scan in
    // full, while a nShards-directory partitioned write is ~all fixed
    // cost at micro-batch size (measured ~4 s per 1.7k-doc segment vs
    // ~1 s unpartitioned); the shard column still rides along as data,
    // so multi-layout reads filter it identically, and compaction folds
    // segments into the base's PRUNED partitioned form.
    if (segment)
      // AQE is off inside foreachBatch, so the write emitted
      // shuffle.partitions tiny files per micro-batch; one file per
      // segment table is the Lucene-segment shape (batch-bounded,
      // folded by compaction) — see Bm25.writeIndexBody. repartition(1),
      // NOT coalesce(1): the segment posting pipeline is narrow (no
      // exchange), so a coalesce would collapse the shingle UDF itself
      // to one task — the explicit exchange keeps the map side parallel
      // and only the one writer task downstream.
      postings.repartition(1).write.mode("overwrite")
        .parquet(s"$path/shingles")
    else if (shingles(corpusDf, idCol, textCol, n).isEmpty)
      w.parquet(s"$path/shingles")
    // cluster rows by shard before the partitioned write: without it every
    // write task fans out to up to nShards directories (tasks × shards tiny
    // files); clustered, each task owns a few whole shards and the file
    // count is O(nShards). shuffle.partitions scales the write width on a
    // real cluster.
    else w.partitionBy("shard").parquet(s"$path/shingles")
    // fingerprints carry the doc id alongside the hash so
    // [[removeFromDedupIndex]] can tombstone a doc's exact-dup row (two
    // live docs sharing a fingerprint keep their own rows — removing one
    // leaves the other's exact-match hit intact). Deliberately
    // UNPARTITIONED: an fp-hash-sharded layout was built and measured
    // (round 11) and REJECTED — a realistic increment's distinct
    // fingerprints hit essentially every shard (no pruning), while the
    // shard-directory fan-out cost ~2× on every in-query index build
    // and compaction (q226 4.3→8.5 s). The exact-dup check's scale
    // story is the broadcast regime in [[dedupAgainstIndex]] (no corpus
    // shuffle), not scan pruning of a table this narrow.
    val fps = corpusDf
      .select(col(idCol),
        graft.functions.TextFns.fingerprint(col(textCol)).as("__fp"))
      .distinct()
    (if (segment) fps.coalesce(1) else fps)
      .write.mode("overwrite").parquet(s"$path/fingerprints")
  }

  /** The (id, shingle, sz, shard) posting rows of the dedup index, built
    * in ONE corpus scan: per-doc sizes come from `size(__shingles)` before
    * the explode (no size self-join), and rows are clustered by shard so
    * the partitioned write doesn't fan out tasks × shards small files.
    */
  private def dedupIndexPostings(df: DataFrame, idCol: String,
                                 textCol: String, n: Int, nShards: Int,
                                 clustered: Boolean = true): DataFrame = {
    // codegen'd shard assignment — same JVM hash as the driver-side
    // shingleShard, inlined into the build pipeline (no UDF bridge)
    val shardCol =
      graft.functions.ShardExpr.javaHashMod(col("shingle"), nShards)
    val rows = shingleArrays(df, idCol, textCol, n)
      .select(col(idCol), size(col("__shingles")).cast("long").as("sz"),
        explode(col("__shingles")).as("shingle"))
      .withColumn("shard", shardCol)
    // the shard-clustering exchange only pays off for the partitioned
    // write; unpartitioned small segments skip it. Explicit partition
    // count: a bare repartition(col) is AQE-coalescible and the whole
    // nShards-directory write collapsed into ONE task at bench scale
    // (see Bm25.writeIndexBody)
    if (clustered) rows.repartition(nShards, col("shard")) else rows
  }

  /** Fold an accepted batch INTO the dedup index (the CDC lifecycle:
    * check a batch with [[dedupAgainstIndex]], keep the non-dups, append
    * them so the NEXT batch is checked against them too). Same sharding
    * function, parquet append — no rewrite of existing shards; readers
    * see the union.
    */
  def appendToDedupIndex(batch: DataFrame, idCol: String, textCol: String,
                         n: Int, path: String,
                         nShards: Int = DefaultShingleShards): Unit = {
    // appended rows must share the existing layout's modulus — derive it
    // from the marker, not the (defaulted) parameter
    val effShards = effectiveShards(batch.sparkSession, path, nShards)
    // a no-shingle batch appends nothing (a zero-row partitioned write
    // onto the unpartitioned empty-base layout would erase its schema
    // files); a real batch onto an empty unpartitioned base OVERWRITES —
    // appending shard=… dirs next to a bare parquet file would be a
    // mixed layout Spark can't read
    if (!shingles(batch, idCol, textCol, n).isEmpty) {
      val mode =
        if (IndexLayout.partitionedLayout(batch.sparkSession,
            s"$path/shingles", "shard"))
          "append"
        else {
          // readable-empty base only — a NON-empty unpartitioned base (a
          // segment's shape, which older on-disk indexes can have) holds
          // postings an overwrite would silently drop; refuse instead
          require(!IndexLayout.hasRows(batch.sparkSession, s"$path/shingles"),
            s"$path/shingles is a non-empty UNPARTITIONED layout (a " +
              "segment-style build) — not an append target; rebuild with " +
              "writeDedupIndex or compact first")
          "overwrite"
        }
      IndexLayout.appendTo(batch.sparkSession, s"$path/shingles")(
        dedupIndexPostings(batch, idCol, textCol, n, effShards)
          .write.mode(mode).partitionBy("shard").parquet(_))
    }
    IndexLayout.appendTo(batch.sparkSession, s"$path/fingerprints")(
      batch
        .select(col(idCol),
          graft.functions.TextFns.fingerprint(col(textCol)).as("__fp"))
        .distinct()
        .write.mode("append").parquet(_))
  }

  /** Tombstone documents OUT of the dedup index — O(batch) appended
    * tombstone rows; NO shard is rewritten (a doc's shingles hash across
    * ~every shard, so a physical delete would rewrite the whole index —
    * the same argument as `Bm25.removeFromIndex`). [[dedupAgainstIndex]]
    * anti-joins the tombstones on both the shingle and fingerprint
    * sides; [[compactDedupIndex]] materializes the removals.
    */
  def removeFromDedupIndex(ids: DataFrame, idCol: String,
                           path: String): Unit =
    IndexLayout.appendTombstones(ids, idCol, paths(path).tombDir)

  /** Threshold-gated maintenance recommendations for a
    * [[writeDedupIndex]] layout ([[IndexLayout.maintenancePlan]]) —
    * pure read, no lease.
    */
  def maintenancePlan(spark: org.apache.spark.sql.SparkSession, path: String,
                      t: IndexLayout.MaintenanceThresholds =
                        IndexLayout.MaintenanceThresholds())
      : IndexLayout.MaintenancePlan =
    IndexLayout.maintenancePlan(spark, paths(path), t)

  /** One cron-able maintenance cycle for a dedup layout: PLAN
    * ([[maintenancePlan]]) → [[IndexLayout.cycle]] →
    * [[compactDedupIndex]]. No trained model, so no audit and no retrain.
    */
  def maintain(spark: org.apache.spark.sql.SparkSession, path: String,
               idCol: String = "doc_id",
               t: IndexLayout.MaintenanceThresholds =
                 IndexLayout.MaintenanceThresholds())
      : IndexLayout.MaintenanceOutcome =
    IndexLayout.cycle(maintenancePlan(spark, path, t), (),
      () => compactDedupIndex(spark, path, idCol))._1

  /** Segment-merge for the dedup index: rewrite the shingle postings
    * clustered by shard with tombstoned docs dropped (append small files
    * merged, removals made physical, streaming segments folded into the
    * base), rewrite the fingerprints likewise, clear the segments and
    * the tombstones. Query results are identical before and after
    * (pinned in SimilaritySpec). With segments the fold is a DISTINCT
    * union, so re-running a crashed compaction converges. Unlike the
    * BM25 read path (whose query-term-restricted union is cheap to
    * dedupe inline), dedup reads between a mid-compaction crash and the
    * repairing re-run can over-count duplicated postings — run
    * compaction with the maintenance stream paused and re-run it after
    * a crash before serving reads.
    */
  def compactDedupIndex(spark: org.apache.spark.sql.SparkSession,
                        path: String, idCol: String = "doc_id",
                        reshardTo: Option[Int] = None): Unit =
    IndexLayout.leasedFold(spark, paths(path), "DedupOps.compactDedupIndex")(
      foldShingles(spark, path, idCol, reshardTo))

  /** Recompute the shard column at a new shard count (identity when
    * `reshardTo` is empty) — the re-bucketing move for a corpus that
    * outgrew its build-time nShards, applied inside the compaction
    * rewrite (no extra I/O — compaction rewrites every shard anyway).
    * The compaction records the new modulus in the `_NSHARDS_` marker and
    * readers and appenders derive it from there, so callers keep their
    * `nShards` argument (it only matters for pre-marker layouts).
    */
  private def reshardShingles(df: DataFrame,
                              reshardTo: Option[Int]): DataFrame =
    reshardTo match {
      case Some(n) =>
        df.withColumn("shard",
          graft.functions.ShardExpr.javaHashMod(col("shingle"), n))
      case None => df
    }

  /** [[compactDedupIndex]] over an explicit segment snapshot, unleased
    * (split out so the spec can replay a segment landing mid-fold).
    */
  private[graft] def compactDedupIndexFolding(
      spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, segs: Seq[String],
      reshardTo: Option[Int] = None): Unit =
    IndexLayout.foldSnapshot(spark, paths(path), segs)(
      foldShingles(spark, path, idCol, reshardTo))

  /** The dedup fold over a (segments, tombstone files) snapshot: both
    * tables rewritten, tombstoned ids dropped, segments merged in.
    */
  private def foldShingles(spark: org.apache.spark.sql.SparkSession,
                           path: String, idCol: String,
                           reshardTo: Option[Int])
                          (segs: Seq[String], tombFiles: Seq[String]): Unit = {
    // the fingerprints are read first, so a retired format is refused
    // before anything is written
    if (segs.isEmpty) {
      IndexLayout.rewriteInPlace(spark, s"$path/fingerprints", None,
        df => IndexLayout.dropIdsIn(currentFingerprints(df, path), idCol,
          tombFiles))
      val sharded =
        IndexLayout.partitionedLayout(spark, s"$path/shingles", "shard")
      IndexLayout.rewriteInPlace(spark, s"$path/shingles",
        if (sharded) Some("shard") else None,
        df => reshardShingles(IndexLayout.dropIdsIn(df, idCol, tombFiles),
          reshardTo))
    } else {
      val (fpB, fpSegs) = fingerprintParts(spark, path, Some(segs))
      IndexLayout.writeSwap(spark, s"$path/shingles",
        reshardShingles(IndexLayout.foldLive(spark, paths(path),
          "shingles", segs, idCol, tombFiles), reshardTo), Some("shard"))
      IndexLayout.writeSwap(spark, s"$path/fingerprints",
        IndexLayout.dropIdsIn(fpB.unionByName(fpSegs).distinct(), idCol,
          tombFiles), None)
    }
    // a re-sharding compaction changes the layout's modulus — record it
    reshardTo.foreach(n =>
      IndexLayout.writeShardCountMarker(spark, path, n))
  }

  /** Migrate a [[writeDedupIndex]] layout to the current on-disk format
    * ([[IndexLayout.upgrade]]'s version step, then the fingerprint step),
    * once, under the maintenance lease. The round-11 interim format
    * carried a third `fpshard` column in the fingerprint base (a
    * fingerprint-sharded layout, measured and rejected); the base is
    * rewritten to the current (id, __fp) shape. Idempotent: a current
    * index is left untouched.
    */
  def upgrade(spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    IndexLayout.upgradeWith(spark, paths(path), "DedupOps.upgrade") {
      val fp = s"$path/fingerprints"
      val dir = IndexLayout.resolve(spark, fp)
      if (IndexLayout.holdsData(spark, dir)) {
        val base = IndexLayout.readParquet(spark, Seq(dir))
        if (base.columns.length > 2)
          IndexLayout.writeSwap(spark, fp,
            base.select(col(base.columns.head), col("__fp")), None)
      }
    }

  /** The fingerprint table's live parts (base, one relation over the
    * segments, [[IndexLayout.readLive]]) over the segment snapshot `segs`
    * (default: the live segments); a base in a retired format is
    * refused ([[currentFingerprints]]).
    */
  private def fingerprintParts(spark: org.apache.spark.sql.SparkSession,
                               path: String,
                               segs: Option[Seq[String]] = None): (DataFrame, DataFrame) = {
    val (base, parts) =
      IndexLayout.liveParts(spark, paths(path), "fingerprints", segs)
    val (b, s) = IndexLayout.readLive(spark, base, parts)
    (currentFingerprints(b, path), s)
  }

  /** `base`, a read of the fingerprint base, if it has the two
    * (id, __fp) columns every writer emits; a retired format is refused,
    * naming [[upgrade]].
    */
  private def currentFingerprints(base: DataFrame, path: String): DataFrame = {
    require(base.columns.length == 2,
      s"$path/fingerprints is in a retired on-disk format (columns " +
        s"${base.columns.mkString(", ")}): run DedupOps.upgrade(spark, " +
        s"\"$path\") once to migrate the index")
    base
  }

  /** The pruned index read inside [[dedupAgainstIndex]], exposed so the
    * spec can pin which shard directories it reads (the operator's
    * output is checkpointed by `materializeAndRelease`, which hides the
    * scan).
    */
  private[graft] def prunedShingleIndex(spark: org.apache.spark.sql.SparkSession,
                                        path: String, shNew: DataFrame,
                                        nShards: Int): DataFrame =
    shardPrunedIndex(spark, path, shNew.select(graft.functions.ShardExpr
        .javaHashMod(col("shingle"), nShards).as("shard"))
      .distinct().collect().map(_.getInt(0)).toSeq)

  /** The live shingle postings (base + segments) of the given shards:
    * only their shard directories of the base are listed and read
    * ([[IndexLayout.readLive]]); segments are read whole and keep every
    * shard's rows, which the shingle match drops. Spans the base layout
    * plus any streaming segments
    * ([[graft.streaming.StreamingOps.streamDedupIndex]]). The union is
    * NOT distinct-ed: segments are disjoint by the maintenance contract
    * (new ids per batch, replays overwrite their own segment), and a
    * probe batch's shard set does not restrict CONTENT — a corpus-wide
    * distinct here would put a full-width shuffle on every read
    * (measured 22 s vs 5 s on q232's profile). The one state that could
    * duplicate rows — a compaction crashed between its base swap and its
    * segment cleanup — is repaired by re-running `compactDedupIndex`
    * (the fold is distinct), which is where that cost belongs.
    */
  private def shardPrunedIndex(spark: org.apache.spark.sql.SparkSession,
                               path: String, shards: Seq[Int]): DataFrame = {
    val (base, segParts) =
      IndexLayout.liveParts(spark, paths(path), "shingles")
    val (b, segs) = IndexLayout.readLive(spark, base, segParts, Some(shards))
    b.unionByName(segs)
  }

  /** The live (id, __fp) fingerprint rows, tombstoned docs dropped. The
    * fingerprint side spans base + streaming segments (duplicate rows are
    * harmless — every regime tolerates them).
    */
  private def liveFingerprints(spark: org.apache.spark.sql.SparkSession,
                               path: String, idCol: String): DataFrame = {
    val (fpB, fpSegs) = fingerprintParts(spark, path)
    IndexLayout.dropTombstoned(fpB.unionByName(fpSegs), idCol,
      paths(path).tombDir)
  }

  /** [[dedupAgainst]] over a [[writeDedupIndex]] layout, row-identical
    * to the two-sided scan: only shards the batch's shingles hash to are
    * read (every shared shingle lives in a read shard by construction),
    * and tombstoned docs (see [[removeFromDedupIndex]]) drop from both
    * index sides before any comparison. A batch approaching corpus
    * vocabulary degrades gracefully to reading all shards. The batch
    * selects one of two regimes (pinned row-identical to each other and
    * to [[dedupAgainst]] in SimilaritySpec):
    *
    * - **Driver** (at most [[DriverMaxRows]] rows and
    *   [[DriverMaxTextChars]] of text, found by one sample job): the
    *   batch's shingles, per-doc sizes, fingerprints and shard set are
    *   computed on the driver and broadcast as lookups; ONE index-side
    *   query matches the shard-pruned live postings and the live
    *   fingerprints against them and aggregates to at most one row per
    *   batch doc; the output is assembled on the driver as a local
    *   relation. A small ingest batch's dedup was
    *   otherwise ~all per-stage fixed cost (PERF.md, "Small ingest
    *   batches dedup on the driver").
    * - **Distributed** (a batch over either cap): the batch's distinct
    *   shingle shards (≤ nShards values — the collect is bounded by the
    *   shard count, never the batch) are pushed as a partition filter,
    *   and the near-dup join runs as a shuffle over the batch. Its
    *   exact-dup match runs broadcast-side-out under
    *   [[ExactFpBroadcastMaxRows]] increment rows (the increment's
    *   fingerprints broadcast over ONE scan of the narrow (id, fp) table
    *   — no corpus-fingerprint shuffle); past the cap, the shuffle
    *   semi-join fallback. Scan PRUNING by fp-hash shards was built,
    *   measured and rejected: a realistic increment's fingerprints hit
    *   every shard, so it bought directory fan-out cost for no read
    *   reduction (see writeDedupIndexBody).
    *
    * `rowCountHint`, an exact row count of `newDf` when the caller has
    * one, skips the distributed regime's count action, and the driver
    * regime's sample when it is over the row cap.
    */
  def dedupAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                        path: String, newDf: DataFrame, idCol: String,
                        textCol: String, n: Int, threshold: Double,
                        nShards: Int = DefaultShingleShards,
                        rowCountHint: Option[Long] = None): DataFrame =
    dedupAgainstIndex(spark, path, newDf, idCol, textCol, n, threshold,
      nShards, rowCountHint, Regimes())

  /** [[dedupAgainstIndex]] under explicit regime caps. */
  private[graft] def dedupAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                                       path: String, newDf: DataFrame,
                                       idCol: String, textCol: String, n: Int,
                                       threshold: Double, nShards: Int,
                                       rowCountHint: Option[Long],
                                       regimes: Regimes): DataFrame = {
    // prune with the modulus the index was BUILT with (the marker), not
    // the caller's defaulted parameter — a default drift would silently
    // filter shard=hash%new against dirs partitioned by hash%old
    val effShards = effectiveShards(spark, path, nShards)
    val batch =
      if (rowCountHint.exists(_ > regimes.driverMaxRows)) None
      else driverBatch(newDf, idCol, textCol, regimes)
    batch match {
      case Some(rows) =>
        dedupIndexOnDriver(spark, path, rows,
          newDf.select(col(idCol), col(textCol)).schema, n, threshold,
          effShards)
      case None =>
        dedupIndexDistributed(spark, path, newDf, idCol, textCol, n,
          threshold, effShards, rowCountHint, regimes.fpBroadcastMaxRows)
    }
  }

  /** The batch side of [[dedupAgainstIndex]]'s driver regime: each
    * distinct batch shingle with the batch docs that hold it (one entry
    * per row of the doc's id that holds it) and each doc's shingle-row
    * count. Flat, so it broadcasts at array speed whatever the batch's
    * shingle count (with a broadcast map of tuples instead, the regime
    * took 4.2 s against this form's 1.6 s on a 1.09 M-character batch,
    * PERF.md): the shingles travel as one newline-joined string (a
    * shingle is `[a-z0-9]` tokens and spaces), and each JVM that reads
    * the broadcast builds its lookup table once.
    */
  private final class BatchPostings(keys: String, starts: Array[Int],
                                    docs: Array[Int], sz: Array[Long])
      extends Serializable {
    @transient private lazy val slot: java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer]()
      if (starts.length > 1)
        keys.split("\n", -1).iterator.zipWithIndex
          .foreach { case (k, i) => m.put(k, i) }
      m
    }

    /** (doc, its shingle-row count) per batch posting of `s`. */
    def docsOf(s: String): Seq[(Int, Long)] = {
      val i = slot.get(s)
      if (i == null) Nil
      else (starts(i) until starts(i + 1)).map(j => (docs(j), sz(docs(j))))
    }
  }

  private object BatchPostings {
    def apply(shOf: Array[(Int, Array[String])], nDocs: Int): BatchPostings = {
      val sz = new Array[Long](nDocs)
      shOf.foreach { case (d, ss) => sz(d) += ss.length }
      val byShingle = shOf.iterator.flatMap { case (d, ss) => ss.iterator.map(_ -> d) }
        .toSeq.groupMap(_._1)(_._2).toArray
      new BatchPostings(byShingle.iterator.map(_._1).mkString("\n"),
        byShingle.scanLeft(0)(_ + _._2.length), byShingle.flatMap(_._2), sz)
    }
  }

  /** [[dedupAgainstIndex]]'s driver regime over the collected (id, text)
    * batch. The batch's shingle postings (shingle → the batch docs that
    * hold it, with each doc's shingle count) and its fingerprints reach
    * the index-side query as broadcast lookups, so the plan stays small
    * whatever the batch size. Null-id rows match nothing (as in the
    * distributed regime's id-keyed joins) and duplicate ids pool their
    * shingle rows, so sizes and intersections count exactly what the
    * distributed joins count. Fingerprints, Jaccard values and the
    * output's rounding and threshold are the distributed regime's Spark
    * expressions.
    */
  private def dedupIndexOnDriver(spark: org.apache.spark.sql.SparkSession,
                                 path: String,
                                 rows: Array[org.apache.spark.sql.Row],
                                 batchSchema: org.apache.spark.sql.types.StructType,
                                 n: Int, threshold: Double,
                                 nShards: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val Array(idField, textField) = batchSchema.fields
    val idCol = idField.name
    val withId = rows.filterNot(_.isNullAt(0))
    // batch docs are numbered by distinct id
    val docOf = withId.map(_.get(0)).distinct.zipWithIndex.toMap
    val shOf = withId.map(r => docOf(r.get(0)) -> shingleSet(r.getString(1), n))
    val postings = BatchPostings(shOf, docOf.size)
    val fps = localFrame(spark, batchSchema, withId)
      .select(col(idCol), graft.functions.TextFns.fingerprint(col(textField.name)))
      .collect().filterNot(_.isNullAt(1))
      .groupMap(_.getString(1))(r => docOf(r.get(0))).map { case (f, ds) => f -> ds.toSeq }
    val sc = spark.sparkContext
    val (postingsBc, fpsBc) = (sc.broadcast(postings), sc.broadcast(fps))
    try {
      val docsOfShingle = udf { s: String => postingsBc.value.docsOf(s) }
      val docsOfFp = udf { f: String => fpsBc.value.getOrElse(f, Nil) }
      val shards = shOf.iterator.flatMap(_._2).map(shingleShard(_, nShards))
        .toSeq.distinct
      val near = IndexLayout.dropTombstoned(shardPrunedIndex(spark, path, shards),
          idCol, paths(path).tombDir)
        .select(col(idCol).as("id_b"), col("sz"),
          explode(docsOfShingle(col("shingle"))).as("a"))
        .groupBy(col("a._1").as("doc"), col("a._2").as("sz_a"), col("id_b"))
        .agg(count(lit(1)).as("inter"), max(col("sz")).as("sz_b"))
        .select(col("doc"), (col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter"))).as("j"), lit(0L).as("ex"))
      val exact = liveFingerprints(spark, path, idCol)
        .select(explode(docsOfFp(col("__fp"))).as("doc"))
        .select(col("doc"), lit(null).cast("double").as("j"), lit(1L).as("ex"))
      // at most one row per batch doc: its max Jaccard and exact flag
      val hits = near.unionByName(exact).groupBy(col("doc"))
        .agg(max(col("j")).as("__mj"), max(col("ex")).as("__exact"))
        .collect().map(r => r.getInt(0) -> r).toMap
      localFrame(spark, StructType(Seq(idField, StructField("__exact", LongType),
          StructField("__mj", DoubleType))), rows.map { r =>
          hits.get(if (r.isNullAt(0)) -1 else docOf(r.get(0))) match {
            case Some(h) =>
              Row(r.get(0), if (h.getLong(2) == 1L) 1L else null, h.get(1))
            case None => Row(r.get(0), null, null)
          }
        })
        .select(col(idCol),
          coalesce(col("__exact"), lit(0L)).as("exact_dup"),
          when(coalesce(col("__mj"), lit(0.0)) >= threshold, 1L).otherwise(0L)
            .as("near_dup"),
          round(coalesce(col("__mj"), lit(0.0)), 6).as("max_jaccard"))
    } finally {
      postingsBc.destroy()
      fpsBc.destroy()
    }
  }

  /** [[dedupAgainstIndex]]'s distributed regime. */
  private def dedupIndexDistributed(spark: org.apache.spark.sql.SparkSession,
                                    path: String, newDf: DataFrame,
                                    idCol: String, textCol: String, n: Int,
                                    threshold: Double, nShards: Int,
                                    rowCountHint: Option[Long],
                                    fpBroadcastMaxRows: Long): DataFrame = {
    // the increment is evaluated THREE times downstream (regime count,
    // fingerprints, shingles) — cache it once so a complex upstream
    // pipeline (q226's cleaner chain) is not re-run per consumer; the
    // caller-supplied rowCountHint skips even the count action
    val newCached = newDf.cache()
    val newFps = newCached.select(col(idCol),
      graft.functions.TextFns.fingerprint(col(textCol)).as("__fp"))
    val corpusFps = liveFingerprints(spark, path, idCol)
    // both regimes emit DISTINCT matched increment ids — without the
    // fallback's distinct, an increment containing duplicate ids would
    // multiply rows differently across regimes in the downstream
    // left-join (regime equality must hold by construction, not only
    // for unique-id increments)
    val exact =
      if (rowCountHint.getOrElse(newCached.count()) <= fpBroadcastMaxRows)
        corpusFps
          .join(broadcast(newFps.select(col(idCol).as("__nid"), col("__fp"))),
            Seq("__fp"))
          .select(col("__nid").as(idCol)).distinct()
          .withColumn("__exact", lit(1L))
      else
        newFps.join(corpusFps, Seq("__fp"), "left_semi")
          .select(col(idCol)).distinct().withColumn("__exact", lit(1L))
    val shNew = shingles(newCached, idCol, textCol, n).cache()
    val idx = IndexLayout.dropTombstoned(
      prunedShingleIndex(spark, path, shNew, nShards), idCol,
      paths(path).tombDir)
    val sizesNew = shNew.groupBy(col(idCol)).agg(count(lit(1)).as("sz_a"))
    val near = shNew.select(col(idCol).as("id_a"), col("shingle"))
      .hint("shuffle_hash")
      .join(idx.select(col(idCol).as("id_b"), col("shingle"), col("sz")),
        Seq("shingle"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"), max(col("sz")).as("sz_b"))
      .join(sizesNew.withColumnRenamed(idCol, "id_a"), Seq("id_a"))
      .withColumn("j",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .groupBy(col("id_a").as(idCol))
      .agg(max(col("j")).as("__mj"))
    val out = newCached.select(col(idCol))
      .join(exact, Seq(idCol), "left")
      .join(near, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__exact"), lit(0L)).as("exact_dup"),
        when(coalesce(col("__mj"), lit(0.0)) >= threshold, 1L).otherwise(0L)
          .as("near_dup"),
        round(coalesce(col("__mj"), lit(0.0)), 6).as("max_jaccard"))
    materializeAndRelease(out, shNew, newCached)
  }

  /** Candidate-doc shingle volume (rows) below which verification runs
    * in the broadcast regime. ~100 MB of driver strings at the cap; the
    * join regime takes over beyond it. [[Regimes]] carries it, so the
    * regime-equality spec can force the join path on a small corpus.
    */
  private[graft] val VerifyLocalMaxShingles: Long = 4000000L

  /** Row cap of the driver regime of [[minhashLshPairs]] and
    * [[dedupAgainstIndex]]: a batch of at most this many rows (and at
    * most [[DriverMaxTextChars]] of text) is deduplicated on the driver.
    * Both operators' driver regimes were still faster at 5,000 sf0.1
    * documents, the largest batch measured (PERF.md, "Small ingest
    * batches dedup on the driver"); the cap stays at 1,000 because the
    * driver's LSH candidate set grows with the square of the rows in the
    * worst case (a batch of copies pairs every two rows): ~10^6 pairs here.
    */
  private[graft] val DriverMaxRows: Int = 1000

  /** Text cap of the driver regime, in characters of collected text: the
    * driver holds the batch's text and shingle sets, and ships the
    * batch's shingle postings to the index query, whose cost grows with
    * the batch's distinct shingles. Set below the measured crossover of
    * [[dedupAgainstIndex]]'s regimes on long documents over a
    * 2,000-word vocabulary: the driver regime won at 0.54 M characters
    * and lost at 1.09 M (same PERF.md entry).
    */
  private[graft] val DriverMaxTextChars: Long = 500000L

  /** The regime caps of the dedup operators, one field per switch. The
    * public operators run under the defaults; a spec passes a zero to
    * force the fallback and pins it row-identical to the regime it
    * replaces (SimilaritySpec). A zero driver cap turns the driver regime
    * off before its sample job.
    */
  private[graft] final case class Regimes(
      driverMaxRows: Int = DriverMaxRows,
      driverMaxTextChars: Long = DriverMaxTextChars,
      verifyLocalMaxShingles: Long = VerifyLocalMaxShingles,
      fpBroadcastMaxRows: Long = ExactFpBroadcastMaxRows)

  /** Id types whose values keep their identity as driver-side keys (and
    * as string casts): atomic types. BINARY does not (array identity on
    * the driver; invalid-UTF8 bytes can collide after a string cast).
    */
  private def idIsAtomic(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: NumericType => true
      case StringType | BooleanType | DateType | TimestampType |
           TimestampNTZType => true
      case _ => false
    }
  }

  /** The driver regime's selection: the batch's (id, text) rows when it
    * fits under both caps of `r`, else None. One job: `limit(cap + 1)`
    * over the batch in one task, so the sample stops reading at the
    * first row past the cap. A batch over either cap, or with a
    * non-atomic id type, drops the sample and takes the distributed
    * regime.
    */
  private def driverBatch(df: DataFrame, idCol: String, textCol: String,
                          r: Regimes): Option[Array[org.apache.spark.sql.Row]] =
    if (r.driverMaxRows <= 0 || r.driverMaxTextChars <= 0 ||
        !idIsAtomic(df.schema(idCol).dataType)) None
    else {
      val rows = df.select(col(idCol), col(textCol)).coalesce(1)
        .limit(r.driverMaxRows + 1).collect()
      val chars = rows.iterator
        .map(row => if (row.isNullAt(1)) 0L else row.getString(1).length.toLong).sum
      if (rows.length <= r.driverMaxRows && chars <= r.driverMaxTextChars) Some(rows)
      else None
    }

  /** A DataFrame over driver rows: a `LocalRelation`, so Catalyst folds
    * the row-wise expressions above it (`ConvertToLocalRelation`) and a
    * collect of it starts no job.
    */
  private def localFrame(spark: org.apache.spark.sql.SparkSession,
                         schema: org.apache.spark.sql.types.StructType,
                         rows: Iterable[org.apache.spark.sql.Row]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.toSeq.asJava, schema)
  }

  /** Size of the multiset intersection of two sorted shingle arrays: the
    * merge-intersect of the broadcast verify regime and of the driver
    * regime.
    */
  private def mergeIntersect(x: Array[String], y: Array[String]): Long = {
    var i = 0; var j = 0; var c = 0L
    while (i < x.length && j < y.length) {
      val cmp = x(i).compareTo(y(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  /** Exact-Jaccard verification of candidate pairs over the FULL shingle
    * sets, restricted to candidate docs — O(candidate docs), not
    * O(corpus). Shared by the prefix-filter, DF-cap and (structurally)
    * LSH paths. Intersection is computed on the shingle STRINGS: exact,
    * no hash-collision caveat. The candidate-doc id list is broadcast —
    * it is bounded by 2×|candidate pairs|, which the prefix/DF-cap
    * filters keep far below corpus size. Two regimes, same result
    * (regime equality pinned in SimilaritySpec):
    *
    * - **Broadcast** (candidate docs' shingle volume ≤
    *   `localMaxShingles`, by default [[VerifyLocalMaxShingles]]): collect
    *   the doc → sorted-shingle-set map once, broadcast it, and verify
    *   each pair with a narrow merge-intersect UDF. The dense-candidate
    *   join regime ships BOTH ~|set|-element string arrays once per PAIR
    *   (measured ~600 MB of shuffle for 125k candidates on the
    *   adversarial corpus — the dominant verification cost);
    *   broadcasting ships each set once per EXECUTOR. Candidate docs are
    *   dup-bounded, not corpus-bounded, so the cap holds far past this SF
    *   — and the join regime remains the unconditional fallback.
    * - **Join**: group sets per doc (one array row per doc — no exploded
    *   pair×shingle rows), join them onto the pairs, exact
    *   `array_intersect`.
    */
  private def verifyCandidates(sh: DataFrame, cands: DataFrame,
                               idCol: String, threshold: Double,
                               nShinglesHint: Option[Long] = None,
                               localMaxShingles: Long = VerifyLocalMaxShingles): DataFrame = {
    val candDocs = cands.select(col("id_a").as(idCol))
      .union(cands.select(col("id_b").as(idCol))).distinct()
    val candSh = sh.join(broadcast(candDocs), Seq(idCol), "left_semi")
    // the regime gate: candidate-doc shingle volume. When the caller
    // already knows per-doc set sizes (the prefix path carries them on
    // every candidate row), the hint replaces a corpus-wide semi-join
    // count with a candidate-pair-bounded aggregate — same exact value,
    // one cheap job instead of a full pass over the shingle table.
    val nShingles = nShinglesHint.getOrElse(candSh.count())
    // the broadcast map keys on the id's STRING CAST, computed by Spark's
    // own cast on both the collect side and the lookup side, so the regime
    // is id-type-generic (long, int, string, date, …) without a JVM-vs-
    // engine representation mismatch. Distinct atomic values cast to
    // distinct strings; BINARY does not (invalid-UTF8 bytes can collide
    // after replacement), so binary ids take the join regime.
    if (idIsAtomic(sh.schema(idCol).dataType) && nShingles <= localMaxShingles) {
      val local = candSh
        .groupBy(col(idCol).cast("string").as(idCol))
        .agg(sort_array(collect_list(col("shingle"))).as("set"))
        .collect()
        .map(r => r.getString(0) -> r.getSeq[String](1).toArray)
        .toMap
      val bc = sh.sparkSession.sparkContext.broadcast(local)
      val stats = udf { (a: String, b: String) =>
        val x = bc.value(a)
        val y = bc.value(b)
        (mergeIntersect(x, y), x.length.toLong, y.length.toLong)
      }
      cands
        .withColumn("__st",
          stats(col("id_a").cast("string"), col("id_b").cast("string")))
        .withColumn("jaccard", col("__st._1").cast("double") /
          (col("__st._2") + col("__st._3") - col("__st._1")))
        .filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    } else {
      val docSets = candSh
        .groupBy(col(idCol))
        .agg(collect_list(col("shingle")).as("set"))
      cands
        .join(docSets.select(col(idCol).as("id_a"), col("set").as("set_a")), Seq("id_a"))
        .join(docSets.select(col(idCol).as("id_b"), col("set").as("set_b")), Seq("id_b"))
        .withColumn("inter",
          size(array_intersect(col("set_a"), col("set_b"))).cast("long"))
        .withColumn("jaccard",
          col("inter").cast("double") /
            (size(col("set_a")).cast("long") + size(col("set_b")) - col("inter")))
        .filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    }
  }

  /** Exact Jaccard pairs with prefix filtering (PPJoin-family): shingles
    * ranked per-doc by ascending global document frequency (shingle value
    * as tie-break); any pair with J ≥ τ must share one of each side's
    * first ⌊(1-τ)·|x|⌋+1 rarest shingles, so ONLY those prefix shingles
    * enter the inverted index. Candidates are then verified against the
    * FULL shingle sets — output is row-identical to [[ngramJaccardPairs]].
    *
    * Scale: the full index joins every shingle bucket (cost Σ|bucket|²,
    * dominated by hot common shingles); here the hot buckets never enter
    * the index — at τ=0.5 only the rarest half-ish of each doc's shingles
    * do, and candidate verification touches candidate pairs only. The
    * extra global-frequency pass is one map-side-combinable groupBy.
    *
    * All pruning-side work runs on a 64-bit `xxhash64` of the shingle,
    * never the ~3-word string: the frequency groupBy, the rank sort, and
    * the inverted-index join all shuffle/compare longs. Correct because
    * the prefix theorem holds for ANY deterministic global shingle order —
    * (gf∘h, h, shingle) is one (the string tail breaks the astronomically
    * rare (gf,h) collision, and is touched only then) — and because an
    * index-join hash collision can only ADD a candidate pair, which exact
    * string-set verification then discards.
    */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                         n: Int, threshold: Double): DataFrame =
    prefixJaccardPairs(df, idCol, textCol, n, threshold, Regimes())

  /** [[prefixJaccardPairs]] under explicit regime caps. */
  private[graft] def prefixJaccardPairs(df: DataFrame, idCol: String,
                                        textCol: String, n: Int,
                                        threshold: Double,
                                        regimes: Regimes): DataFrame = {
    val sh = shingles(df, idCol, textCol, n).cache()
    // keep the per-doc set sizes the prefix filter already computed:
    // distinct over (pair, sz_a, sz_b) is the same pair set (sz is
    // functionally dependent on the id), and the sizes let the verify
    // gate skip its corpus-wide count (guide §1: fewer actions)
    val candsSz = prefixCandidatesSized(sh, idCol, threshold)
      .distinct().cache()
    val cands = candsSz.select(col("id_a"), col("id_b"))
    val nShingles = candsSz
      .select(col("id_a").as("id"), col("sz_a").as("sz"))
      .union(candsSz.select(col("id_b").as("id"), col("sz_b").as("sz")))
      .distinct()
      .agg(coalesce(sum(col("sz")), lit(0L)).cast("long")).head().getLong(0)
    val out = verifyCandidates(sh, cands, idCol, threshold, Some(nShingles),
      regimes.verifyLocalMaxShingles)
    materializeAndRelease(out, sh, candsSz)
  }

  /** Candidate (id_a, id_b) pairs from the PPJoin prefix filter over an
    * (id, shingle) table — the candidate-generation half of
    * [[prefixJaccardPairs]], shared with [[minhashLshPairs]]'s
    * exact-recall guard. STRUCTURAL GUARANTEE: contains every pair with
    * J ≥ threshold (prefix-filter theorem + the length/positional bounds,
    * which only ever discard pairs that cannot reach the threshold).
    * May contain false positives; callers verify. Output is not distinct.
    */
  private[graft] def prefixCandidates(sh: DataFrame, idCol: String,
                                      threshold: Double): DataFrame =
    prefixCandidatesSized(sh, idCol, threshold)
      .select(col("id_a"), col("id_b"))

  /** [[prefixCandidates]] with each side's full distinct-shingle-set
    * size carried on the pair row ((id_a, id_b, sz_a, sz_b)) — the
    * sizes fall out of the prefix filter's own window pass, and let
    * [[prefixJaccardPairs]] derive the verification regime gate from
    * the pair table instead of re-scanning the corpus shingles.
    */
  private[graft] def prefixCandidatesSized(sh: DataFrame, idCol: String,
                                           threshold: Double): DataFrame = {
    val shH = sh.select(col(idCol), col("shingle"),
      xxhash64(col("shingle")).as("h"))
    val freq = shH.groupBy(col("h")).agg(count(lit(1)).as("gf"))
    // rank and set size from ONE shuffle-by-doc and ONE sort: both window
    // functions share (partitioning, ordering), so they evaluate in a
    // single WindowExec pass — and a join back to a sizes table would
    // shuffle the whole shingle table a second time
    val byDoc = Window.partitionBy(col(idCol))
      .orderBy(col("gf"), col("h"), col("shingle"))
    val whole = byDoc.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val prefix = shH.join(freq, Seq("h"))
      .select(col(idCol), col("h"),
        row_number().over(byDoc).as("rk"),
        count(lit(1)).over(whole).as("sz"))
      .filter(col("rk") <= floor((lit(1.0) - threshold) * col("sz")) + 1)
    // Sharing a prefix shingle is necessary but far from sufficient — on a
    // templated corpus the raw bucket join admits ~1000× the true pair set,
    // and every admitted pair pays full-set verification. Two more PPJoin
    // conditions, evaluated inside the join before the pairs ever
    // materialize: LENGTH (J ≥ τ forces τ·|x| ≤ |y|) and POSITIONAL (ranks
    // rk_a, rk_b of the shared shingle cap the remaining possible overlap
    // at 1 + min(sz_a−rk_a, sz_b−rk_b), which must reach the τ-implied
    // minimum ⌈τ/(1+τ)·(sz_a+sz_b)⌉). The 1e-9 slack only ever WEAKENS a
    // bound (floating-point round-up may not drop a true pair).
    val a = prefix.select(col(idCol).as("id_a"), col("h").as("h_a"),
      col("rk").as("rk_a"), col("sz").as("sz_a"))
    val b = prefix.select(col(idCol).as("id_b"), col("h").as("h_b"),
      col("rk").as("rk_b"), col("sz").as("sz_b"))
    val minOverlap = ceil(lit(threshold / (1.0 + threshold)) *
      (col("sz_a") + col("sz_b")) - 1e-9)
    // NOTE on the "aggregated overlap" PPJoin variant (count shared
    // prefix entries per pair, bound with the last entry's positional
    // remainder): because the per-row positional bound is monotonically
    // decreasing in rank, the surviving matches are always a rank-prefix
    // of a true pair's shared entries — which makes the aggregated test
    // at the last survivor exactly (α−1) WEAKER than the first entry's
    // per-row test. Measured on the adversarial 40-word corpus it prunes
    // 0 of 125k candidates; not worth the extra pair-keyed shuffle.
    a.hint("shuffle_hash").join(b,
        col("h_a") === col("h_b") &&
          col("id_a") < col("id_b") &&
          col("sz_b") >= lit(threshold) * col("sz_a") - 1e-9 &&
          col("sz_a") >= lit(threshold) * col("sz_b") - 1e-9 &&
          lit(1) + least(col("sz_a") - col("rk_a"),
            col("sz_b") - col("rk_b")) >= minOverlap)
      .select(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003,
    * "Winnowing: Local Algorithms for Document Fingerprinting" — the MOSS
    * algorithm): hash every POSITIONAL word k-gram, slide a w-hash window,
    * keep each window's minimum hash; the distinct kept hashes are the
    * doc's fingerprints. Guarantees any shared run of ≥ w+k-1 tokens
    * yields a shared fingerprint, while storing only ~2/(w+1) of the
    * positions — a sparser index than the full shingle table with a
    * detection guarantee LSH lacks.
    *
    * Portability: the hash is the md5 HEX STRING and the window min is
    * lexicographic — hex order is unsigned numeric order in every engine,
    * so an exact SQL oracle reproduces the selection bit-for-bit (signed
    * 64-bit mins would diverge between engines). Docs with fewer than
    * w + k - 1 tokens emit no fingerprints (no full window exists).
    *
    * Scale shape: positional grams stay inside one per-doc window (keyed
    * shuffle, no global sort); the fingerprint index the pair join sees is
    * ~2/(w+1) the size of a full inverted shingle index.
    */
  def winnowingFingerprints(df: DataFrame, idCol: String, textCol: String,
                            k: Int, w: Int): DataFrame = {
    // Codegen-only gram pass (no Scala UDF — at corpus scale the UDF
    // serialization boundary would dominate this narrow map): tokens are
    // materialized ONCE into an array column, then the positional (ordered,
    // NOT distinct) k-grams come from a transform-over-sequence lambda that
    // only slices the materialized array — the Generate input is a separate
    // projection, so the tokenizer regexp is never re-evaluated per gram
    // (the trap the [[shingles]] scaladoc documents applies to lambdas that
    // EMBED the tokenizer, not to slicing a materialized array).
    val wSpec = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    df.select(col(idCol), tokens(col(textCol)).as("__ts"))
      .filter(size(col("__ts")) >= k)
      .select(col(idCol), (size(col("__ts")) - (k - 1)).as("np"),
        posexplode(expr(s"transform(sequence(0, size(__ts) - $k), " +
          s"j -> array_join(slice(__ts, j + 1, $k), ' '))"))
          .as(Seq("pos", "g")))
      .select(col(idCol), col("np"), col("pos"), md5(col("g")).as("h"))
      .withColumn("fingerprint", min(col("h")).over(wSpec))
      .filter(col("pos") <= col("np") - w) // 0-based window starts only
      .select(col(idCol), col("fingerprint")).distinct()
  }

  /** Near-dup pairs by shared winnowing fingerprints: (id_a, id_b,
    * shared) for pairs sharing ≥ `minShared` fingerprints. The join is
    * fingerprint-keyed (posting-list bounded, like the shingle join but
    * over the ~2/(w+1)-sparse winnowed index).
    */
  def winnowingPairs(df: DataFrame, idCol: String, textCol: String,
                     k: Int, w: Int, minShared: Long): DataFrame = {
    val fp = winnowingFingerprints(df, idCol, textCol, k, w)
    fp.select(col(idCol).as("id_a"), col("fingerprint"))
      .hint("shuffle_hash")
      .join(fp.select(col(idCol).as("id_b"), col("fingerprint")),
        Seq("fingerprint"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).cast("long").as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Benchmark decontamination: per corpus document, the number of distinct
    * word `n`-gram shingles it shares with a benchmark slice (`benchPred`
    * selects benchmark rows by id). Used to drop evaluation contamination
    * from a training corpus.
    *
    * Scale shape: every document is tokenized exactly ONCE — the benchmark
    * and probe branches read DISJOINT doc slices (`benchPred` pushes below
    * the shingle UDF to the scan), and the benchmark-side work is reused
    * through its cached DISTINCT gram set. Only that gram set is persisted
    * (benchmark-sized, bounded); caching the corpus-sized gram table
    * instead measurably collapses under memory pressure at 10× corpus
    * (PERF.md "Round-4 scale fixes": 1.6 s → 10.5 s from cache spill).
    * The gram set is broadcast only while provably small: past
    * `maxBroadcastRows` it falls back to a shuffled hash join — a
    * corpus-proportional broadcast OOMs the driver. The eager
    * `bench.count()` that materializes the cache is also what decides
    * the join strategy, so the size check is free.
    */
  def decontaminate(df: DataFrame, idCol: String, textCol: String, n: Int,
                    benchPred: org.apache.spark.sql.Column,
                    maxBroadcastRows: Long = 4000000L): DataFrame = {
    val grams = shingles(df, idCol, textCol, n)
    val bench = grams.filter(benchPred).select(col("shingle")).distinct()
      .persist()
    val nBench = bench.count() // materializes the gram-set cache
    val benchSide =
      if (nBench <= maxBroadcastRows) broadcast(bench)
      else bench.hint("shuffle_hash")
    grams.filter(!benchPred)
      .join(benchSide, Seq("shingle"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_shared_grams"))
  }

  /** Positional (ordered, NOT distinct) word n-gram windows per document:
    * (id, pos, h) with `pos` the 0-based token offset of the window start
    * and `h` = md5 of the gram text — 32 bytes no matter how large `n`
    * is, computed BEFORE any exchange so raw text never shuffles.
    * Codegen-only ([[winnowingFingerprints]] shape): tokens materialize
    * once into an array column and the grams slice that array, so the
    * tokenizer regexp never re-evaluates per gram.
    */
  private def positionalGramHashes(df: DataFrame, idCol: String,
                                   textCol: String, n: Int): DataFrame =
    df.select(col(idCol), tokens(col(textCol)).as("__ts"))
      .filter(size(col("__ts")) >= n)
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(0, size(__ts) - $n), " +
          s"j -> array_join(slice(__ts, j + 1, $n), ' '))")).as(Seq("pos", "g")))
      .select(col(idCol), col("pos"), md5(col("g")).as("h"))

  /** Merge marked (id, pos) token windows of width `n` into maximal
    * non-overlapping spans (gaps-and-islands over token offsets — the
    * [[substringDedupSpans]] merge, in token space): per span
    * (id, start, end, nw) with `end` exclusive and `nw` the number of
    * marked windows the span absorbed.
    */
  private def mergedSpans(marked: DataFrame, idCol: String, n: Int): DataFrame = {
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val prevMax = byDoc.rowsBetween(Window.unboundedPreceding, -1)
    marked
      .withColumn("pe", max(col("pos") + n).over(prevMax))
      .withColumn("ni",
        when(col("pe").isNull || col("pos") >= col("pe"), 1L).otherwise(0L))
      .withColumn("island", sum(col("ni")).over(byDoc))
      .groupBy(col(idCol), col("island"))
      .agg(min(col("pos")).as("start"), (max(col("pos")) + n).as("end"),
        count(lit(1)).as("nw"))
  }

  /** Per-id aggregate of [[mergedSpans]]: (n_spans, tokens_removed,
    * n_marked_windows). Each token counts once even when covered by
    * several marked windows.
    */
  private def spanStats(marked: DataFrame, idCol: String, n: Int): DataFrame =
    mergedSpans(marked, idCol, n)
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_spans"),
        sum(col("end") - col("start")).cast("long").as("tokens_removed"),
        sum(col("nw")).cast("long").as("n_marked_windows"))

  /** Benchmark-contaminated window starts (id, pos) of the non-benchmark
    * slice — the shared marking pass of [[decontaminateSpans]] and
    * [[exciseContamination]]: one gram pass with `benchPred` split at the
    * scan, benchmark's DISTINCT gram-hash set persisted
    * (benchmark-bounded) and broadcast only while provably small.
    */
  private def benchMarkedPositions(df: DataFrame, idCol: String,
                                   textCol: String, n: Int,
                                   benchPred: org.apache.spark.sql.Column,
                                   maxBroadcastRows: Long): DataFrame = {
    val grams = positionalGramHashes(df, idCol, textCol, n)
    val bench = grams.filter(benchPred).select(col("h")).distinct().persist()
    val nBench = bench.count() // materializes the gram-set cache
    val benchSide =
      if (nBench <= maxBroadcastRows) broadcast(bench)
      else bench.hint("shuffle_hash")
    grams.filter(!benchPred).join(benchSide, Seq("h"))
      .select(col(idCol), col("pos"))
  }

  /** Per-benchmark-suite contamination matrix: [[decontaminate]] audits
    * overlap against ONE benchmark slice; real pipelines decontaminate
    * against MANY suites at once and report per-suite rates (which
    * benchmark leaks into which documents decides per-suite drop lists
    * and eval caveats). For every non-benchmark document sharing ≥1
    * distinct `n`-gram with a suite: (id, suite, n_shared_grams,
    * n_grams, shared_frac). `suites` maps suite name → membership
    * predicate; a document in ANY suite is excluded from the probe side.
    *
    * Scale shape: ONE gram pass (suite predicates split at the scan);
    * the union of per-suite DISTINCT gram sets — S× benchmark-bounded,
    * not corpus-bounded — is the only persisted state, broadcast while
    * provably small with the [[decontaminate]] shuffled-hash fallback.
    * The output is sparse (contaminated (doc, suite) cells only), and
    * the per-doc gram total rides the SAME gram table, so adding suites
    * never adds corpus scans.
    */
  def contaminationBySuite(df: DataFrame, idCol: String, textCol: String,
                           n: Int,
                           suites: Seq[(String, org.apache.spark.sql.Column)],
                           maxBroadcastRows: Long = 4000000L): DataFrame = {
    require(suites.nonEmpty, "at least one benchmark suite")
    val inAnySuite = suites.map(_._2).reduce(_ || _)
    val grams = shingles(df, idCol, textCol, n)
    val bench = suites.map { case (name, pred) =>
      grams.filter(pred).select(lit(name).as("suite"), col("shingle"))
    }.reduce(_ union _).distinct().persist()
    val nBench = bench.count() // materializes the suite gram-set cache
    val benchSide =
      if (nBench <= maxBroadcastRows) broadcast(bench)
      else bench.hint("shuffle_hash")
    val probe = grams.filter(!inAnySuite)
    val totals = probe.groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_grams"))
    probe.join(benchSide, Seq("shingle"))
      .groupBy(col(idCol), col("suite"))
      .agg(count(lit(1)).cast("long").as("n_shared_grams"))
      .join(totals, Seq(idCol))
      .select(col(idCol), col("suite"), col("n_shared_grams"), col("n_grams"),
        round(col("n_shared_grams").cast("double") / col("n_grams"), 6)
          .as("shared_frac"))
  }

  /** Span-level benchmark decontamination: instead of DROPPING every
    * document that shares grams with the benchmark ([[decontaminate]] —
    * which at realistic contamination rates discards mostly-clean
    * documents wholesale), locate the contaminated token RANGES and report
    * what a surgical excision would remove. A token window is marked when
    * its `n`-gram appears anywhere in the benchmark slice (`benchPred`
    * selects benchmark rows); overlapping marked windows merge into
    * maximal spans, so `tokens_removed` counts each token once. Returns
    * one row per NON-benchmark document — including untouched ones —
    * (id, n_tokens, n_marked_windows, n_spans, tokens_removed,
    * removed_frac).
    *
    * Scale shape: same contract as [[decontaminate]] — one gram pass with
    * `benchPred` pushed to the scan split, only the benchmark's DISTINCT
    * gram-hash set persisted (benchmark-bounded), broadcast only while
    * provably small with a shuffled-hash fallback past
    * `maxBroadcastRows`. The marked subset (contamination-bounded, not
    * corpus-bounded) then shuffles ONCE by document for the span merge;
    * per-document `n_tokens` comes from a second NARROW scan of the text
    * (scan cost, no shuffle) rather than caching the corpus-sized gram
    * table (the cache-spill trap the [[decontaminate]] scaladoc measures).
    */
  def decontaminateSpans(df: DataFrame, idCol: String, textCol: String,
                         n: Int, benchPred: org.apache.spark.sql.Column,
                         maxBroadcastRows: Long = 4000000L): DataFrame = {
    val marked =
      benchMarkedPositions(df, idCol, textCol, n, benchPred, maxBroadcastRows)
    df.filter(!benchPred)
      .select(col(idCol), size(tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(spanStats(marked, idCol, n), Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_marked_windows"), lit(0L)).as("n_marked_windows"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("tokens_removed"), lit(0L)).as("tokens_removed"),
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(round(coalesce(col("tokens_removed"), lit(0L))
            .cast("double") / col("n_tokens"), 6)).as("removed_frac"))
  }

  /** Intra-document repetition removal profile (the within-document half
    * of repetition cleaning — MassiveText/Gopher drop or trim documents
    * whose content repeats itself; [[repetitionStats]] only SCORES that
    * repetition, this is the excision decision): every token `n`-gram
    * window whose gram already occurred EARLIER IN THE SAME document is
    * marked (keep-first rule, the [[substringDedupSpans]] semantics
    * restricted to one document), marked windows merge into maximal
    * spans, and each document reports what trimming its self-repeats
    * would remove: (id, n_tokens, n_marked_windows, n_spans,
    * tokens_removed, removed_frac).
    *
    * Scale shape: one shuffle keyed by (document, gram-hash) for the
    * keep-first rank — partitions are bounded by a single document's own
    * repetition, so corpus-hot grams (the [[substringDedupSpans]] skew
    * risk) cannot concentrate here; the marked subset
    * (repetition-bounded) then shuffles by document for the span merge.
    * Gram hashes are computed before the exchange, so raw text never
    * shuffles.
    */
  def intraDocDupSpans(df: DataFrame, idCol: String, textCol: String,
                       n: Int): DataFrame = {
    val grams = positionalGramHashes(df, idCol, textCol, n)
    val marked = grams
      .withColumn("rn", row_number().over(
        Window.partitionBy(col(idCol), col("h")).orderBy(col("pos"))))
      .filter(col("rn") > 1)
      .select(col(idCol), col("pos"))
    df.select(col(idCol), size(tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(spanStats(marked, idCol, n), Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_marked_windows"), lit(0L)).as("n_marked_windows"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("tokens_removed"), lit(0L)).as("tokens_removed"),
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(round(coalesce(col("tokens_removed"), lit(0L))
            .cast("double") / col("n_tokens"), 6)).as("removed_frac"))
  }

  /** APPLY the span-level decontamination decision ([[decontaminateSpans]]
    * reports it): per non-benchmark document, the token stream with every
    * contaminated span excised — proven by content hash so the result
    * stays row-small: (id, n_tokens_kept, kept_md5) with kept_md5 =
    * md5 of the space-joined surviving tokens (md5('') for fully-excised
    * or empty documents).
    *
    * Scale shape: the marking pass is [[benchMarkedPositions]] (gated
    * broadcast, contamination-bounded marked set); spans then aggregate
    * per document into a span LIST (contaminated documents only — a
    * small side AQE broadcasts onto the corpus), and the excision itself
    * is a narrow per-row array filter over the span list (O(spans) per
    * token, spans contamination-bounded) — the corpus never shuffles and
    * raw text never leaves its scan partition.
    */
  def exciseContamination(df: DataFrame, idCol: String, textCol: String,
                          n: Int, benchPred: org.apache.spark.sql.Column,
                          maxBroadcastRows: Long = 4000000L): DataFrame = {
    val marked =
      benchMarkedPositions(df, idCol, textCol, n, benchPred, maxBroadcastRows)
    exciseByMarked(df.filter(!benchPred), marked, idCol, textCol, n)
  }

  /** Excise against an EXTERNAL benchmark gram table (`benchGrams`:
    * `shingle` strings, the [[shingles]] convention the streaming twins
    * share) — the per-batch form
    * [[graft.streaming.StreamingOps.streamExcise]] applies: the gram set
    * is fixed and benchmark-bounded, so it broadcasts unconditionally
    * per batch and state never grows with the stream.
    */
  def exciseAgainst(df: DataFrame, idCol: String, textCol: String, n: Int,
                    benchGrams: DataFrame): DataFrame = {
    val benchH = benchGrams.select(md5(col("shingle")).as("h")).distinct()
    val marked = positionalGramHashes(df, idCol, textCol, n)
      .join(broadcast(benchH), Seq("h"))
      .select(col(idCol), col("pos"))
    exciseByMarked(df, marked, idCol, textCol, n)
  }

  /** Shared excision tail: merge marked windows to spans, collect each
    * contaminated doc's span LIST (small side — AQE broadcasts it back
    * onto the corpus), and cut the spans with a narrow per-row array
    * filter. `probe` must already be restricted to the docs to clean.
    */
  private def exciseByMarked(probe: DataFrame, marked: DataFrame,
                             idCol: String, textCol: String,
                             n: Int): DataFrame = {
    val spanLists = mergedSpans(marked, idCol, n)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("start"), col("end"))).as("__spans"))
    probe
      .select(col(idCol),
        coalesce(tokens(col(textCol)),
          array().cast("array<string>")).as("__ts"))
      .join(spanLists, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__spans").isNull, col("__ts")).otherwise(expr(
          "filter(__ts, (x, i) -> NOT exists(__spans, " +
            "s -> i >= s.start AND i < s.end))")).as("__kept"))
      .select(col(idCol),
        size(col("__kept")).cast("long").as("n_tokens_kept"),
        md5(array_join(col("__kept"), " ")).as("kept_md5"))
  }

  /** Materialize a (small) result via eager `localCheckpoint`, then release
    * the cached intermediates that produced it. The pair outputs here are
    * O(duplicate pairs) — tiny relative to the corpus at any scale — while
    * the cached shingle/candidate tables are corpus-sized; holding the
    * latter until LRU eviction is the session-lifetime leak ADVICE.md
    * flagged. One extra job per call, bounded by the result size.
    */
  private[graft] def materializeAndRelease(out: DataFrame,
                                           cached: DataFrame*): DataFrame = {
    val result = out.localCheckpoint()
    cached.foreach(_.unpersist())
    result
  }

  /** MinHash signatures: k permutation-style hashes h_i(x)=(a_i·x+b_i) mod p
    * over murmur3 shingle hashes; per-doc minimum of each. Deterministic
    * (fixed seed).
    */
  def minhashSignatures(sh: DataFrame, idCol: String, k: Int, seed: Long = 42L): DataFrame = {
    val p = 2147483647L // 2^31-1 (prime)
    val coefs = minhashCoefs(k, seed)
    // materialize the base hash below the aggregate: referenced inline it
    // would be recomputed per agg expression (k× the hashing work)
    val hashed = sh.select(col(idCol),
      pmod(hash(col("shingle")).cast("long"), lit(p)).as("__x"))
    val aggs = coefs.zipWithIndex.toIndexedSeq.map { case ((a, b), i) =>
      min(pmod(col("__x") * a + b, lit(p))).as(s"mh_$i")
    }
    hashed.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  private[graft] def minhashCoefs(k: Int, seed: Long): Array[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(k)((1 + rnd.nextInt(Int.MaxValue - 1)).toLong,
      rnd.nextInt(Int.MaxValue).toLong)
  }

  /** One document's MinHash signature: the k affine mins (mod 2^31-1)
    * over its distinct `n`-gram shingles, each hashed with Spark's Murmur3
    * (seed 42 — bit-identical to `hash(shingle)`). None for null text or
    * fewer than `n` tokens. The body of [[minhashSignaturesOnePass]]'s UDF
    * and of [[minhashLshPairs]]' driver regime.
    */
  private def minhashSignature(text: String, n: Int,
                               coefs: Array[(Long, Long)]): Option[Array[Long]] =
    if (text == null) None
    else {
      val p = 2147483647L
      val k = coefs.length
      val toks = tokenize(text)
      if (toks.length < n) None
      else {
        val seen = scala.collection.mutable.HashSet.empty[String]
        val mins = Array.fill(k)(Long.MaxValue)
        var i = 0
        while (i <= toks.length - n) {
          val s = toks.slice(i, i + n).mkString(" ")
          if (seen.add(s)) {
            val h32 = org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction.hash(
              org.apache.spark.unsafe.types.UTF8String.fromString(s),
              org.apache.spark.sql.types.StringType, 42L).toInt
            val x = { val r = h32.toLong % p; if (r < 0) r + p else r }
            var j = 0
            while (j < k) {
              val v = { val r = (x * coefs(j)._1 + coefs(j)._2) % p; if (r < 0) r + p else r }
              if (v < mins(j)) mins(j) = v
              j += 1
            }
          }
          i += 1
        }
        Some(mins)
      }
    }

  /** One-pass MinHash signatures straight from the text column (narrow map,
    * no shuffle): tokenizes, forms distinct word n-gram shingles, hashes each
    * with Spark's Murmur3 (seed 42 — bit-identical to `hash(shingle)`), and
    * folds the k affine mins in a local array. Replaces explode + k-column
    * groupBy for signature generation; cross-checked against
    * [[minhashSignatures]] in SimilaritySpec.
    */
  def minhashSignaturesOnePass(df: DataFrame, idCol: String, textCol: String,
                               n: Int, k: Int, seed: Long = 42L): DataFrame = {
    val coefs = minhashCoefs(k, seed)
    val sig = udf { text: String =>
      minhashSignature(text, n, coefs).map(_.toSeq)
    }
    val cols = (0 until k).map(i => col("__mh")(i).as(s"mh_$i"))
    df.select(col(idCol), sig(col(textCol)).as("__mh"))
      .filter(col("__mh").isNotNull)
      .select(col(idCol) +: cols: _*)
  }

  /** MinHash + LSH banding near-dup candidate pairs, verified with exact
    * Jaccard. `bands` buckets of `k/bands` signature rows each: docs
    * sharing any full band become candidates — the sublinear scale path;
    * candidate count ≈ true-dup count for well-chosen (k, bands).
    *
    * `exactRecallGuard = true` additionally unions the PPJoin prefix-filter
    * candidates ([[prefixCandidates]]) before verification. Banding alone
    * misses a true pair with probability (1-J^(k/bands))^bands — ~1% per
    * pair at J = 0.5 with 16×2 — so LSH-equals-exact is an EMPIRICAL
    * property of the corpus; the prefix filter's recall is STRUCTURAL
    * (every pair with J ≥ τ shares a prefix shingle, by theorem), so the
    * union verifies to exactly the [[ngramJaccardPairs]] pair set on ANY
    * corpus. The guard is what makes an exact SQL oracle valid for this
    * operator under testdata regeneration; pass `false` for the pure
    * sublinear path when approximate recall is acceptable.
    *
    * The unguarded path has two regimes, selected by the input and pinned
    * row-identical to each other in SimilaritySpec:
    *
    * - **Driver** (at most [[DriverMaxRows]] rows and
    *   [[DriverMaxTextChars]] of text, found by one sample job): the
    *   batch is collected and signed, banded, paired and verified on the
    *   driver with the distributed regime's own functions; the pairs come
    *   back as a local relation, so the call starts no job after the
    *   sample. A small ingest batch's near-dedup was otherwise ~all
    *   per-stage fixed cost (PERF.md, "Small ingest batches dedup on the
    *   driver").
    * - **Distributed** (a batch over either cap, and the guarded path):
    *   caches three intermediates that are each referenced several
    *   times: banding keys and candidate pairs (int-only, tiny) plus the
    *   candidate docs' shingle strings (proportional to candidate-doc
    *   text — the dominant cached footprint when dup clusters are large;
    *   the guard path shingles the full corpus, which it needs anyway for
    *   prefix ranking). All are released before returning: the (tiny)
    *   pair result is materialized via eager localCheckpoint, then the
    *   caches unpersist.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      n: Int, threshold: Double,
                      k: Int = 32, bands: Int = 8,
                      exactRecallGuard: Boolean = false): DataFrame =
    minhashLshPairs(df, idCol, textCol, n, threshold, k, bands,
      exactRecallGuard, Regimes())

  /** [[minhashLshPairs]] under explicit regime caps. */
  private[graft] def minhashLshPairs(df: DataFrame, idCol: String,
                                     textCol: String, n: Int,
                                     threshold: Double, k: Int, bands: Int,
                                     exactRecallGuard: Boolean,
                                     regimes: Regimes): DataFrame = {
    val rowsPerBand = k / bands
    def bandedFrom(sigs: DataFrame): DataFrame = sigs.select(col(idCol),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          hash((b * rowsPerBand until (b + 1) * rowsPerBand)
            .map(i => col(s"mh_$i")): _*).as("key"))
      }: _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.key").as("key"))
      // cached: the self-join below references this twice — uncached, the
      // signature pass over the full corpus executes once per side. Ints
      // only, n_docs×bands rows, so it stays compact even at corpus scale.
      .cache()
    def lshCandsFrom(banded: DataFrame): DataFrame =
      banded.select(col("band"), col("key"), col(idCol).as("id_a"))
        .join(banded.select(col("band"), col("key"), col(idCol).as("id_b")),
          Seq("band", "key"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
    if (exactRecallGuard) {
      // full-corpus shingle table: the prefix guard ranks every doc's
      // shingles by global frequency, and verification reuses the same
      // rows. With that table materialized anyway, signatures come from
      // the aggregate form OVER THE CACHED SHINGLES (one int-keyed
      // shuffle) instead of the one-pass UDF — the regex tokenizer runs
      // ONCE on this path, not once per consumer (cross-checked equal
      // signature-for-signature in SimilaritySpec).
      val sh = shingles(df, idCol, textCol, n).cache()
      val banded = bandedFrom(minhashSignatures(sh, idCol, k))
      val cands = lshCandsFrom(banded).union(prefixCandidates(sh, idCol, threshold))
        .distinct().cache()
      val out = verifyCandidates(sh, cands, idCol, threshold,
        localMaxShingles = regimes.verifyLocalMaxShingles)
      materializeAndRelease(out, banded, cands, sh)
    } else driverBatch(df, idCol, textCol, regimes) match {
      case Some(rows) =>
        lshPairsOnDriver(df.sparkSession, rows, df.schema(idCol).dataType,
          n, threshold, k, bands)
      case None =>
        // signatures in one narrow pass — no exploded-shingle shuffle
        val banded = bandedFrom(minhashSignaturesOnePass(df, idCol, textCol, n, k))
        val lshCands = lshCandsFrom(banded)
        // cached: the candidate set is referenced three times below (id list,
        // pair semi-join) — uncached, the signature pass + banding self-join
        // would re-execute per reference
        val cands = lshCands.distinct().cache()
        // verify candidates with exact Jaccard — shingle the CANDIDATE docs
        // only (candidate count ≈ dup count << corpus, so this index is tiny;
        // the full-corpus inverted index never materializes on this path)
        val candIds = cands.select(col("id_a").as(idCol))
          .union(cands.select(col("id_b").as(idCol))).distinct()
        val sh = shingles(df.join(candIds, Seq(idCol), "left_semi"),
          idCol, textCol, n).cache()
        val out = verifyCandidates(sh, cands, idCol, threshold,
          localMaxShingles = regimes.verifyLocalMaxShingles)
        materializeAndRelease(out, banded, cands, sh)
    }
  }

  /** The LSH band keys of one signature: per band, the Murmur3 chain that
    * Spark's `hash(mh_i, …)` computes over the band's rows (seed 42, each
    * row a `LongType`) — the distributed regime's join key, so a key
    * collision adds the same candidate in both regimes.
    */
  private def bandKeys(sig: Array[Long], bands: Int,
                       rowsPerBand: Int): Array[Int] =
    Array.tabulate(bands) { b =>
      (b * rowsPerBand until (b + 1) * rowsPerBand).foldLeft(42) { (h, i) =>
        org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction.hash(
          sig(i), org.apache.spark.sql.types.LongType, h).toInt
      }
    }

  /** [[minhashLshPairs]]' driver regime over the collected (id, text)
    * batch, row-identical to the distributed regime: the signatures and
    * band keys of the same functions, candidates from shared (band, key)
    * buckets, and the broadcast verify regime's merge-intersect over each
    * candidate id's concatenated, sorted shingle sets. Each candidate pair
    * goes to Spark in both orientations, and Spark's own `id_a < id_b`
    * keeps one, so the pair order is Spark's for every id type. The
    * result is a `LocalRelation`: no Spark job.
    */
  private def lshPairsOnDriver(spark: org.apache.spark.sql.SparkSession,
                               rows: Array[org.apache.spark.sql.Row],
                               idType: org.apache.spark.sql.types.DataType,
                               n: Int, threshold: Double, k: Int,
                               bands: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val coefs = minhashCoefs(k, 42L)
    val buckets = scala.collection.mutable.HashMap
      .empty[(Int, Int), scala.collection.mutable.ArrayBuffer[Any]]
    for (row <- rows; sig <- minhashSignature(row.getString(1), n, coefs))
      bandKeys(sig, bands, k / bands).zipWithIndex.foreach { case (key, b) =>
        buckets.getOrElseUpdate((b, key),
          scala.collection.mutable.ArrayBuffer.empty) += row.get(0)
      }
    val cands = scala.collection.mutable.LinkedHashSet.empty[(Any, Any)]
    for (ids <- buckets.values; a <- ids; b <- ids
         if a != null && b != null && a != b) cands += ((a, b))
    val candIds = cands.iterator.map(_._1).toSet
    val sets = rows.filter(r => candIds(r.get(0))).groupBy(_.get(0))
      .map { case (id, rs) => id -> rs.flatMap(r => shingleSet(r.getString(1), n)).sorted }
    val schema = StructType(Seq(StructField("id_a", idType),
      StructField("id_b", idType), StructField("inter", LongType),
      StructField("sz_a", LongType), StructField("sz_b", LongType)))
    localFrame(spark, schema, cands.toSeq.map { case (a, b) =>
        val (x, y) = (sets(a), sets(b))
        Row(a, b, mergeIntersect(x, y), x.length.toLong, y.length.toLong)
      })
      .filter(col("id_a") < col("id_b"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** MinHash estimator-accuracy audit: for every TRUE near-dup pair
    * (exact n-gram Jaccard ≥ threshold), the signature-estimated Jaccard —
    * the fraction of k MinHash components that agree — next to the exact
    * value and their absolute error. This is the calibration table that
    * justifies a chosen k before trusting the sublinear LSH path at scale:
    * E[est] = J with Var = J(1-J)/k, and the audit makes the realized
    * error distribution inspectable per corpus.
    *
    * Engine-portable by construction, so a plain SQL oracle recomputes the
    * signatures bit-for-bit: the base hash is the LOW 64 bits of MD5 read
    * as an UNSIGNED value mod p = 2^31-1 (DuckDB: `md5_number_lower(s) %
    * p`; here: signed-long floorMod plus the 2^64 ≡ 4 (mod p) correction
    * for negative longs — known-answer spec pins the equivalence), and the
    * k affine permutations share [[minhashCoefs]] with the production
    * signatures.
    *
    * Scale shape: one shingle table feeds both halves — the exact pair
    * join (index-join + size closure, the q24 engine) and a per-doc k-min
    * aggregation (map-side combinable); the signature join back onto pairs
    * is pair-bounded. Estimates are exact k-denominator fractions, so the
    * 6dp round sees identical IEEE values in both engines.
    */
  def minhashEstimateAudit(df: DataFrame, idCol: String, textCol: String,
                           n: Int, threshold: Double, k: Int,
                           seed: Long = 42L): DataFrame = {
    val p = 2147483647L
    val coefs = minhashCoefs(k, seed)
    val xOf = udf { s: String =>
      val l = md5Low64Token(s)
      val m = ((l % p) + p) % p
      if (l < 0) (m + 4) % p else m
    }
    val sh = shingles(df, idCol, textCol, n).cache()
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val pairs = sh.select(col(idCol).as("id_a"), col("shingle"))
      .hint("shuffle_hash")
      .join(sh.select(col(idCol).as("id_b"), col("shingle")), Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col(idCol).as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("__j",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("__j") >= threshold)
      .select(col("id_a"), col("id_b"), col("__j"))
    val aggs = coefs.zipWithIndex.toIndexedSeq.map { case ((a, b), i) =>
      min(pmod(col("__x") * a + b, lit(p))).as(s"mh_$i")
    }
    val sigs = sh.select(col(idCol), xOf(col("shingle")).as("__x"))
      .groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
    def side(tag: String) = sigs.select(
      col(idCol).as(s"id_$tag") +:
        (0 until k).map(i => col(s"mh_$i").as(s"${tag}_mh_$i")): _*)
    val matches = (0 until k)
      .map(i => when(col(s"a_mh_$i") === col(s"b_mh_$i"), 1).otherwise(0))
      .reduce(_ + _)
    val out = pairs
      .join(side("a"), Seq("id_a"))
      .join(side("b"), Seq("id_b"))
      .withColumn("__est", matches.cast("double") / lit(k.toDouble))
      .select(col("id_a"), col("id_b"),
        round(col("__j"), 6).as("jaccard"),
        round(col("__est"), 6).as("est_jaccard"),
        round(abs(col("__est") - col("__j")), 6).as("abs_err"))
    materializeAndRelease(out, sh)
  }

  /** CDC window-hash constants: polynomial base and prime modulus, plus
    * the descending power table B^(w-1)..B^0 (mod M) — interpolated as
    * LITERALS into both the Spark expression and the SQL oracle so the
    * two engines share the exact arithmetic.
    */
  private[graft] val CdcB = 257L
  private[graft] val CdcM = 1000000007L
  private[graft] def cdcPows(w: Int): IndexedSeq[Long] =
    Iterator.iterate(1L)(p => p * CdcB % CdcM).take(w).toIndexedSeq.reverse

  /** Content-defined chunking (CDC) duplication profile — the
    * LBFS/rsync-family char-level dedup signal (Muthitacharoen et al.
    * 2001, "A Low-Bandwidth Network File System" §3.1): a chunk boundary
    * falls after position i whenever the hash of the trailing `w`-char
    * window ≡ 0 (mod `modulus`), so boundaries move WITH the content —
    * an insertion re-chunks only its neighborhood, where fixed-offset
    * blocks would shift every subsequent block (the property token
    * shingles get from sliding windows, obtained here without storing
    * every position). Per doc: chunk count, chunks/chars whose exact
    * content recurs anywhere in the corpus, and the duplicated-char
    * fraction.
    *
    * Portability: the window hash is the Rabin-style polynomial
    * Σ code(cᵢ)·B^(w-1-i) mod M (B = 257, M = 1e9+7), whose low bits mod
    * `modulus` decide boundaries. The SQL oracle evaluates it as w
    * multiply-adds per position from the [[cdcPows]] literals; here the
    * whole per-doc scan is ONE linear-pass UDF with the O(1) rolling
    * update h' = (h − c_out·B^(w-1))·B + c_in (mod M) — the [[shingles]]
    * precedent: a per-char HOF pipeline (split + filter-over-sequence)
    * measured ~2.5× slower at sf0.1, an md5-per-window rule ~6× slower.
    * Character codes are UTF-16 code units here vs code points in the
    * oracle — identical for BMP text (corpus and fixtures are BMP-only),
    * and the chunking property does not depend on which valid code
    * sequence the rule sees.
    *
    * Scale shape: chunking is a narrow per-doc pass (no shuffle); the
    * only wide ops are a chunk-keyed count aggregation, the posting
    * join back, and the per-doc rollup — [[TextMining.noveltyProfile]]'s
    * shape over chunk content instead of shingles. Chunk identity is the
    * exact STRING (no hash-collision caveat); expected chunk length ≈
    * `modulus` chars, so the chunk index carries ~1/modulus the rows of a
    * char-gram table.
    */
  /** The (id, chunk) table behind [[cdcDupProfile]] — every CDC chunk
    * occurrence in document order. Exposed for the incremental streaming
    * twin, which indexes chunk hashes instead of re-profiling the corpus.
    */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
                w: Int, modulus: Int): DataFrame = {
    val bw1 = cdcPows(w).head // B^(w-1) mod M
    val chunkUdf = udf { t: String =>
      if (t == null || t.isEmpty) Array.empty[String]
      else {
        val bnd = scala.collection.mutable.ArrayBuffer(0)
        var h = 0L
        var i = 0
        while (i < t.length) {
          val c = t.charAt(i).toLong
          h = if (i < w) (h * CdcB + c) % CdcM
              else (((h - t.charAt(i - w).toLong * bw1 % CdcM + CdcM) % CdcM)
                * CdcB + c) % CdcM
          if (i >= w - 1 && h % modulus == 0) bnd += (i + 1)
          i += 1
        }
        if (bnd.last != t.length) bnd += t.length
        Array.tabulate(bnd.length - 1)(j => t.substring(bnd(j), bnd(j + 1)))
      }
    }
    df.select(col(idCol), explode(chunkUdf(col(textCol))).as("chunk"))
  }

  def cdcDupProfile(df: DataFrame, idCol: String, textCol: String,
                    w: Int = 8, modulus: Int = 64): DataFrame = {
    val chunks = cdcChunks(df, idCol, textCol, w, modulus)
    val freq = chunks.groupBy(col("chunk")).agg(count(lit(1)).as("__n"))
    chunks.join(freq, Seq("chunk"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__n") >= 2, 1L).otherwise(0L)).as("dup_chunks"),
        sum(length(col("chunk"))).cast("long").as("total_chars"),
        sum(when(col("__n") >= 2, length(col("chunk"))).otherwise(0))
          .cast("long").as("dup_chars"))
      .withColumn("dup_frac",
        round(col("dup_chars").cast("double") / col("total_chars").cast("double"), 6))
  }

  /** 64-bit SimHash per document: per-bit majority vote over xxhash64 token
    * hashes, weighted by term frequency.
    *
    * Computed in ONE pass per document (narrow map, no shuffle): the
    * explode-tokens + 64-column groupBy formulation shuffles every token row
    * and evaluates 64 aggregate expressions per token — measured 12.3 s at
    * sf0.1 vs ~1 s for this form. Token hashes use Spark's own XXH64
    * (seed 42), bit-identical to `xxhash64(tok)`, so signatures match the
    * aggregate formulation row-for-row (cross-checked in SimilaritySpec).
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashWith(df, idCol, textCol, xxh64Token)

  /** Oracle-portable SimHash twin: token hash = LOW 64 bits of MD5, i.e.
    * digest bytes 8..15 read little-endian — bit-identical to DuckDB's
    * `md5_number_lower(tok)`, which is what makes the q25 pair set
    * verifiable by a plain SQL oracle (xxhash64 exists only in Spark).
    * MD5 costs ~5× XXH64 per token; use [[simhash]] on the hot path and
    * this variant where cross-engine verifiability matters.
    */
  def simhashMd5(df: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashWith(df, idCol, textCol, md5Low64Token)

  private def xxh64Token(tok: String): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(tok),
      org.apache.spark.sql.types.StringType, 42L)

  /** Low 64 bits of MD5(tok): digest bytes 8..15, little-endian (the
    * DuckDB `md5_number_lower` convention; known-answer test in
    * SimilaritySpec pins the bit layout).
    */
  private[graft] def md5Low64Token(tok: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(d, 8, 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
  }

  private def simhashWith(df: DataFrame, idCol: String, textCol: String,
                          tokenHash: String => Long): DataFrame = {
    val sig = udf { text: String =>
      if (text == null) None
      else {
        val m = tokenRe.matcher(text.toLowerCase(java.util.Locale.ROOT))
        val counts = new Array[Int](64)
        var any = false
        while (m.find()) {
          any = true
          val h = tokenHash(m.group())
          var b = 0
          while (b < 64) {
            if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
            b += 1
          }
        }
        if (!any) None // match the aggregate form: zero-token docs emit no row
        else {
          var s = 0L; var b = 0
          while (b < 64) { if (counts(b) > 0) s |= (1L << b); b += 1 }
          Some(s)
        }
      }
    }
    df.select(col(idCol), sig(col(textCol)).as("simhash"))
      .filter(col("simhash").isNotNull)
  }

  /** SimHash near-dup pairs: Hamming distance ≤ maxDist, found by banding
    * the 64-bit signature into 4×16-bit keys (pigeonhole: any pair within
    * distance ≤3 shares at least one exact 16-bit band... only when the ≤3
    * differing bits fall outside it — guaranteed for maxDist ≤ 3 with 4
    * bands). Verified with bit_count(xor).
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 3, md5Portable: Boolean = false): DataFrame = {
    val sig = if (md5Portable) simhashMd5(df, idCol, textCol)
              else simhash(df, idCol, textCol)
    hammingPairs(sig, idCol, "simhash", maxDist)
  }

  /** Hamming-distance ≤ `maxDist` pairs over ANY 64-bit signature column
    * — the banding half of [[simhashPairs]], reusable for other 64-bit
    * perceptual signatures (e.g. the image average-hash in
    * [[Multimodal.imageNearDupPairs]]). 4×16-bit band keys (pigeonhole:
    * exact recall for maxDist ≤ 3), `bit_count(xor)` verification, only
    * (id, 8-byte signature) rows ever enter the join.
    */
  def hammingPairs(sig: DataFrame, idCol: String, sigCol: String,
                   maxDist: Int = 3): DataFrame = {
    val banded = sig.select(col(idCol), col(sigCol),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"),
          shiftright(col(sigCol), b * 16).bitwiseAND(0xFFFFL).as("key"))
      }: _*)).as("bk"))
      .select(col(idCol), col(sigCol),
        col("bk.band").as("band"), col("bk.key").as("key"))
    banded.select(col("band"), col("key"), col(idCol).as("id_a"),
      col(sigCol).as("sh_a"))
      .join(banded.select(col("band"), col("key"), col(idCol).as("id_b"),
        col(sigCol).as("sh_b")), Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxDist)
      .dropDuplicates("id_a", "id_b")
  }

  private def pmod(c: org.apache.spark.sql.Column, m: org.apache.spark.sql.Column) =
    ((c % m) + m) % m
}

/** Return row of [[DedupOps.repetitionStats]] — field names become the
  * output column names when the struct is expanded.
  */
final case class RepStats(
    n_tokens: Long,
    top_bigram_n: Long,
    dup_trigram_occ: Long,
    n_distinct_trigrams: Long)
