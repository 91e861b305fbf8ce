package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph primitives for dedup-group resolution: near-dup PAIRS
  * (from [[DedupOps]]) become dedup GROUPS only after transitive closure —
  * the step every training-data dedup pipeline needs between "a~b, b~c" and
  * "keep one of {a,b,c}".
  */
object GraphOps {

  /** Vertex-table row count at or under which the per-round loop joins
    * (CC labels, pageRank ranks) run in the broadcast regime; past it,
    * the shuffle fallback. [[Regimes]] carries it, so the regime-equality
    * spec can force the fallback on a small graph.
    */
  private[graft] val BroadcastMaxRows: Long = 5000000L

  /** Edge count at or under which [[kCore]] peels with broadcast
    * semi-joins against the keep-set (vertices ≤ 2·edges, so the
    * keep-set is bounded by 2× this under [[BroadcastMaxRows]]'s cap);
    * past it, the shuffle peel that materializes the shrinking survivor
    * graph. Carried by [[Regimes]] like [[BroadcastMaxRows]].
    */
  private[graft] val KCoreBroadcastMaxEdges: Long = 2500000L

  /** The regime caps of the graph loops, one field per switch. The public
    * operators run under the defaults; a spec passes a zero to force the
    * shuffle fallback and pins it row-identical to the broadcast regime
    * (TemporalSpec).
    */
  private[graft] final case class Regimes(
      broadcastMaxRows: Long = BroadcastMaxRows,
      kcoreBroadcastMaxEdges: Long = KCoreBroadcastMaxEdges)

  /** Connected components by iterative min-label propagation: every node
    * starts labeled with itself; each round every node takes the minimum
    * label among itself and its neighbors; fixed point = components labeled
    * by their minimum member (deterministic).
    *
    * Scale shape: each round is one shuffle join (edges × labels) + one
    * groupBy — no driver-side graph state, and `localCheckpoint` cuts the
    * lineage so round N doesn't replay rounds 1..N-1. Rounds needed = graph
    * diameter; dedup graphs are near-cliques (diameter ≤ 3-4 in practice).
    * For adversarial long-chain graphs, large-star/small-star (Kiveris et
    * al., "Connected Components in MapReduce") halves the round count; not
    * needed for the dedup workload this serves.
    *
    * Returns (id, component) for every node appearing in `edges`.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIters: Int = 20): DataFrame =
    connectedComponents(edges, srcCol, dstCol, maxIters, Regimes())

  /** [[connectedComponents]] under explicit regime caps. */
  private[graft] def connectedComponents(edges: DataFrame, srcCol: String,
                                         dstCol: String, maxIters: Int,
                                         regimes: Regimes): DataFrame = {
    val spark = edges.sparkSession
    val und = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .union(edges.select(col(dstCol).as("a"), col(srcCol).as("b")))
      .distinct().localCheckpoint()
    var labels = und.select(col("a").as("id")).distinct()
      .select(col("id"), col("id").as("component")).localCheckpoint()
    // Same guard as pageRank: the label table is vertex-sized — while it
    // fits a broadcast, ship labels to the (checkpointed, never
    // reshuffled) edge partitions instead of shuffling the edge list every
    // round; past the guard fall back to the shuffle join.
    val broadcastLabels = labels.count() <= regimes.broadcastMaxRows
    var converged = false
    var i = 0
    while (i < maxIters && !converged) {
      val lblSide = labels.withColumnRenamed("id", "a")
      // round 1 labels are the identity (component = id), so the label
      // join degenerates to relabeling the edge list itself — one join
      // (and its broadcast build) saved on every call, exact by
      // construction
      val viaNeighbor =
        if (i == 0) und.select(col("b").as("id"), col("a").as("component"))
        else und
          .join(if (broadcastLabels) broadcast(lblSide) else lblSide, Seq("a"))
          .select(col("b").as("id"), col("component"))
      val next = labels.union(viaNeighbor)
        .groupBy("id").agg(min("component").as("component"))
        .localCheckpoint(eager = false)
      // fixed point when no label changed — an exact join-count against the
      // previous (checkpointed, in-memory) labeling; works for any id type,
      // unlike a label-sum check (string ids don't sum; hash-range longs
      // overflow under ANSI). The count is the ONE action of the round:
      // it reads every partition of the lazily-checkpointed next (the
      // vertex-keyed join has no short-circuit), so it materializes the
      // checkpoint as a side effect — one job per round, not two.
      val changed = next.withColumnRenamed("component", "__new")
        .join(labels, Seq("id"))
        .filter(col("__new") =!= col("component"))
        .count()
      labels = next
      converged = changed == 0
      i += 1
    }
    labels
  }

  /** PageRank over a directed edge list, fixed iteration count (the
    * citation-importance measure the reference approximates with its
    * hand-rolled log-citation score — here as the real fixed-point
    * computation). rank₀ = 1; rankₖ₊₁(v) = (1-d) + d·Σ rankₖ(u)/outdeg(u)
    * over edges u→v; dangling nodes keep the (1-d) floor.
    *
    * Each round is one shuffle join (edges × ranks) + one groupBy —
    * contributions combine map-side, the edge list is checkpointed once
    * with its out-degrees attached, and `localCheckpoint` keeps round N
    * from replaying rounds 1..N-1. Node ids must be unique across both
    * roles (offset one side if the key spaces overlap).
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, damping: Double = 0.85): DataFrame =
    pageRank(edges, srcCol, dstCol, iters, damping, Regimes())

  /** [[pageRank]] under explicit regime caps. */
  private[graft] def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
                              iters: Int, damping: Double,
                              regimes: Regimes): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().localCheckpoint()
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct().localCheckpoint()
    val withDeg = e.join(
        e.groupBy("src").agg(count(lit(1)).as("deg")), Seq("src"))
      .localCheckpoint()
    // The rank table has one row per node — when it fits a broadcast, the
    // per-round join ships ranks to the (checkpointed, never reshuffled)
    // edge partitions instead of shuffling the edge list every round. Past
    // the threshold, fall back to a shuffle join on src (edges would then
    // best be pre-partitioned by src upstream).
    val broadcastRanks = nodes.count() <= regimes.broadcastMaxRows
    var ranks = nodes.select(col("id"), lit(1.0).as("rank"))
    (1 to iters).foreach { _ =>
      val r = ranks.withColumnRenamed("id", "src")
      val contrib = withDeg
        .join(if (broadcastRanks) broadcast(r) else r, Seq("src"))
        .select(col("dst").as("id"), (col("rank") / col("deg")).as("c"))
      ranks = nodes
        .join(contrib.groupBy("id").agg(sum("c").as("s")), Seq("id"), "left")
        .select(col("id"),
          (lit(1.0 - damping) + lit(damping) * coalesce(col("s"), lit(0.0)))
            .as("rank"))
        // LAZY checkpoint: the plan is truncated immediately (round N's
        // optimizer never sees rounds 1..N-1) but no per-round job is
        // submitted — the caller's one action materializes the cascade,
        // each round cached as it computes. Fixed-iteration loops with no
        // convergence check pay zero driver round-trips this way.
        .localCheckpoint(eager = false)
    }
    ranks
  }

  /** k-core: the maximal subgraph where every vertex keeps degree ≥ k —
    * the standard "dense collaboration cluster" extraction (and, in
    * training-data land, the connector-hub filter for citation/link
    * graphs). Computed by iterative peeling: drop vertices with degree
    * < k, recompute, repeat until fixed point.
    *
    * Each round is one degree aggregate + one semi-join filter of the
    * edge list; `localCheckpoint` per round cuts the growing lineage
    * (same loop discipline as [[connectedComponents]]). The driver sees
    * only the per-round edge count (the convergence check). Rounds
    * needed = peeling depth; real graphs converge in tens of rounds,
    * each O(|E_remaining|).
    *
    * Returns the surviving vertices as (v, deg) with their in-core
    * degree.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxIters: Int = 50): DataFrame =
    kCore(edges, srcCol, dstCol, k, maxIters, Regimes())

  /** [[kCore]] under explicit regime caps. */
  private[graft] def kCore(edges: DataFrame, srcCol: String, dstCol: String,
                           k: Int, maxIters: Int, regimes: Regimes): DataFrame = {
    val edges0 = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint()
    val nEdges0 = edges0.count()
    if (nEdges0 <= regimes.kcoreBroadcastMaxEdges) kCoreBroadcastPeel(edges0, nEdges0, k, maxIters)
    else kCoreShufflePeel(edges0, nEdges0, k, maxIters)
  }

  /** Broadcast-eligible peel loop. Keep-sets shrink MONOTONICALLY (a vertex
    * dropped in round r has no edges in round r+1's graph, so it can never
    * re-qualify), which means the round-r survivor graph is exactly
    * `edges0` semi-joined with the LATEST keep-set alone — earlier keeps
    * are supersets and filter nothing. So the loop never materializes a
    * shrinking edge table: each round is ONE job (scan the checkpointed
    * original edges, two broadcast semi joins against the vertex-sized
    * checkpointed keep, one endpoint-count shuffle), and only the
    * vertex-sized degree table is checkpointed. Convergence is read off
    * that degree table for free: no vertex below k ⇒ fixed point.
    *
    * ONE driver job per round: the degree table is LAZILY checkpointed
    * and the convergence aggregate (nV, nKeep in one pass) is the action
    * that materializes it — the iteration cost is rounds × one job, not
    * rounds × (materialize + two counts). Measured: the per-round job
    * overhead, not the data, dominated q121 at sf0.1.
    */
  private def kCoreBroadcastPeel(edges0: DataFrame, nEdges0: Long, k: Int,
                                 maxIters: Int): DataFrame = {
    var keep: DataFrame = null // null = round 1, all vertices still in
    var lastDeg: DataFrame = null
    var converged = nEdges0 == 0L
    var iter = 0
    while (!converged && iter < maxIters) {
      // ONE broadcast per round, not two: both semi-joins reference the
      // SAME broadcast(keep) subplan (join conditions instead of
      // renamed copies), so canonicalization makes the second
      // BroadcastExchange a ReusedExchange — the per-round broadcast
      // build job halves (rounds × build cost was the measured q121
      // loop floor)
      val cur =
        if (keep == null) edges0
        else {
          val bkeep = broadcast(keep)
          edges0
            .join(bkeep, col("a") === col("v"), "left_semi")
            .join(bkeep, col("b") === col("v"), "left_semi")
        }
      val deg = cur.select(col("a").as("v")).union(cur.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
        .localCheckpoint(eager = false)
      val st = deg.agg(count(lit(1)).as("nv"),
        sum(when(col("deg") >= k, 1L).otherwise(0L)).as("nk")).head()
      val nV = st.getLong(0)
      val nKeep = if (st.isNullAt(1)) 0L else st.getLong(1)
      keep = deg.filter(col("deg") >= k).select("v")
      converged = nKeep == nV || nKeep == 0L
      lastDeg = deg
      iter += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"kCore stopped after maxIters=$maxIters before reaching a fixed " +
          "point; the result is an UPPER BOUND on the true k-core — " +
          "vertices below degree k may remain. Raise maxIters for an " +
          "exact core.")
    if (lastDeg == null) // zero-edge graph: empty (v, deg) result
      edges0.select(col("a").as("v"), lit(0L).as("deg")).limit(0)
    else if (converged) lastDeg.filter(col("deg") >= k)
      .select(col("v"), col("deg").cast("long").as("deg"))
    else // maxIters hit: degrees of the current survivor graph, as-is
      lastDeg.select(col("v"), col("deg").cast("long").as("deg"))
  }

  /** Past the broadcast guard the keep-set no longer fits an executor, so
    * each round semi-joins by SHUFFLE — there, re-filtering the original
    * edge table every round would re-shuffle the full 100 TB edge list per
    * round, and materializing the shrinking survivor graph (so later
    * rounds pay only for what remains) is the right trade. One shrinking
    * edge checkpoint + one degree shuffle per round.
    */
  private def kCoreShufflePeel(edges0: DataFrame, nEdges0: Long, k: Int,
                               maxIters: Int): DataFrame = {
    var cur = edges0
    var nEdges = nEdges0
    var done = nEdges == 0L
    var iter = 0
    while (!done && iter < maxIters) {
      val deg = cur.select(col("a").as("v")).union(cur.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select("v")
      // lazy checkpoint: the convergence count is the materializing action
      val next = cur
        .join(keep.withColumnRenamed("v", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("v", "b"), Seq("b"), "left_semi")
        .localCheckpoint(eager = false)
      val n = next.count()
      done = n == nEdges || n == 0L
      cur = next
      nEdges = n
      iter += 1
    }
    if (!done)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"kCore stopped after maxIters=$maxIters before reaching a fixed " +
          s"point ($nEdges edges remain); the result is an UPPER BOUND on " +
          "the true k-core — vertices below degree k may remain. Raise " +
          "maxIters for an exact core.")
    cur.select(col("a").as("v")).union(cur.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).cast("long").as("deg"))
  }

  /** Exact triangle count over an undirected edge list via degree
    * orientation (Cohen's MapReduce formulation / the `NodeIterator++`
    * idea): orient every edge from its lower-(degree, id) endpoint to the
    * higher, so each triangle is counted exactly once — at its
    * minimum-order vertex — and the wedge join fans out per vertex in
    * O(orientedDeg²) where orientedDeg ≤ √(2·|E|) for EVERY vertex,
    * including power-law hubs. A hub of degree 10⁶ contributes ~|E| wedges
    * un-oriented but only ~2·|E| total across ALL vertices oriented — the
    * difference between a dead executor and an even shuffle at 100 TB.
    *
    * Input rows are (src, dst) in any order/multiplicity; self-loops are
    * dropped. Returns one row: (n_edges, n_triangles).
    */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // canonical undirected edge set (a < b), deduped
    val e = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .cache() // referenced 4× below (degrees, orientation, closing join);
               // lazy cache, not localCheckpoint: no loop lineage to cut
               // here, and an eager checkpoint would cost an extra job
    val deg = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    // The total order is the (deg, id) TUPLE compared lexicographically —
    // no dense-rank window (a global row_number is a single-partition
    // bottleneck at scale). deg is one small row per vertex; AQE
    // broadcasts it when it fits, shuffles on the key when it doesn't.
    val lowFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oe = e
      .join(deg.select(col("v").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("deg").as("db")), Seq("b"))
      .select(
        when(lowFirst, col("a")).otherwise(col("b")).as("src"),
        when(lowFirst, col("b")).otherwise(col("a")).as("dst"),
        when(lowFirst, col("db")).otherwise(col("da")).as("ddst"))
      .cache()
    // wedges at the minimum-order vertex; the closing edge (v, w) is
    // oriented v→w because (deg, id)(v) < (deg, id)(w) by construction
    val wedges = oe.select(col("src"), col("dst").as("v"), col("ddst").as("dv"))
      .join(oe.select(col("src"), col("dst").as("w"), col("ddst").as("dw")), Seq("src"))
      .filter(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
    val tris = wedges.join(
      oe.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
    // materialize the single result row, then release both cached edge
    // sets — in a long session (the 126-query registry back to back) the
    // alternative is cached edge lists piling up until LRU eviction
    val row = e.agg(count(lit(1)).cast("long").as("n_edges"))
      .crossJoin(tris.agg(count(lit(1)).cast("long").as("n_triangles")))
      .head()
    e.unpersist()
    oe.unpersist()
    val spark = edges.sparkSession
    import spark.implicits._
    Seq((row.getLong(0), row.getLong(1))).toDF("n_edges", "n_triangles")
  }

  /** Minimum hop distance from a seed set, bounded at `maxHops` — the
    * transitive-contamination closure: a doc that near-duplicates a
    * contaminated doc is itself suspect, and so on outward. Direct n-gram
    * decontamination (q79) catches hop 0 only; this walks the near-dup
    * graph to flag the paraphrase-of-a-paraphrase tail.
    *
    * `seeds` is one `idCol` column (hop 0); `edges` an undirected pair
    * list. Returns (id, hop) for every node within `maxHops` of a seed,
    * hop = shortest distance (seeds themselves at 0, even if also
    * reachable).
    *
    * Scale shape: classic frontier BFS as iterated joins — each round
    * joins only the PREVIOUS frontier (new nodes at hop h−1, a shrinking
    * dup-bounded set) against the checkpointed edge list, then folds into
    * the label table with a min-hop groupBy. `localCheckpoint` cuts loop
    * lineage; an emptied frontier exits early (the count is frontier-sized,
    * not corpus-sized). Labels stay vertex-bounded; AQE broadcasts the
    * frontier side of the join while it fits, shuffles past that.
    */
  def minHopFrom(seeds: DataFrame, edges: DataFrame, srcCol: String,
                 dstCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    val idCol = seeds.columns.head
    val und = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .union(edges.select(col(dstCol).as("a"), col(srcCol).as("b")))
      .distinct().localCheckpoint()
    var labels = seeds.select(col(idCol).as("id")).distinct()
      .withColumn("hop", lit(0L)).localCheckpoint()
    var h = 1L
    var exhausted = false
    while (h <= maxHops && !exhausted) {
      val frontier = labels.filter(col("hop") === (h - 1L))
        .select(col("id").as("a"))
      val next = und.join(frontier, Seq("a"))
        .select(col("b").as("id")).distinct()
        .withColumn("hop", lit(h))
      val folded = labels.union(next)
        .groupBy("id").agg(min("hop").as("hop"))
        .localCheckpoint(eager = false)
      // full count, no limit: the exhaustion check is the ONE action of
      // the hop and reads every partition, materializing the lazy
      // checkpoint as a side effect (the CC pattern) — one driver job
      // per hop instead of materialize + probe
      exhausted = folded.filter(col("hop") === h).count() == 0
      labels = folded
      h += 1L
    }
    labels
  }

  /** Synchronous label propagation (Raghavan et al. 2007, deterministic
    * variant): every node starts as its own label; each round every node
    * adopts the most frequent label among its neighbors, ties broken to
    * the SMALLEST label — fully deterministic, so a fixed `rounds` count
    * admits an exactly-unrolled SQL oracle (the q85 PageRank pattern).
    * Communities are density-driven (unlike [[connectedComponents]],
    * which only needs reachability). Returns (id, label).
    *
    * Scale shape: per round, ONE shuffle of (edge-endpoint, label) rows
    * for the neighbor-label count plus a node-keyed rank window over the
    * (node, distinct-neighbor-label) aggregate — bounded by each node's
    * label diversity, not its degree; `localCheckpoint` per round cuts
    * the loop lineage (the GraphOps convention).
    */
  /** One synchronous LPA round as a DataFrame (pre-checkpoint): join the
    * labels onto edge destinations, count neighbor labels per node, keep
    * the most frequent (ties → smallest label). The winner is a struct
    * ARGMIN over (−n, label) — lexicographic min ≡ max count then min
    * label — instead of a rank window: same result, but the second
    * aggregate partial-combines map-side and needs no per-partition
    * sort (measured q215 5.0 → 3.5 s warm at sf0.1). Exposed so
    * PlanShapeSpec can pin the per-round shuffle shape — edge-keyed
    * exchanges only, never a single-partition stage.
    */
  private[graft] def lpaRound(und: DataFrame, labels: DataFrame): DataFrame =
    und
      .join(labels.withColumnRenamed("id", "b"), Seq("b"))
      .groupBy(col("a"), col("label")).agg(count(lit(1)).as("n"))
      .groupBy(col("a"))
      .agg(min(struct((-col("n")).as("negn"), col("label"))).as("best"))
      .select(col("a").as("id"), col("best.label").as("label"))

  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       rounds: Int): DataFrame = {
    val und = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .union(edges.select(col(dstCol).as("a"), col(srcCol).as("b")))
      .distinct().localCheckpoint()
    var labels = und.select(col("a").as("id")).distinct()
      .select(col("id"), col("id").as("label")).localCheckpoint()
    var r = 0
    while (r < rounds) {
      // lazy: fixed rounds, no convergence probe — the caller's action
      // materializes all rounds in one cascade (see pageRank).
      // Round 1 labels are the identity (label = id), so its label join
      // degenerates to counting neighbors directly off the edge list —
      // one join saved, exact by construction (the CC round-1 move).
      // (und is a DISTINCT pair set, so round-1 neighbor-label counts
      // are all 1 and the argmax-then-smallest winner is just min(b))
      val roundDf =
        if (r == 0) und.groupBy(col("a"))
          .agg(min(col("b")).as("label"))
          .select(col("a").as("id"), col("label"))
        else lpaRound(und, labels)
      labels = roundDf.localCheckpoint(eager = false)
      r += 1
    }
    labels
  }
}
