package graft.operators

import graft.CacheScope
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph primitives for dedup clustering.
  *
  * Near-dup detection emits PAIRS (MinHash/SimHash candidates,
  * [[DedupQueries]]); a pipeline needs CLUSTERS — "keep one doc per
  * connected component of the similarity graph". At 100 TB the component
  * structure can't live on the driver, so components are computed by
  * iterative min-label propagation over distributed frames: every vertex
  * starts labeled with its own id, each round every vertex takes the min
  * of its own and its neighbors' labels, and the loop stops when no label
  * changes. Each round is one equi-join + one aggregation (both shuffle on
  * the vertex id); rounds needed = component diameter, which for dup
  * clusters (dense near-cliques) is 2-4.
  *
  * The driver orchestrates the loop but holds no graph data — each round's
  * convergence check reads ONE count. This is the standard Pregel-style
  * shape (GraphX's connectedComponents does the same message/min rounds);
  * it is inherently multi-job, unlike the single-plan queries elsewhere in
  * the engine, and [[DedupQueries]]'s `dedup_components` documents that.
  */
object GraphOps {
  /** Connected components of the undirected graph given by `edges`
    * (columns `src`, `dst`). Returns (doc_id, component_id) for every
    * vertex incident to an edge; component_id = min vertex id in the
    * component — a deterministic labeling, independent of partitioning and
    * round count. Fails loudly if `maxIter` rounds don't converge. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25): DataFrame = {
    // persist the (possibly expensive) edge generator while the symmetric
    // union materializes — it's referenced twice, and the pin means every
    // later round reads a compact leaf instead of re-embedding (and
    // re-shipping, in each stage's task binary) the generator's lineage
    val sym = CacheScope.persisting(edges.select(col("src"), col("dst"))) { e0 =>
      CacheScope.pinned(e0.select(col("src"), col("dst"))
        .union(e0.select(col("dst").as("src"), col("src").as("dst"))))
    }
    // round 0's labels: persisted (round 1 reads them three times), then
    // released with the other retired rounds below
    var labels = CacheScope.cached(sym.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // neighbor labels flow along edges; min with the vertex's own label
      val neigh = sym.join(labels.select(col("id").as("__nid"), col("label")),
          col("dst") === col("__nid"))
        .select(col("src").as("id"), col("label"))
      // POINTER DOUBLING (the shortcut hop of large-star/small-star CC —
      // Kiveris et al., "Connected Components in MapReduce and Beyond",
      // SoCC 2014): each vertex also adopts its label's label. Plain
      // neighbor propagation needs DIAMETER rounds — a 100-replica
      // copy-of-copy chain at sf10 blew the 25-round budget; with the
      // label(label(v)) hop the frontier distance halves every round, so
      // convergence is O(log diameter) and 25 rounds cover diameters to
      // ~2^25. The hop preserves the invariant (labels only ever decrease
      // toward the component's min id), so the fixed point is unchanged.
      val hop = labels
        .join(labels.select(col("id").as("__hid"), col("label").as("__hlabel")),
          col("label") === col("__hid"))
        .select(col("id"), col("__hlabel").as("label"))
      // pin EVERY round. `labels` appears three times in a round's plan
      // (self + neighbor hop + both sides of the label-of-label join), so
      // without truncation the logical tree TRIPLES per round — 3^k
      // subtree copies by round k. A pin-every-5 cadence measured 82 s at
      // sf10 (10–25 s per checkpoint replan, growing analysis cost in the
      // rounds between); pinning each round keeps every plan one round
      // deep — 0.1 s per pin, 16 s total, identical labels. The pin is
      // also the round's only materialization: the convergence count below
      // reads the leaf.
      val next = CacheScope.pinned(
        labels.select(col("id"), col("label")).union(neigh).union(hop)
          .groupBy(col("id")).agg(min(col("label")).as("label")))
      val changed = next
        .join(labels.select(col("id"), col("label").as("__old")), Seq("id"))
        .filter(col("label") =!= col("__old")).count()
      // the retired round is dead once `changed` is counted: release it
      // now, so at most two label tables are stored at once
      CacheScope.releasePin(labels)
      labels = next
      converged = changed == 0
      iter += 1
    }
    require(converged, s"connectedComponents: no convergence in $maxIter rounds")
    // the final labels frame is the last round's pin: it backs the returned
    // (lazy) result until the harness's next CacheScope.releaseAll()
    labels.select(col("id").as("doc_id"), col("label").as("component_id"))
  }

  /** Exact triangle count of the undirected graph given by unique pairs
    * (`doc_a` < `doc_b`). Edges are ORIENTED from the (degree, id)-smaller
    * endpoint to the larger before the two-hop join: each triangle is
    * counted exactly once, and per-vertex join fan-out is bounded by the
    * oriented out-degree (≤ √(2m) on any graph) — the standard guard
    * against hub-vertex quadratic blow-up in distributed triangle
    * counting. Returns one row (n_vertices, n_edges, n_triangles). */
  def triangleStats(pairs: DataFrame): DataFrame = {
    val aLower = col("da") < col("db") ||
      (col("da") === col("db") && col("doc_a") < col("doc_b"))
    // pin the oriented edge list now (three legs of the triangle join scan
    // it), then the pair generator can be released: every downstream count
    // derives from `e` (one row per unique pair)
    val e = CacheScope.persisting(pairs.select(col("doc_a"), col("doc_b"))) { p =>
      val deg = p.select(col("doc_a").as("id")).union(p.select(col("doc_b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("deg"))
      CacheScope.pinned(p
        .join(deg.select(col("id").as("doc_a"), col("deg").as("da")), "doc_a")
        .join(deg.select(col("id").as("doc_b"), col("deg").as("db")), "doc_b")
        .select(when(aLower, col("doc_a")).otherwise(col("doc_b")).as("src"),
          when(aLower, col("doc_b")).otherwise(col("doc_a")).as("dst")))
    }
    val tri = e.select(col("src").as("a"), col("dst").as("b"))
      .join(e.select(col("src").as("b"), col("dst").as("c")), "b")
      .join(e.select(col("src").as("a"), col("dst").as("c")), Seq("a", "c"))
      .agg(count(lit(1)).as("n_triangles"))
    val nVerts = e.select(col("src").as("id")).union(e.select(col("dst").as("id")))
      .distinct().agg(count(lit(1)).as("n_vertices"))
    nVerts
      .crossJoin(broadcast(e.agg(count(lit(1)).as("n_edges"))))
      .crossJoin(broadcast(tri))
  }

  /** BFS hop distances (MIN over walks of length ≤ 4 from the seed set) by
    * level-synchronous frontier expansion: each hop joins the CURRENT
    * frontier with the edge list, dedups the targets, and anti-joins the
    * already-visited set — so per-hop work is bounded by the edge count and
    * total rows by 5·|V|, regardless of cluster density.
    *
    * The declarative twin — the recursive CTE the DuckDB oracle runs
    * verbatim ([[graft.operators.DedupQueries.bfsCtes]], UNION ALL frontier
    * expansion + MIN(hop)) — counts PATHS, not vertices: inside a dense
    * near-dup cluster (degree d) the walk materializes ~d⁴ rows per seed,
    * which blows past any row budget once clusters grow (observed: 12.7k
    * walk rows at sf0.1 → 111.5M at sf1 for a 36× edge increase; Spark 4
    * additionally cannot dedup inside the recursion —
    * UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE). Min-hop-per-vertex is the same
    * answer computed vertex-wise; [[graft.RecursiveBfsSpec]] pins engine ≡
    * native-recursive-CTE ([[bfsHopsRecursiveCte]]) on the fixture graph. */
  def bfsHops(spark: org.apache.spark.sql.SparkSession, pairs: DataFrame): DataFrame = {
    // pin the pair generator: the symmetric edge frame is scanned once per
    // hop (4×) plus the seed scan — without the checkpoint each hop would
    // re-run the banded simhash self-join that produced the pairs
    val p = CacheScope.pinned(pairs.select(col("doc_a"), col("doc_b")))
    val edges = CacheScope.pinned(
      p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(p.select(col("doc_b").as("src"), col("doc_a").as("dst"))))
    val seeds = CacheScope.pinned(
      edges.filter(col("src") % 10 === 0).select(col("src").as("id")).distinct()
        .withColumn("hop", lit(0L)))
    var visited = seeds // min-hop per vertex: BFS order guarantees first touch = min
    var frontier = seeds
    for (h <- 1 to 4) {
      // next frontier: neighbors of the current one, minus anything already
      // reached (visited carries every vertex with hop < h). Pinned: it is
      // scanned by the next hop's join AND by the growing visited union.
      val next = CacheScope.pinned(
        frontier.join(edges, frontier("id") === edges("src"))
          .select(edges("dst").as("id")).distinct()
          .join(visited.select(col("id")), Seq("id"), "left_anti")
          .withColumn("hop", lit(h.toLong)))
      visited = visited.union(next)
      frontier = next
    }
    visited.select(col("id").as("doc_id"), col("hop").as("hops"))
  }

  /** The declarative BFS: Spark 4's NATIVE recursive CTE (planned as
    * UnionLoop), running [[graft.operators.DedupQueries.bfsCtes]] — the
    * same SQL text the DuckDB oracle executes. Correct at any scale but
    * path-enumerating (see [[bfsHops]]); kept as the spec-pinned semantic
    * reference for the frontier implementation. */
  def bfsHopsRecursiveCte(spark: org.apache.spark.sql.SparkSession, pairs: DataFrame): DataFrame = {
    // materialize the pair generator ONCE before the recursion: UnionLoop
    // re-reads the anchor/edge relations every iteration, and without the
    // pin each of the ≤4 hops would re-run the whole banded simhash
    // self-join instead of scanning a tiny in-memory leaf
    CacheScope.pinned(pairs.select(col("doc_a"), col("doc_b")))
      .createOrReplaceTempView("pairs")
    spark.sql("WITH RECURSIVE\n" +
      DedupQueries.bfsCtes.map { case (n, q) => s"$n AS (\n$q\n)" }.mkString(",\n") +
      "\n" + DedupQueries.bfsSelect)
  }

  /** PageRank centrality over the undirected graph given by unique pairs
    * (`doc_a` < `doc_b`), in EXACT scaled-integer arithmetic.
    *
    * Scores live in micro-units (1.0 → 1 000 000) and every division is
    * integer floor division, so each of the [[PrIters]] power-iteration
    * steps is a deterministic function of the previous one — bit-for-bit
    * identical in Spark (`DIV`) and DuckDB (`//`), unlike double-typed
    * PageRank where summation order leaks into the low bits. The
    * truncation error is bounded by 1 micro-unit per neighbor per step —
    * irrelevant for ranking, decisive for cross-engine hash equality.
    *
    * Per-node damping form: s_{t+1}(v) = 0.15 + 0.85 · Σ_{u→v} s_t(u)/deg(u)
    * (the un-normalized variant that fixes the base mass per node rather
    * than dividing by N — ranks identically to the classic form). The
    * iterations unroll into ONE plan: each step is an equi-join with the
    * static (edges ⋈ deg) frame plus a keyed aggregation — shuffle keys
    * stay `id` throughout, so at scale every step reuses the same hash
    * partitioning. Symmetric edges mean every vertex has deg ≥ 1 and
    * receives mass every step (no dangling-node special case). */
  def pageRank(pairs: DataFrame, iters: Int = PrIters): DataFrame = {
    // the pair generator (banded near-dup candidates) is the expensive
    // input and is referenced twice below (edge side + degree side of the
    // union) — pin it so building the static frame runs it ONCE
    // each step scans edges-with-degree once; the pin computes the static
    // frame NOW (so the generator cache can be dropped immediately) and
    // truncates its lineage, keeping the unrolled steps' plans and task
    // binaries small
    val edgesDeg = CacheScope.persisting(pairs.select(col("doc_a"), col("doc_b"))) { p =>
      val sym = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      CacheScope.pinned(sym
        .join(sym.groupBy(col("src")).agg(count(lit(1)).as("deg")), "src"))
    }
    var scores = edgesDeg.select(col("src").as("id")).distinct()
      .withColumn("score", lit(1000000L))
    (1 to iters).foreach { _ =>
      scores = edgesDeg
        .join(scores.select(col("id").as("src"), col("score")), "src")
        .select(col("dst").as("id"), expr("score DIV deg").as("c"))
        .groupBy(col("id"))
        .agg(expr("150000 + (85 * SUM(c)) DIV 100").as("score"))
    }
    scores.select(col("id").as("doc_id"), col("score").cast("long").as("pr_micro"))
  }

  /** Fixed PageRank iteration count — shared by the engine plan and the
    * unrolled oracle CTE chain. */
  val PrIters = 5

  /** Label-propagation community detection over the undirected graph given
    * by unique pairs (`doc_a` < `doc_b`) — the MODE-based refinement of
    * [[connectedComponents]]: where components answer "what is reachable",
    * LPA answers "what clumps densely" (a bridge edge between two near-
    * cliques leaves them in distinct communities because a single
    * cross-label neighbor is outvoted).
    *
    * Synchronous updates, [[LpIters]] rounds unrolled into ONE lazy plan:
    * every vertex starts labeled with its own id; each round each vertex
    * adopts the most frequent label among its NEIGHBORS, ties broken by
    * the smallest label. The (frequency DESC, label ASC) argmax makes each
    * round a deterministic function of the previous one — no dependence on
    * partitioning, task order, or hash seeds — so the whole trainer is
    * hash-checkable against the oracle's unrolled CTE replay, exactly like
    * [[pageRank]]. Fixed rounds (not convergence-checked) keep the plan
    * action-free; synchronous LPA can oscillate on bipartite-ish graphs,
    * but a fixed horizon makes even an oscillation deterministic.
    *
    * Scale: each round is an equi-join with the static symmetric edge
    * frame (persisted — built once) plus a two-level aggregation, all
    * keyed by vertex id, so every round reuses the same hash partitioning.
    * The (id,label) count feeds a `max_by(label, (count, -label))` hash
    * aggregation — no sort-based window in the loop. */
  def labelPropagation(pairs: DataFrame, iters: Int = LpIters): DataFrame = {
    // the pair generator (banded near-dup candidates) is referenced twice
    // by the symmetric union — persist it so it runs once; the pin (every
    // round scans it) truncates lineage so the unrolled rounds plan against
    // a compact leaf, and the generator cache is dropped as soon as the
    // edges are materialized
    val sym = CacheScope.persisting(pairs.select(col("doc_a"), col("doc_b"))) { p =>
      CacheScope.pinned(
        p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
          .union(p.select(col("doc_b").as("src"), col("doc_a").as("dst"))))
    }
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
    (1 to iters).foreach { _ =>
      labels = sym
        .join(labels.select(col("id").as("src"), col("label")), "src")
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("c"))
        .groupBy(col("dst"))
        .agg(max_by(col("label"), struct(col("c"), (-col("label")).as("nl")))
          .as("label"))
        .select(col("dst").as("id"), col("label"))
    }
    labels.select(col("id").as("doc_id"), col("label").as("community_id"))
  }

  /** Fixed label-propagation round count — shared by the engine plan and
    * the unrolled oracle CTE chain. Dup clusters are near-cliques of tiny
    * diameter; 4 synchronous rounds are past their fixpoint. */
  val LpIters = 4
}
