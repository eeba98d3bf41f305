package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph analytics for crawl curation — page/host AUTHORITY as a
  * quality signal ([[Urls.hostReputation]] gates on spam structure; rank
  * gates on endorsement structure — the two classic complements in web
  * corpus filtering).
  *
  * PageRank here is EXACT-INTEGER fixed-point: ranks live in scaled
  * micro-units and every step is long arithmetic — per-edge contribution
  * `(dampingPermille · rank) div (1000 · outdeg)` (floor division), then
  * an integer sum per destination. Floating-point PageRank is
  * order-dependent under distributed summation (double addition does not
  * commute), so the same graph can hash differently across partitionings
  * and engines; the integer formulation is partitioning-invariant and
  * oracle-replayable BY CONSTRUCTION — the ns61/ns65/ns71 exactness
  * lesson applied to an iterative algorithm. The deliberate quantization
  * (≤ 1 micro-unit truncation per in-edge per iteration) is part of the
  * declared contract, not an accident of the engine.
  */
object Graphs {

  /** `iterations` rounds of damped PageRank over `edges` (src, dst),
    * returning (node, rank) in scaled integer units (initial rank =
    * `scale` per node; teleport share = (1000 − dampingPermille) ‰ of
    * scale). Dangling nodes (no outlinks) contribute nothing — their
    * mass is NOT redistributed, a documented simplification shared with
    * the oracle. Duplicate edges count once per occurrence.
    *
    * Scale shape: per iteration ONE src-keyed join of the rank frame
    * (node-cardinality, narrow) into the edge list and ONE dst-keyed
    * integer-sum aggregation — edges never materialize per-pair state
    * beyond the shuffle, and the rank frame is AQE-broadcastable while
    * small. Lineage is BOUNDED at any iteration count: every
    * `checkpointEvery` rounds the rank frame is `localCheckpoint`ed
    * (eager — node-cardinality, the Pregel superstep-materialization
    * move), so the plan never grows past ~2·checkpointEvery joins where
    * a naive loop at iterations=50 folds ~100 joins into one plan whose
    * analysis time and stage graph explode before data size matters.
    * Each checkpoint also buys an EXACT early exit for free: one step
    * from the materialized frame, and if no node's integer rank moved
    * the fixed point is reached — every remaining iteration would
    * reproduce the same frame bit-for-bit (the integer dynamics are a
    * deterministic function of the rank vector), so stopping cannot
    * change the output, only skip no-ops. Float PageRank has no such
    * exact test — another reason the fixed point is integer. */
  def pagerankInt(
      edges: DataFrame,
      iterations: Int = 5,
      dampingPermille: Long = 850,
      scale: Long = 1000000L,
      checkpointEvery: Int = 8): DataFrame = {
    require(iterations >= 1 && iterations <= 50,
      "iterations must be in [1, 50]")
    require(dampingPermille >= 0 && dampingPermille <= 1000,
      "dampingPermille must be in [0, 1000]")
    require(checkpointEvery >= 1, "checkpointEvery must be >= 1")
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // each edge is weighted with its source's outdegree ONCE, outside the
    // loop — the old shape re-joined outdeg inside every iteration. The
    // invariant subtree stays un-checkpointed deliberately: AQE's
    // ReusedExchange already serves the identical per-iteration copies,
    // and lazy checkpoints here MEASURED two extra materialization jobs.
    // Same integer arithmetic, same rows.
    val eW = e.join(outdeg, "src")
      .select(col("src"), col("dst"), col("outdeg"))
    val teleport = scale * (1000L - dampingPermille) / 1000L
    def step(ranks: DataFrame): DataFrame = {
      val contribs = eW
        .join(ranks, eW("src") === ranks("node"))
        .select(col("dst"),
          expr(s"($dampingPermille * rank) DIV (1000 * outdeg)").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("in_mass"))
      nodes
        .join(contribs, nodes("node") === contribs("dst"), "left_outer")
        .select(col("node"),
          (lit(teleport) + coalesce(col("in_mass"), lit(0L))).as("rank"))
    }
    var ranks = nodes.select(col("node"), lit(scale).as("rank"))
    var i = 0
    var converged = false
    // superseded rank checkpoints are dead the moment the next one
    // materializes — free them (the resolveClusters discipline) so a
    // long-lived session doesn't pin one node-table copy per 8 rounds;
    // the FINAL checkpoint stays live inside the returned plan
    val snapshots = new Materialize.Latest
    while (i < iterations && !converged) {
      if (i > 0 && i % checkpointEvery == 0) {
        ranks = snapshots.replace(Materialize.local(ranks, eager = true))
        val next = step(ranks)
        val prev = ranks.select(col("node").as("p_node"),
          col("rank").as("p_rank"))
        // exact integer fixed-point test over the materialized frame:
        // cheap (prev is a checkpoint, next is one step deep)
        converged = next
          .join(prev, col("node") === col("p_node"))
          .where(col("rank") =!= col("p_rank")).isEmpty
        if (!converged) { ranks = next; i += 1 }
      } else {
        ranks = step(ranks)
        i += 1
      }
    }
    ranks
  }

  /** Per-node triangle counts over an undirected reading of `edges` —
    * the mutual-endorsement density signal (link farms are
    * triangle-dense; organic link graphs are tree-like), and the classic
    * demonstration that the JOIN ORDER is the algorithm at scale.
    *
    * The naive closure (edge ⋈ edge ⋈ edge) explodes on the wedge count
    * Σ deg(v)² — a single popular page with in-degree d generates d²
    * candidate wedges. Degree-ordered ORIENTATION bounds it: each
    * undirected edge is stored once, directed from the (degree, id)-
    * SMALLER endpoint to the larger; every triangle then has exactly one
    * node with two OUT-edges, wedges form only at out-degree ≤ O(√m)
    * nodes, and the join volume is O(m^{3/2}) regardless of skew — the
    * hub's d² wedges simply never materialize. Same two-equi-join plan
    * shape, provably bounded candidate volume.
    *
    * Self-loops drop; parallel edges collapse (a triangle is a set of
    * three nodes). Output: (node, n_triangles) for every node of the
    * graph, zeros included; order unspecified.
    *
    * Subtree reuse: `und` feeds FOUR consumers (nodes, deg, orientation,
    * closure) and `oriented` sits on BOTH sides of the wedge self-join —
    * without materialization the distinct+degree lineage executes three
    * times, tripling the heaviest scan at scale. Both frames are
    * `localCheckpoint`ed eagerly (one snapshot behind both sides of a
    * self-join, as `Perceptual.nearDupPairs` takes of its hashes), so
    * the dedup/degree work runs ONCE and every join reads the
    * materialized edge list. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val und = Materialize.local(edges
      .select(least(col("src"), col("dst")).cast("long").as("a"),
        greatest(col("src"), col("dst")).cast("long").as("b"))
      .where(col("a") =!= col("b"))
      .distinct(), eager = true)
    val nodes = und.select(col("a").as("node"))
      .unionByName(und.select(col("b").as("node"))).distinct()
    val deg = und.select(col("a").as("node"))
      .unionByName(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // orient: u -> v with (deg(u), u) < (deg(v), v)
    val withDeg = und
      .join(deg.withColumnRenamed("node", "a")
        .withColumnRenamed("deg", "deg_a"), "a")
      .join(deg.withColumnRenamed("node", "b")
        .withColumnRenamed("deg", "deg_b"), "b")
    val oriented = Materialize.local(withDeg.select(
      when(col("deg_a") < col("deg_b") ||
        (col("deg_a") === col("deg_b") && col("a") < col("b")),
        struct(col("a").as("u"), col("b").as("v")))
        .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v")), eager = true)
    // wedges at the out-degree-bounded apex, closed against oriented edges
    val wedges = oriented.as("x").join(oriented.as("y"),
        col("x.u") === col("y.u") && col("x.v") < col("y.v"))
      .select(col("x.u").as("apex"), col("x.v").as("p"), col("y.v").as("q"))
    // close against the CANONICAL (a < b) edge form — a pure equi-join on
    // computed keys (an OR over both orientations would plan as a
    // nested loop, failing the suite's own plan sweep)
    val triangles = wedges.join(und.as("z"),
        least(col("p"), col("q")) === col("z.a") &&
          greatest(col("p"), col("q")) === col("z.b"))
      .select(col("apex"), col("p"), col("q"))
    val perNode = triangles
      .select(explode(array(col("apex"), col("p"), col("q"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    nodes.join(perNode, Seq("node"), "left_outer")
      .select(col("node"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** G3 — thread linearization by PATH DOUBLING: turn a parent-pointer
    * forest (reply threads, comment trees, quote chains) into one row
    * per node carrying `(root_id, depth, path)` — the root-to-node id
    * path a conversation-flattening pipeline needs to rebuild ordered
    * context windows from threaded logs. The reference has no
    * recursive surface at all; SQL engines use WITH RECURSIVE (the
    * oracle does), which walks ONE level per iteration — O(depth)
    * sequential joins. Distributed, the right algorithm is pointer
    * DOUBLING (the [[graft.ops.Dedup]] connected-components move,
    * carrying paths): each round every node's known-ancestor pointer
    * jumps to its ancestor's pointer and the two path segments concat,
    * so a depth-d forest finishes in ⌈log₂ d⌉ + 1 rounds of ONE
    * anc-keyed equi-join each — 20 rounds cover depth 2²⁰.
    *
    * Invariant per round: `path` is the id path from the node's known
    * top ancestor down to itself (inclusive), `depth` its edge count,
    * `anc` the next unexplored ancestor (NULL once the top is a root).
    * Parents must exist (forest integrity — a dangling parent id fails
    * fast rather than silently orphaning a subtree).
    *
    * Scale shape: state rows are (id, anc, depth, path) — the path
    * string is bounded by tree depth × digit width, not corpus size;
    * each round is one equi-join (hub parents with millions of
    * children are plain equi-join fan-out, no NLJ) followed by
    * `localCheckpoint` to keep the plan flat (the [[pagerankInt]]
    * hardening). Convergence is exact: the loop stops when no non-NULL
    * `anc` remains. */
  def linearizePaths(
      nodes: DataFrame, idCol: String, parentCol: String,
      maxRounds: Int = 20): DataFrame = {
    require(maxRounds >= 1, "maxRounds must be >= 1")
    // ONE action per round (r16, the Dedup convergence-fold move): the
    // state is LAZILY checkpointed and the round's single aggregate both
    // materializes the blocks and returns the open-ancestor count — the
    // old shape paid a separate eager-checkpoint job plus a limit-probe
    // job per round. count(anc) counts non-NULL ancs: 0 IS convergence.
    val snapshots = new Materialize.Latest
    var st = snapshots.replace(Materialize.local(nodes
      .select(col(idCol).cast("long").as("id"),
        col(parentCol).cast("long").as("anc"),
        col(idCol).cast("string").as("path"),
        when(col(parentCol).isNull, 0L).otherwise(1L).as("depth")), eager = false))
    var rounds = 0
    var open = st.agg(count(col("anc"))).head.getLong(0) > 0L
    while (open) {
      require(rounds < maxRounds,
        s"forest deeper than 2^$maxRounds or a parent cycle: " +
          "raise maxRounds or fix the input")
      val a = st.select(col("id").as("__aid"), col("anc").as("__aanc"),
        col("path").as("__apath"), col("depth").as("__adepth"))
      val joined = st.join(a, col("anc") === col("__aid"), "left")
      // forest integrity, round 1 only (later anc values are drawn from
      // the already-validated id set): the dangling marker rides the
      // state row into the SAME materializing aggregate instead of its
      // own full-state probe, and is projected off before round 2
      val withFlag = rounds == 0
      val baseCols = Seq(col("id"),
        when(col("anc").isNull, col("anc")).otherwise(col("__aanc"))
          .as("anc"),
        when(col("anc").isNull, col("path"))
          .otherwise(concat(col("__apath"), lit("/"), col("path")))
          .as("path"),
        when(col("anc").isNull, col("depth"))
          .otherwise(col("depth") + col("__adepth")).as("depth"))
      val cols = if (withFlag)
        baseCols :+ (col("anc").isNotNull && col("__aid").isNull).as("__d")
      else baseCols
      val next = Materialize.local(joined.select(cols: _*), eager = false)
      val row =
        if (withFlag)
          next.agg(count(col("anc")), sum(col("__d").cast("long"))).head
        else next.agg(count(col("anc"))).head
      if (withFlag)
        require(row.isNullAt(1) || row.getLong(1) == 0L,
          s"dangling parent pointers in '$parentCol' (not a forest)")
      open = row.getLong(0) > 0L
      // the superseded round's checkpoint is dead the moment `next`
      // materializes — free it (the pagerankInt discipline), or a
      // 2^20-deep forest pins 21 full state copies for the session
      snapshots.replace(next)
      st = if (withFlag) next.drop("__d") else next
      rounds += 1
    }
    st.select(col("id").as(idCol),
      element_at(split(col("path"), "/"), 1).cast("long").as("root_id"),
      col("depth"), col("path"))
  }
}
