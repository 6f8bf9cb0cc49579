package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Link-graph signals for corpus curation. Web-scale pipelines weight
  * documents by their position in the link graph (domain/page authority);
  * this is the standard damped PageRank, made schedule-deterministic.
  *
  * Determinism: ranks are FIXED-POINT longs (units of 1/`scale`), damping
  * is the exact rational 17/20 (= 0.85), and every per-iteration value is
  * integer arithmetic — `(r * 17) / 20 / outdeg` shares, long-sum
  * accumulation (commutative, overflow-safe: total mass <= N·scale) — so
  * the result is bit-identical under any partitioning, retry or merge
  * order, and a DuckDB oracle can unroll the same iterations (q134).
  * Floating-point PageRank would make both properties impossible (float
  * sums don't commute).
  *
  * Semantics: r0(v) = scale for every node; each iteration
  * r'(v) = (scale·3)/20 + Σ_{u→v} ((r(u)·17)/20)/outdeg(u), with floor at
  * every division. Dangling nodes (no out-edges) contribute nothing —
  * the common "lost mass" variant, documented rather than redistributed
  * (redistribution needs a global scalar per iteration; easy to add, but
  * the lost-mass form is what the oracle replays). Edges are deduplicated;
  * self-loops participate like any edge.
  *
  * 100-TB shape: per iteration ONE shuffle keyed by dst (the contribution
  * aggregation, partial map-side) plus an equi-join of edges to the rank
  * table on src — both standard hash exchanges on compact (long, long)
  * rows; no collect, no driver-side state. Iterations are a fixed small
  * count (signals converge in a handful of damped rounds); each round's
  * rank table is persisted and the previous one unpersisted, so lineage
  * stays O(1). */
object Graph {

  /** Per-node triangle counts over the undirected simple graph —
    * the standard link-graph clustering/spam signal (a page whose
    * neighborhood is triangle-dense sits in a tight community; link farms
    * show extreme values). Self-loops and duplicate/reverse edges are
    * dropped first.
    *
    * 100-TB shape — degree-ordered orientation (the classic
    * compact-forward / Cohen MapReduce scheme): every undirected edge is
    * directed from its lower-(degree, id) endpoint to the higher, so each
    * wedge is generated exactly once at its lowest-rank corner and
    * out-degrees are bounded by O(√m) — a hub with 10^7 in-links generates
    * NO wedge explosion, because its spokes all point INTO it. The plan is
    * three hash equi-joins on compact long keys (edges⋈deg twice to
    * orient, oriented⋈oriented on the wedge corner, wedge⋈oriented to
    * close) plus one partial-aggregated count — no nested loop, no
    * driver-side state. Output is exact and schedule-deterministic
    * (integer counts). Returns ("node", "triangles") with zero rows for
    * triangle-free nodes. */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val s = col(srcCol).cast("long")
    val d = col(dstCol).cast("long")
    val und = edges
      .where(s.isNotNull && d.isNotNull && s =!= d)
      .select(least(s, d).as("a"), greatest(s, d).as("b"))
      .distinct()
    val deg = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val nodes = deg.select("node")
    // orient a→b when (deg_a, a) < (deg_b, b); a < b already, so the id
    // tiebreak keeps the a→b direction on equal degrees
    val oriented = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(
        when(col("da") < col("db") || (col("da") === col("db")), col("a"))
          .otherwise(col("b")).as("u"),
        when(col("da") < col("db") || (col("da") === col("db")), col("b"))
          .otherwise(col("a")).as("v"),
        when(col("da") < col("db") || (col("da") === col("db")), col("db"))
          .otherwise(col("da")).as("dv"))
    // wedges at the lowest-rank corner u: pair out-edges (u→v, u→w) with
    // rank(v) < rank(w); the closing edge must then be oriented v→w
    val o1 = oriented.select(col("u"), col("v"), col("dv"))
    val o2 = oriented.select(col("u"), col("v").as("w"), col("dv").as("dw"))
    val tris = o1.join(o2, "u")
      .where(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
      .join(oriented.select(col("u").as("v"), col("v").as("w")), Seq("v", "w"))
      .select(col("u"), col("v"), col("w"))
    val corners = tris.select(col("u").as("node"))
      .union(tris.select(col("v").as("node")))
      .union(tris.select(col("w").as("node")))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    nodes.join(corners, Seq("node"), "left")
      .select(col("node"), coalesce(col("triangles"), lit(0L)).as("triangles"))
  }

  /** k-core decomposition membership: the nodes of the MAXIMAL subgraph
    * in which every node has degree >= k. The k-core is UNIQUE (the
    * largest fixpoint of S -> {v : deg_S(v) >= k}), so the result is
    * value-deterministic — unlike label-propagation communities, which is
    * what makes it oracle-able (q154 unrolls the same peel in SQL).
    *
    * Iterative peeling over the undirected simple graph (loops dropped,
    * both orientations deduped): each round removes every node whose
    * CURRENT degree is < k, until no node drops. Rounds = peel depth;
    * the edge list is checkpointed once, then each round checkpoints the
    * dropped nodes (one partial-aggregated degree count; their number is
    * the stop test) and the edges left after two anti-joins, all through
    * [[Iterate]] — no driver-side data. A hub's degree only shrinks as
    * its neighbors peel, so work decreases monotonically.
    *
    * Returns ("node") — the k-core members. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxIter: Int = 100): DataFrame = {
    require(k >= 1 && maxIter >= 1)
    val s = col(srcCol).cast("long")
    val d = col(dstCol).cast("long")
    val und = edges
      .where(s.isNotNull && d.isNotNull && s =!= d)
      .select(least(s, d).as("a"), greatest(s, d).as("b"))
      .distinct()
    var e = Iterate.checkpoint(und.select(col("a"), col("b"))
      .union(und.select(col("b").as("a"), col("a").as("b"))), lit(true)).frame
    Iterate.loop("k-core peeling", maxIter) { _ =>
      val gone = Iterate.checkpoint(e.groupBy("a")
        .agg(count(lit(1)).as("__d")).filter(col("__d") < k)
        .select(col("a").as("__gone")), lit(true))
      val drop = gone.frame
      val more = gone.nonEmpty
      if (more)
        e = Iterate.checkpoint(e
          .join(drop, e("a") === drop("__gone"), "left_anti")
          .join(drop, e("b") === drop("__gone"), "left_anti"), lit(true)).frame
      more
    }
    e.select(col("a").as("node")).distinct()
  }

  /** @param edges  link table; one row per (src, dst) pair (dupes dropped)
    * @param iters  fixed iteration count (>= 0 — 0 returns r0 = scale)
    * @param scale  fixed-point denominator
    * @return ("node", "rank") — rank in units of 1/scale */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, scale: Long = 1000000000L): DataFrame = {
    require(iters >= 0, "iters must be >= 0")
    require(scale >= 20, "scale must be >= 20")
    val e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val outdeg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("outdeg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val base = scale * 3L / 20L

    // The iteration count is FIXED (no data-dependent control flow), so the
    // rounds compose into ONE lazy plan: each r_i feeds r_{i+1} exactly once
    // (a straight-line DAG), the persisted e/nodes/outdeg are computed once
    // inside the single final action, and the per-iteration
    // persist+count+unpersist job pair — pure scheduling latency at any
    // scale, one full extra pass over the rank table per round — is gone
    // (guide §2.4: remove materialization barriers that buy nothing).
    // Deep runs truncate the growing plan every `CheckpointEvery` rounds so
    // planning time and lineage stay bounded.
    val CheckpointEvery = 8
    var r = nodes.withColumn("rank", lit(scale))
    for (i <- 1 to iters) {
      // share(u) = ((r·17) div 20) div outdeg — integral DIV, not `/`
      // (Spark's `/` on longs is double division; DIV truncates, which on
      // these all-positive values equals the floor the oracle replays)
      val share = r.join(outdeg, "node")
        .select(col("node").as("src"),
          expr("((rank * 17L) DIV 20L) DIV outdeg").as("share"))
      val contribs = e.join(share, "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("share")).as("in_mass"))
      r = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(base) + coalesce(col("in_mass"), lit(0L))).as("rank"))
      if (i % CheckpointEvery == 0 && i < iters)
        r = r.localCheckpoint(eager = true)
    }
    r
  }
}
