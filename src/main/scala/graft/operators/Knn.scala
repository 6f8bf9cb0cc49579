package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sql.Geo

/** Exact kNN via cell-ring expansion (SURVEY.md §2C).
  *
  * [[knnJoin]] is the engine path: queries stay a DataFrame of any
  * cardinality; each round explodes ring-r candidate cells per *incomplete*
  * query, equi-joins against the points' grid cell (Catalyst/AQE picks
  * broadcast vs shuffle from stats), takes windowed top-k, and retires
  * queries whose k-th distance is inside the guaranteed radius: a query is
  * done when its k-th best distance is <= ((r-1)*res)^2, because every point
  * within that distance lies inside Chebyshev ring r of the query cell.
  * Rounds are O(log) in the distance to the k-th neighbor. No driver-side
  * data loops — the rounds run through [[Iterate]], which checkpoints each
  * round's top-k and open query set and counts them in the same action.
  * Results are exact and deterministic (ties broken by the caller's tie
  * columns).
  */
object Knn {

  /** Convenience wrapper for a driver-side query list.
    *
    * @param points   df with lonCol/latCol + payload columns
    * @param queries  small query set: (qid, qlon, qlat)
    * @param k        neighbors per query
    * @param res      grid resolution in degrees
    * @param tieCols  deterministic tie-break columns on the point side
    * @return columns: qid, rank, dist2 + point payload columns
    */
  def knn(points: DataFrame, queries: Seq[(Long, Double, Double)], k: Int,
          res: Double, tieCols: Seq[String]): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    knnJoin(points, queries.toDF("qid", "qlon", "qlat"), k, res, tieCols)
  }

  /** Spherical kNN join — exact k nearest neighbors in METERS (haversine),
    * latitude-correct everywhere including poles and the antimeridian
    * (candidates come from the quasi-uniform spherical cell grid, not a
    * lon/lat lattice).
    *
    * Hierarchical expansion on spherical CAPS: round i covers the cap of
    * radius r_i around each open query via `st_cellcapcover` at a level
    * matched to r_i (cells comparable to the radius → bounded cover
    * size), with r quadrupling and the level coarsening by 2 per round —
    * covered radius quadruples at flat per-round cost, rounds =
    * O(log(distance to the k-th neighbor)), and the final cap covers the
    * whole sphere (termination even for antipodal neighbors). A query
    * retires when its k-th distance is ≤ r_i: the cap cover is a
    * GUARANTEED superset of the cells within r_i (lattice-ring stepping
    * is NOT sound across cube-face corners — the q84 sf0.1 sweep caught
    * that). Same one-heavy-job-per-round, checkpointed-results
    * discipline as [[knnJoin]].
    *
    * @param startLevel finest cell level (match expected neighbor
    *        distance: level 12 ≈ 1 km cells; too fine only adds rounds)
    * @return qid, rank, dist_m + point payload columns */
  def knnMetersJoin(points: DataFrame, queries: DataFrame, k: Int,
                    startLevel: Int = 12, tieCols: Seq[String] = Seq(),
                    persistPoints: Boolean = true,
                    onRound: (Int, Int, Long) => Unit = null): DataFrame = {
    val spark = points.sparkSession
    Geo.register(spark)
    require(startLevel >= 0 && startLevel <= 28)
    val celled = points.withColumn("__pcell", call_function("st_cellid",
      col("lon").cast("double"), col("lat").cast("double"), lit(startLevel)))
    val pts =
      if (persistPoints)
        celled.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else celled
    val leveled = queries.select(col("qid"),
        col("qlon").cast("double").as("qlon"),
        col("qlat").cast("double").as("qlat"))
      .withColumn("__lvl", lit(startLevel))
    metersLoop(pts, leveled, k, Seq(startLevel), tieCols, onRound)
  }

  /** Adaptive-start spherical kNN: per-query starting level chosen from a
    * bounded density sketch, so a large mixed query set doesn't pay
    * max-rounds in dense regions OR giant round-0 candidate joins in
    * sparse ones (the fixed-`startLevel` failure modes at 10^5+ queries).
    *
    * The sketch is points-per-cell at `sketchLevel` — at most 6·4^level
    * rows (24,576 at level 6), aggregated in ONE map-side-combined pass
    * and broadcast; each query reads its local density rho from its
    * sketch cell and picks the start radius where the expected round-0
    * candidate count is ~4k (`r = sqrt(4k·cellArea/(pi·count))`), clamped
    * to even levels in [0, maxStartLevel]. Queries in an EMPTY sketch
    * cell start at the sketch level itself (their k-th neighbor is at
    * least cell-scale away — starting finer only adds rounds).
    *
    * Points are celled ONCE at `maxStartLevel` and the single persisted
    * projection is shared by every level group (each round joins on
    * `st_cellparent(__pcell, level)`, which is valid for any level ≤ the
    * celling level). All groups run in ONE unified loop: because the
    * round radius depends only on the CURRENT level (radius = 2·minWidth
    * (level), and both coarsen in lockstep), a query entering when the
    * loop reaches its start level sees exactly the schedule its own
    * dedicated loop would have run — so groups share each round's
    * candidate join instead of paying per-group fixed costs (the first
    * 10^5-query bench measured that overhead at ~18% vs a tuned fixed
    * level). Results are EXACT and identical to [[knnMetersJoin]] — the
    * start level affects only the round schedule (q94 oracles this
    * against brute force). `onRound` (round, level, retired-count) feeds
    * the bench's rounds histogram; null skips the extra count. */
  def knnMetersJoinAdaptive(points: DataFrame, queries: DataFrame, k: Int,
                            tieCols: Seq[String] = Seq(),
                            persistPoints: Boolean = true,
                            sketchLevel: Int = 6, maxStartLevel: Int = 14,
                            onRound: (Int, Int, Long) => Unit = null): DataFrame = {
    val spark = points.sparkSession
    Geo.register(spark)
    require(sketchLevel >= 0 && sketchLevel <= maxStartLevel &&
      maxStartLevel <= 28)
    val lonD = col("lon").cast("double")
    val latD = col("lat").cast("double")
    // cell the points FIRST and derive the sketch from the persisted
    // projection (st_cellparent(__pcell, sketchLevel) ≡ st_cellid at
    // sketchLevel — the same identity every round join relies on): the
    // sketch aggregation materializes the persist as a side effect, so
    // the source is scanned once, not once for the sketch and again for
    // round 0 (r06; guide §1.2 — don't compute things twice).
    val celled = points.withColumn("__pcell", call_function("st_cellid",
      lonD, latD, lit(maxStartLevel)))
    val pts =
      if (persistPoints)
        celled.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else celled
    val sketch = pts
      .groupBy(call_function("st_cellparent", col("__pcell"),
        lit(sketchLevel)).as("__scell"))
      .agg(count(lit(1)).as("__scount"))
    // expected round-0 candidates ≈ rho·pi·r² = 4k  =>  r² = 4k·area/(pi·n)
    // radius(L) = 2·minWidth(L) = 2C/2^L  =>  L = floor(log2(2C / r))
    val cellArea = 4.0 * math.Pi *
      graft.core.Measure.EarthRadiusMeters * graft.core.Measure.EarthRadiusMeters /
      (6.0 * math.pow(4.0, sketchLevel))
    val c2 = 2.0 * graft.core.Cells.minEdgeMetersLowerBound(0)
    val qcell = call_function("st_cellid",
      col("qlon").cast("double"), col("qlat").cast("double"), lit(sketchLevel))
    val rQ = sqrt(lit(4.0 * k * cellArea / math.Pi) / col("__scount"))
    val lvlExpr = when(col("__scount").isNull, lit(sketchLevel))
      .otherwise(least(lit(maxStartLevel), greatest(lit(0),
        floor(log2(lit(c2) / rQ)).cast("int"))))
    val leveled = queries
      .select(col("qid"), col("qlon").cast("double").as("qlon"),
        col("qlat").cast("double").as("qlat"))
      .withColumn("__scell", qcell)
      .join(broadcast(sketch), Seq("__scell"), "left")
      // even levels only: the loop coarsens by 2 per round, so odd starts
      // would double the number of distinct level groups for no gain
      .withColumn("__lvl",
        (lvlExpr.cast("int") / 2).cast("int") * 2)
      .drop("__scell", "__scount")
      .localCheckpoint(eager = true)
    val levels = leveled.select(col("__lvl")).distinct()
      .collect().map(_.getInt(0)).sorted // bounded: ≤ maxStartLevel/2+1
    // an empty query set enters nothing at the finest level and ends there
    metersLoop(pts, leveled, k,
      if (levels.isEmpty) Seq(maxStartLevel) else levels.toSeq, tieCols, onRound)
  }

  /** The shared spherical-expansion loop with staged query activation:
    * `pts` must carry `__pcell` at a level ≥ every entry in `levels`;
    * `leveled` carries (qid, qlon, qlat, __lvl) with `__lvl` drawn from
    * the non-empty `levels`. The loop starts at the FINEST
    * entry level and coarsens by 2 per round (radius ×4 in lockstep, so
    * radius = 2·minWidth(level) at every round); queries activate when
    * the loop reaches their `__lvl` — from that round on their (level,
    * radius) schedule is identical to a dedicated loop started there, so
    * the output is exactly the per-group result while every round's
    * candidate join is shared. See [[knnMetersJoin]] for the algorithm.
    * `pts` is unpersisted when the loop ends. */
  private def metersLoop(pts: DataFrame, leveled: DataFrame, k: Int,
                         levels: Seq[Int], tieCols: Seq[String],
                         onRound: (Int, Int, Long) => Unit): DataFrame = {
    val spark = pts.sparkSession
    import spark.implicits._
    def minWidthMeters(level: Int): Double =
      graft.core.Cells.minEdgeMetersLowerBound(level)
    val halfSphere = math.Pi * graft.core.Measure.EarthRadiusMeters

    def roundTopk(remaining: DataFrame, level: Int,
                  radius: Double, finalRound: Boolean): DataFrame = {
      val cand = remaining.withColumn("__ccell",
        explode(call_function("st_cellcapcover",
          $"qlon", $"qlat", lit(radius), lit(level))))
      val joined = pts
        .withColumn("__cell",
          call_function("st_cellparent", col("__pcell"), lit(level)))
        .join(cand, $"__cell" === $"__ccell")
        .withColumn("__dist", call_function("st_distancesphere",
          $"lon".cast("double"), $"lat".cast("double"), $"qlon", $"qlat"))
        // drop beyond-radius candidates BEFORE the top-k sort. Semantics-
        // preserving: a query retires only when its k-th distance <= r, so
        // the retained top-k is identical for every query that retires
        // this round, and non-retired partials are discarded. Without
        // this, a coarse-round cover cell PARTIALLY inside the radius
        // feeds its whole population to the sort — a dense city 200 km
        // outside an ocean query's 156 km radius is still inside its
        // level-6 cover, and 10^5 such queries spilled a 75 GB sort (the
        // 10^5-query bench caught it). The filter is codegen'd against
        // the join output, so the sort input is now O(rho * pi * r^2) per
        // query — the density bound the round schedule was designed for.
        .filter($"__dist" <= radius)
      val w = Window.partitionBy($"qid")
        .orderBy($"__dist" +: tieCols.map(col): _*)
      // retirement flag computed IN the round plan (r06): a second window
      // over the SAME qid partitioning (no extra exchange — the ranked
      // window already established it) marks every row of a retired
      // query, so the loop derives the finished part, the retired-count
      // and the next query set from the checkpointed flag instead of a
      // separate groupBy job + broadcast semi-join per round. The cap
      // cover is a superset of all cells within r, so a k-th distance
      // <= r certifies the true top-k; the FINAL round's cap is the
      // whole sphere, so whatever a query has then IS its global top-k —
      // partial results retire too (standard kNN semantics for datasets
      // with fewer than k points).
      val wq = Window.partitionBy($"qid")
      joined
        .withColumn("rank", row_number().over(w))
        .filter($"rank" <= k)
        .withColumn("__done",
          (count(lit(1)).over(wq) >= k && max($"__dist").over(wq) <= radius)
            || lit(finalRound))
    }
    def finished(topk: DataFrame): DataFrame =
      topk.filter($"__done")
        .withColumnRenamed("__dist", "dist_m")
        .drop("__cell", "__ccell", "__pcell", "qlon", "qlat", "__done")

    // the loop visits levels.max, max-2, ..., then clamps at 0 — an entry
    // level off that lattice would never activate (silent query loss)
    require(levels.forall(l => l == 0 || (levels.max - l) % 2 == 0),
      s"entry levels must sit on the coarsening lattice: $levels")
    // activate-once: level clamps at 0 once reached, so a plain
    // set-membership check would re-union the level-0 entries every
    // subsequent round — each entry level must activate exactly once
    val pending = scala.collection.mutable.Set(levels: _*)
    var level = levels.max
    // round-0 cap: a few cells at the finest entry level; radius then
    // quadruples in lockstep with the level coarsening by 2, so cover
    // size stays flat and radius = 2·minWidth(level) at EVERY round —
    // which is why staged activation is exact: a query entering at its
    // chosen level sees the same (level, radius) schedule a dedicated
    // loop started there would run
    var radius = 2.0 * minWidthMeters(level)
    // radius quadruples every round, so the full-sphere round ends the
    // loop within this bound
    val maxRounds =
      2 + math.ceil(math.log(halfSphere / radius) / math.log(4.0)).toInt
    var open: Iterate.Round = null // the active, unretired queries
    val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    Iterate.loop("spherical kNN", maxRounds, pts) { round =>
      // activate the queries whose start level the loop just reached
      if (pending.remove(level)) {
        val entering = leveled.filter($"__lvl" === level).drop("__lvl")
        open = Iterate.checkpoint(
          if (open == null) entering else open.frame.unionByName(entering),
          lit(true))
      }
      val finalRound = radius >= halfSphere
      val active = open != null && open.nonEmpty
      if (active) {
        val r = if (finalRound) halfSphere + 1.0 else radius // full sphere
        val topk = Iterate.checkpoint(
          roundTopk(open.frame, level, r, finalRound), retired)
        val nDone = topk.observed
        // prune on EVERY retiring round, also when it retires all active
        // queries while entry levels are still pending: a retired qid
        // left in the open set would be re-activated and emitted twice
        if (nDone > 0) {
          parts += finished(topk.frame)
          open = unretired(open, topk)
        }
        if (onRound != null) onRound(round, level, nDone)
      }
      level = math.max(0, level - 2)
      radius *= 4.0
      // queries unretired after the full-sphere round matched ZERO points
      // (empty dataset) and their correct output is no rows
      !finalRound && (active || pending.nonEmpty)
    }
    if (parts.isEmpty) // nothing retired: typed empty result
      finished(roundTopk(leveled.drop("__lvl"), levels.max, radius,
        finalRound = false)).limit(0)
    else parts.reduce(_ unionByName _)
  }

  /** A round's top-k row that retires its query (one per retired qid). */
  private def retired = col("__done") && col("rank") === 1

  /** The open queries minus those the round `topk` retired. */
  private def unretired(open: Iterate.Round,
                        topk: Iterate.Round): Iterate.Round =
    Iterate.checkpoint(open.frame.join(
      broadcast(topk.frame.filter(retired).select(col("qid"))),
      Seq("qid"), "left_anti"), lit(true))

  /** The distributed kNN join. @param queries df with qid, qlon, qlat.
    *
    * By default the celled point projection persists (memory-and-disk)
    * across the ring-expansion rounds — the iterative-refinement pattern:
    * each round re-probes the same input, and re-scanning the source per
    * round would multiply the dominant cost by the round count (~log of
    * the distance to the k-th neighbor). Unpersisted before returning;
    * results are checkpointed so they never re-execute the rounds. Pass
    * `persistPoints = false` when the projection exceeds cluster storage
    * and re-scanning the (columnar, pruned) source is the cheaper trade. */
  def knnJoin(points: DataFrame, queries: DataFrame, k: Int, res: Double,
              tieCols: Seq[String], persistPoints: Boolean = true): DataFrame = {
    val spark = points.sparkSession
    Geo.register(spark)
    import spark.implicits._

    val celled = points.withColumn("__cell", call_function("st_gridcell",
      col("lon").cast("double"), col("lat").cast("double"), lit(res)))
    val pts =
      if (persistPoints)
        celled.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else celled

    // one round's candidate top-k plan (the single heavy job per round)
    def roundTopk(remaining: DataFrame, r: Int): DataFrame = {
      val cand = remaining.withColumn("__ccell",
        explode(call_function("st_gridring", col("__qcell"), lit(r))))
      val bound = (r - 1).toDouble * res
      val joined = pts.join(cand, $"__cell" === $"__ccell")
        .withColumn("__dist2",
          ($"lon" - $"qlon") * ($"lon" - $"qlon") +
            ($"lat" - $"qlat") * ($"lat" - $"qlat"))
        // beyond-bound candidates can't retire a query this round and
        // can't appear in a retired query's top-k (kth <= bound) — drop
        // them before the sort (see metersLoop: the spherical twin of
        // this filter killed a 75 GB spill at 10^5 queries)
        .filter($"__dist2" <= lit(bound * bound))
      val w = Window.partitionBy($"qid")
        .orderBy($"__dist2" +: tieCols.map(col): _*)
      // retirement flag in the round plan (r06): second window over the
      // same qid partitioning — no extra exchange, and the loop derives
      // everything from the checkpointed flag (see metersLoop)
      val wq = Window.partitionBy($"qid")
      joined
        .withColumn("rank", row_number().over(w))
        .filter($"rank" <= k)
        .withColumn("__done",
          count(lit(1)).over(wq) >= k &&
            max($"__dist2").over(wq) <= lit(bound * bound))
    }
    def finished(topk: DataFrame): DataFrame =
      topk.filter($"__done")
        .withColumnRenamed("__dist2", "dist2")
        .drop("__cell", "__ccell", "__qcell", "qlon", "qlat", "__done")

    var open = Iterate.checkpoint(queries.select(col("qid"),
        col("qlon").cast("double").as("qlon"),
        col("qlat").cast("double").as("qlat"))
      .withColumn("__qcell", call_function("st_gridcell",
        col("qlon"), col("qlat"), lit(res))), lit(true))
    val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // ring r = 2, 4, 8, ... up to twice the rings spanning the globe
    val maxR = math.ceil(360.0 / res).toInt + 1
    val maxRounds = 32 - Integer.numberOfLeadingZeros(maxR)
    Iterate.loop("kNN join", maxRounds, pts) { i =>
      val topk = Iterate.checkpoint(roundTopk(open.frame, 2 << i), retired)
      if (topk.observed > 0) {
        parts += finished(topk.frame)
        open = unretired(open, topk)
      }
      open.nonEmpty
    }
    if (parts.isEmpty) finished(roundTopk(open.frame, 2)).limit(0)
    else parts.reduce(_ unionByName _)
  }
}
