package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Link-graph operators for crawl curation — the domain-authority
  * prior (PageRank over the host/domain link graph) that web-corpus
  * pipelines use as a quality signal alongside content filters.
  *
  * Determinism contract (the property every gate here needs): all
  * per-sweep arithmetic is EXACT 64-bit integer arithmetic over rank
  * counts in 1e-9 units (truncating division, addition, and
  * multiplication by the whole-percent damping numerator). No double
  * ever enters a sweep, so results are bit-identical across engines,
  * partitionings, and scale factors by construction — the round-11
  * lesson: a per-sweep `round(double, 9)` is only as deterministic as
  * the doubles feeding it, and `(1.0 - 0.85)` vs the literal `0.15`
  * differ by 1 ULP, flipping 9dp rounding on boundary values that only
  * appear in denser (larger-SF) graphs. Integer units have no boundary
  * values. The OUTPUT is the integer unit count itself (`rank_units`
  * BIGINT = rank × 1e9) — round 12 proved that even a single terminal
  * `round(CAST(units AS DOUBLE)/1e9, 9) → DECIMAL` reconstruction,
  * though half-ulp-safe on paper, lands a different last digit on some
  * duckdb/pandas stacks; the only engine- AND stack-robust contract is
  * one where no double touches the emitted value at all. Callers who
  * want a [0,1] rank divide by 1e9 themselves, with their own rounding
  * policy. */
object Graph {

  /** 1 rank = 1e9 units; all sweep math is exact in these units. */
  private val Unit = 1000000000L

  /** Power-iteration PageRank with a fixed iteration count (web-scale
    * practice runs a fixed small number of sweeps, not to convergence).
    * Multi-edges collapse to simple edges; self-loops are kept if
    * present in `edges` (filter upstream if unwanted). Dangling mass
    * (nodes with no out-edges) is redistributed uniformly each sweep.
    * Truncating division only ever LOSES mass (≤ a few units per node
    * per sweep plus ≤ outdeg-1 units per source), so total rank stays
    * within ~1e-5 of 1 for graphs up to ~1e3 nodes per sweep count —
    * a monotone, bounded drift, never a nondeterminism.
    *
    * `damping` must be a whole-percent value (0.85, 0.9, …) so the
    * sweep can use its exact integer numerator.
    *
    * Scale shape per iteration: one equi-join of edges to the rank
    * vector on src (shuffle on node key), one groupBy(dst) partial-agg
    * sum, one broadcast of the two scalars (node count, dangling
    * mass). The rank vector is lineage-truncated via a lazy
    * `localCheckpoint` every `checkpointEvery` sweeps, so a deep
    * convergence run (iters=50) plans only the tail since the last
    * checkpoint instead of a 150-stage chain. */
  def pageRank(edgesRaw: DataFrame, src: String, dst: String,
      iters: Int = 3, damping: Double = 0.85,
      checkpointEvery: Int = 8): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(checkpointEvery >= 1, "checkpointEvery must be >= 1")
    val dNum = math.round(damping * 100)
    require(dNum >= 0 && dNum <= 100 && dNum / 100.0 == damping,
      s"damping must be a whole-percent value (0.85, 0.9, ...); got $damping")
    val tNum = 100L - dNum
    val edges = edgesRaw.select(col(src).as("src"), col(dst).as("dst"))
      .distinct()
      // consumed every sweep (join + outdeg) and for the node set:
      // materialize the dedup once
      .localCheckpoint(false)
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
      .localCheckpoint(false)
    val outdeg = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("outdeg"))
    // scalar node count, kept relational (broadcast 1-row frame)
    val nC = nodes.agg(count(lit(1)).as("n_nodes"))

    val init = nodes.crossJoin(broadcast(nC))
      .select(col("node"),
        expr(s"CAST($Unit AS BIGINT) div n_nodes").as("ru"))

    val iterated = (1 to iters).foldLeft(init) { (ranks0, i) =>
      val ranks =
        if (i > 1 && (i - 1) % checkpointEvery == 0) ranks0.localCheckpoint(false)
        else ranks0
      val withDeg = ranks.join(outdeg, Seq("node"), "left")
      // dangling mass: units of nodes with no out-edges (exact integer
      // sum -> deterministic), redistributed uniformly
      val dangling = withDeg.filter(col("outdeg").isNull)
        .agg(coalesce(sum(col("ru")), lit(0L)).as("dang"))
      val contribs = edges
        .join(withDeg.filter(col("outdeg").isNotNull)
          .withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), expr("ru div outdeg").as("c"))
        .groupBy("node")
        .agg(sum(col("c")).as("in_sum"))
      nodes.join(contribs, Seq("node"), "left")
        .crossJoin(broadcast(nC.crossJoin(dangling)))
        .select(col("node"),
          expr(s"($tNum * CAST($Unit AS BIGINT)) div (100 * n_nodes)" +
            s" + ($dNum * coalesce(in_sum, CAST(0 AS BIGINT))) div 100" +
            s" + ($dNum * dang) div (100 * n_nodes)").as("ru"))
    }
    // emit the exact integer unit count verbatim — no double, no
    // decimal reconstruction, nothing stack-dependent (rank = units/1e9)
    iterated.select(col("node"), col("ru").as("rank_units"))
  }
}
