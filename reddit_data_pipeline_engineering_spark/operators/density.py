"""Grid-blocked DBSCAN (Ester et al., KDD'96) on an integer grid.

Density-based clustering over 2-D projected points — the clustering
family the engine's k-means (`operators/kmeans.py`) cannot express:
DBSCAN finds arbitrarily-shaped clusters, needs no k, and separates
noise explicitly. The classic algorithm is sequential (seed expansion);
the distributed reformulation here is the standard two-phase shape:

1. **Neighbor counting by grid blocking.** With cell side == eps, every
   eps-neighbor of a point lies in its 3x3 cell neighborhood — so each
   point is replicated map-side to its 9 neighbor cells (a x9 explode,
   no shuffle) and one equi-join on the cell key finds every candidate
   pair exactly once (each point has exactly ONE home cell, so exactly
   one replica of a can meet b). Exact distance^2 <= eps^2 filters the
   corners. Core points have >= min_pts points (self included) within
   eps.
2. **Cluster = connected components of the core-core graph** (the
   standard distributed-DBSCAN equivalence: density-reachability
   restricted to cores is symmetric), reusing
   `operators/components.connected_components` — star contraction,
   lineage-checkpointed per round. Border points (non-core
   within eps of a core) attach to the MINIMUM adjacent core component
   (deterministic; classic DBSCAN leaves this tie arbitrary). Remaining
   points are noise.

All arithmetic is integer: callers quantize coordinates to a fixed
grid (the registry query uses the 1e-6 grid shared with
embedding_dim_profile), eps is given on the same grid, and cell ids
use an explicit floor-division CASE so Spark's trunc-toward-zero `div`
matches DuckDB's flooring `//` on negative coordinates.

Scale shape: the x9 replication is map-side; the cell equi-join is the
one corpus-keyed shuffle, and its fan-out is bounded by the in-cell
point count — eps sizes the grid, so a hot cell means eps is too large
for the data's density (same failure mode, and same cap mitigation if
ever needed, as the SimHash band buckets — see
`text_dedup.simhash_hamming_pairs`). The pair relation is lazily
checkpointed once for its three consumers (neighbor counts, core-core
edges, border assignment).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from reddit_data_pipeline_engineering_spark.blocks import checkpoint
from reddit_data_pipeline_engineering_spark.operators.components import (
    connected_components,
)


def _floor_div_expr(name: str, k: int) -> str:
    """SQL text for flooring division of integer column ``name`` by
    positive literal ``k`` — written as a CASE so Spark's truncating
    ``div`` computes the floor on negatives too (mirrors ``//``)."""
    return (
        f"CASE WHEN {name} >= 0 THEN {name} div {k} "
        f"ELSE -(((-{name}) + {k} - 1) div {k}) END"
    )


def grid_cells(
    points: DataFrame, id_col: str, x_col: str, y_col: str, side: int
) -> DataFrame:
    """(id, x, y, cx, cy) with flooring cell assignment of side ``side``."""
    return points.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    ).withColumns(
        {
            "cx": F.expr(_floor_div_expr("x", side)),
            "cy": F.expr(_floor_div_expr("y", side)),
        }
    )


def neighbor_pairs(
    base: DataFrame, radius: int, anchors: DataFrame | None = None
) -> DataFrame:
    """All ordered pairs (a, b, d2) with 0 < dist^2 <= radius^2.

    ``base`` must be a `grid_cells` relation with cell side == radius:
    every within-radius neighbor then lies in the 3x3 cell
    neighborhood, so a map-side x9 replication + ONE cell equi-join
    finds each ordered pair exactly once (each point has exactly one
    home cell). The x9 fan-out is map-side; the join fan-out is bounded
    by in-cell density.

    ``anchors`` (a subset of ``base``, same schema) restricts the LEFT
    side: pairs are found for anchor points only, measured against the
    FULL base — the unbiased bounded-cost shape for per-point
    diagnostics (k-dist calibration) where the anchor set is a sample
    but neighborhood density must be the true corpus density.
    """
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    rep = (anchors if anchors is not None else base).select(
        F.col("id").alias("a"),
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
        F.explode(offsets).alias("o"),
        "cx",
        "cy",
    ).select(
        "a",
        "ax",
        "ay",
        (F.col("cx") + F.col("o.dx")).alias("jx"),
        (F.col("cy") + F.col("o.dy")).alias("jy"),
    )
    probe = base.select(
        F.col("id").alias("b"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        F.col("cx").alias("jx"),
        F.col("cy").alias("jy"),
    )
    return (
        rep.join(probe, ["jx", "jy"])
        .filter(F.col("a") != F.col("b"))
        .withColumn(
            "d2",
            (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx"))
            + (F.col("ay") - F.col("by")) * (F.col("ay") - F.col("by")),
        )
        .filter(F.col("d2") <= F.lit(radius * radius))
        .select("a", "b", "d2")
    )


def dbscan_grid(
    points: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    eps: int,
    min_pts: int,
    max_cell_occupancy: int | None = None,
) -> DataFrame:
    """DBSCAN over integer-grid 2-D points.

    Returns one row per cluster ``(cluster, n_core, n_border)`` with
    ``cluster`` = min core id (deterministic label), plus one noise
    bucket row ``(-1, 0, n_noise)`` — non-core points within eps of no
    core. Cluster membership of border points uses the minimum
    adjacent core component.

    ``max_cell_occupancy`` is the hot-cell guard (VERDICT r07 #6, the
    SimHash-band-cap analogue): the cell join's fan-out is bounded by
    in-cell density, and a cell holding m points contributes O(m^2)
    pair rows — eps far above the data's density scale turns the exact
    pair relation superlinear BY SEMANTICS (the §9g addendum measured
    62x bytes for 10x points at the stale eps=15000, 15.2x after
    recalibrating to eps=4500). Dropping cells would silently change
    the clustering, so past the cap this RAISES (the
    connected_components non-convergence precedent) and names the fix:
    re-pick eps from ``kdist_eps_calibration``'s knee. The occupancy
    probe is one cells-bounded aggregate (two top rows collected).
    """
    base = grid_cells(points, id_col, x_col, y_col, eps)
    if max_cell_occupancy is not None:
        hot = (
            base.groupBy("cx", "cy")
            .agg(F.count(F.lit(1)).alias("m"))
            .filter(F.col("m") > max_cell_occupancy)
            .orderBy(F.col("m").desc())
            .limit(2)
            .collect()
        )
        if hot:
            worst = hot[0]
            raise ValueError(
                f"dbscan_grid hot cell: ({worst['cx']},{worst['cy']}) holds "
                f"{worst['m']} points > max_cell_occupancy="
                f"{max_cell_occupancy} at eps={eps} — the exact eps-pair "
                "relation would be quadratic in that cell. eps is too "
                "large for the data's density; recalibrate it from the "
                "kdist_eps_calibration knee (SCALE.md §9g) or raise the "
                "cap deliberately."
            )
    # base fans out to the replicated side, the probe side, the core
    # flagging and the noise count — store the scan + cell derivation
    # once. Stored rows = input points (one pass, columnar).
    base = checkpoint(base)
    pairs = neighbor_pairs(base, eps).select("a", "b")
    # pairs feeds neighbor counts, core-core edges AND border
    # assignment; materialize the cell join once. Stored rows are the
    # true eps-neighbor pairs — density-bounded, never cells^2.
    pairs = checkpoint(pairs)

    nb = pairs.groupBy("a").agg(F.count(F.lit(1)).alias("c"))
    core = (
        base.join(nb, base["id"] == nb["a"], "left")
        .filter(F.coalesce(F.col("c"), F.lit(0)) + 1 >= min_pts)
        .select("id")
    )
    core = checkpoint(core)

    edges = (
        pairs.join(core.select(F.col("id").alias("a")), "a")
        .join(core.select(F.col("id").alias("b")), "b")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
    )
    comp0 = connected_components(edges, "a", "b")
    # Isolated cores (no core neighbor) are their own singleton cluster.
    singletons = core.join(
        comp0.select(F.col("id")), "id", "left_anti"
    ).select("id", F.col("id").alias("component"))
    comp = comp0.select("id", "component").unionByName(singletons)
    comp = checkpoint(comp)

    border = (
        pairs.join(core.select(F.col("id").alias("a")), "a", "left_anti")
        .join(core.select(F.col("id").alias("b")), "b")
        .join(comp.select(F.col("id").alias("b"), "component"), "b")
        .groupBy("a")
        .agg(F.min("component").alias("component"))
    )
    border = checkpoint(border)

    n_core = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("n_core")
    )
    n_border = border.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("n_border")
    )
    clusters = (
        n_core.join(n_border, "component", "left")
        .select(
            F.col("component").alias("cluster"),
            "n_core",
            F.coalesce("n_border", F.lit(0)).cast("long").alias("n_border"),
        )
    )
    noise = (
        base.select("id")
        .join(core, "id", "left_anti")
        .join(border.select(F.col("a").alias("id")), "id", "left_anti")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit(-1).cast("long").alias("cluster"),
            F.lit(0).cast("long").alias("n_core"),
            F.col("n").cast("long").alias("n_border"),
        )
    )
    return clusters.unionByName(noise).orderBy("cluster")
