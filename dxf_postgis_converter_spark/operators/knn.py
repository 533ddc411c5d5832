"""kNN join (J11) — for each probe point, the k nearest target points.

One algorithm: prove each probe's search radius up front from a
per-(level, cell) counts pyramid, then run ONE candidate join and one
rank. There is no driver-side round loop, so the number of Spark jobs
depends neither on the probe count nor on the targets' density profile.

  1. DENSITY-LOCAL counts pyramid. One aggregate returns the exact
     per-res-cell target counts; every level ≤ res is rolled up
     DRIVER-side from them (≤65k dict entries, no Spark job). Each cell
     gets an even depth d*(n) = even-floor(log4(9n/k)) — the deepest
     level where its ring-1 neighborhood can still hold k targets
     (9·n/4^d ≥ k). Targets explode only to levels res+2 ..
     res+dil2(cell), where dil2 is d* dilated over the Chebyshev-≤2
     res-neighborhood: flat regions add no rows, typical density 2-3
     levels, and only a hot sheet pays for the full chain.
  2. 3×3-neighborhood counts cnt3(L, c) = Σ count over c's ring-1, by
     exploding each counted cell to its 9 neighbors.
  3. Level selection: each probe takes the FINEST level L with
     cnt3(L, ancestor(p, L)) ≥ k, its ancestor chain limited to
     res+dil1(cell) (Chebyshev-≤1 dilation: a probe's fine ring-1 can
     only reach one res-neighbor over). Every target in ring-1 of p's
     cell lies within |Δx|,|Δy| < 2·s_L of p, so the kth-NN distance is
     ≤ 2√2·s_L — and every point that close lies in ring-3 (7×7 cells)
     of p's cell. One ring-3 candidate join at L therefore provably
     contains the true top-k: no count test, no retry round. An
     undercounted cnt3 (a neighbor cell not exploded that deep) only
     makes selection coarser, never wrong. The floor level (≤ 1, where
     ring-1 spans the whole clamped grid) makes selection total whenever
     n_targets ≥ k; with fewer targets every probe is absent.
  4. ONE candidate join keyed on the cell id (the level lives in the id's
     high bits, so a single key joins all levels at once). The probe side
     explodes ring-3 minus the cells whose closest point to p lies beyond
     the 2√2·s_L safe radius (most of the 24 outer cells). The target
     side unions one narrow projection per used level, fine levels
     filtered to cells with dil2 ≥ L−res — exact, because a probe
     selecting L has a depth-≥(L−res) cell within Chebyshev 1, and every
     ring-3 target cell at L is within Chebyshev 2 of that same cell.
     Then a map-side dist ≤ 2√2·s_L filter, a per-(probe, cell) top-k
     pre-prune on the coarse branch (caps a dense ring cell — e.g. a
     10^5-point CAD sheet two cells away — at k rows per probe), and one
     ranking window.

Out-of-extent coordinates (grid.py clamps them to border cells) would
break every radius proof above, so clamped targets are excluded from the
count statistics and surface only at the floor level, clamped probes go
straight to the floor, and the floor is exempt from both distance
prunes: its completeness comes from whole-grid ring coverage, not from a
radius.

Everything is JVM column arithmetic. Join sides are picked from exact
driver-side counts (checkpointed sources defeat Catalyst's estimates):
broadcast the small exploded probe ring, else the level-exploded target
union when it fits, else shuffle both on cell. The placement is decided
per cell from observed density — the adaptive-replication idea of
*Parallel Spatial Join Processing with Adaptive Replication* (EDBT
2025) — not from a fixed probe-count threshold.
"""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..index.grid import (
    EXTENT, cell_col, cell_ix, cell_iy, k_ring_col, _IX_SHIFT, _RES_SHIFT,
)
from ..session import materialize

# levels the most recent knn_join selected, as [("oneshot", sorted
# levels)] — an introspection hook for tests
_LAST_SCHEDULE: list = []


def knn_join(
    probes: DataFrame,
    targets: DataFrame,
    k: int,
    res: int = 8,
    probe_id_col: str = "probe_id",
    target_id_col: str = "target_id",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """-> (probe_id, target_id, dist, rank) with rank in 1..k per probe.

    probes: (probe_id, x, y); targets: (target_id, x, y). Ties break by
    (dist, target_id). res is the level of the exact per-cell target
    counts the pyramid starts from (module doc). With fewer than k
    targets in total every probe is absent from the result.

    Spark shape: 2 internal actions (the target count; the per-level
    selection count), whatever the input's size or density. The result
    is materialized lazily: the caller's first action runs the join.
    """
    spark = probes.sparkSession
    t = materialize(targets.select(
        F.col(target_id_col),
        F.col(x_col).alias("t_x"),
        F.col(y_col).alias("t_y"),
    ))
    # density probe (ONE action, which also materializes t):
    # exact per-res-cell counts. Everything scheduled from here is driver
    # arithmetic over ≤4^res dict entries — at cluster scale this is the
    # query you'd answer from catalog statistics. Counts are split by
    # in-extent: a clamped target counts toward a border cell but can be
    # arbitrarily far from it, so only in-extent targets feed the
    # pyramid; out-of-extent ones ride the floor level.
    in_t = ((F.col("t_x") >= 0) & (F.col("t_x") < F.lit(EXTENT))
            & (F.col("t_y") >= 0) & (F.col("t_y") < F.lit(EXTENT)))
    counts0 = (t.groupBy(cell_col(F.col("t_x"), F.col("t_y"), res).alias("c"),
                         in_t.alias("i"))
               .agg(F.count(F.lit(1)).alias("n")).collect())
    n_targets = sum(r["n"] for r in counts0)
    global _LAST_SCHEDULE
    if n_targets < k:
        _LAST_SCHEDULE = [("oneshot", [])]
        return spark.createDataFrame(
            [], schema=f"{probe_id_col} string, {target_id_col} string, "
                       "dist double, rank int")
    max_depth = ((16 - res) // 2) * 2

    # d*(n): deepest EVEN offset d where the cell's ring-1 neighborhood
    # can still reach k targets (9·n/4^d ≥ k at uniform spread) — levels
    # deeper than res+d*(hottest neighborhood) are unselectable, so the
    # pyramid never builds them. even-floor, not ceil: overshooting by a
    # step doubles the pyramid rows for levels whose cnt3 < k everywhere.
    def _dstar(n: int) -> int:
        if 9 * n < k:
            return 0
        d = int(math.log(9 * n / k, 4))
        return min(d - (d % 2), max_depth)

    cells: dict = {}
    out_cells: dict = {}
    for r in counts0:
        side = cells if r["i"] else out_cells
        side[r["c"]] = side.get(r["c"], 0) + r["n"]
    out_n = sum(out_cells.values())
    # dilated depth maps over the res grid: a probe's fine ring-1 reaches
    # ≤ one res-neighbor over (3·s_L < s_res for L ≥ res+2) → dil1 for
    # the probe ancestor chain; a ring-3 candidate cell sits ≤ Chebyshev
    # 2 from the depth-carrying cell that justified the probe's level →
    # dil2 for the target explode + candidate union (module doc, step 4).
    _m = (1 << (_RES_SHIFT - _IX_SHIFT)) - 1
    hi_ix = (1 << res) - 1
    dil1: dict = {}
    dil2: dict = {}
    for c, n in cells.items():
        d = _dstar(n)
        if d <= 0:
            continue
        ix, iy = (c >> _IX_SHIFT) & _m, c & _m
        for dx in range(-2, 3):
            nx = ix + dx
            if nx < 0 or nx > hi_ix:
                continue
            for dy in range(-2, 3):
                ny = iy + dy
                if ny < 0 or ny > hi_ix:
                    continue
                nc = (res << _RES_SHIFT) | (nx << _IX_SHIFT) | ny
                if dil2.get(nc, 0) < d:
                    dil2[nc] = d
                if abs(dx) <= 1 and abs(dy) <= 1 and dil1.get(nc, 0) < d:
                    dil1[nc] = d
    max_fine = max(dil2.values(), default=0)
    fine_levels = list(range(res + 2, res + max_fine + 1, 2))

    # sub-res pyramid + its floor, rolled up driver-side from the exact
    # density probe. Floor level ≤ 1: ring-1 covers the whole clamped
    # grid, so cnt3 = n_targets ≥ k — selection is total.
    sub_levels = list(range(res, -1, -2))
    lvl_counts = {res: {}}
    for c, n in cells.items():
        key = ((c >> _IX_SHIFT) & _m, c & _m)
        lvl_counts[res][key] = lvl_counts[res].get(key, 0) + n
    for L in sub_levels[1:]:
        up: dict = {}
        for (ix, iy), n in lvl_counts[L + 2].items():
            key = (ix >> 2, iy >> 2)
            up[key] = up.get(key, 0) + n
        lvl_counts[L] = up
    sub_rows = [((L << _RES_SHIFT) | (ix << _IX_SHIFT) | iy, n)
                for L, m in lvl_counts.items() for (ix, iy), n in m.items()]
    floor_lvl = sub_levels[-1]
    if out_n:
        # out-of-extent targets count ONLY at the floor, where ring-1
        # (and ring-3) cover the whole clamped grid — one row suffices:
        # every floor cell's ring-1 contains every floor cell
        sub_rows.append(((floor_lvl << _RES_SHIFT), out_n))
    sub_df = spark.createDataFrame(sub_rows, "cell long, n long")

    # 1. fine counts pyramid, density-local: each target explodes only to
    #    the levels its dilated res-neighborhood can select
    depth_rows = sorted(set(dil1) | set(dil2))
    depth_df = spark.createDataFrame(
        [(c, dil1.get(c, 0), dil2.get(c, 0)) for c in depth_rows],
        "d_cell long, p_dil int, t_dil int") if depth_rows else None
    if depth_df is not None and fine_levels:
        t2 = (t.withColumn("_rc", cell_col(F.col("t_x"), F.col("t_y"), res))
              .join(F.broadcast(depth_df.select("d_cell", "t_dil")),
                    F.col("_rc") == F.col("d_cell"), "left")
              .withColumn("t_dil", F.coalesce(F.col("t_dil"), F.lit(0))))
        fine_arr = F.array(*[cell_col(F.col("t_x"), F.col("t_y"), L)
                             for L in fine_levels])
        t_lim = (F.lit(res) + F.col("t_dil")).cast("long")
        cnt_fine = (t2.filter(in_t)  # clamped targets never feed a radius proof
                    .select(F.explode(F.filter(
                        fine_arr,
                        lambda c: F.shiftright(c, _RES_SHIFT) <= t_lim))
                    .alias("cell"))
                    .groupBy("cell").agg(F.count(F.lit(1)).alias("n")))
        cnt_all = cnt_fine.unionByName(sub_df)
    else:
        cnt_all = sub_df
    # 2. ring-1 neighborhood mass per cell (level rides in the cell id)
    cnt3 = (cnt_all
            .select(F.explode(k_ring_col(F.col("cell"), 1)).alias("cell"), "n")
            .groupBy("cell").agg(F.sum("n").alias("n3")))

    # 3. level selection: ancestor-chain explode → join cnt3 → finest
    #    level with n3 ≥ k (struct max picks the deepest, carrying its
    #    cell along — levels order identically in the id's high bits)
    p0 = probes.select(
        F.col(probe_id_col),
        F.col(x_col).alias("p_x"),
        F.col(y_col).alias("p_y"),
    )
    par = spark.sparkContext.defaultParallelism
    if p0.rdd.getNumPartitions() < par:
        # a LIMIT upstream leaves ONE partition, which would serialize the
        # ancestor/ring explode into a single task
        p0 = p0.repartition(par * 4)
    # ancestor-chain cells: every sub-res level (selection floor) plus
    # the fine levels the probe's dilated res-neighborhood can justify
    sub_arr = F.array(*[cell_col(F.col("p_x"), F.col("p_y"), L)
                        for L in sub_levels])
    if depth_df is not None and fine_levels:
        p1 = (p0.withColumn("_rc", cell_col(F.col("p_x"), F.col("p_y"), res))
              .join(F.broadcast(depth_df.select("d_cell", "p_dil")),
                    F.col("_rc") == F.col("d_cell"), "left")
              .withColumn("p_dil", F.coalesce(F.col("p_dil"), F.lit(0))))
        fine_arr_p = F.array(*[cell_col(F.col("p_x"), F.col("p_y"), L)
                               for L in fine_levels])
        p_lim = (F.lit(res) + F.col("p_dil")).cast("long")
        anc_cells = F.concat(
            F.filter(fine_arr_p,
                     lambda c: F.shiftright(c, _RES_SHIFT) <= p_lim),
            sub_arr)
    else:
        p1 = p0
        anc_cells = sub_arr
    # an out-of-extent probe gets no radius proof at any level (its cell
    # is a clamp artifact) — route it straight to the floor, where the
    # candidate ring covers the whole grid and top-k needs no radius
    in_p = ((F.col("p_x") >= 0) & (F.col("p_x") < F.lit(EXTENT))
            & (F.col("p_y") >= 0) & (F.col("p_y") < F.lit(EXTENT)))
    anc_cells = F.when(in_p, anc_cells).otherwise(
        F.array(cell_col(F.col("p_x"), F.col("p_y"), floor_lvl)))
    anc = p1.select(
        probe_id_col, "p_x", "p_y", F.explode(anc_cells).alias("cell"))
    # the per-level count is sel's materializing action: one job computes
    # the counts pyramid + selection, truncates their lineage, and
    # returns the level set the join below needs
    sel = materialize(anc.join(cnt3, "cell", "inner")
                     .filter(F.col("n3") >= k)
                     .groupBy(probe_id_col, "p_x", "p_y")
                     .agg(F.max("cell").alias("p_cell"))
                     .withColumn("lvl", (F.col("p_cell") / F.lit(
                         1 << _RES_SHIFT)).cast("int"))
                     # AQE coalesces the selection aggregate to a handful
                     # of partitions; the ring explode below does ~49× the
                     # rows of its input per task, so spread the blocks
                     # wide enough for every core to get several waves
                     .repartition(par * 4))
    by_lvl = {r["lvl"]: r["n"] for r in
              sel.groupBy("lvl").agg(F.count(F.lit(1)).alias("n")).collect()}
    used = sorted(by_lvl)
    _LAST_SCHEDULE = [("oneshot", used)]
    if not used:  # pragma: no cover — unreachable once n_targets ≥ k
        return spark.createDataFrame(
            [], schema=f"{probe_id_col} string, {target_id_col} string, "
                       "dist double, rank int")

    # 4. single candidate join: probe ring-3 cells vs targets keyed at
    #    each USED level (union of narrow per-level projections of t —
    #    one broadcast build in total). Fine branches keep
    #    only targets whose dilated res-neighborhood justifies that level;
    #    the driver knows each branch's row count exactly from the
    #    density probe, so the join-side decision needs no estimate.
    s_lvl = F.lit(EXTENT) / F.pow(F.lit(2.0), F.col("lvl").cast("double"))
    # kth-NN dist is ≤ 2√2·s_L by the selection proof; the tiny relative
    # margin only guards FP noise in the distance evaluation
    safe = F.lit(2.8284271247461903) * s_lvl * F.lit(1.0 + 1e-9)

    def _cand_branch(levels_part: list) -> DataFrame | None:
        """Candidate join for the probes whose selected level is in
        levels_part. Splitting fine (> res) from coarse (≤ res) keeps the
        per-(probe, cell) skew prune OFF the fine branch — at a selected
        fine level every ring cell holds ~k/9 targets by construction,
        so the prune's extra shuffle+sort would remove ~nothing; the
        coarse branch (hot cells can hold 10^5+ targets) keeps it."""
        n_part = sum(by_lvl.get(L, 0) for L in levels_part)
        if n_part == 0:
            return None
        coarse = levels_part[0] <= res
        sel_p = sel.filter((F.col("lvl") <= res) if coarse
                           else (F.col("lvl") > res))
        branches, est_texp = [], 0
        for lvl in levels_part:
            if by_lvl.get(lvl, 0) == 0:
                continue
            proj = [F.col(target_id_col), F.col("t_x"), F.col("t_y"),
                    cell_col(F.col("t_x"), F.col("t_y"), lvl).alias("cell")]
            if lvl > res:
                branches.append(
                    t2.filter(F.col("t_dil") >= lvl - res).select(*proj))
                est_texp += sum(n for c, n in cells.items()
                                if dil2.get(c, 0) >= lvl - res)
                est_texp += sum(n for c, n in out_cells.items()
                                if dil2.get(c, 0) >= lvl - res)
            else:
                branches.append(t.select(*proj))
                est_texp += n_targets
        t_exp = reduce(DataFrame.unionByName, branches)
        ring = sel_p.withColumn(
            "cell", F.explode(k_ring_col(F.col("p_cell"), 3)))
        # exact geometric prune BEFORE the join: a ring cell whose
        # closest point to the probe is beyond the safe radius cannot
        # hold a candidate the dist filter would keep — drops most of
        # ring-3's 24 outer cells (the safe disk covers ~25 of 49 cells)
        rx0 = cell_ix(F.col("cell")).cast("double") * s_lvl
        ry0 = cell_iy(F.col("cell")).cast("double") * s_lvl
        gap_x = F.greatest(F.lit(0.0), rx0 - F.col("p_x"),
                           F.col("p_x") - rx0 - s_lvl)
        gap_y = F.greatest(F.lit(0.0), ry0 - F.col("p_y"),
                           F.col("p_y") - ry0 - s_lvl)
        # the FLOOR level is complete by whole-grid ring coverage, not by
        # a radius — exempt it from both distance prunes (this is what
        # keeps clamped out-of-extent probes/targets exact)
        at_floor = F.col("lvl") == F.lit(floor_lvl)
        ring = ring.filter(
            at_floor | (gap_x * gap_x + gap_y * gap_y <= safe * safe))
        # join side from exact driver-side counts: broadcast the exploded
        # probe ring when small (streams the materialized target branches
        # map-side with no shuffle at all), else broadcast the
        # level-exploded target side when it fits (≲50 MB keyed), else
        # shuffle both on cell — the standard path at cluster scale
        if n_part * 49 <= 400_000:
            ring = F.broadcast(ring)
        elif est_texp <= 1_500_000:
            t_exp = F.broadcast(t_exp)
        cand = (ring.join(t_exp, "cell", "inner")
                .withColumn("dist", F.sqrt(
                    (F.col("p_x") - F.col("t_x")) ** 2
                    + (F.col("p_y") - F.col("t_y")) ** 2))
                .filter(at_floor | (F.col("dist") <= safe)))
        if coarse:
            w_cell = Window.partitionBy(probe_id_col, "cell") \
                .orderBy(F.col("dist"), F.col(target_id_col))
            cand = cand.withColumn("_cr", F.row_number().over(w_cell)) \
                .filter(F.col("_cr") <= k).drop("_cr")
        return cand.select(probe_id_col, target_id_col, "dist")

    parts = [b for b in (_cand_branch([L for L in used if L > res]),
                         _cand_branch([L for L in used if L <= res]))
             if b is not None]
    cand = reduce(DataFrame.unionByName, parts)
    w = Window.partitionBy(probe_id_col).orderBy(F.col("dist"), F.col(target_id_col))
    return materialize(cand.withColumn("rank", F.row_number().over(w))
                       .filter(F.col("rank") <= k)
                       .select(probe_id_col, target_id_col, "dist", "rank"))
