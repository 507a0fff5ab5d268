"""Exact rank selection by iterative bucket bisection.

A rank that is a constant fraction of the group (median, p90, MAD) is
answered by Spark's own exact ``percentile``/``percentile_disc``
aggregates (plans/queries_ext.py ``grouped_median``,
``exact_percentiles``, ``mad_outliers``). This module serves the ranks
those aggregates cannot express: arbitrary integer ranks per group
(``winsorized_scalable``'s ``floor(n/10)`` and ``floor(0.9n)+1``
clamp bounds), exact equi-depth edges (``equi_depth_edges``) and NTILE
boundary pairs with a tie column (``ntile_boundary_pairs``). It uses
NOTHING but mergeable conditional aggregates:

1. one profile pass per group: count / min / max (``_profile``);
2. repeated bucket passes (``_select_ranks``): partition each group's
   live value range [lo, hi] into B equal sub-ranges, count rows per
   (group, bucket) map-side (a conditional aggregation — fully
   partial-aggregated, one keyed shuffle of G*B counters), then narrow
   [lo, hi] to the bucket whose cumulative count crosses the target
   rank. With many live brackets the crossing bucket is selected IN THE
   PLAN (cumulative-count window per bracket + broadcast rank join), so
   the driver receives one row per live bracket rather than the
   O(G * occupied-buckets) counter relation; with few brackets the
   counters are small and are scanned driver-side (the hybrid cutover
   is PLAN_SIDE_NARROW_MIN). A bracket RETIRES as soon as its chosen
   bucket's population drops to FINAL_PASS_MAX_ROWS, so uniform-ish
   data exits after ONE round, or when it collapses to a few ulps
   (B^6 = 2^60 > 2^52 ulps bounds the worst case); ranks of a group
   sharing a bracket are counted once per bracket, not once per rank;
3. one final pass aggregating the few values left in each bracket, from
   which the k-th value is read off directly.

Every pass is a map-side-combinable aggregate over the FULL input
(bounds are recomputed against the raw values each round), so no single
task ever sorts a group, and the state does not grow with the number of
distinct values per group. Driver state is G * (lo, hi, rank) bounds,
which suits the low-cardinality groups (event types, metrics) the
callers use; each pass is one Spark job at construction time.

Determinism: bucket edges are pure double arithmetic from (lo, hi)
computed identically on the driver; ranks select VALUES (multiset order
statistics), so id tiebreaks cannot change the result. The selected
values are exact input doubles — the same values a rank-window oracle
selects.
"""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from reddit_data_pipeline_engineering_spark.blocks import cache, release

BUCKETS = 1024
MAX_ROUNDS = 8
# A bracket whose chosen bucket holds at most this many ROWS retires to
# the final distinct-value pass immediately: the pass resolves the k-th
# exactly at any bracket width, so once the population is small there is
# no point paying more full-input narrowing rounds just to shrink the
# range to ulps. Uniform-ish data retires after ONE round (n/B rows per
# bucket), turning the typical ~6-round loop into 1-2 rounds; driver
# final-pass state stays bounded by this constant per bracket.
FINAL_PASS_MAX_ROWS = 4096
# At or above this many live brackets, the per-round crossing-bucket
# selection runs in the plan (cumulative window + broadcast rank join,
# O(live) rows to the driver) instead of collecting the occupied counter
# relation (O(brackets * occupied) rows). Below it, the counter collect
# is small and the extra window stage costs more than it saves.
PLAN_SIDE_NARROW_MIN = 64
# Final-pass form switch: with at most this many live brackets the
# final distinct-value pass runs as ONE global conditional aggregate
# (2 agg columns per bracket, literal bounds — a single corpus scan, no
# fan-out); above it, the column count would bloat codegen, so the
# bracket-join form runs instead (one corpus scan per group-bracket).
FINAL_PASS_WIDE_MAX = 64


def _gtype(sample) -> str:
    return "bigint" if isinstance(sample, int) else "string"


def _select_ranks(
    src: DataFrame,
    targets: dict[object, list[int]],
    prof: dict[object, tuple[int, float, float]],
    buckets: int,
    max_rounds: int,
) -> dict[tuple[object, int], float]:
    """Core bisection: resolve the k-th smallest value (1-based, within
    the group's non-null values ascending) for every (group, k) in
    ``targets``. ``src`` has columns (g, v); ``prof`` maps group ->
    (count, min, max)."""
    spark = src.sparkSession
    state: dict[tuple[object, int], tuple[float, float]] = {}
    # Rows known to live inside each bracket (n_g initially, the chosen
    # bucket's count after a narrowing round) — sizes the next round's
    # ADAPTIVE bucket count, see below.
    pop: dict[tuple[object, int], int] = {}
    resolved: dict[tuple[object, int], float] = {}
    # Brackets narrowed to a few ulps: excluded from further bisection
    # rounds (they cannot shrink any more — only the final distinct-value
    # pass can resolve them). Retiring them early is what lets the loop
    # stop after ~log_B(width/ulp) rounds instead of always paying
    # max_rounds full-input passes.
    converged: set[tuple[object, int]] = set()
    for g, ks in targets.items():
        n, lo, hi = prof[g]
        for k in set(ks):
            if lo == hi:
                resolved[(g, k)] = lo
            else:
                state[(g, k)] = (lo, hi)
                pop[(g, k)] = n

    for _ in range(max_rounds):
        live = {
            key: b
            for key, b in state.items()
            if key not in resolved and key not in converged
        }
        if not live:
            break
        # One conditional-aggregation pass for ALL live (group, rank)
        # brackets: a bounds row per DISTINCT bracket broadcast-joined on
        # group, bucket index computed from the raw value each round.
        # Different ranks of a group usually share a bracket (all of them
        # do in round 1, median pairs for many rounds), so keying the
        # pass by bracket instead of by rank avoids multiplying the
        # joined row count by ranks-per-group.
        brackets: dict[tuple[object, float, float], int] = {}
        for (g, k), (lo, hi) in live.items():
            brackets.setdefault((g, lo, hi), len(brackets))
        # Adaptive bucket count (r11): the round only has to leave the
        # crossing bucket's population within FINAL_PASS_MAX_ROWS (the
        # retire threshold), so B is sized from the LARGEST live-bracket
        # population — ~64 expected rows per bucket, a 64x skew margin
        # under the threshold so a dense bucket still retires — instead
        # of a flat 1024. With many small groups the flat B made the
        # counts relation G x 1024 keys (366k rows for 358 weekly
        # groups: near-zero partial-aggregation, a 366k-row window),
        # where G x B_adaptive stays ~n/64. Resolved VALUES are
        # B-independent (brackets only have to contain the k-th; the
        # final pass reads exact values), so this cannot move any
        # output; a >64x-skewed bucket just pays one more round, as it
        # would have at any B.
        max_pop = max(pop[key] for key in live)
        b_round = buckets
        while b_round > 16 and (b_round >> 1) * 64 >= max_pop:
            b_round >>= 1
        buckets_r = b_round
        bounds = spark.createDataFrame(
            [(g, bid, lo, hi) for (g, lo, hi), bid in brackets.items()],
            f"g {_gtype(next(iter(live))[0])}, bid long, lo double, hi double",
        )
        width = F.col("hi") - F.col("lo")
        bucket = F.least(
            F.lit(buckets_r - 1),
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.col("v") - F.col("lo")) / width * buckets_r
                ).cast("int"),
            ),
        )
        counts = (
            src.join(F.broadcast(bounds), "g")
            .select(
                "g",
                "bid",
                F.when(F.col("v") < F.col("lo"), F.lit(-1))
                .when(F.col("v") > F.col("hi"), F.lit(buckets_r))
                .otherwise(bucket)
                .alias("b"),
            )
            .groupBy("g", "bid", "b")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # The crossing bucket: first b (ascending, the -1 underflow
        # bucket leading) whose cumulative count reaches the rank.
        # Many brackets -> select it IN THE PLAN (cumulative window +
        # broadcast rank join): the driver receives exactly one row per
        # live (bracket, rank) instead of the occupied counter relation,
        # whose size grows with brackets * distinct-values. Few brackets
        # -> collect the (small) counters and scan occupied buckets
        # driver-side; the extra window stage would cost more than it
        # saves. Both paths pick the identical bucket.
        chosen: dict[tuple[int, int], tuple[int, int]] = {}
        if len(brackets) >= PLAN_SIDE_NARROW_MIN:
            ranks_df = spark.createDataFrame(
                [
                    (brackets[(g, lo, hi)], k)
                    for (g, k), (lo, hi) in live.items()
                ],
                "bid long, k long",
            )
            cw = (
                Window.partitionBy("bid")
                .orderBy("b")
                .rowsBetween(Window.unboundedPreceding, 0)
            )
            crossed = (
                counts.withColumn("cum", F.sum("c").over(cw))
                .join(F.broadcast(ranks_df), "bid")
                .filter(
                    (F.col("cum") >= F.col("k"))
                    & (F.col("cum") - F.col("c") < F.col("k"))
                )
                .select("bid", "k", "b", "c")
                .collect()
            )
            for r in crossed:
                chosen[(r["bid"], r["k"])] = (r["b"], r["c"])
        else:
            per_bracket: dict[int, dict[int, int]] = {}
            for r in counts.collect():
                per_bracket.setdefault(r["bid"], {})[r["b"]] = r["c"]
            for (g, k), (lo, hi) in live.items():
                bid = brackets[(g, lo, hi)]
                if (bid, k) in chosen:
                    continue
                bc = per_bracket[bid]
                cum = bc.get(-1, 0)
                for b in sorted(bb for bb in bc if 0 <= bb < buckets_r):
                    cum += bc[b]
                    if cum >= k:
                        chosen[(bid, k)] = (b, bc[b])
                        break
                else:
                    # Invariant violation (k-th value escaped above hi —
                    # possible only on inconsistent bounds): fall through
                    # to the overflow bucket, exactly as the plan-side
                    # filter does (its cum >= k first triggers at
                    # b == buckets_r), so both paths collapse the bracket
                    # identically instead of raising KeyError below.
                    chosen[(bid, k)] = (buckets_r, 0)
        for (g, k), (lo, hi) in live.items():
            # Same narrowing arithmetic as the driver-side scan used —
            # b is the identical crossing bucket, now plan-selected.
            b, c_in = chosen[(brackets[(g, lo, hi)], k)]
            pop[(g, k)] = c_in
            w = hi - lo
            new_lo = lo + (w * b) / buckets_r
            new_hi = (
                lo + (w * (b + 1)) / buckets_r if b < buckets_r - 1 else hi
            )
            if new_lo >= new_hi:
                # Bracket collapsed to ~1 ulp. Do NOT read the boundary
                # off as the answer (the same few-ulp classification
                # error fixed below could make it 1 ulp from the true
                # DATA value) — pin a minimal positive-width bracket and
                # let the final pass read the exact value.
                delta = 4 * math.ulp(max(abs(new_lo), abs(new_hi), 1e-300))
                state[(g, k)] = (
                    max(lo, min(new_lo, new_hi) - delta),
                    min(max(new_lo, new_hi) + delta, hi),
                )
                converged.add((g, k))
                continue
            # Widen by w/2^30: the engine classifies buckets via
            # floor((v-lo)/w*B) whose few-ulp rounding can drop a value
            # JUST outside the recomputed boundary (e.g. a subnormal
            # absorbed into 0.0 lands below new_lo=0.0 and the terminal
            # bracket goes empty). The widening strictly dominates that
            # error while still shrinking the bracket ~B/2 per round.
            eps = w / (1 << 30)
            nlo = max(lo, new_lo - eps)
            nhi = min(new_hi + eps, hi)
            state[(g, k)] = (nlo, nhi)
            # Retire the bracket when (a) its population is small enough
            # for the final pass to resolve directly — the common exit,
            # usually after round 1 — or (b) it is a few ulps wide and
            # cannot be split further by B equal sub-ranges.
            if c_in <= FINAL_PASS_MAX_ROWS or nhi - nlo <= 8 * math.ulp(
                max(abs(nlo), abs(nhi), 1e-300)
            ):
                converged.add((g, k))

    # Final pass: distinct values inside each remaining bracket (a few
    # ulps wide -> a handful of rows per group), k-th read off exactly.
    live = [key for key in state if key not in resolved]
    if live and len(live) <= FINAL_PASS_WIDE_MAX:
        # Few brackets (the common case — one group, a handful of
        # ranks): ONE global conditional-aggregate pass with literal
        # bounds per bracket, instead of a bracket join. The join form
        # fans every source row out once PER BRACKET of its group
        # (r08: equi_depth's 15 one-group brackets scanned the corpus
        # 15x in the final pass — the measured 7s dominant); the wide
        # form scans it ONCE computing 2 conditional aggregates per
        # bracket, all map-side-combinable into a single scalar row.
        aggs = []
        for i, (g, k) in enumerate(live):
            lo, hi = state[(g, k)]
            gc = F.col("g") == F.lit(g)
            aggs.append(
                F.sum(
                    F.when(gc & (F.col("v") < F.lit(lo)), 1).otherwise(0)
                ).alias(f"below_{i}")
            )
            aggs.append(
                F.collect_list(
                    F.when(
                        gc
                        & (F.col("v") >= F.lit(lo))
                        & (F.col("v") <= F.lit(hi)),
                        F.col("v"),
                    )
                ).alias(f"in_{i}")
            )
        row = src.agg(*aggs).collect()[0]
        for i, (g, k) in enumerate(live):
            remaining = k - row[f"below_{i}"]
            cnt = Counter(row[f"in_{i}"])
            cum = 0
            for v in sorted(cnt):
                cum += cnt[v]
                if cum >= remaining:
                    resolved[(g, k)] = v
                    break
    elif live:
        # Keyed by DISTINCT bracket, not by rank (r11): the two ranks of
        # a percentile pair (kf, kc) — and any ranks that narrowed into
        # the same bucket — share one (g, lo, hi) bracket, so the join
        # fan-out and the collected value sets halve; each rank then
        # reads its k-th off the shared bracket data driver-side.
        fb: dict[tuple, int] = {}
        for g, k in live:
            fb.setdefault((g, *state[(g, k)]), len(fb))
        bounds = spark.createDataFrame(
            [(g, bid, lo, hi) for (g, lo, hi), bid in fb.items()],
            f"g {_gtype(live[0][0])}, bid long, lo double, hi double",
        )
        in_range = F.when(
            (F.col("v") >= F.col("lo")) & (F.col("v") <= F.col("hi")),
            F.col("v"),
        )
        per_bracket = {
            r["bid"]: r
            for r in src.join(F.broadcast(bounds), "g")
            .groupBy("bid")
            .agg(
                F.sum(F.when(F.col("v") < F.col("lo"), 1).otherwise(0)).alias(
                    "below"
                ),
                F.sort_array(F.collect_set(in_range)).alias("vals"),
                F.collect_list(in_range).alias("all_in"),
            )
            .collect()
        }
        for g, k in live:
            r = per_bracket[fb[(g, *state[(g, k)])]]
            remaining = k - r["below"]
            cnt = Counter(r["all_in"])
            cum = 0
            for v in r["vals"]:
                cum += cnt[v]
                if cum >= remaining:
                    resolved[(g, k)] = v
                    break
    return resolved


def _profile(df: DataFrame, group_col: str, value_col: str) -> tuple:
    src = cache(
        df.select(F.col(group_col).alias("g"), F.col(value_col).alias("v"))
        .filter(F.col("v").isNotNull())
    )
    prof = {
        r["g"]: (r["n"], float(r["lo"]), float(r["hi"]))
        for r in src.groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )
        .collect()
    }
    return src, prof


def _ntile_boundary_ranks(n: int, n_buckets: int) -> list[int]:
    """1-based ranks of the LAST row of buckets 1..n_buckets-1 under
    SQL NTILE semantics: the first ``n mod n_buckets`` buckets hold
    ``n div n_buckets + 1`` rows, the rest ``n div n_buckets``."""
    q, rem = divmod(n, n_buckets)
    ranks, cum = [], 0
    for b in range(n_buckets - 1):
        cum += q + 1 if b < rem else q
        ranks.append(cum)
    return ranks


# Metrics with at most this many DISTINCT values resolve their boundary
# VALUES from one exact (metric, value, count) histogram pass instead of
# bucket bisection: the collected histogram is bounded by
# metrics x HIST_MAX_DISTINCT rows (driver-safe by construction), and
# warehouse ranking metrics are usually low-cardinality (dates, counts)
# — at bench scale this saves the bisection's per-round driver actions,
# at 100 TB high-cardinality metrics take the bisection path unchanged.
HIST_MAX_DISTINCT = 65536


def ntile_boundary_pairs(
    df: DataFrame,
    metric_cols: list[str],
    tie_col: str,
    n_buckets: int = 4,
    hist_max_distinct: int = HIST_MAX_DISTINCT,
) -> dict[str, list[tuple[float, float]]]:
    """Exact ``NTILE(n) OVER (ORDER BY metric, tie)`` bucket boundaries
    for several metrics at once, WITHOUT a global sort (VERDICT r07 #4:
    a no-partitionBy window is a single-partition sort — at 100x the
    dimension that is billions of rows through one task, once per
    metric).

    Returns ``{metric: [(v_1, t_1), ..., (v_{n-1}, t_{n-1})]}`` where
    pair k is the (metric value, tie value) of the LAST row of bucket k
    in the total order (metric, tie) — tie values must be UNIQUE (a
    dimension key). A row's bucket is then
    ``1 + #{k : (v_k, t_k) < (row_v, row_t)}`` (lexicographic), an
    embarrassingly-parallel comparison against n_buckets-1 broadcast
    pairs — identical output to the window formulation, no
    single-partition exchange anywhere.

    Mechanics — typically THREE bounded driver actions:

    1. one profile pass (count / min / max / approx distinct) over the
       stacked (metric, value, tie) relation;
    2. boundary VALUES: metrics whose approx distinct count is under
       ``hist_max_distinct`` resolve from ONE exact (metric, value,
       count) histogram pass (collected relation bounded by
       metrics x hist_max_distinct rows — dates, counts, scores);
       high-cardinality metrics go through the bucket-bisection core
       (``_select_ranks``, mergeable conditional aggregates, 1-2
       full-input passes for uniform-ish data);
    3. boundary TIES: the boundary's tie value is the
       ``j = rank - #{v < v_k}``-th smallest tie inside the
       ``v == v_k`` class. Classes of at most ``FINAL_PASS_MAX_ROWS``
       rows resolve in one capped ``collect_list`` pass; larger tie
       classes (mass-tied metrics at scale) go through one more
       bisection over the class — never a sort.

    Driver state is metrics x (n_buckets-1) scalars plus the capped
    histogram. Values and ties must be exact in double (magnitude
    < 2^53 — dates-as-days, counts, cents, keys).
    """
    spark = df.sparkSession
    stacked = F.array(
        *[
            F.struct(
                F.lit(m).alias("g"), F.col(m).cast("double").alias("v")
            )
            for m in metric_cols
        ]
    )
    src = cache(
        df.select(
            F.col(tie_col).cast("double").alias("t"),
            F.explode(stacked).alias("x"),
        )
        .select("x.g", "x.v", "t")
    )

    def _semi(names):
        return src.join(
            F.broadcast(
                spark.createDataFrame([(g,) for g in sorted(names)], "g string")
            ),
            "g",
            "left_semi",
        )

    try:
        prof_rows = (
            src.groupBy("g")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("v").alias("lo"),
                F.max("v").alias("hi"),
                # Threshold decision only — 2% rsd is plenty; the exact
                # histogram size is still capped by the margin below.
                F.approx_count_distinct("v", 0.02).alias("nd"),
            )
            .collect()
        )
        prof = {
            r["g"]: (r["n"], float(r["lo"]), float(r["hi"])) for r in prof_rows
        }
        if not prof:
            return {m: [] for m in metric_cols}
        small = sorted(
            r["g"] for r in prof_rows if r["nd"] <= 0.8 * hist_max_distinct
        )
        boundary = {
            g: _ntile_boundary_ranks(n, n_buckets) for g, (n, _, _) in prof.items()
        }

        # ---- boundary VALUES ----
        vals: dict[tuple[str, int], float] = {}
        # (g, rank) -> (n_lt, n_eq); filled from the histogram for small
        # metrics, from the class-profile pass for bisected ones.
        cls_counts: dict[tuple[str, int], tuple[int, int]] = {}
        large = [g for g in prof if g not in small]
        if large:
            want = {g: sorted(set(boundary[g])) for g in large}
            vals.update(
                _select_ranks(
                    _semi(large).select("g", "v"), want, prof,
                    BUCKETS, MAX_ROUNDS,
                )
            )
        if small:
            hist: dict[str, list[tuple[float, int]]] = {g: [] for g in small}
            for r in (
                _semi(small)
                .groupBy("g", "v")
                .agg(F.count(F.lit(1)).alias("c"))
                .collect()
            ):
                hist[r["g"]].append((r["v"], r["c"]))
            for g in small:
                hv = sorted(hist[g])
                cum, i = 0, 0
                for r in sorted(set(boundary[g])):
                    while cum < r:
                        cum += hv[i][1]
                        i += 1
                    vals[(g, r)] = hv[i - 1][0]
                    cls_counts[(g, r)] = (cum - hv[i - 1][1], hv[i - 1][1])

        # ---- class profiles for bisected metrics (one pass, only when
        # some metric skipped the histogram) ----
        if large:
            bounds = spark.createDataFrame(
                sorted(
                    (g, r, vals[(g, r)])
                    for g in large
                    for r in set(boundary[g])
                ),
                "g string, k long, vk double",
            )
            for r in (
                _semi(large)
                .join(F.broadcast(bounds), "g")
                .groupBy("g", "k")
                .agg(
                    F.sum(
                        F.when(F.col("v") < F.col("vk"), 1).otherwise(0)
                    ).alias("n_lt"),
                    F.sum(
                        F.when(F.col("v") == F.col("vk"), 1).otherwise(0)
                    ).alias("n_eq"),
                )
                .collect()
            ):
                cls_counts[(r["g"], r["k"])] = (r["n_lt"], r["n_eq"])

        # ---- boundary TIES ----
        ties: dict[tuple[str, int], float] = {}
        shallow: list[tuple[str, int, float, int]] = []  # collect_list pass
        deep: dict[str, tuple[tuple[str, int], float, int]] = {}  # bisection
        for g in prof:
            for r in set(boundary[g]):
                n_lt, n_eq = cls_counts[(g, r)]
                j = r - n_lt
                if not (1 <= j <= n_eq):  # pragma: no cover - invariant
                    raise AssertionError(
                        f"ntile boundary rank escaped its tie class: {(g, r)}"
                    )
                if n_eq <= FINAL_PASS_MAX_ROWS:
                    shallow.append((g, r, vals[(g, r)], j))
                else:
                    deep[f"{g}\x00{r}"] = ((g, r), vals[(g, r)], j)
        if shallow:
            sb = spark.createDataFrame(
                sorted((g, r, vk) for g, r, vk, _ in shallow),
                "g string, k long, vk double",
            )
            got = {
                (r["g"], r["k"]): r["ts"]
                for r in src.join(F.broadcast(sb), "g")
                .filter(F.col("v") == F.col("vk"))
                .groupBy("g", "k")
                .agg(F.sort_array(F.collect_list("t")).alias("ts"))
                .collect()
            }
            for g, r, _, j in shallow:
                ties[(g, r)] = got[(g, r)][j - 1]
        if deep:
            deep_bounds = spark.createDataFrame(
                sorted(
                    (key[0], g2, vk) for g2, (key, vk, _) in deep.items()
                ),
                "g string, g2 string, vk double",
            )
            tie_src = (
                src.join(F.broadcast(deep_bounds), "g")
                .filter(F.col("v") == F.col("vk"))
                .select(F.col("g2").alias("g"), F.col("t").alias("v"))
            )
            # Exact class min/max for the bisection bounds (one pass
            # over the deep classes only — rare: mass-tied metric at
            # boundary with >FINAL_PASS_MAX_ROWS equal rows).
            mm = {
                r["g"]: (float(r["lo"]), float(r["hi"]))
                for r in tie_src.groupBy("g")
                .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
                .collect()
            }
            tie_prof = {
                g2: (cls_counts[key][1], *mm[g2])
                for g2, (key, _, _) in deep.items()
            }
            tie_want = {g2: [j] for g2, (_, _, j) in deep.items()}
            tie_vals = _select_ranks(
                tie_src, tie_want, tie_prof, BUCKETS, MAX_ROUNDS
            )
            for g2, (key, _, j) in deep.items():
                ties[key] = tie_vals[(g2, j)]

        return {
            m: [(vals[(m, r)], ties[(m, r)]) for r in boundary[m]]
            for m in metric_cols
        }
    finally:
        release(src)


def equi_depth_edges(df: DataFrame, value_col: str, n_buckets: int) -> list[float]:
    """Exact equi-depth bucket edges without a global sort: edge k is
    the ``(k*n) // n_buckets``-th smallest value (1-based, multiset
    order statistic) for k = 1..n_buckets-1, resolved by the bucket-
    bisection core — mergeable conditional aggregates only, the same
    machinery as ``ntile_boundary_pairs``. Returned in rank order,
    duplicates preserved (mass-tied data legitimately repeats an edge;
    bucket assignment ``1 + #{edges < x}`` then skips the starved
    buckets identically in any engine). Rows then bucket by comparison
    against the broadcast edges — a single aggregate pass, vs the
    NTILE window form's single-partition sort of the whole relation.
    """
    src, prof = _profile(
        df.select(F.lit("x").alias("g"), F.col(value_col).alias("v")),
        "g",
        "v",
    )
    if not prof:
        return []
    n = prof["x"][0]
    ranks = [
        r for r in ((k * n) // n_buckets for k in range(1, n_buckets)) if r >= 1
    ]
    resolved = _select_ranks(
        src, {"x": sorted(set(ranks))}, prof, BUCKETS, MAX_ROUNDS
    )
    release(src)
    return [resolved[("x", r)] for r in ranks]
