"""Distributed linear algebra (r08): integer-exact top principal
component of the embedding covariance by power iteration.

The classic "PCA over a 100 TB embedding table" decomposition: the
DATA pass is one distributed moment computation — per-dimension sums
S_i and the d x d second-moment matrix S_ij on the standing 1e-6
integer coordinate grid (floor(x*1e6); float->double widening, double
multiply and floor are identical IEEE ops in both engines) — and the
ITERATION runs on the collected d x d integer covariance matrix
C_ij = N*S_ij - S_i*S_j, which is dimension-bounded (64 x 64 exact
integers here), never on the data. That split is exactly how a
1000-executor job does it: moments shuffle d^2 partial sums per task,
the eigensolve is driver math on a few KB.

Everything stays EXACT integer end to end — including the iteration:
v_0 = (1e6, ..., 1e6); each round w = C v (exact products), then
renormalize v' = sign(w) * (|w| div max(|w|) div-scaled back to ~1e6)
using only abs-guarded integer division, so trunc (Spark/Python) and
floor (DuckDB) agree and the DuckDB oracle replays all 8 rounds as
unrolled CTEs bit-for-bit. No float appears anywhere: the output
loadings are e6-scaled integers and the explained-variance ratio is
an exact scaled division (ev_ppm = v'Cv * 1e6 div (v'v * trace C),
with the trace pre-truncated at 1e6 — relative error < 1e-6, applied
identically on both legs). Sign is fixed by the standard convention:
the largest-|loading| dimension (smallest index on ties) is positive.

Magnitude ceilings (decimal(38,0) / int64 discipline): with |x| <= 2
and d = 64, C entries are <= 4e12 * N^2 and the matvec terms
d * |C| * 1e6 stay inside 1e38 to N ~ 6e8 vectors; past that,
pre-scale the coordinate grid to 1e-4 (C shrinks 1e4x). The final
ev_ppm division keeps every div RESULT inside int64 at any N
(ev_ppm <= ~1e6 by construction).

Reference counterpart: none (the reference has no vector analytics);
this extends the ANN/centroid family in SURVEY.md terms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reddit_data_pipeline_engineering_spark.plans.queries import REGISTRY, query
from reddit_data_pipeline_engineering_spark.sources.tables import load_table

__all__ = ["REGISTRY"]

_PCA_ITERS = 8
_VS = 1_000_000  # iteration vector scale AND coordinate grid scale


def _pca_iter_ctes() -> str:
    parts = [
        """vals AS MATERIALIZED (
  SELECT vec_id, t.i - 1 AS i,
         CAST(FLOOR(CAST(embedding[t.i] AS DOUBLE) * 1000000.0) AS HUGEINT)
           AS q
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
)""",
        "nn AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM embeddings)",
        "moms AS MATERIALIZED (SELECT i, SUM(q) AS s FROM vals GROUP BY i)",
        """sij AS MATERIALIZED (
  SELECT a.i AS i, b.i AS j, SUM(a.q * b.q) AS p
  FROM vals a JOIN vals b USING (vec_id) GROUP BY 1, 2
)""",
        """cov AS MATERIALIZED (
  SELECT sij.i, sij.j, nn.n * sij.p - mi.s * mj.s AS c
  FROM sij
  CROSS JOIN nn
  JOIN moms mi ON mi.i = sij.i
  JOIN moms mj ON mj.i = sij.j
)""",
        f"v0 AS (SELECT i, CAST({_VS} AS HUGEINT) AS v FROM moms)",
    ]
    for t in range(1, _PCA_ITERS + 1):
        parts.append(
            f"""w{t} AS MATERIALIZED (
  SELECT c.i, SUM(c.c * v.v) AS w
  FROM cov c JOIN v{t - 1} v ON v.i = c.j GROUP BY c.i
)"""
        )
        parts.append(
            f"""v{t} AS MATERIALIZED (
  SELECT i, CASE WHEN w >= 0 THEN 1 ELSE -1 END
            * (ABS(w) // GREATEST(
                 (SELECT MAX(ABS(w)) FROM w{t}) // {_VS}, 1)) AS v
  FROM w{t}
)"""
        )
    last = f"v{_PCA_ITERS}"
    parts.append(
        f"""wf AS (
  SELECT c.i, SUM(c.c * v.v) AS w
  FROM cov c JOIN {last} v ON v.i = c.j GROUP BY c.i
)"""
    )
    parts.append(
        f"""stats AS (
  SELECT SUM(v.v * w.w) AS num, SUM(v.v * v.v) AS den
  FROM {last} v JOIN wf w USING (i)
)"""
    )
    parts.append("tr AS (SELECT SUM(c) AS tr FROM cov WHERE i = j)")
    parts.append(
        f"""ev AS (
  SELECT CAST(COALESCE(num // NULLIF(den * GREATEST(tr // {_VS}, 1), 0),
                       0) AS BIGINT) AS ev_ppm
  FROM stats CROSS JOIN tr
)"""
    )
    parts.append(
        f"""sgn AS (
  SELECT CASE WHEN (SELECT v FROM {last} ORDER BY ABS(v) DESC, i ASC LIMIT 1)
              < 0 THEN -1 ELSE 1 END AS s
)"""
    )
    return ",\n".join(parts)


_PCA_ORACLE = f"""
WITH {_pca_iter_ctes()}
SELECT CAST(v.i AS BIGINT) AS dim,
       CAST(sgn.s * v.v AS BIGINT) AS loading_e6,
       ev.ev_ppm
FROM v{_PCA_ITERS} v CROSS JOIN sgn CROSS JOIN ev
ORDER BY dim
"""


@query(
    "pca_power_component",
    _PCA_ORACLE,
    "Top principal component of the embedding covariance by "
    "integer-exact power iteration (8 rounds): ONE distributed moment "
    "pass (per-dim sums + d^2 second moments on the 1e-6 grid, "
    "map-side-combined), then driver-side exact-integer iteration on "
    "the collected d x d covariance — the oracle replays all rounds as "
    "unrolled CTEs; outputs e6-scaled loadings (largest-|loading| dim "
    "positive) and the explained-variance ratio in ppm",
    tags=("llm", "similarity", "stats", "bench"),
)
def q_pca_power_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        F.expr(
            "transform(embedding,"
            " x -> cast(floor(cast(x as double) * 1000000.0) as long))"
        ).alias("qs"),
    )

    # ONE Arrow-batched moment pass: per batch, numpy computes the
    # d x d partial Gram Q^T Q, the per-dim sums and the row count in
    # int64 (EXACT: |q| <= ~2.3e6 so a 10k-row batch's partials cap at
    # ~5e16, guarded below against wider future inputs), emitting
    # d^2 + d + 1 partial rows per batch; the global rollup sums the
    # partials as decimal(38,0). This replaces the first-cut N*d^2
    # posexplode (measured 5.1 s at sf0.1 — row inflation, not math,
    # dominated); the mapInPandas form is ~4x faster and shuffles the
    # same d^2-bounded payload per task. Encoding: (i, j, v) with
    # j = -1 for first moments and (-1, -1) for the count.
    def gram(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            m = np.array(pdf["qs"].tolist(), dtype=np.int64)
            # Explicit raises (not assert): the guard must survive
            # `python -O`, which strips asserts and would turn the
            # documented fail-loud bound into silent int64 wraparound.
            if np.abs(m).max(initial=0) >= 3_000_000:
                raise ValueError(
                    "coordinate grid outside the int64 partial-Gram "
                    "bound — shrink the quantization scale"
                )
            # rows * max|q|^2 must stay inside int64: with |q| < 3e6 a
            # batch may hold up to ~5e5 rows. Arrow's default batch is
            # 10k rows; a retuned maxRecordsPerBatch could exceed the
            # bound, and numpy wraps silently — so fail loudly instead.
            if m.shape[0] >= 500_000:
                raise ValueError(
                    "Arrow batch too large for the int64 partial-Gram "
                    "bound — lower "
                    "spark.sql.execution.arrow.maxRecordsPerBatch"
                )
            g = m.T @ m
            d = m.shape[1]
            ii, jj = np.indices((d, d))
            yield pd.DataFrame(
                {
                    "i": np.concatenate(
                        [ii.ravel(), np.arange(d), [-1]]
                    ),
                    "j": np.concatenate(
                        [jj.ravel(), np.full(d, -1), [-1]]
                    ),
                    "v": np.concatenate(
                        [g.ravel(), m.sum(axis=0), [m.shape[0]]]
                    ),
                }
            )

    parts = q.mapInPandas(gram, "i long, j long, v long")
    agg = parts.groupBy("i", "j").agg(
        F.sum(F.col("v").cast("decimal(38,0)")).alias("v")
    )
    rows_ = agg.collect()
    n = 0
    s: dict[int, int] = {}
    p: dict[tuple[int, int], int] = {}
    for r in rows_:
        i, j, v = int(r["i"]), int(r["j"]), int(r["v"])
        if i == -1:
            n = v
        elif j == -1:
            s[i] = v
        else:
            p[(i, j)] = v
    d = len(s)
    cov = [
        [n * p[(i, j)] - s[i] * s[j] for j in range(d)] for i in range(d)
    ]
    # Exact-integer power iteration (Python ints are arbitrary
    # precision — bit-identical to the oracle's HUGEINT CTE rounds).
    v = [_VS] * d
    for _ in range(_PCA_ITERS):
        w = [sum(cov[i][j] * v[j] for j in range(d)) for i in range(d)]
        m = max((abs(x) for x in w), default=0)
        scale = max(m // _VS, 1)
        v = [(1 if x >= 0 else -1) * (abs(x) // scale) for x in w]
    wf = [sum(cov[i][j] * v[j] for j in range(d)) for i in range(d)]
    num = sum(v[i] * wf[i] for i in range(d))
    den = sum(x * x for x in v)
    tr = sum(cov[i][i] for i in range(d))
    # Degenerate input (zero-variance embeddings): v collapses to all
    # zeros and den = 0 — emit ev_ppm = 0 instead of dividing (the
    # oracle's NULLIF mirrors this).
    ev_ppm = (
        num // (den * max(tr // _VS, 1)) if den > 0 else 0
    )
    k = min(range(d), key=lambda i: (-abs(v[i]), i))
    if v[k] < 0:
        v = [-x for x in v]
    rows = [(i, v[i], ev_ppm) for i in range(d)]
    return spark.createDataFrame(
        rows, "dim long, loading_e6 long, ev_ppm long"
    ).orderBy("dim")
