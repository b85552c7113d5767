"""§2 extensions, ninety-fifth wave — survey raking.

- agg_raking_ipf: Deming-Stephan iterative proportional fitting
  (1940) — rake the observed priority × status table to EQUAL
  priority margins while preserving the status margins, five
  unrolled row/column sweeps on the bounded 15-cell grid. THE
  survey-weighting workhorse (every poll you read is raked), and the
  maximum-entropy adjustment consistent with the target margins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_deliver_spark.registry import register
from hadoop_deliver_spark.tables import tbl

_ROWS = (1, 2, 3, 4, 5)
_COLS = ("F", "O", "P")
_SWEEPS = 5


def _ipf_sql() -> str:
    """Unrolled IPF as chained CTEs (the graph_pagerank oracle
    device): it0 holds the observed DOUBLE cells; each sweep divides
    every cell by its row sum and multiplies by the row target n/5,
    then rescales columns back to the OBSERVED column margins."""
    cells = ", ".join(
        f"CAST(coalesce(sum(CASE WHEN r = {i} AND c = '{s}' THEN k END),"
        f" 0) AS DOUBLE) AS x{i}{s}"
        for i in _ROWS
        for s in _COLS
    )
    col_tgts = ", ".join(
        f"CAST(coalesce(sum(CASE WHEN c = '{s}' THEN k END), 0)"
        f" AS DOUBLE) AS tg{s}"
        for s in _COLS
    )
    parts = [
        "WITH cells AS (",
        "    SELECT CAST(substr(o_orderpriority, 1, 1) AS INT) AS r,",
        "           o_orderstatus AS c,",
        "           CAST(count(*) AS BIGINT) AS k",
        "    FROM orders GROUP BY 1, 2",
        "),",
        f"it0 AS (SELECT {cells}, {col_tgts},",
        "    CAST(sum(k) AS DOUBLE) AS n FROM cells),",
    ]
    prev = "it0"
    for t in range(1, _SWEEPS + 1):
        row_exprs = ", ".join(
            f"x{i}{s} * (n / 5) / ({' + '.join(f'x{i}{c}' for c in _COLS)})"
            f" AS x{i}{s}"
            for i in _ROWS
            for s in _COLS
        )
        parts.append(
            f"row{t} AS (SELECT {row_exprs}, "
            + ", ".join(f"tg{s}" for s in _COLS)
            + f", n FROM {prev}),"
        )
        col_exprs = ", ".join(
            f"x{i}{s} * tg{s} / ({' + '.join(f'x{r}{s}' for r in _ROWS)})"
            f" AS x{i}{s}"
            for i in _ROWS
            for s in _COLS
        )
        parts.append(
            f"it{t} AS (SELECT {col_exprs}, "
            + ", ".join(f"tg{s}" for s in _COLS)
            + f", n FROM row{t}),"
        )
        prev = f"it{t}"
    gap = ", ".join(
        f"abs(({' + '.join(f'x{i}{c}' for c in _COLS)}) - n / 5)"
        for i in _ROWS
    )
    parts.append(
        f"fin AS (SELECT *, GREATEST({gap}) AS gap FROM {prev})"
    )
    stack = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS priority, '{s}' AS status, "
        f"round(x{i}{s}, 4) AS fitted, round(gap, 6) AS max_row_gap, "
        f"gap < 1e-6 * n AS converged FROM fin"
        for i in _ROWS
        for s in _COLS
    )
    parts.append(stack)
    parts.append("ORDER BY priority, status")
    return "\n".join(parts)


@register("agg_raking_ipf", _ipf_sql(), tags=("agg", "stats"))
def agg_raking_ipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deming-Stephan iterative proportional fitting (1940) on the
    priority × status table: rake the observed counts so every
    priority carries an EQUAL n/5 margin while the status margins
    stay at their observed values — the survey-weighting adjustment
    every published poll applies (and, equivalently, the
    maximum-entropy / minimum-KL table with the requested margins;
    Ireland & Kullback 1968). Five row/column sweeps UNROLL over the
    bounded 15-cell grid as fixed textual expressions on BOTH
    engines (the graph_pagerank unrolled-oracle device): each sweep
    is 15 correctly-rounded multiply/divide chains in one fixed
    order, so every fitted cell is a bit-identical double. The
    convergence report is the max row-margin gap after the final
    column rescale (columns match exactly by construction);
    `converged` compares that bit-identical gap against the shared
    relative tolerance 1e-6·n. Fitted cells display round-4, the gap
    round-6; K = 5 is the stated sweep budget (a near-consistent
    table converges geometrically — the fixture gap lands far below
    tolerance).

    Scale shape: one keyed reduce to 15 cells, a 1-row pivot, five
    unrolled 15-expression sweeps, a 15-row literal unstack —
    nothing iterative ever touches the fact table."""
    o = tbl(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.substring("o_orderpriority", 1, 1).cast("int").alias("r"),
        F.col("o_orderstatus").alias("c"),
    ).agg(F.count(F.lit(1)).cast("long").alias("k"))
    it = cells.agg(
        *[
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("r") == i) & (F.col("c") == s), F.col("k")
                    )
                ),
                F.lit(0),
            )
            .cast("double")
            .alias(f"x{i}{s}")
            for i in _ROWS
            for s in _COLS
        ],
        *[
            F.coalesce(
                F.sum(F.when(F.col("c") == s, F.col("k"))), F.lit(0)
            )
            .cast("double")
            .alias(f"tg{s}")
            for s in _COLS
        ],
        F.sum("k").cast("double").alias("n"),
    )
    # r12: the five sweeps were UNROLLED as five chained 15-expression
    # selects on a 1-row frame — correct, but the expression tree grew
    # to thousands of nodes and ANALYSIS/CODEGEN time (~3.5s) dwarfed
    # the data work. The table is domain-bounded (15 cells — the
    # events_markov_reach 25-cell device), so the sweeps now run
    # driver-side in NumPy float64 with the IDENTICAL operation order
    # (row pass: x·(n/5)/rowsum off the pre-pass snapshot, left-fold
    # rowsums; column pass: x·tg/colsum; gap: left-fold rowsums,
    # max-fold of |rowsum − n/5|) — bit-identical doubles; the
    # round/stack/compare stays in Spark SQL unchanged. A zero margin
    # (a priority or status with no orders) divides by zero: NaN/inf
    # here where SQL yields NULL, which propagates through the same
    # arithmetic. So non-finite cells map to NULL, and the gap fold
    # skips NaN (np.fmax) the way GREATEST skips NULL.
    import numpy as np

    _r0 = it.collect()[0]
    _x = {
        (i, c): np.float64(_r0[f"x{i}{c}"]) for i in _ROWS for c in _COLS
    }
    _tg = {c: np.float64(_r0[f"tg{c}"]) for c in _COLS}
    _n = np.float64(_r0["n"])
    with np.errstate(divide="ignore", invalid="ignore"):
        for _t in range(_SWEEPS):
            snap = dict(_x)
            for i in _ROWS:
                rowsum = None
                for c in _COLS:
                    rowsum = (
                        snap[(i, c)]
                        if rowsum is None
                        else rowsum + snap[(i, c)]
                    )
                for c in _COLS:
                    _x[(i, c)] = snap[(i, c)] * (_n / 5) / rowsum
            snap = dict(_x)
            for c in _COLS:
                colsum = None
                for i in _ROWS:
                    colsum = (
                        snap[(i, c)]
                        if colsum is None
                        else colsum + snap[(i, c)]
                    )
                for i in _ROWS:
                    _x[(i, c)] = snap[(i, c)] * _tg[c] / colsum
        _gap = None
        for i in _ROWS:
            rowsum = None
            for c in _COLS:
                rowsum = (
                    _x[(i, c)] if rowsum is None else rowsum + _x[(i, c)]
                )
            g = np.abs(rowsum - _n / 5)
            _gap = g if _gap is None else np.fmax(_gap, g)

    def _sql(v):
        return float(v) if np.isfinite(v) else None

    it = spark.createDataFrame(
        [
            tuple(_sql(_x[(i, c)]) for i in _ROWS for c in _COLS)
            + tuple(float(_tg[c]) for c in _COLS)
            + (float(_n), _sql(_gap))
        ],
        ", ".join(
            [f"x{i}{c} double" for i in _ROWS for c in _COLS]
            + [f"tg{c} double" for c in _COLS]
            + ["n double", "gap double"]
        ),
    )
    fin = it
    stack_args = []
    for i in _ROWS:
        for s in _COLS:
            stack_args.append(
                f"CAST({i} AS BIGINT), '{s}', round(x{i}{s}, 4), "
                f"round(gap, 6), (gap < 1e-6 * n)"
            )
    stacked = fin.selectExpr(
        f"stack({len(_ROWS) * len(_COLS)}, {', '.join(stack_args)}) AS "
        "(priority, status, fitted, max_row_gap, converged)"
    )
    return stacked.orderBy("priority", "status")
