"""Order-insensitive Spark-vs-DuckDB result comparison.

Mirrors the driver's t2 check: column names (sorted), row count, and
values compared order-insensitively. Floats are compared with a small
absolute tolerance *after* the queries' own round(…, 4); timestamps
are normalized to µs; arrays become tuples so rows sort.
"""

from __future__ import annotations

import math
from datetime import datetime

import numpy as np
import pandas as pd


def _canon_cell(v):
    if isinstance(v, (list, np.ndarray)):
        return tuple(_canon_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon_cell(x)) for k, x in v.items()))
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.floating,)):
        return float(v)
    if isinstance(v, pd.Timestamp):
        return v.floor("us").to_pydatetime()
    return v


def _sort_key(row):
    out = []
    for v in row:
        if v is None or (isinstance(v, float) and math.isnan(v)):
            out.append((0, ""))
        elif isinstance(v, datetime):
            out.append((1, v.isoformat()))
        elif isinstance(v, (int, float)):
            # + 0.0 folds -0.0 into +0.0 so the sort key can't separate
            # values that _cells_equal treats as equal (ties must be ties)
            out.append((2, f"{float(v) + 0.0:+.10e}"))
        elif isinstance(v, tuple):
            out.append((3, str(v)))
        else:
            out.append((4, str(v)))
    return out


def canon_rows(df: pd.DataFrame) -> tuple[list[str], list[list]]:
    cols = sorted(df.columns)
    df = df.reindex(cols, axis=1)
    rows = [
        [_canon_cell(v) for v in row] for row in df.itertuples(index=False, name=None)
    ]
    rows.sort(key=_sort_key)
    return cols, rows


def _cells_equal(a, b) -> bool:
    # EXACT equality, including floats: the driver's t2 gate hashes raw
    # values, so any numeric slop that needs tolerance here would fail
    # there. The engine's float policy (computed doubles → float32 on
    # both sides) is what makes exactness achievable.
    if a is None and b is None:
        return True
    a_nan = isinstance(a, float) and math.isnan(a)
    b_nan = isinstance(b, float) and math.isnan(b)
    if a_nan or b_nan:
        return a_nan and b_nan
    if (a is None) != (b is None):
        return False
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        # Numeric KIND must match too: the driver's t2 gate hashes raw
        # values, so Spark int64 `1` vs DuckDB float64 `1.0` (e.g. a
        # HUGEINT windowed sum round-tripped through pandas) is a hash
        # mismatch there even though float(a)==float(b). Reproduce that
        # strictness here so dtype drift fails locally, not at the gate.
        if isinstance(a, bool) != isinstance(b, bool):
            return False
        if isinstance(a, float) != isinstance(b, float):
            return False
        return float(a) == float(b)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_cells_equal(x, y) for x, y in zip(a, b))
    if isinstance(a, datetime) and isinstance(b, datetime):
        return a.replace(tzinfo=None) == b.replace(tzinfo=None)
    return a == b


# --- vectorized fast path -------------------------------------------------
# The per-cell path above costs ~40-60 s on a 600k-row result (it is the
# dominant term in the full driver-sim for every per-row fn_* query). The
# fast path below is column-vectorized and EXACTLY as strict: it only
# engages when every column of BOTH frames is a homogeneous simple kind
# (integer / floating / boolean / string / datetime / date), it requires the
# numeric KIND to match column-wise (which for homogeneous columns is the
# same assertion the cell path makes per cell), and equality is exact
# (Series.equals: dtype-aware, NaN==NaN, no tolerance). Anything else —
# arrays, maps, decimals, mixed object columns — falls back to the cell
# path, as does any fast-path mismatch so failure diagnostics stay per-cell.

_KIND_MAP = {
    "integer": "i", "floating": "f", "boolean": "b", "string": "s",
    "datetime64": "t", "datetime": "t", "date": "d", "empty": "e",
}


def _fast_kind(col: pd.Series):
    """Canonical kind letter, or None if the column is not fast-path-safe."""
    dt = col.dtype
    if pd.api.types.is_bool_dtype(dt):
        return "b"
    if pd.api.types.is_integer_dtype(dt):
        return "i"
    if pd.api.types.is_float_dtype(dt):
        return "f"
    if pd.api.types.is_datetime64_any_dtype(dt):
        return "t"
    if dt == object:
        return _KIND_MAP.get(pd.api.types.infer_dtype(col, skipna=True))
    return None


def _fast_canon(col: pd.Series, kind: str) -> pd.Series:
    if kind == "t":
        if col.dtype == object:
            col = pd.to_datetime(col)
        if getattr(col.dtype, "tz", None) is not None:
            col = col.dt.tz_localize(None)
        # unify resolution: Series.equals is dtype-strict, and Spark
        # arrives as datetime64[ns] where DuckDB yields datetime64[us]
        return col.dt.floor("us").astype("datetime64[us]")
    if kind == "d":
        return pd.to_datetime(col).astype("datetime64[us]")
    if kind == "f":
        return col.astype("float64") + 0.0  # folds -0.0 → +0.0, NaN stays
    if kind == "i" and col.dtype != object:
        return col.astype("int64")
    if kind == "b" and col.dtype != object:
        return col.astype("bool")
    return col


def _frames_match_fast(s: pd.DataFrame, d: pd.DataFrame):
    """True / False, or None when the frames are not fast-path eligible."""
    cols = list(s.columns)
    canon_s, canon_d = {}, {}
    for c in cols:
        ks, kd = _fast_kind(s[c]), _fast_kind(d[c])
        if ks is None or kd is None:
            return None
        # an all-null column matches any kind (the cell path compares
        # None==None without ever seeing a kind)
        if ks != kd and "e" not in (ks, kd):
            # date-vs-datetime is a real mismatch in the cell path too;
            # numeric kind drift (int vs float) likewise — report via
            # the strict path for the detailed message
            return False
        k = ks if ks != "e" else kd
        if k == "e":
            canon_s[c], canon_d[c] = s[c], d[c]
            continue
        canon_s[c] = _fast_canon(s[c], k)
        canon_d[c] = _fast_canon(d[c], k)
    sf = pd.DataFrame(canon_s, columns=cols)
    df_ = pd.DataFrame(canon_d, columns=cols)
    try:
        sf = sf.sort_values(by=cols, na_position="last", kind="mergesort")
        df_ = df_.sort_values(by=cols, na_position="last", kind="mergesort")
    except TypeError:  # unsortable residue (mixed object) → strict path
        return None
    sf = sf.reset_index(drop=True)
    df_ = df_.reset_index(drop=True)
    return all(sf[c].equals(df_[c]) for c in cols)


def assert_frames_match(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame, name: str):
    s_cols = sorted(spark_pdf.columns)
    d_cols = sorted(duck_pdf.columns)
    assert s_cols == d_cols, f"{name}: column mismatch {s_cols} vs {d_cols}"
    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: row count {len(spark_pdf)} vs {len(duck_pdf)}"
    )
    try:
        fast = _frames_match_fast(
            spark_pdf.reindex(s_cols, axis=1), duck_pdf.reindex(d_cols, axis=1)
        )
    except Exception:  # any canonicalization surprise → strict path decides
        fast = None
    if fast is True:
        return
    # ineligible or mismatched: run the exact per-cell comparison (the
    # authority — also produces the per-cell diagnostic on mismatch)
    s_cols, s_rows = canon_rows(spark_pdf)
    d_cols, d_rows = canon_rows(duck_pdf)
    for i, (sr, dr) in enumerate(zip(s_rows, d_rows)):
        for c, (sv, dv) in zip(s_cols, zip(sr, dr)):
            assert _cells_equal(sv, dv), (
                f"{name}: value mismatch row {i} col {c}: spark={sv!r} duck={dv!r}"
            )


def jobs_per_call(spark, build, collect=True) -> int:
    """Spark jobs one call runs: planning (probes) plus, with
    ``collect``, the final collect, read from the status tracker under
    a fresh job group."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        df = build()
        if collect:
            df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))
