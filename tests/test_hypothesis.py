"""Ring-3b: randomized differential checks (hypothesis). Each example
is small (tens of rows) so the Spark jobs stay sub-second; examples are
bounded and deadline-free because JVM job latency is not the property
under test."""

from __future__ import annotations

from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F


def _pairs_brute(emb, tau):
    from hadoop_deliver_spark.operators.llm import _dot, _norm

    e = emb.withColumn("nrm", _norm("e"))
    a = e.select(
        F.col("vec_id").alias("vec_a"), F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"), F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos", _dot("ea", "eb") / (F.col("na") * F.col("nb")))
        .filter(F.col("cos") >= F.lit(tau))
        .select("vec_a", "vec_b", F.col("cos").cast("float").alias("cos"))
        .orderBy("vec_a", "vec_b")
        .collect()
    )


@settings(max_examples=5, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    tau=st.sampled_from([0.2, 0.5, 0.8]),
    dim=st.sampled_from([4, 8]),
)
def test_grid_pairs_equal_brute_force_on_random_vectors(spark, seed, tau, dim):
    """The grid equi-join must equal brute-force all-pairs for ANY
    vector set and threshold — the lossless-partitioner claim, probed
    beyond the fixture corpus with random (clustered and unclustered)
    vectors."""
    import random

    from hadoop_deliver_spark.operators.llm_text import _grid_cosine_pairs

    rng = random.Random(seed)
    n = 24
    # half isotropic noise, half clustered around two centers — covers
    # both the degenerate-grid and the pruning-grid regimes
    centers = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(2)]
    rows = []
    for i in range(n):
        if i % 2 == 0:
            v = [rng.uniform(-1, 1) for _ in range(dim)]
        else:
            c = centers[i % len(centers)]
            v = [x + rng.gauss(0, 0.05) for x in c]
        if all(abs(x) < 1e-9 for x in v):
            v[0] = 1.0  # avoid zero vectors (undefined cosine)
        rows.append((i, v))
    emb = spark.createDataFrame(rows, "vec_id long, e array<double>")
    grid = _grid_cosine_pairs(emb, tau=tau).collect()
    brute = _pairs_brute(emb, tau)
    assert grid == brute


@settings(max_examples=5, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    forward=st.booleans(),
)
def test_asof_union_window_equals_duckdb_asof(spark, seed, forward):
    """The union+window as-of core must equal DuckDB's native ASOF
    JOIN (an independent implementation) on ANY event set — including
    ts ties between events and probes, probes before the first event,
    and probes after the last. Random small event sets probe the tie
    semantics the fixture rarely exercises."""
    import random
    from datetime import datetime, timedelta

    import duckdb

    from hadoop_deliver_spark.operators.joins import _asof_union_window
    from tests.parity import assert_frames_match

    rng = random.Random(seed)
    base = datetime(2024, 1, 1)
    # small user set + coarse second grid → frequent exact-ts ties
    ev_rows = [
        (
            rng.randint(0, 3),
            base + timedelta(seconds=rng.randint(0, 30)),
            round(rng.uniform(0, 100), 2),
        )
        for _ in range(40)
    ]
    # one value per (user, ts): keep the max (both engines identical)
    dedup = {}
    for u, ts, v in ev_rows:
        dedup[(u, ts)] = max(v, dedup.get((u, ts), -1.0))
    ev_rows = [(u, ts, v) for (u, ts), v in sorted(dedup.items())]
    probe_rows = sorted(
        {
            (rng.randint(0, 3), base + timedelta(seconds=rng.randint(-5, 35)))
            for _ in range(15)
        }
    )
    e = spark.createDataFrame(
        ev_rows, "user_id long, ts timestamp, value double"
    )
    probes = spark.createDataFrame(probe_rows, "user_id long, ts timestamp")
    out = "next_value" if forward else "asof_value"
    got = _asof_union_window(e, probes, forward=forward, out=out).toPandas()

    duck = duckdb.connect()
    duck.execute("CREATE TABLE ev (user_id BIGINT, ts TIMESTAMP, value DOUBLE)")
    duck.executemany("INSERT INTO ev VALUES (?, ?, ?)", ev_rows)
    duck.execute("CREATE TABLE pr (user_id BIGINT, ts TIMESTAMP)")
    duck.executemany("INSERT INTO pr VALUES (?, ?)", probe_rows)
    op = ">=" if forward else "<="
    want = duck.execute(
        f"""
        SELECT p.user_id, p.ts AS probe_ts, e.value AS {out}
        FROM pr p ASOF JOIN ev e
          ON e.user_id = p.user_id AND e.ts {op} p.ts
        ORDER BY p.user_id, probe_ts
        """
    ).df()
    assert_frames_match(got, want, f"asof forward={forward} seed={seed}")


@settings(max_examples=5, deadline=None)
@given(seed=st.integers(min_value=0, max_value=2**31 - 1))
def test_day_streaks_equal_duckdb_on_random_days(spark, seed):
    """Gaps-and-islands streak lengths must match DuckDB's independent
    computation on ANY random day set (runs of consecutive days with
    arbitrary gaps, single-day islands, full-range runs)."""
    import random
    from datetime import datetime, timedelta

    import duckdb

    from hadoop_deliver_spark.operators.timeseries import _day_streaks
    from tests.parity import assert_frames_match

    rng = random.Random(seed)
    base = datetime(2024, 1, 1)
    day_rows = sorted(
        {
            (rng.randint(0, 4), base + timedelta(days=rng.randint(0, 20)))
            for _ in range(60)
        }
    )
    days = spark.createDataFrame(day_rows, "user_id long, d timestamp")
    got = _day_streaks(days).toPandas()

    duck = duckdb.connect()
    duck.execute("CREATE TABLE days (user_id BIGINT, d TIMESTAMP)")
    duck.executemany("INSERT INTO days VALUES (?, ?)", day_rows)
    want = duck.execute(
        """
        WITH seq AS (
          SELECT user_id, d,
                 date_diff('day', DATE '2024-01-01', CAST(d AS DATE))
                   - row_number() OVER (PARTITION BY user_id ORDER BY d) AS grp
          FROM days
        ),
        streaks AS (
          SELECT user_id, grp, count(*) AS len FROM seq GROUP BY 1, 2
        )
        SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
               max(len) AS longest_streak, count(*) AS n_streaks
        FROM streaks GROUP BY user_id ORDER BY user_id
        """
    ).df()
    assert_frames_match(got, want, f"streaks seed={seed}")


@settings(max_examples=5, deadline=None)
@given(seed=st.integers(min_value=0, max_value=2**31 - 1))
def test_interpolation_equals_duckdb_on_random_series(spark, seed):
    """The grid-interpolation core must match an independent DuckDB
    computation on ANY sparse series — single observations (no
    interpolable gap), interior gaps of arbitrary width, leading/
    trailing gaps (stay null), and values adversarially placed near
    .xxxx5 quantization edges."""
    import random
    from datetime import datetime, timedelta

    import duckdb

    from hadoop_deliver_spark.operators.timeseries import _interpolate_grid
    from tests.parity import assert_frames_match

    rng = random.Random(seed)
    base = datetime(2024, 1, 1)
    rows = []
    for t in ["a", "b", "c"]:
        n_obs = rng.randint(1, 8)
        slots = rng.sample(range(12), n_obs)
        for s in slots:
            # mix ordinary values with .xxxx5-edge ones
            v = (
                round(rng.uniform(0, 100), 2)
                if rng.random() < 0.5
                else rng.randint(0, 999) / 10 + 0.00005
            )
            rows.append((t, base + timedelta(hours=6 * s), v))
    b = spark.createDataFrame(
        rows, "event_type string, bucket timestamp, obs_v double"
    )
    got = _interpolate_grid(b).toPandas()

    duck = duckdb.connect()
    duck.execute(
        "CREATE TABLE b (event_type VARCHAR, bucket TIMESTAMP, obs_v DOUBLE)"
    )
    duck.executemany("INSERT INTO b VALUES (?, ?, ?)", rows)
    want = duck.execute(
        """
        WITH bounds AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM b),
        grid AS (
          SELECT t.event_type, g.bucket
          FROM (SELECT DISTINCT event_type FROM b) t
          CROSS JOIN (
            SELECT unnest(generate_series((SELECT lo FROM bounds),
                                          (SELECT hi FROM bounds),
                                          INTERVAL 6 HOUR)) AS bucket
          ) g
        ),
        j AS (
          SELECT grid.event_type, grid.bucket, b.obs_v,
                 last_value(b.obs_v IGNORE NULLS) OVER wa AS prev_v,
                 last_value(CASE WHEN b.obs_v IS NOT NULL THEN grid.bucket END
                            IGNORE NULLS) OVER wa AS prev_t,
                 first_value(b.obs_v IGNORE NULLS) OVER wd AS next_v,
                 first_value(CASE WHEN b.obs_v IS NOT NULL THEN grid.bucket END
                             IGNORE NULLS) OVER wd AS next_t
          FROM grid LEFT JOIN b
            ON b.event_type = grid.event_type AND b.bucket = grid.bucket
          WINDOW wa AS (PARTITION BY grid.event_type ORDER BY grid.bucket
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 wd AS (PARTITION BY grid.event_type ORDER BY grid.bucket
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
        SELECT event_type, bucket,
               CAST(floor(
                 CASE
                   WHEN obs_v IS NOT NULL THEN obs_v
                   WHEN prev_v IS NOT NULL AND next_v IS NOT NULL THEN
                     prev_v + (next_v - prev_v)
                       * (CAST(epoch(bucket) - epoch(prev_t) AS DOUBLE)
                          / CAST(epoch(next_t) - epoch(prev_t) AS DOUBLE))
                   ELSE NULL
                 END * 10000 + 0.5) / 10000 AS REAL) AS value_interp
        FROM j ORDER BY event_type, bucket
        """
    ).df()
    assert_frames_match(got, want, f"interp seed={seed}")


def _nblocks(n):
    """Run the block-ranked cores with at most ``n`` blocks (a
    context manager; hypothesis tests cannot take monkeypatch)."""
    from unittest import mock

    from hadoop_deliver_spark import api

    return mock.patch.object(api, "_NBLOCKS", n)


def _maybe_null(rng, null_pct):
    """A duplicate-heavy order value, NULL with probability
    ``null_pct`` %."""
    return None if rng.randrange(100) < null_pct else rng.randint(0, 9)


@settings(max_examples=5, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    n_rows=st.sampled_from([3, 17, 40, 101]),
    n_buckets=st.sampled_from([4, 5, 10]),
    null_pct=st.sampled_from([0, 20, 100]),
)
def test_exact_ntile_core_equals_window_ntile(
    spark, seed, n_rows, n_buckets, null_pct
):
    """api.exact_global_ntile (the shared block-ranked core) must
    reproduce `ntile(n) OVER (ORDER BY value, key)` exactly — for any
    row count (including fewer rows than buckets), duplicate-heavy
    values, NULL values (sorted first), and any bucket count."""
    import random

    from pyspark.sql import Window

    from hadoop_deliver_spark.api import exact_global_ntile

    rng = random.Random(seed)
    rows = [(i, _maybe_null(rng, null_pct)) for i in range(n_rows)]
    df = spark.createDataFrame(rows, "key long, value long")
    with _nblocks(4):
        got = {
            (r.key, r.bkt)
            for r in exact_global_ntile(
                df, "value", "key", n_buckets, "bkt"
            ).collect()
        }
    w = Window.orderBy("value", "key")
    want = {
        (r.key, r.bkt)
        for r in df.select(
            "key", F.ntile(n_buckets).over(w).cast("long").alias("bkt")
        ).collect()
    }
    assert got == want


@settings(max_examples=20, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    n_noise=st.integers(min_value=50, max_value=20000),
    n_heavy=st.integers(min_value=60, max_value=300),
)
def test_misra_gries_candidates_are_a_superset(seed, n_noise, n_heavy):
    """MG(64) must never drop a key with frequency > n/64 — the
    superset guarantee events_heavy_hitters' exact refine rests on.
    Adversarial stream: one planted heavy key buried in noise, any
    arrival order. Pure-Python check (the partition kernel runs on
    plain pandas batches)."""
    import random

    import pandas as pd

    from hadoop_deliver_spark.api import _misra_gries_kernel
    from hadoop_deliver_spark.operators.sketches import _K

    rng = random.Random(seed)
    heavy_key = 10_000_000
    stream = [rng.randint(0, 5000) for _ in range(n_noise)]
    stream += [heavy_key] * n_heavy
    rng.shuffle(stream)
    n = len(stream)
    # only assert when the guarantee applies
    if n_heavy <= n // _K:
        return
    # feed in several batches to exercise batch-boundary state
    third = max(1, n // 3)
    batches = [
        pd.DataFrame({"key": stream[i : i + third]})
        for i in range(0, n, third)
    ]
    (out,) = list(_misra_gries_kernel("key", _K)(iter(batches)))
    assert heavy_key in set(out["key"])


@settings(max_examples=5, deadline=None)
@given(seed=st.integers(min_value=0, max_value=2**31 - 1))
def test_url_canonicalizer_collapses_variants(spark, seed):
    """Every messy variant of the same resource must canonicalize to
    one string, and the canonicalizer must be idempotent (running it
    on its own output is a no-op)."""
    import random

    from hadoop_deliver_spark.operators.llm_url import _canonicalize

    rng = random.Random(seed)
    host = rng.choice(["src1", "WWW.src1", "SRC1", "www.SRC1"])
    variants = []
    for scheme in ["http", "HTTP", "Http"]:
        for port in ["", ":80"]:
            for slash in ["", "/"]:
                for utm in ["", "utm_source=x&", "utm_campaign=y&"]:
                    for frag in ["", "#sec1"]:
                        variants.append(
                            f"{scheme}://{host}.Example.COM{port}/p/7{slash}"
                            f"?{utm}lang=en{frag}"
                        )
    df = spark.createDataFrame([(v,) for v in variants], "url string")
    out = df.select(_canonicalize(F.col("url")).alias("c")).collect()
    canon = {r.c for r in out}
    assert len(canon) == 1, canon
    c = canon.pop()
    df2 = spark.createDataFrame([(c,)], "url string")
    again = df2.select(_canonicalize(F.col("url")).alias("c")).collect()[0].c
    assert again == c


@settings(max_examples=15, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    n_rows=st.integers(min_value=1, max_value=200),
    null_pct=st.sampled_from([0, 20, 100]),
)
def test_exact_cumsum_core_equals_window_cumsum(spark, seed, n_rows, null_pct):
    """api.exact_global_cumsum_desc (the block-ranked core, used by
    orders_pareto_abc) must reproduce
    `sum(value) OVER (ORDER BY value DESC, key ROWS UNBOUNDED
    PRECEDING)` exactly — duplicate-heavy values, NULL values (sorted
    last), tiny and lopsided block distributions included."""
    import random

    from pyspark.sql import Window

    from hadoop_deliver_spark.api import exact_global_cumsum_desc

    rng = random.Random(seed)
    rows = [(i, _maybe_null(rng, null_pct)) for i in range(n_rows)]
    df = spark.createDataFrame(rows, "key long, value long")
    with _nblocks(4):
        got = {
            (r.key, r.cum)
            for r in exact_global_cumsum_desc(df, "value", "key", "cum").collect()
        }
    w = (
        Window.orderBy(F.col("value").desc(), F.col("key"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want = {
        (r.key, r.cum)
        for r in df.select(
            "key", F.sum("value").over(w).cast("long").alias("cum")
        ).collect()
    }
    assert got == want


@settings(max_examples=15, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    n_rows=st.integers(min_value=1, max_value=150),
    null_pct=st.sampled_from([0, 20, 100]),
)
def test_exact_rank_core_equals_window_row_number(spark, seed, n_rows, null_pct):
    """api.exact_global_rank (the block-ranked core, used by
    orders_global_seq) must reproduce `row_number() OVER (ORDER BY
    value, key)` exactly, duplicate-heavy and NULL values (sorted
    first) included."""
    import random

    from pyspark.sql import Window

    from hadoop_deliver_spark.api import exact_global_rank

    rng = random.Random(seed)
    rows = [(i, _maybe_null(rng, null_pct)) for i in range(n_rows)]
    df = spark.createDataFrame(rows, "key long, value long")
    with _nblocks(4):
        got = {
            (r.key, r.seq)
            for r in exact_global_rank(df, "value", "key", "seq").collect()
        }
    w = Window.orderBy("value", "key")
    want = {
        (r.key, r.seq)
        for r in df.select(
            "key", F.row_number().over(w).cast("long").alias("seq")
        ).collect()
    }
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    n_events=st.integers(min_value=1, max_value=60),
)
def test_dynamic_session_window_equals_prefix_max_merge(spark, seed, n_events):
    """Spark's session_window with a PER-EVENT gap expression (batch
    mode — identical merge semantics to the streaming state store)
    must equal the prefix-max interval-merge construction that
    stream_session_dynamic_gap's oracle uses: an event opens a new
    session iff its start is STRICTLY past the running max of all
    previous interval ends — Spark merges touching intervals (an
    event landing exactly at the previous session's end joins it;
    verified with a two-event probe: (0, gap 60) + (60, gap 60)
    yields ONE session [0, 120)). Hypothesis found the >= variant
    of this model (seed=1, n=29): an event at exactly a prior end
    split the model's session where Spark merged."""
    import random

    from pyspark.sql import Window

    rng = random.Random(seed)
    rows = [
        (i, rng.randint(0, 7200), rng.choice([60, 300, 900]))
        for i in range(n_events)
    ]
    df = spark.createDataFrame(rows, "eid long, sec long, gap_s long")
    ev = df.select(
        "eid",
        F.timestamp_seconds(F.col("sec")).alias("ts"),
        "sec",
        "gap_s",
    )
    got = sorted(
        (r.start_us, r.end_us, r.n)
        for r in ev.groupBy(
            F.session_window(
                "ts", F.concat(F.col("gap_s").cast("string"), F.lit(" seconds"))
            )
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_micros(F.col("session_window.start")).alias("start_us"),
            F.unix_micros(F.col("session_window.end")).alias("end_us"),
            "n",
        )
        .collect()
    )
    # prefix-max merge from first principles
    w = Window.orderBy("sec", "eid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    flagged = ev.withColumn("end_s", F.col("sec") + F.col("gap_s")).withColumn(
        "prev_max", F.max(F.col("sec") + F.col("gap_s")).over(w)
    )
    tagged = flagged.withColumn(
        "new_s",
        F.when(
            F.col("prev_max").isNull() | (F.col("sec") > F.col("prev_max")), 1
        ).otherwise(0),
    ).withColumn(
        "sid",
        F.sum("new_s").over(
            Window.orderBy("sec", "eid").rowsBetween(
                Window.unboundedPreceding, 0
            )
        ),
    )
    want = sorted(
        (r.start_us, r.end_us, r.n)
        for r in tagged.groupBy("sid")
        .agg(
            (F.min("sec") * 1_000_000).alias("start_us"),
            (F.max("end_s") * 1_000_000).alias("end_us"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    assert got == want


def test_ranking_cores_survive_empty_and_tiny_inputs(spark):
    """ADVICE r4: percentile_approx returns NULL on an empty input, so
    the splits collect must degrade to a single block instead of a
    driver-side TypeError. Covers all three cores at n=0 and n=1
    (below every fuzz range)."""
    from hadoop_deliver_spark.api import (
        exact_global_cumsum_desc,
        exact_global_ntile,
        exact_global_rank,
    )

    empty = spark.createDataFrame([], "value long, key long")
    assert exact_global_ntile(empty, "value", "key", 5, "b").collect() == []
    assert exact_global_rank(empty, "value", "key", "r").collect() == []
    assert (
        exact_global_cumsum_desc(empty, "value", "key", "c").collect() == []
    )

    one = spark.createDataFrame([(7, 1)], "value long, key long")
    assert [
        (r.b, r.r, r.c)
        for r in exact_global_cumsum_desc(
            exact_global_rank(
                exact_global_ntile(one, "value", "key", 5, "b"),
                "value", "key", "r",
            ),
            "value", "key", "c",
        ).collect()
    ] == [(1, 1, 7)]


@settings(max_examples=6, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    n_nodes=st.integers(min_value=0, max_value=24),
    p_pct=st.sampled_from([15, 40, 80]),
)
def test_triangle_count_equals_bruteforce_on_random_graphs(
    spark, seed, n_nodes, p_pct
):
    """api.triangle_count (bitmap successor-intersection formulation)
    must equal a first-principles enumeration over random graphs —
    including messy inputs: duplicate edges, both orientations of the
    same edge, and self-loops, all of which the core must normalize
    away."""
    import itertools
    import random

    from hadoop_deliver_spark import api

    rng = random.Random(seed)
    raw = []
    und = set()
    for u, v in itertools.combinations(range(n_nodes), 2):
        if rng.randrange(100) < p_pct:
            und.add((u, v))
            raw.append((u, v) if rng.random() < 0.5 else (v, u))
            if rng.random() < 0.3:
                raw.append((u, v))  # duplicate
    for u in range(n_nodes):
        if rng.random() < 0.2:
            raw.append((u, u))  # self-loop
    want = sum(
        1
        for a, b, c in itertools.combinations(range(n_nodes), 3)
        if (a, b) in und and (b, c) in und and (a, c) in und
    )
    df = spark.createDataFrame(raw or [(0, 0)], "x long, y long")
    assert api.triangle_count(df, "x", "y") == want


def _fuzz_id(i, sparse):
    """Doc id ``i`` of a near-dup fuzz corpus: dense from 0, or sparse,
    huge and (for i = 0) negative; increasing in ``i`` either way."""
    return i * 10**9 - 7 if sparse else i


def _budget(api, past):
    """Context with the broadcast budget at 0 (``past``) or as is."""
    from unittest import mock

    return mock.patch.object(
        api, "_BROADCAST_MAX_WORDS", 0 if past else api._BROADCAST_MAX_WORDS
    )


@settings(max_examples=6, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    n_docs=st.integers(min_value=1, max_value=14),
    t=st.sampled_from([0.3, 0.55, 0.8]),
    past_budget=st.booleans(),
    sparse_ids=st.booleans(),
)
def test_jaccard_pairs_equals_bruteforce_on_random_texts(
    spark, seed, n_docs, t, past_budget, sparse_ids
):
    """api.jaccard_pairs (PPJoin prefix + size-ratio candidates +
    exact refine) must return EXACTLY the brute-force J >= t pairs —
    on BOTH exact-overlap paths (the Arrow bitmap refine inside the
    broadcast budget, the shuffle-join array intersection past it),
    with dense ids or sparse, negative ones (the Arrow path's
    searchsorted row lookup). Texts draw from a 2-letter alphabet with
    lengths straddling the gram width (0..24 over k=5), so
    high-overlap sets, empty gram sets, and threshold-boundary ratios
    all occur — probing the losslessness of the prefix bound's
    ceiling arithmetic, which the fixtures never stress."""
    import random

    from hadoop_deliver_spark import api

    rng = random.Random(seed)
    texts = [
        (
            _fuzz_id(i, sparse_ids),
            "".join(rng.choice("ab") for _ in range(rng.randint(0, 24))),
        )
        for i in range(n_docs)
    ]

    def grams(s):
        return {s[i : i + 5] for i in range(len(s) - 4)} if len(s) >= 5 else set()

    want = {}
    for i, (ia, ta) in enumerate(texts):
        for ib, tb in texts[i + 1 :]:
            ga, gb = grams(ta), grams(tb)
            if not ga or not gb:
                continue
            j = len(ga & gb) / len(ga | gb)  # same IEEE double as Spark
            if j >= t:
                want[(ia, ib)] = j
    df = spark.createDataFrame(texts, "pk long, body string")
    with _budget(api, past_budget):
        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in api.jaccard_pairs(
                df, "pk", "body", threshold=t, char_k=5
            ).collect()
        }
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-6


@settings(max_examples=6, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    n_docs=st.integers(min_value=1, max_value=12),
    t=st.sampled_from([0.6, 0.85, 1.0]),
    past_budget=st.booleans(),
    sparse_ids=st.booleans(),
)
def test_containment_pairs_equals_bruteforce_on_random_texts(
    spark, seed, n_docs, t, past_budget, sparse_ids
):
    """api.containment_pairs (inner-side prefix filter + exact
    refine) must return EXACTLY the brute-force C(A,B) >= t pairs for
    A the smaller gram set (ties by id) — on both exact-overlap paths
    and both id layouts. Same adversarial 2-letter corpus as the
    Jaccard fuzz; also exercises t=1.0 (strict containment) where the
    inner prefix is a single rarest gram."""
    import random

    from hadoop_deliver_spark import api

    rng = random.Random(seed)
    texts = [
        (
            _fuzz_id(i, sparse_ids),
            "".join(rng.choice("ab") for _ in range(rng.randint(0, 24))),
        )
        for i in range(n_docs)
    ]

    def grams(s):
        return {s[i : i + 5] for i in range(len(s) - 4)} if len(s) >= 5 else set()

    want = {}
    for ia, ta in texts:
        for ib, tb in texts:
            ga, gb = grams(ta), grams(tb)
            if ia == ib or not ga or not gb:
                continue
            inner = (len(ga) < len(gb)) or (len(ga) == len(gb) and ia < ib)
            if not inner:
                continue
            c = len(ga & gb) / len(ga)  # same IEEE double as Spark
            if c >= t:
                want[(ia, ib)] = c
    df = spark.createDataFrame(texts, "pk long, body string")
    with _budget(api, past_budget):
        got = {
            (r.inner_id, r.outer_id): r.containment
            for r in api.containment_pairs(
                df, "pk", "body", threshold=t, char_k=5
            ).collect()
        }
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-6


@settings(max_examples=6, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    n_iv=st.integers(min_value=1, max_value=40),
    keyed=st.booleans(),
)
def test_concurrency_sweep_equals_bruteforce(spark, seed, n_iv, keyed):
    """api.concurrency_sweep (two-phase prefix sum, with and without
    partition keys) must equal a brute-force half-open overlap count
    at every boundary point — including intervals spanning the
    day-block boundary the two-phase carry-in must bridge, coincident
    start/end ties, and zero-length intervals."""
    import random
    from datetime import datetime, timedelta

    from hadoop_deliver_spark import api

    rng = random.Random(seed)
    base = datetime(2024, 3, 1)
    rows = []
    for i in range(n_iv):
        key = rng.choice(["a", "b"]) if keyed else "x"
        # minutes across a 3-day span -> many intervals cross midnight
        s = rng.randint(0, 3 * 1440)
        dur = rng.choice([0, 5, 30, 600, 1500])
        rows.append(
            (key, base + timedelta(minutes=s), base + timedelta(minutes=s + dur))
        )
    df = spark.createDataFrame(rows, "k string, s timestamp, e timestamp")
    got = {
        ((r.k,) if keyed else ()) + (r.t,): r.conc
        for r in api.concurrency_sweep(
            df, "s", "e", ["k"] if keyed else (), out="conc"
        ).collect()
    }
    # brute force: at each boundary t (per key), count intervals with
    # s <= t < e, PLUS starts at exactly t (half-open: ends first) —
    # i.e. the sweep value just after processing all boundaries at t
    for key, s0, e0 in rows:
        for t in (s0, e0):
            kk = (key, t) if keyed else (t,)
            want = sum(
                1
                for k2, s2, e2 in rows
                if (not keyed or k2 == key) and s2 <= t and t < e2
            )
            assert got[kk] == want, (key, t, got[kk], want)


@settings(max_examples=10, deadline=None)
@given(
    data=st.lists(
        st.tuples(st.integers(min_value=0, max_value=8), st.booleans()),
        min_size=1,
        max_size=40,
    )
)
def test_survival_km_matches_textbook_estimator(spark, data):
    """api.survival_km must equal the textbook KM estimator computed
    by a direct Python loop for ANY censoring pattern — including
    all-censored inputs (empty curve), extinction days (d = n →
    survival exactly 0 from there on), and ties between deaths and
    censorings at the same duration."""
    import math

    from hadoop_deliver_spark.api import survival_km

    df = spark.createDataFrame(
        [(t, d) for t, d in data], "t_obs INT, died BOOLEAN"
    )
    got = {
        r["t_obs"]: (r["at_risk"], r["deaths"], r["survival"])
        for r in survival_km(df, "t_obs", "died").collect()
    }
    # direct estimator
    want = {}
    s = 1.0
    hit_zero = False
    for t in sorted({t for t, _ in data}):
        n = sum(1 for tt, _ in data if tt >= t)
        d = sum(1 for tt, dd in data if tt == t and dd)
        if d == 0:
            continue
        if d == n:
            hit_zero = True
        else:
            s *= 1.0 - d / n
        want[t] = (n, d, 0.0 if hit_zero else s)
    assert set(got) == set(want)
    for t, (n, d, s_want) in want.items():
        n_got, d_got, s_got = got[t]
        assert (n_got, d_got) == (n, d)
        assert math.isclose(s_got, round(s_want, 4), abs_tol=1.5e-4)


@settings(max_examples=10, deadline=None)
@given(
    data=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(min_value=0, max_value=8),
            st.booleans(),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_risk_sets_match_brute_force_per_group_counts(spark, data):
    """api._risk_sets must count, per group and duration, the deaths at
    that duration and the subjects still at risk: with ``by`` one row
    per observed (group, duration), pooled one row per duration."""
    from hadoop_deliver_spark.api import _risk_sets

    df = spark.createDataFrame(data, "grp STRING, t_obs INT, died BOOLEAN")

    def brute(groups, t):
        return (
            sum(1 for g, tt, dd in data if g in groups and tt == t and dd),
            sum(1 for g, tt, _ in data if g in groups and tt >= t),
        )

    per_group = {
        (r["grp"], r["t_obs"]): (r["deaths"], r["at_risk"])
        for r in _risk_sets(df, "t_obs", "died", by="grp").collect()
    }
    assert per_group == {(g, t): brute({g}, t) for g, t, _ in data}
    pooled = {
        r["t_obs"]: (r["deaths"], r["at_risk"])
        for r in _risk_sets(df, "t_obs", "died").collect()
    }
    assert pooled == {t: brute({"a", "b"}, t) for _, t, _ in data}


@settings(max_examples=10, deadline=None)
@given(
    vals=st.lists(st.integers(min_value=0, max_value=1000), min_size=1, max_size=25),
    gaps=st.lists(st.integers(min_value=1, max_value=5), min_size=0, max_size=24),
)
def test_ewma_smooth_matches_direct_weighted_sum(spark, vals, gaps):
    """api.ewma_smooth must equal the direct 2^-k weighted trailing
    sum for ANY daily series with gaps — bit-exact before the round-4
    step (all weights are exact binary doubles)."""
    import datetime

    from hadoop_deliver_spark.api import ewma_smooth

    days = [datetime.date(2024, 1, 1)]
    for g in gaps[: len(vals) - 1]:
        days.append(days[-1] + datetime.timedelta(days=g))
    series = list(zip(days, vals[: len(days)]))
    df = spark.createDataFrame(
        [("k", d, v) for d, v in series], "key STRING, day DATE, cnt LONG"
    )
    got = {
        r["day"]: r["ewma"]
        for r in ewma_smooth(df, ["key"], "day", "cnt").collect()
    }
    for day, _ in series:
        num = den = 0.0
        for d2, v2 in series:
            k = (day - d2).days
            if 0 <= k <= 29:
                num += v2 * 2.0 ** -k
                den += 2.0 ** -k
        assert got[day] == round(num / den, 4)


def test_gopher_quality_rule_boundaries(spark):
    """Each Gopher rule flips exactly at its published boundary: 49
    vs 50 words, mean word length 3 and 10 inclusive, the 80%%
    alpha-word ratio, and the 2-stopword presence floor."""
    from hadoop_deliver_spark.api import gopher_quality

    ok_50 = " ".join(["the"] + ["with"] + ["word"] * 48)  # 50 words, 2 stops
    short_49 = " ".join(["the"] + ["with"] + ["word"] * 47)
    skinny = " ".join(["the", "with"] + ["ab"] * 48)  # mean < 3
    rows = [
        (1, ok_50),
        (2, short_49),
        (3, skinny),
    ]
    df = spark.createDataFrame(rows, "pk INT, body STRING")
    got = {
        r["pk"]: r
        for r in gopher_quality(df, "pk", "body").collect()
    }
    assert got[1]["r_word_count"] and got[1]["keep"]
    assert not got[2]["r_word_count"] and not got[2]["keep"]
    assert got[3]["r_word_count"] and not got[3]["r_mean_word_len"]
    assert got[3]["r_stopwords"]  # 'the' + 'with' present


@settings(max_examples=15, deadline=None)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "bb", "ccc", "d", "e"]),
            min_size=0,
            max_size=20,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_shingles_match_bruteforce(spark, docs):
    """wave7._shingles must emit exactly the k-gram positions a direct
    Python loop produces — including docs shorter than k (zero rows)
    and intra-doc repeats (one row per POSITION, not per type)."""
    from hadoop_deliver_spark.operators.wave7 import _K, _shingles

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id LONG, text STRING",
    )
    got = sorted(
        (r["doc_id"], r["s"]) for r in _shingles(df).collect()
    )
    want = []
    for i, raw in enumerate(docs):
        # split(' ') parity: the empty doc tokenizes to [''], not []
        toks = " ".join(raw).split(" ")
        for j in range(len(toks) - _K + 1):
            want.append((i, " ".join(toks[j : j + _K])))
    assert got == sorted(want)


@settings(max_examples=10, deadline=None)
@given(
    series=st.lists(
        st.lists(
            st.integers(min_value=0, max_value=1000), min_size=0, max_size=15
        ),
        min_size=1,
        max_size=4,
    )
)
def test_holt_smooth_matches_direct_recurrence(spark, series):
    """api.holt_smooth must equal the direct Holt recurrence for ANY
    keyed integer series — including singleton series (dropped: no
    trend seed) and empty keys. Exact match: binary α/β plus HALF_UP
    rounding on both sides."""
    import math

    from hadoop_deliver_spark.api import holt_smooth

    rows = [
        (f"k{i}", t, v)
        for i, xs in enumerate(series)
        for t, v in enumerate(xs)
    ]
    if not rows:
        return
    df = spark.createDataFrame(rows, "key STRING, t INT, cnt LONG")
    got = {
        (r["key"], r["t"]): (r["level"], r["trend"], r["fcst"])
        for r in holt_smooth(df, ["key"], "t", "cnt").collect()
    }

    def r4(v):
        return math.copysign(math.floor(abs(v) * 1e4 + 0.5), v) / 1e4

    want = {}
    for i, xs in enumerate(series):
        if len(xs) < 2:
            continue
        lvl, tr, fc = [float(xs[0])], [float(xs[1] - xs[0])], [float(xs[0])]
        for t in range(1, len(xs)):
            fc.append(lvl[-1] + tr[-1])
            ln = 0.5 * xs[t] + 0.5 * (lvl[-1] + tr[-1])
            tn = 0.25 * (ln - lvl[-1]) + 0.75 * tr[-1]
            lvl.append(ln)
            tr.append(tn)
        for t in range(len(xs)):
            want[(f"k{i}", t)] = (r4(lvl[t]), r4(tr[t]), r4(fc[t]))
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-50, max_value=50),
            st.one_of(st.none(), st.integers(min_value=0, max_value=20)),
        ),
        min_size=0,
        max_size=60,
    ),
    nblocks=st.sampled_from([1, 2, 4, 32]),
)
@example(rows=[(o, None if o in (0, 5) else 1) for o in range(10)], nblocks=2)
def test_keyed_cumsum_matches_global_window(spark, rows, nblocks):
    """api.exact_global_keyed_cumsum must equal the single-task
    global running sum for ANY (order, value) rows and ANY block
    count — including empty input, duplicate order values (unique
    key tiebreak), nblocks=1 (degenerate single block) and NULL
    values (the sum stays NULL until the first non-NULL value, also
    when a later block starts on a NULL)."""
    from hadoop_deliver_spark.api import exact_global_keyed_cumsum

    data = [(i, o, v) for i, (o, v) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "k INT, ord INT, val LONG"
    )
    with _nblocks(nblocks):
        got = {
            r["k"]: r["cum"]
            for r in exact_global_keyed_cumsum(
                df, "ord", "val", "k", "cum"
            ).collect()
        }
    run, want = None, {}
    for k, o, v in sorted(data, key=lambda t: (t[1], t[0])):
        if v is not None:
            run = (run or 0) + v
        want[k] = run
    assert got == want


_STRATIFIED_ROWS = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c"]),
        st.integers(min_value=-20, max_value=20),
        st.one_of(st.none(), st.integers(min_value=-5, max_value=20)),
    ),
    min_size=0,
    max_size=60,
)


def _running(rows, key, value):
    """{k: running sum of value(row)} over ``rows`` sorted by ``key``,
    restarting per stratum (row[1]) — the single-task window: NULL
    values add nothing, and the sum is NULL until the stratum's first
    non-NULL value."""
    run, want = {}, {}
    for r in sorted(rows, key=key):
        if value(r) is not None:
            run[r[1]] = run.get(r[1], 0) + value(r)
        want[r[0]] = run.get(r[1])
    return want


@settings(max_examples=8, deadline=None)
@given(rows=_STRATIFIED_ROWS, nblocks=st.sampled_from([1, 2, 4, 32]))
def test_stratified_rank_matches_window(spark, rows, nblocks):
    """api.exact_stratified_rank must equal `row_number() OVER
    (PARTITION BY s ORDER BY o, k)` for ANY rows and block count —
    empty input, duplicate order values and one-row strata
    included."""
    from hadoop_deliver_spark.api import exact_stratified_rank

    data = [(i, s, o) for i, (s, o, _) in enumerate(rows)]
    df = spark.createDataFrame(data, "k INT, s STRING, o INT")
    with _nblocks(nblocks):
        got = {
            r["k"]: r["r"]
            for r in exact_stratified_rank(
                df, "s", "o", ["o", "k"], "r"
            ).collect()
        }
    assert got == _running(data, lambda t: (t[2], t[0]), lambda t: 1)


@settings(max_examples=8, deadline=None)
@given(
    rows=_STRATIFIED_ROWS,
    nblocks=st.sampled_from([1, 2, 4, 32]),
    tiebreak=st.booleans(),
)
@example(
    rows=[(s, o, None if o in (0, 5) else 1) for s in "ab" for o in range(10)],
    nblocks=2,
    tiebreak=True,
)
def test_stratified_cumsum_matches_window(spark, rows, nblocks, tiebreak):
    """api.exact_stratified_cumsum must equal `sum(v) OVER (PARTITION
    BY s ORDER BY o[, k] ROWS UNBOUNDED PRECEDING)` for ANY rows and
    block count, NULL values included. Without the tiebreak the order
    value is made unique per stratum (the caller's contract)."""
    from hadoop_deliver_spark.api import exact_stratified_cumsum

    if not tiebreak:
        rows = list({(s, o): (s, o, v) for s, o, v in rows}.values())
    data = [(i, s, o, v) for i, (s, o, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "k INT, s STRING, o INT, v LONG")
    with _nblocks(nblocks):
        got = {
            r["k"]: r["cum"]
            for r in exact_stratified_cumsum(
                df, "s", "o", "v", "cum",
                tiebreak_col="k" if tiebreak else None,
            ).collect()
        }
    assert got == _running(data, lambda t: (t[2], t[0]), lambda t: t[3])


def test_stratified_rank_and_cumsum_reject_null_stratum(spark):
    """A NULL stratum key would silently drop out of the offset
    lookup, so both stratified cores raise instead."""
    import pytest

    from hadoop_deliver_spark.api import (
        exact_stratified_cumsum,
        exact_stratified_rank,
    )

    df = spark.createDataFrame(
        [(1, "a", 3, 1), (2, None, 4, 2)], "k INT, s STRING, o INT, v LONG"
    )
    with pytest.raises(ValueError, match="NULL stratum"):
        exact_stratified_rank(df, "s", "o", ["o", "k"], "r")
    with pytest.raises(ValueError, match="NULL stratum"):
        exact_stratified_cumsum(df, "s", "o", "v", "c", tiebreak_col="k")


@settings(max_examples=8, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-50, max_value=50),
            st.integers(min_value=0, max_value=20),
            st.integers(min_value=-20, max_value=20),
        ),
        min_size=0,
        max_size=60,
    ),
    nblocks=st.sampled_from([1, 2, 4, 32]),
)
def test_multi_measure_keyed_cumsum_matches_window(spark, rows, nblocks):
    """The multi-measure keyed cumsum (one block-ranked pass, N
    running sums) must equal N single-task global running sums over
    (ord, k) — empty input and duplicate order values included."""
    from hadoop_deliver_spark.api import exact_global_keyed_cumsum

    data = [(i, o, v, w) for i, (o, v, w) in enumerate(rows)]
    df = spark.createDataFrame(data, "k INT, ord INT, v LONG, w LONG")
    with _nblocks(nblocks):
        got = {
            r["k"]: (r["cv"], r["cw"])
            for r in exact_global_keyed_cumsum(
                df, "ord", ["v", "w"], "k", ["cv", "cw"]
            ).collect()
        }
    run_v = run_w = 0
    want = {}
    for k, o, v, w in sorted(data, key=lambda t: (t[1], t[0])):
        run_v, run_w = run_v + v, run_w + w
        want[k] = (run_v, run_w)
    assert got == want


@settings(max_examples=12, deadline=None)
@given(
    left=st.lists(st.sampled_from("abcdef"), min_size=0, max_size=15),
    right=st.lists(st.sampled_from("abcdef"), min_size=0, max_size=15),
    shared=st.lists(st.sampled_from("uvwxyz"), min_size=6, max_size=9),
)
def test_winnowing_detection_guarantee(spark, left, right, shared):
    """Winnowing's defining property (Schleimer et al. 2003): two
    texts sharing ANY token run of length ≥ w+k−1 (= 6 here) must
    share at least one fingerprint — regardless of what surrounds
    the run. Also: fingerprints of a doc are a subset of its own
    gram hashes (minima of windows)."""
    from hadoop_deliver_spark.api import winnow_fingerprints

    doc1 = " ".join(left + shared)
    doc2 = " ".join(shared + right)
    df = spark.createDataFrame(
        [(1, doc1), (2, doc2)], "pk LONG, body STRING"
    )
    fp = winnow_fingerprints(df, "pk", "body").collect()
    f1 = {r["f"] for r in fp if r["pk"] == 1}
    f2 = {r["f"] for r in fp if r["pk"] == 2}
    assert f1 & f2, (doc1, doc2, f1, f2)


def _nelson_reference(counts):
    """Independent numpy reference for events_nelson_rules' pinned
    conventions (row-based windows over the day axis, side =
    sign(n·c − T), zero diffs break rule-3 runs, None diffs break
    rule-4 alternation)."""
    import numpy as np

    c = np.asarray(counts, dtype=np.int64)
    n = len(c)
    T = int(c.sum())
    cbar = T / n
    r1 = int((((c - cbar) ** 2) > 9 * cbar).sum())
    side = np.sign(n * c - T)
    r2 = sum(
        1 for i in range(n) if i >= 8 and abs(side[i - 8 : i + 1].sum()) == 9
    )
    d = [None] + [int(np.sign(c[i] - c[i - 1])) for i in range(1, n)]
    r3 = 0
    for i in range(n):
        wdw = [x for x in d[max(0, i - 4) : i + 1] if x is not None]
        if len(wdw) == 5 and abs(sum(wdw)) == 5:
            r3 += 1
    a = [
        1
        if d[i] is not None and d[i - 1] is not None and d[i] * d[i - 1] == -1
        else 0
        for i in range(n)
    ]
    r4 = sum(1 for i in range(n) if i >= 12 and sum(a[i - 12 : i + 1]) == 13)
    return r1, r2, r3, r4


def _updown_reference(cents):
    import numpy as np

    x = np.asarray(cents, dtype=np.int64)
    d = np.sign(np.diff(x))
    d = d[d != 0]
    if len(d) == 0:
        return 1, 0
    runs = 1 + int((np.diff(d) != 0).sum())
    return len(d) + 1, runs


def test_nelson_rules_and_updown_runs_on_crafted_series(spark, tmp_path):
    """The fixtures are in-control (all four Nelson counters = 0 at
    every sf), so the oracle never exercises the rule arithmetic.
    This test crafts day series with KNOWN violations — a 3σ spike,
    a 9-day high plateau, a 6-day monotone ramp, a 14-day
    alternation — plus seeded random series, and checks the Spark
    operator against an independent numpy reference of the same
    pinned conventions."""
    import random

    import pandas as pd

    from hadoop_deliver_spark.registry import load_all

    reg = load_all()
    crafted = [
        # spike day (rule 1), plateau days 10-18 (rule 2 fires once
        # at the 9th), ramp days 20-25 (rule 3), alternation 26-39
        [10] * 5 + [200] + [10] * 4 + [30] * 9 + [10]
        + [11, 12, 13, 14, 15, 16]
        + [5, 40] * 7,
    ]
    rng = random.Random(42)
    for _ in range(2):
        crafted.append([rng.randint(0, 20) for _ in range(35)])
    for counts in crafted:
        vals = [
            round(rng.uniform(-50, 50), 2) for _ in range(len(counts))
        ]
        rows = []
        for day, (cnt, v) in enumerate(zip(counts, vals)):
            base = pd.Timestamp("2024-03-01") + pd.Timedelta(days=day)
            for j in range(cnt):
                rows.append(
                    (base + pd.Timedelta(seconds=j), "error", 0.0, j)
                )
            rows.append(
                (base + pd.Timedelta(seconds=86000), "click", v, 10**6 + day)
            )
        pdf = pd.DataFrame(
            rows, columns=["ts", "event_type", "value", "event_id"]
        )
        pdf["user_id"] = 1
        d = tmp_path / f"case_{len(rows)}"
        d.mkdir(exist_ok=True)
        pdf.to_parquet(d / "events.parquet")
        got = (
            reg["events_nelson_rules"]
            .fn(spark, str(d))
            .collect()[0]
            .asDict()
        )
        r1, r2, r3, r4 = _nelson_reference(counts)
        assert got["rule1_beyond_3sigma"] == r1, (counts, got)
        assert got["rule2_nine_same_side"] == r2, (counts, got)
        assert got["rule3_six_trending"] == r3, (counts, got)
        assert got["rule4_fourteen_alternating"] == r4, (counts, got)
        # updown runs on the crafted per-day click values + zero-value
        # error rows (errors contribute 0 cents, clicks set the level)
        cents = [round(v * 100) for v in vals]
        n_obs, n_runs = _updown_reference(cents)
        got_u = (
            reg["ts_updown_runs"].fn(spark, str(d)).collect()[0].asDict()
        )
        assert got_u["n_obs"] == n_obs, (cents, got_u)
        assert got_u["n_runs"] == n_runs, (cents, got_u)


@settings(max_examples=25, deadline=None)
@given(st.integers(min_value=0, max_value=10**9))
def test_es_cofactor_expansion_matches_numpy_linalg(seed):
    """agg_epps_singleton's W statistic rides on a GENERATED textual
    cofactor polynomial (det4 + d'·adj·d). Verify the generator
    against numpy.linalg on random well-conditioned symmetric 4×4
    matrices: n·(d'adj d)/det must equal n·d'M⁻¹d."""
    import numpy as np

    from hadoop_deliver_spark.operators.wave155 import (
        _DET_EXPR,
        _OMEGA,
        _QUAD_EXPR,
    )

    rng = np.random.default_rng(seed)
    a = rng.normal(size=(4, 4))
    m = a @ a.T + 0.5 * np.eye(4)  # SPD, well-conditioned
    d = rng.normal(size=4)
    env = {f"o{i}{j}": m[i][j] for i in range(4) for j in range(i, 4)}
    env.update({f"d{i}": d[i] for i in range(4)})
    det = eval(_DET_EXPR.replace(" ", ""), {}, env)
    quad = eval(
        _QUAD_EXPR.replace("+ (", "+(").replace("- (", "-("), {}, env
    )
    want_det = np.linalg.det(m)
    want_quad = d @ (np.linalg.inv(m) * want_det) @ d
    assert abs(det - want_det) <= 1e-9 * max(1.0, abs(want_det))
    assert abs(quad - want_quad) <= 1e-9 * max(1.0, abs(want_quad))


def test_watermark_detector_fires_on_greenlist_chasing_corpus(
    spark, tmp_path
):
    """llm_watermark_detect's fixture result is (correctly) negative
    everywhere, so the positive path never meets the oracle. Craft a
    corpus whose writer CHASES the greenlist — at each step pick,
    among candidate next tokens, one whose (prev, cur) md5 leads
    with an even hex digit — and assert the detector's z crosses the
    paper's 4.0 threshold, while an unbiased writer stays below it."""
    import hashlib
    import random

    import pandas as pd

    from hadoop_deliver_spark.registry import load_all

    vocab = [f"tok{i}" for i in range(50)]

    def green(prev: str, cur: str) -> bool:
        h = hashlib.md5(f"{prev} {cur}".encode()).hexdigest()
        return h[0] in "02468ace"

    rng = random.Random(7)

    def write_doc(n: int, chase: bool) -> str:
        toks = [rng.choice(vocab)]
        for _ in range(n - 1):
            cands = [rng.choice(vocab) for _ in range(8)]
            if chase:
                greens = [c for c in cands if green(toks[-1], c)]
                toks.append(greens[0] if greens else cands[0])
            else:
                toks.append(cands[0])
        return " ".join(toks)

    docs = [(i, write_doc(60, True), "en", "marked", 0) for i in range(40)]
    docs += [
        (100 + i, write_doc(60, False), "en", "clean", 0) for i in range(40)
    ]
    pdf = pd.DataFrame(
        docs, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    d = tmp_path / "wm"
    d.mkdir(exist_ok=True)
    pdf.to_parquet(d / "documents.parquet")
    got = {
        r["source"]: r
        for r in load_all()["llm_watermark_detect"]
        .fn(spark, str(d))
        .collect()
    }
    assert got["marked"]["watermarked"] and got["marked"]["z_stat"] > 4.0, got
    assert not got["clean"]["watermarked"], got
    # the chased corpus should sit near the 8-candidate ceiling
    # 1 - 0.5^8 ≈ 0.996; the clean one near 0.5
    assert got["marked"]["green_frac"] > 0.9
    assert 0.4 < got["clean"]["green_frac"] < 0.6


@settings(max_examples=25, deadline=None)
@given(st.integers(min_value=0, max_value=10**9))
def test_adj3_generator_matches_numpy_linalg(seed):
    """events_markov_absorption's fundamental matrix rides on the
    generated 3×3 adjugate strings: adj(M)/det must equal M⁻¹ on
    random well-conditioned matrices."""
    import numpy as np

    from hadoop_deliver_spark.operators.wave155 import _det3
    from hadoop_deliver_spark.operators.wave165 import _adj3

    rng = np.random.default_rng(seed)
    a = rng.normal(size=(3, 3))
    m = a @ a.T + 0.5 * np.eye(3)
    names = [[f"m{i}{j}" for j in range(3)] for i in range(3)]
    env = {f"m{i}{j}": m[i][j] for i in range(3) for j in range(3)}
    det = eval(_det3(names), {}, env)
    adj = np.array(
        [[eval(s, {}, env) for s in row] for row in _adj3(names)]
    )
    want = np.linalg.inv(m) * np.linalg.det(m)
    assert abs(det - np.linalg.det(m)) <= 1e-9 * max(
        1.0, abs(np.linalg.det(m))
    )
    assert np.allclose(adj, want, rtol=1e-9, atol=1e-9)


@settings(max_examples=40, deadline=None)
@given(st.floats(min_value=1e-9, max_value=1 - 1e-9))
def test_probit_sql_matches_stdlib_inverse_normal(p):
    """probit_sql's Acklam polynomial must agree with Python's
    statistics.NormalDist().inv_cdf to the published 1.15e-9 bound
    (plus evaluation slack) across the whole open interval —
    including both tail branches."""
    import math
    import statistics

    from hadoop_deliver_spark.operators.wave172 import probit_sql

    # replicate the generated expression's three branches with the
    # same literals (probit_sql itself is exercised end-to-end by the
    # ppcc/vdw oracles; this pins the MATH against the stdlib)
    assert "CASE WHEN" in probit_sql("p")
    from hadoop_deliver_spark.operators.wave172 import (
        _A,
        _B,
        _C,
        _D,
        _P_LOW,
    )

    def horner(coeffs, v):
        acc = float(coeffs[0])
        for c in coeffs[1:]:
            acc = acc * v + float(c)
        return acc

    pl = float(_P_LOW)
    if p < pl:
        q = math.sqrt(-2 * math.log(p))
        got = horner(_C, q) / (horner(_D, q) * q + 1.0)
    elif p > 1 - pl:
        q = math.sqrt(-2 * math.log(1 - p))
        got = -(horner(_C, q) / (horner(_D, q) * q + 1.0))
    else:
        q = p - 0.5
        r = q * q
        got = q * horner(_A, r) / (horner(_B, r) * r + 1.0)
    want = statistics.NormalDist().inv_cdf(p)
    assert abs(got - want) < 2e-9 * max(1.0, abs(want)) + 2e-9


@settings(max_examples=40, deadline=None)
@given(st.floats(min_value=-8, max_value=8))
def test_phi_sql_matches_stdlib_normal_cdf(x):
    """phi_sql's A&S 26.2.17 polynomial must agree with the stdlib
    normal CDF to the published 7.5e-8 bound."""
    import math
    import statistics

    from hadoop_deliver_spark.operators.wave173 import (
        _INV_SQRT_2PI,
        _PHI_B,
        _PHI_P,
    )

    ax = abs(x)
    t = 1.0 / (1.0 + float(_PHI_P) * ax)
    b = [float(v) for v in _PHI_B]
    poly = ((((b[4] * t + b[3]) * t + b[2]) * t + b[1]) * t + b[0]) * t
    upper = 1.0 - float(_INV_SQRT_2PI) * math.exp(-0.5 * ax * ax) * poly
    got = upper if x >= 0 else 1.0 - upper
    want = statistics.NormalDist().cdf(x)
    assert abs(got - want) < 1e-7
