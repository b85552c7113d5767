"""Direct tests for the composable public surface
(hadoop_deliver_spark/api.py) on synthetic tables with NON-fixture
column names — proving the functions are genuinely parameterized, not
bound to the registry schemas. (Each core is additionally covered by
oracle parity through the registry operator that calls it, and the
ranking/grid cores by the fuzz suites.)"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_deliver_spark import api
from tests.parity import jobs_per_call


def test_keyed_dedup_keeps_deterministic_first(spark):
    df = spark.createDataFrame(
        [
            ("u1", "click", 3, 30),
            ("u1", "click", 1, 10),
            ("u1", "view", 2, 20),
            ("u2", "click", 4, 10),
        ],
        "uid string, kind string, seq long, t long",
    )
    got = sorted(
        map(tuple, api.keyed_dedup(df, ["uid", "kind"], ["t", "seq"]).collect())
    )
    assert got == [
        ("u1", "click", 1, 10),
        ("u1", "view", 2, 20),
        ("u2", "click", 4, 10),
    ]


def test_minhash_pairs_finds_near_dup_and_skips_distinct(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    near = base + " tail"  # high shingle overlap
    other = "completely different words populate this unrelated sentence here"
    df = spark.createDataFrame(
        [(100, base), (200, near), (300, other)], "pk long, body string"
    )
    pairs = api.minhash_pairs(df, "pk", "body", threshold=0.5).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(100, 200)]
    assert 0.5 <= pairs[0].jaccard <= 1.0


def test_connected_components_custom_columns(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "lhs long, rhs long"
    )
    got = {
        r.node_id: r.cluster_id
        for r in api.connected_components(edges, "lhs", "rhs").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_cosine_pairs_exact_on_known_vectors(spark):
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [1.0, 0.0, 0.0, 0.0]),   # identical → cos 1
            (3, [0.0, 1.0, 0.0, 0.0]),   # orthogonal to 1/2
            (4, [0.9, 0.1, 0.0, 0.0]),   # close to 1/2
        ],
        "vid long, v array<double>",
    )
    got = {
        (r.id_a, r.id_b): r.cos
        for r in api.cosine_pairs(df, "vid", "v", tau=0.9).collect()
    }
    assert set(got) == {(1, 2), (1, 4), (2, 4)}
    assert abs(got[(1, 2)] - 1.0) < 1e-6


def test_schema_contract_diff_statuses(spark):
    df = spark.createDataFrame([(1, "x", 2.0)], "a long, b string, c double")
    report = {
        r.col_name: r.status
        for r in api.schema_contract_diff(
            df, [("a", "bigint"), ("b", "int"), ("d", "string")]
        ).collect()
    }
    assert report == {
        "a": "ok",
        "b": "type_drift",
        "c": "unexpected",
        "d": "missing",
    }


def test_avro_roundtrip_custom_schema(spark, tmp_path):
    out = str(tmp_path / "avro_rt")
    import os

    os.makedirs(out, exist_ok=True)
    df = spark.createDataFrame(
        [(i, f"name{i}", float(i) / 4) for i in range(40)],
        "pk int, label string, score double",
    ).repartition(3)
    schema = {
        "type": "record",
        "name": "rt",
        "fields": [
            {"name": "pk", "type": "int"},
            {"name": "label", "type": "string"},
            {"name": "score", "type": "double"},
        ],
    }
    manifest = api.write_avro(df, out, schema)
    assert manifest.agg(F.sum("n")).collect()[0][0] == 40
    back = api.read_avro(spark, out, "pk INT, label STRING, score DOUBLE")
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, df.collect())
    )


def test_exact_global_rank_custom_columns(spark):
    df = spark.createDataFrame(
        [(5, "a"), (3, "b"), (9, "c"), (3, "a")], "score long, pk string"
    )
    got = sorted(
        (r.pk, r.score, r.seq)
        for r in api.exact_global_rank(df, "score", "pk", "seq").collect()
    )
    assert got == [("a", 3, 1), ("a", 5, 3), ("b", 3, 2), ("c", 9, 4)]


# Spark jobs per call (probes while planning plus the final collect),
# measured when each function still had its own block-ranked body;
# one shared core may not run more
_RANK_CORE_JOBS = {
    "ntile": 6,
    "rank": 6,
    "cumsum_desc": 6,
    "keyed_cumsum": 6,
    "keyed_cumsum_multi": 6,
    "stratified_rank": 6,
    "stratified_cumsum": 6,
}


def test_block_ranked_cores_run_no_more_jobs(spark):
    df = spark.createDataFrame(
        [(i, i % 7, i % 3, f"s{i % 4}") for i in range(60)],
        "k long, o long, v long, s string",
    )
    calls = {
        "ntile": lambda: api.exact_global_ntile(df, "o", "k", 5, "b"),
        "rank": lambda: api.exact_global_rank(df, "o", "k", "r"),
        "cumsum_desc": lambda: api.exact_global_cumsum_desc(df, "o", "k", "c"),
        "keyed_cumsum": lambda: api.exact_global_keyed_cumsum(
            df, "o", "v", "k", "c"
        ),
        "keyed_cumsum_multi": lambda: api.exact_global_keyed_cumsum(
            df, "o", ["v", "k"], "k", ["c1", "c2"]
        ),
        "stratified_rank": lambda: api.exact_stratified_rank(
            df, "s", "o", ["o", "k"], "r"
        ),
        "stratified_cumsum": lambda: api.exact_stratified_cumsum(
            df, "s", "o", "v", "c", tiebreak_col="k"
        ),
    }
    got = {name: jobs_per_call(spark, fn) for name, fn in calls.items()}
    assert all(got[n] <= _RANK_CORE_JOBS[n] for n in got), got


def test_bounded_collect_refuses_past_its_gate(spark):
    df = spark.range(5).withColumnRenamed("id", "k")
    # exactly at the gate: every row comes back
    assert sorted(r["k"] for r in api.bounded_collect(df, 5)) == list(range(5))
    # one row past it: refused, naming the gate
    with pytest.raises(ValueError, match="gate of 4 rows"):
        api.bounded_collect(df, 4)
    assert api.bounded_collect(df.filter("k < 0"), 0) == []


def test_asof_join_backward_and_forward(spark):
    quotes = spark.createDataFrame(
        [("A", 10, 1.0), ("A", 20, 2.0), ("B", 15, 9.0)],
        "sym string, t long, bid double",
    ).select("sym", F.timestamp_seconds("t").alias("qts"), "bid")
    trades = spark.createDataFrame(
        [("A", 5), ("A", 10), ("A", 25), ("B", 14)], "sym string, t long"
    ).select("sym", F.timestamp_seconds("t").alias("qts"))
    back = {
        (r.sym, r.qts): r.px
        for r in api.asof_join(
            quotes, trades, ["sym"], "qts", "bid", out="px"
        ).collect()
    }
    # t=5 has no quote at-or-before → dropped; t=10 → 1.0; t=25 → 2.0
    assert len(back) == 2
    assert sorted(back.values()) == [1.0, 2.0]
    fwd = api.asof_join(
        quotes, trades, ["sym"], "qts", "bid", forward=True, out="px"
    ).collect()
    # forward: A@5→1.0, A@10→1.0, A@25 dropped, B@14→9.0
    assert sorted(r.px for r in fwd) == [1.0, 1.0, 9.0]


def test_sessionize_custom_gap(spark):
    df = spark.createDataFrame(
        [("x", 0, 1), ("x", 100, 2), ("x", 500, 3), ("y", 0, 4)],
        "who string, sec long, eid long",
    ).select("who", F.timestamp_seconds("sec").alias("at"), "eid")
    got = {
        r.eid: r.sid
        for r in api.sessionize(df, ["who"], "at", 300, ["eid"], "sid").collect()
    }
    assert got == {1: 1, 2: 1, 3: 2, 4: 1}


def test_locf_grid_fills_and_leaves_leading_nulls(spark):
    series = spark.createDataFrame(
        [("s1", 0, 10.0), ("s1", 7200, 30.0), ("s2", 3600, 5.0)],
        "sensor string, sec long, v double",
    ).select("sensor", F.timestamp_seconds("sec").alias("bkt"), "v")
    got = {
        (r.sensor, r.bkt.hour): r.filled
        for r in api.locf_grid(
            series, ["sensor"], "bkt", "v",
            F.expr("interval 1 hour"), out="filled",
        ).collect()
    }
    # global grid spans 0..2h for both sensors
    assert got == {
        ("s1", 0): 10.0, ("s1", 1): 10.0, ("s1", 2): 30.0,
        ("s2", 0): None, ("s2", 1): 5.0, ("s2", 2): 5.0,
    }


def test_dataset_split_deterministic_and_dup_consistent(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha beta"), (3, "gamma delta")],
        "rid long, body string",
    )
    a = {r.rid: r.split for r in api.dataset_split(df, "body").collect()}
    b = {r.rid: r.split for r in api.dataset_split(df, "body").collect()}
    assert a == b  # reproducible
    assert a[1] == a[2]  # exact dups land in the same split
    assert set(a.values()) <= {"train", "val", "test"}


def test_tfidf_custom_columns(spark):
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a c")], "k long, body string"
    )
    got = {
        (r.k, r.term): (r.tf, r.df)
        for r in api.tfidf(df, "k", "body").collect()
    }
    assert got == {
        (1, "a"): (2, 2), (1, "b"): (1, 1),
        (2, "a"): (1, 2), (2, "c"): (1, 1),
    }


def test_heavy_hitters_exact_with_string_keys(spark):
    rows = [("hot",)] * 50 + [("warm",)] * 20 + [
        (f"cold{i}",) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "tag string").repartition(4)
    got = {
        r.tag: r.n
        for r in api.heavy_hitters(
            df, "tag", threshold_denom=10, counters=16, out="n"
        ).collect()
    }
    # n=100 → threshold count > 10: hot(50) and warm(20) only
    assert got == {"hot": 50, "warm": 20}


def test_canonical_url_collapses_and_is_idempotent(spark):
    variants = [
        "HTTP://WWW.Example.COM:80/a/b/?utm_source=x&q=1#frag",
        "http://example.com/a/b?q=1",
        "https://example.com/a/b?q=1",  # scheme differs → distinct
    ]
    df = spark.createDataFrame([(v,) for v in variants], "u string")
    out = [
        r.c for r in df.select(api.canonical_url(F.col("u")).alias("c")).collect()
    ]
    assert out[0] == out[1] == "http://example.com/a/b?q=1"
    assert out[2] == "https://example.com/a/b?q=1"
    # idempotent: canonicalizing the canonical form is a no-op
    again = [
        r.c2
        for r in spark.createDataFrame([(c,) for c in out], "c string")
        .select(api.canonical_url(F.col("c")).alias("c2"))
        .collect()
    ]
    assert again == out


def test_encode_ids_dense_collision_free(spark):
    vals = spark.createDataFrame(
        [(f"item{i}",) for i in range(2000)], "name string"
    )
    got = api.encode_ids(vals, "name", out="code").collect()
    codes = [r.code for r in got]
    assert len(set(codes)) == 2000  # collision-free
    assert min(codes) >= 0
    # dense up to the bucket-balance factor: max id < 64 * fullest bucket
    # (≈1.3x ideal at n=2000 under xxhash64 balance)
    assert max(codes) < 2000 * 1.5
    # deterministic across invocations
    again = {r.name: r.code for r in api.encode_ids(vals, "name", out="code").collect()}
    assert again == {r.name: r.code for r in got}


def test_bitmap_sets_intersect_count_matches_set_intersection(spark):
    # three sets over a 100-item vocabulary, incl. multi-chunk codes
    import random

    rng = random.Random(7)
    sets = {k: set(rng.sample(range(100), 40)) for k in ("a", "b", "c")}
    pairs = spark.createDataFrame(
        [(k, v) for k, vs in sets.items() for v in vs], "sk string, item int"
    )
    vocab = api.encode_ids(pairs.select("item"), "item", out="code")
    max_code = vocab.agg(F.max("code")).first()[0]
    n_chunks = max_code // 64 + 1
    assert n_chunks >= 2  # exercise multi-chunk assembly
    coded = pairs.join(vocab, "item")
    bms = api.bitmap_sets(coded, "sk", "code", n_chunks)
    assert all(len(r.bm) == n_chunks for r in bms.collect())
    lhs = bms.select(F.col("sk").alias("ka"), F.col("bm").alias("bm_x"))
    rhs = bms.select(F.col("sk").alias("kb"), F.col("bm").alias("bm_y"))
    got = {
        (r.ka, r.kb): r.n
        for r in lhs.crossJoin(rhs)
        .withColumn("n", api.bitmap_intersect_count("bm_x", "bm_y"))
        .collect()
    }
    for ka in sets:
        for kb in sets:
            assert got[(ka, kb)] == len(sets[ka] & sets[kb])


@pytest.fixture(params=["auto", "arrow", "shuffle"])
def refine_path(request, monkeypatch):
    """The exact-overlap path a near-dup test runs on: whatever the
    shipped broadcast budget selects (auto), the Arrow bitmap refine
    with the budget unbounded, the shuffle array_intersect join with
    the budget at 0."""
    if request.param == "arrow":
        monkeypatch.setattr(api, "_BROADCAST_MAX_WORDS", 1 << 62)
    elif request.param == "shuffle":
        monkeypatch.setattr(api, "_BROADCAST_MAX_WORDS", 0)
    return request.param


def test_jaccard_pairs_exact_on_custom_columns(spark, refine_path):
    base = "abcdefghijklmnopqrstuvwxyz0123456789"
    near = base[:-2] + "xy"  # high 5-gram overlap
    other = "zzzzzyyyyyxxxxxwwwwwvvvvvuuuuutttttsssss"
    df = spark.createDataFrame(
        [(7, base), (8, near), (9, other), (10, "tiny")],
        "pk long, body string",
    )
    got = api.jaccard_pairs(df, "pk", "body", threshold=0.5, char_k=5).collect()
    assert [(r.id_a, r.id_b) for r in got] == [(7, 8)]
    # exact value: grams(base)=32, grams(near)=32, shared=30 -> 30/34
    import math

    g = lambda s: {s[i : i + 5] for i in range(len(s) - 4)}
    inter = len(g(base) & g(near))
    union = len(g(base) | g(near))
    assert math.isclose(got[0].jaccard, inter / union, rel_tol=1e-6)


def test_containment_pairs_finds_embedded_doc(spark, refine_path):
    long_doc = "abcdefghijklmnopqrstuvwxyz0123456789ABCDEFGH"
    short_doc = long_doc[5:25]  # wholly embedded substring
    other = "zzzzzyyyyyxxxxxwwwwwvvvvv"
    df = spark.createDataFrame(
        [(1, long_doc), (2, short_doc), (3, other)], "pk long, body string"
    )
    got = api.containment_pairs(df, "pk", "body", threshold=0.9, char_k=5).collect()
    # short_doc's grams are all in long_doc -> containment 1.0
    assert [(r.inner_id, r.outer_id) for r in got] == [(2, 1)]
    assert abs(got[0].containment - 1.0) < 1e-6


def _near_dup_pairs(df):
    """(jaccard pairs, containment pairs) of ``df`` as sorted id
    tuples."""
    jp = api.jaccard_pairs(df, "pk", "body", threshold=0.5)
    cp = api.containment_pairs(df, "pk", "body", threshold=0.9)
    return (
        sorted((r.id_a, r.id_b) for r in jp.collect()),
        sorted((r.inner_id, r.outer_id) for r in cp.collect()),
    )


def test_near_dup_pairs_on_string_ids(spark, refine_path):
    """Non-integral ids verify on the shuffle join whatever the
    budget."""
    base = "abcdefghijklmnopqrstuvwxyz0123456789ABCDEFGH"
    df = spark.createDataFrame(
        [("k1", base), ("k2", base[5:25]), ("k3", base[:-2] + "xy")],
        "pk string, body string",
    )
    assert _near_dup_pairs(df) == (
        [("k1", "k3")],
        [("k1", "k3"), ("k2", "k1"), ("k2", "k3")],
    )


def test_near_dup_pairs_on_nulls_and_empty_frame(spark, refine_path):
    """NULL texts have empty gram sets and pair with nothing; a NULL id
    pairs with nothing either, though its text is a near-dup of
    doc 1 and contains doc 3; an empty frame has no pairs."""
    base = "abcdefghijklmnopqrstuvwxyz0123456789ABCDEFGH"
    df = spark.createDataFrame(
        [(1, base), (2, None), (3, base[5:25]), (4, None), (None, base)],
        "pk long, body string",
    )
    assert _near_dup_pairs(df) == ([], [(3, 1)])
    # NULL ids whose gram sets differ in size from their near-dups:
    # the candidate pair's least/greatest skip the NULL, so a NULL
    # posting would turn into the self-pair (x, x) with J = 1.0
    t = "abcdefghijklmnopqrstuvwxyz0123456789"
    df = spark.createDataFrame(
        [(1, t), (None, t + "Q"), (None, t + "QR"), (3, t[:-1] + "z")],
        "pk long, body string",
    )
    assert _near_dup_pairs(df)[0] == [(1, 3)]
    empty = spark.createDataFrame([], "pk long, body string")
    assert _near_dup_pairs(empty) == ([], [])


def test_simhash_pairs_identical_docs_distance_zero(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, "one two three four five six seven")],
        "pk long, body string",
    )
    got = api.simhash_pairs(df, "pk", "body", hamming_max=3).collect()
    # identical docs share every band and have hamming 0; the unrelated
    # doc must not pair at distance <= 3
    assert [(r.id_a, r.id_b, r.hamming) for r in got] == [(1, 2, 0)]


def test_concurrency_sweep_keyed_no_collect(spark):
    from datetime import datetime

    rows = [
        ("srv1", datetime(2024, 1, 1, 0), datetime(2024, 1, 1, 2)),
        ("srv1", datetime(2024, 1, 1, 1), datetime(2024, 1, 1, 3)),
        ("srv1", datetime(2024, 1, 1, 2), datetime(2024, 1, 1, 4)),  # starts at an end
        ("srv2", datetime(2024, 1, 1, 0), datetime(2024, 1, 2, 1)),  # crosses midnight
    ]
    df = spark.createDataFrame(rows, "host string, s timestamp, e timestamp")
    got = {
        (r.host, r.t.day, r.t.hour): r.n
        for r in api.concurrency_sweep(df, "s", "e", ["host"], out="n").collect()
    }
    assert got == {
        ("srv1", 1, 0): 1,
        ("srv1", 1, 1): 2,
        ("srv1", 1, 2): 2,  # end+start at 02:00 cancel (half-open)
        ("srv1", 1, 3): 1,
        ("srv1", 1, 4): 0,
        ("srv2", 1, 0): 1,
        ("srv2", 2, 1): 0,  # day-block carry-in bridged the midnight
    }


def test_dedup_chunks_rewrites_in_order(spark):
    # chunk_tokens=2: doc 1 and 2 share the chunk "x y"; doc 3 unique
    df = spark.createDataFrame(
        [
            (1, "a b x y c d"),
            (2, "x y e f"),
            (3, "g h i j"),
        ],
        "pk long, body string",
    )
    got = {
        r.pk: (r.clean, r.n_chunks, r.n_dup_chunks)
        for r in api.dedup_chunks(
            df, "pk", "body", chunk_tokens=2, out="clean"
        ).collect()
    }
    assert got == {
        1: ("a b c d", 3, 1),   # "x y" removed, order kept
        2: ("e f", 2, 1),
        3: ("g h i j", 2, 0),
    }


def test_welch_ttest_matches_numpy(spark, sf_dir):
    """agg_welch_ttest's exact-cents closed form must agree with a
    direct numpy computation from the same parquet (a second oracle,
    independent of DuckDB's aggregate paths)."""
    import numpy as np
    import pandas as pd

    from hadoop_deliver_spark.registry import load_all

    got = load_all()["agg_welch_ttest"].fn(spark, sf_dir).collect()[0]
    pdf = pd.read_parquet(f"{sf_dir}/orders.parquet")
    cents = np.round(pdf["o_totalprice"] * 100).astype(np.int64)
    u = (pdf["o_orderpriority"] == "1-URGENT").to_numpy()
    x1, x2 = cents[u].to_numpy(np.float64), cents[~u].to_numpy(np.float64)
    v1, v2 = x1.var(ddof=1), x2.var(ddof=1)
    se2 = v1 / len(x1) + v2 / len(x2)
    t = (x1.mean() - x2.mean()) / np.sqrt(se2)
    dof = se2**2 / (
        (v1 / len(x1)) ** 2 / (len(x1) - 1)
        + (v2 / len(x2)) ** 2 / (len(x2) - 1)
    )
    assert got["n_urgent"] == len(x1) and got["n_rest"] == len(x2)
    assert abs(got["mean_urgent"] - x1.mean() / 100) < 1e-3
    assert abs(got["t_stat"] - t) < 1e-3
    assert abs(got["dof"] - dof) < 1e-2


def test_bloom_hits_superset_of_exact(spark, sf_dir):
    """llm_dedup_bloom: a Bloom filter can false-positive but never
    false-negative — bloom_hits ≥ exact_hits must hold on EVERY row,
    and exact_hits must match a direct pandas recount."""
    import pandas as pd

    from hadoop_deliver_spark.registry import load_all

    rows = load_all()["llm_dedup_bloom"].fn(spark, sf_dir).collect()
    assert rows, "no incoming docs with shingles"
    for r in rows:
        assert r["bloom_hits"] >= r["exact_hits"], r
        assert r["n_shingles"] >= r["bloom_hits"], r
    pdf = pd.read_parquet(f"{sf_dir}/documents.parquet")
    K = 8

    def sh(text):
        t = text.split(" ")
        return {" ".join(t[i : i + K]) for i in range(len(t) - K + 1)}

    ev = set()
    for _, row in pdf[pdf.doc_id % 2 == 0].iterrows():
        ev |= sh(row.text)
    want = {}
    for _, row in pdf[pdf.doc_id % 2 == 1].iterrows():
        s = sh(row.text)
        if s:
            want[row.doc_id] = (len(s), len(s & ev))
    got = {r["doc_id"]: (r["n_shingles"], r["exact_hits"]) for r in rows}
    assert got == want


def test_semdedup_matches_numpy_bruteforce(spark, sf_dir):
    """llm_semdedup's full decision set (assignment, similar pairs,
    drop rule) recomputed brute-force in numpy from the same parquet
    must agree exactly — a second oracle independent of DuckDB."""
    import numpy as np
    import pandas as pd

    from hadoop_deliver_spark.registry import load_all

    rows = load_all()["llm_semdedup"].fn(spark, sf_dir).collect()
    pdf = pd.read_parquet(f"{sf_dir}/embeddings.parquet").sort_values(
        "vec_id"
    )
    E = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    ids = pdf["vec_id"].to_numpy()
    C = E[ids < 10]
    d2 = ((E**2).sum(1)[:, None] - 2 * E @ C.T + (C**2).sum(1)[None, :])
    cl = d2.argmin(1)
    simc = (E @ C.T) / (
        np.linalg.norm(E, axis=1)[:, None] * np.linalg.norm(C, axis=1)[None, :]
    )
    my_simc = simc[np.arange(len(E)), cl]
    cos = (E @ E.T) / (
        np.linalg.norm(E, axis=1)[:, None] * np.linalg.norm(E, axis=1)[None, :]
    )
    dropped = set()
    for i in range(len(E)):
        for j in range(i + 1, len(E)):
            if cl[i] == cl[j] and cos[i, j] >= 0.8:
                if my_simc[i] > my_simc[j]:
                    dropped.add(ids[i])
                elif my_simc[j] > my_simc[i]:
                    dropped.add(ids[j])
                else:
                    dropped.add(max(ids[i], ids[j]))
    got = {r["vec_id"]: (r["cluster"], r["kept"]) for r in rows}
    want = {
        int(ids[i]): (int(cl[i]), ids[i] not in dropped)
        for i in range(len(E))
    }
    assert got == want
    # and every cluster keeps at least one member (the least central
    # member can never be the more-central one of any pair)
    kept_by_cluster = {}
    for vid, (c, k) in got.items():
        kept_by_cluster.setdefault(c, 0)
        kept_by_cluster[c] += int(k)
    assert all(v >= 1 for v in kept_by_cluster.values())


def test_mann_whitney_matches_direct_ranks(spark, sf_dir):
    """agg_mann_whitney vs a direct midrank computation in pandas
    (average ranks, tie-corrected z) — a second oracle independent of
    both the block-rank core and DuckDB."""
    import numpy as np
    import pandas as pd

    from hadoop_deliver_spark.registry import load_all

    got = load_all()["agg_mann_whitney"].fn(spark, sf_dir).collect()[0]
    pdf = pd.read_parquet(f"{sf_dir}/orders.parquet")
    cents = np.round(pdf["o_totalprice"] * 100).astype(np.int64)
    urg = (pdf["o_orderpriority"] == "1-URGENT").to_numpy()
    ranks = pd.Series(cents).rank(method="average").to_numpy()
    n1, n2 = int(urg.sum()), int((~urg).sum())
    r1 = ranks[urg].sum()
    u1 = r1 - n1 * (n1 + 1) / 2
    n = n1 + n2
    _, t = np.unique(cents, return_counts=True)
    ties = float((t**3 - t).sum())
    sigma = np.sqrt(n1 * n2 / 12 * ((n + 1) - ties / (n * (n - 1))))
    z = (u1 - n1 * n2 / 2) / sigma
    assert (got["n1"], got["n2"]) == (n1, n2)
    assert abs(got["u1"] - u1) < 1e-6
    assert abs(got["z"] - z) < 1e-3


def test_gini_matches_numpy(spark, sf_dir):
    """agg_gini vs the direct numpy Gini on sorted values."""
    import numpy as np
    import pandas as pd

    from hadoop_deliver_spark.registry import load_all

    got = load_all()["agg_gini"].fn(spark, sf_dir).collect()[0]
    cents = np.sort(
        np.round(
            pd.read_parquet(f"{sf_dir}/orders.parquet")["o_totalprice"] * 100
        ).astype(np.int64)
    )
    n = len(cents)
    i = np.arange(1, n + 1, dtype=np.float64)
    g = 2 * (i * cents).sum() / (n * cents.sum()) - (n + 1) / n
    assert got["n"] == n
    assert abs(got["gini"] - g) < 1e-6


def test_cuped_matches_numpy(spark, sf_dir):
    """events_cuped vs the direct numpy CUPED adjustment — and the
    adjustment must not move the pooled mean (Σ adjusted = Σ raw)."""
    import numpy as np
    import pandas as pd

    from hadoop_deliver_spark.registry import load_all

    got = load_all()["events_cuped"].fn(spark, sf_dir).collect()[0]
    e = pd.read_parquet(f"{sf_dir}/events.parquet")
    e["day"] = pd.to_datetime(e["ts"]).dt.date
    pur = e[e.event_type == "purchase"]
    cut = pd.Timestamp("2024-01-16").date()
    per_user = pd.DataFrame(
        {
            "x": pur[pur.day < cut].groupby("user_id").size(),
            "y": pur[pur.day >= cut].groupby("user_id").size(),
        }
    )
    all_users = e["user_id"].unique()
    per_user = per_user.reindex(all_users).fillna(0)
    x, y = per_user["x"].to_numpy(), per_user["y"].to_numpy()
    arm = (per_user.index.to_numpy() % 2).astype(int)
    theta = np.cov(x, y, ddof=0)[0, 1] / x.var()
    adj = y - theta * (x - x.mean())
    want = adj[arm == 0].mean() - adj[arm == 1].mean()
    assert abs(got["theta"] - theta) < 1e-3
    assert abs(got["diff_cuped"] - want) < 1e-3


def test_spearman_matches_pandas(spark, sf_dir):
    """agg_spearman vs pandas' built-in Spearman (tie-aware) — a
    second oracle independent of both the rank core and DuckDB."""
    import numpy as np
    import pandas as pd

    from hadoop_deliver_spark.registry import load_all

    got = load_all()["agg_spearman"].fn(spark, sf_dir).collect()[0]
    o = pd.read_parquet(f"{sf_dir}/orders.parquet")
    cust = o.groupby("o_custkey").agg(
        spend=("o_totalprice", lambda s: np.round(s * 100).astype(np.int64).sum()),
        n_orders=("o_orderkey", "size"),
    )
    # rank-then-Pearson (pandas' method="spearman" needs scipy,
    # absent here; average ranks + plain corr is the same estimator)
    rho = (
        cust["spend"]
        .rank(method="average")
        .corr(cust["n_orders"].rank(method="average"))
    )
    assert got["n"] == len(cust)
    assert abs(got["rho"] - rho) < 1e-3


def test_gram_cache_rekeys_on_file_rewrite(spark, tmp_path):
    """Round-11 advice regression: the gram-stage memo must NOT serve
    stale results when the SAME parquet path is rewritten with new
    contents inside one application. The cache key folds in the
    source-file listing (parquet rewrites produce fresh UUID part
    names), so the second read re-keys automatically — no manual
    clear_stage_caches() needed for the rewrite path."""
    from hadoop_deliver_spark import api

    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(1, "alpha beta gamma delta shared tail piece"),
         (2, "alpha beta gamma delta shared tail piece x")],
        "id long, body string",
    ).write.mode("overwrite").parquet(p)
    first = api.jaccard_pairs(
        spark.read.parquet(p), "id", "body", threshold=0.5
    ).collect()
    assert len(first) == 1  # the two near-identical docs pair up

    # rewrite the same path with DISSIMILAR texts — a stale cache
    # would still report the old pair
    spark.createDataFrame(
        [(1, "completely different words here now okay"),
         (2, "zzz yyy xxx www vvv uuu ttt sss rrr")],
        "id long, body string",
    ).write.mode("overwrite").parquet(p)
    second = api.jaccard_pairs(
        spark.read.parquet(p), "id", "body", threshold=0.5
    ).collect()
    assert second == []  # fresh grams, no stale pair

    # the explicit invalidation helper runs clean and empties the memo
    api.clear_stage_caches()
    assert not api._STAGE_MEMO


def test_memo_stage_keys_on_params_and_sources(spark):
    """One build per (tag, params, sources): a repeat call is a hit
    returning the same materialized stage; a new param or a different
    source plan is a miss."""
    from hadoop_deliver_spark import api

    src = spark.range(5)
    calls = []

    def build():
        calls.append(1)
        return src.selectExpr("id * 2 AS v")

    got = api.memo_stage("t", [src], (1,), build)
    assert api.memo_stage("t", [src], (1,), build) is got
    api.memo_stage("t", [src], (2,), build)
    api.memo_stage("t", [spark.range(6)], (1,), build)
    assert len(calls) == 3
    assert sorted(r.v for r in got.collect()) == [0, 2, 4, 6, 8]
