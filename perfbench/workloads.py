"""Frozen workload definitions.

The run seed (``--seed``) picks the generated table contents and, on
``deliver_epochs_sf001``, the row subsets each epoch rewrites. The
query lists below are frozen: the benchmark is judged on its spread
across run seeds, so a seed that also picked the queries would mostly
measure which queries it picked. ``floor_sf001``'s list was drawn once,
stratified by name family, with ``FLOOR_DEFINITION_SEED``.

No workload runs the timer-driven ``stream_*`` queries: their wall time
is set by triggers and timeouts, not by the engine.
"""

from __future__ import annotations

from dataclasses import dataclass, field

#: seed used once to draw FLOOR_QUERIES
FLOOR_DEFINITION_SEED = 20261017
#: a second run seed, never used while the benchmark was tuned, for
#: re-checking later performance claims
RECHECK_SEED = 7919

#: floor_sf001: one query per name family, drawn in the order of
#: DRAWN_FAMILIES with random.Random(FLOOR_DEFINITION_SEED).choice over
#: each family's sorted queries that took at most 0.8 s at sf0.01 on 4
#: cores in a full registry pass (so per-query fixed cost, not execution,
#: dominates), then cut to five families to fit a run into its time budget
DRAWN_FAMILIES = ("agg", "llm", "events", "ts", "fn", "orders", "graph", "scan",
                  "join", "customers", "sql", "win")
FLOOR_QUERIES = (
    "agg_hoover_index",
    "llm_chao1_richness",
    "events_imr_chart",
    "fn_collation",
    "scan_json_corrupt",
)

#: deliver_epochs_sf001: a memo-stage user that keys on the data
#: version of its sources, next to a join, an aggregation and a filter
#: over the other rewritten tables
DELIVER_QUERIES = (
    "graph_jaccard_linkpred",    # Brand#23 co-purchase memo over orders x lineitem x part
    "join_inner_equi",           # orders x lineitem, a headline join twin
    "llm_label_centroids",       # aggregation over embeddings
    "filter_like_regex",         # scan + filter over part
)

#: the near-dup component-label memo (operators.llm_text._cc_cache)
#: keys on (application, sf_dir) only, so after an in-place rewrite of
#: ``documents`` these queries serve an earlier epoch's clusters. Traced
#: runs deliver them on epoch 1 (filling the memo) and again after the
#: timed window, check the second delivery against the last epoch's
#: oracle and report the mismatches as ``oracle.stale_results``. They
#: are not measured operations until the memo keys on its sources.
STALE_PROBE_QUERIES = ("llm_dedup_clusters", "llm_dedup_cluster_sizes")

#: tables each deliver epoch rewrites in place, and the share of rows kept
EPOCH_TABLES = ("orders", "part", "documents", "embeddings")
EPOCH_KEEP = 0.9


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    queries: tuple[str, ...]
    #: call api.clear_stage_caches() before every pass
    clear_caches: bool
    #: deliver through the CLI to parquet, rewriting EPOCH_TABLES first
    deliver: bool
    #: wall time of one settled pass on 4 cores; sets how many passes
    #: the timed window holds (see run.Bench.timed_pass_count)
    nominal_pass_s: float
    probe: tuple[str, ...] = field(default=())


WORKLOADS = {
    "floor_sf001": Workload("floor_sf001", 0.01, FLOOR_QUERIES,
                            clear_caches=True, deliver=False, nominal_pass_s=2.0),
    "deliver_epochs_sf001": Workload("deliver_epochs_sf001", 0.01, DELIVER_QUERIES,
                                     clear_caches=False, deliver=True, nominal_pass_s=3.5,
                                     probe=STALE_PROBE_QUERIES),
}

