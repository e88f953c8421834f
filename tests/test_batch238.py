"""Batch 238 replays — beam decode, CRDT merge, KV paging, quorum
staleness (R701–R704).  Invariants on top of the DuckDB differential."""

import math

from pyspark.sql import functions as F

from arrow_supercluster_spark.plans.registry import REGISTRY


def test_beam_python_replay(spark, sf_dir):
    """Exact dict replay of the 4-step width-3 beam over the same
    bigram counts."""
    from arrow_supercluster_spark.operators.dedup import tokenize
    from arrow_supercluster_spark.plans.registry_ext238 import (
        _BEAM_B,
        _BEAM_STEPS,
    )

    toks = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.filter(tokenize(F.col("text")), lambda t: t != "").alias("ts"))
        .collect()
    )
    big = {}
    outdeg = {}
    for r in toks:
        ts = r.ts
        for a, b in zip(ts, ts[1:]):
            big[(a, b)] = big.get((a, b), 0) + 1
            outdeg[a] = outdeg.get(a, 0) + 1
    seed = min(outdeg, key=lambda w: (-outdeg[w], w))
    beam = [(seed, seed, 0)]
    for _ in range(_BEAM_STEPS):
        cands = [
            (f"{seq} {w2}", w2, sc + c)
            for (seq, last, sc) in beam
            for (w1, w2), c in big.items()
            if w1 == last
        ]
        cands.sort(key=lambda t: (-t[2], t[0]))
        beam = cands[:_BEAM_B]
    want = sorted(((sc, seq) for seq, _, sc in beam), key=lambda t: (-t[0], t[1]))
    rows = REGISTRY["q_beam_search_bigram"].spark(spark, sf_dir).collect()
    got = [(r.score, r.seq) for r in rows]
    assert got == want


def test_crdt_merge_converges(spark, sf_dir):
    """The whole point: merged == full for every key, all replicas
    converged."""
    rows = REGISTRY["q_crdt_gcounter"].spark(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.merged_total == r.full_total
        assert r.replicas_converged >= 1


def test_kv_page_plan_bounds(spark, sf_dir):
    """pages*16 >= tokens (ceil), frag < n_seqs*16, paging never worse
    than contiguous allocation."""
    rows = REGISTRY["q_kv_page_plan"].spark(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.total_pages * 16 == r.total_tokens + r.frag_tokens
        assert 0 <= r.frag_tokens < r.n_seqs * 16
        assert r.total_pages * 16 <= r.contiguous_tokens + 15 * r.n_seqs


def test_quorum_staleness_median_bounds(spark, sf_dir):
    """Median-of-3 lag lies in [0, 199]; mean within [min, max]."""
    rows = REGISTRY["q_quorum_staleness"].spark(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.min_ms <= r.max_ms <= 199
        assert r.min_ms <= r.mean_ms <= r.max_ms
        assert 0 <= r.stale_over_100ms <= r.n_writes


def test_beam_and_crdt_leave_no_session_cache(spark, sf_dir):
    """Neither query leaves a cached relation in the session: their
    shared intermediates are checkpointed, not persisted."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    for name in ("q_beam_search_bigram", "q_crdt_gcounter"):
        spark.catalog.clearCache()
        assert cache.isEmpty()
        assert REGISTRY[name].spark(spark, sf_dir).collect()
        assert cache.isEmpty(), name
