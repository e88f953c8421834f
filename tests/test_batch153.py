"""Batch-153 tests: Katz vs python iteration on the same edge set,
Jaccard link prediction brute force, absorbing-chain python oracle +
sanity invariants."""

import numpy as np


def test_katz_matches_python_iteration(spark, sf_dir):
    from arrow_supercluster_spark.operators.graph import mutual_knn_edges
    from arrow_supercluster_spark.plans.registry_ext158 import (
        _KATZ_ALPHA,
        _KATZ_ITERS,
        _KATZ_K,
        q_katz_centrality,
    )
    from pyspark.sql import functions as F

    got = {
        r.vec_id: r.katz for r in q_katz_centrality(spark, sf_dir).collect()
    }
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    edges = mutual_knn_edges(emb, _KATZ_K).collect()
    ids = sorted(got)
    idx = {v: i for i, v in enumerate(ids)}
    A = np.zeros((len(ids), len(ids)))
    for e in edges:
        A[idx[e.src], idx[e.dst]] = 1.0
    assert (A == A.T).all(), "mutual graph must be symmetric"
    x = np.ones(len(ids))
    for _ in range(_KATZ_ITERS):
        x = _KATZ_ALPHA * A @ x + 1
    for v in ids:
        assert abs(got[v] - x[idx[v]]) < 1e-5
    # isolated nodes (no mutual neighbor) sit at the additive base
    deg = A.sum(1)
    for v in ids:
        if deg[idx[v]] == 0:
            assert got[v] == 1.0
        else:
            assert got[v] > 1.0


def test_jaccard_link_pred_bruteforce(spark, sf_dir):
    from arrow_supercluster_spark.plans.registry_ext158 import (
        _JL_ITEMS,
        q_jaccard_link_pred,
    )
    from pyspark.sql import functions as F

    rows = q_jaccard_link_pred(spark, sf_dir).collect()
    ui = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select(
            "user_id",
            F.pmod(
                F.get_json_object("props", "$.k").cast("bigint"),
                F.lit(_JL_ITEMS),
            ).alias("item"),
        )
        .distinct()
        .collect()
    )
    nbr = {}
    for r in ui:
        nbr.setdefault(r.item, set()).add(r.user_id)
    scored = []
    items = sorted(nbr)
    for i in items:
        for j in items:
            if i < j:
                c = len(nbr[i] & nbr[j])
                if c:
                    scored.append(
                        (round(c / len(nbr[i] | nbr[j]), 6), i, j, c)
                    )
    scored.sort(key=lambda t: (-t[0], t[1], t[2]))
    assert len(rows) == 25
    for row, (jac, i, j, c) in zip(rows, scored[:25]):
        assert (row.item_i, row.item_j, row.common_users) == (i, j, c)
        assert abs(row.jaccard - jac) < 1e-9


def test_absorbing_markov_python_oracle(spark, sf_dir):
    from arrow_supercluster_spark.plans.registry_ext158 import (
        q_absorbing_markov,
    )
    from arrow_supercluster_spark.sources.tables import read_events

    got = {r.state: r for r in q_absorbing_markov(spark, sf_dir).collect()}
    ev = sorted(
        read_events(spark, sf_dir)
        .select("user_id", "ts", "event_id", "event_type")
        .collect(),
        key=lambda r: (r.user_id, r.ts, r.event_id),
    )
    counts = {}
    by_user = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append(r.event_type)
    for seq in by_user.values():
        for a, b in zip(seq, seq[1:]):
            counts[(a, b)] = counts.get((a, b), 0) + 1
        last = seq[-1]
        term = "CONV" if last == "purchase" else "NULL"
        counts[(last, term)] = counts.get((last, term), 0) + 1
    states = sorted({a for a, _ in counts})
    n = len(states)
    row_tot = {
        s: sum(c for (a, _), c in counts.items() if a == s) for s in states
    }
    Q = np.zeros((n, n))
    R = np.zeros((n, 2))
    for i, s in enumerate(states):
        for j, t in enumerate(states):
            Q[i, j] = counts.get((s, t), 0) / row_tot[s]
        R[i, 0] = counts.get((s, "CONV"), 0) / row_tot[s]
        R[i, 1] = counts.get((s, "NULL"), 0) / row_tot[s]
    Ninv = np.linalg.inv(np.eye(n) - Q)
    steps = Ninv @ np.ones(n)
    absorb = Ninv @ R
    assert set(got) == set(states)
    for i, s in enumerate(states):
        assert got[s].n_transitions == row_tot[s]
        assert abs(got[s].expected_steps - steps[i]) < 1e-3
        assert abs(got[s].p_conversion - absorb[i, 0]) < 1e-5
        assert abs(got[s].p_null - absorb[i, 1]) < 1e-5
        # absorption probabilities partition
        assert abs(got[s].p_conversion + got[s].p_null - 1) < 1e-5
