"""Graph operators beyond connected components (dedup.py): the user
co-occurrence graph, PageRank (optionally with a restart set), Katz,
eigenvector centrality, HITS, triangles and label propagation.

Public algorithms (Brin & Page 1998; Katz 1953; Kleinberg 1999),
expressed relationally: each round = one join + one aggregate,
driver-controlled like the zoom recursion (SURVEY §3.1) and the
components loop (dedup.py).

Scale shape (100 TB of edges):
- edges shuffle ONCE per iteration keyed by the summing end; scores are
  |nodes| rows (small side → broadcastable when nodes ≪ edges);
- each operator materializes its edge list and node set once, and every
  round's scores are checkpointed, so the lineage stays O(1) instead of
  O(iterations) — the same discipline as the zoom loop;
- PageRank and HITS round scores to 9 decimals each round: double
  summation order is partition-dependent, and without re-rounding the
  drift compounds across iterations (the cross-engine parity rationale
  of plans/registry.py's float discipline). Katz and eigenvector
  centrality round only their output, as their SQL twins do.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, functions as F

from arrow_supercluster_spark.functions.checkpoint import truncate

# The SQL twin of cooccurrence_edges, as one `edges (src, dst)` CTE.
COOCCURRENCE_EDGES_SQL = """
    edges AS (
      SELECT DISTINCT a.user_id AS src, b.user_id AS dst
      FROM events a JOIN events b
        ON a.event_type = b.event_type
       AND date_trunc('hour', a.ts) = date_trunc('hour', b.ts)
       AND a.user_id <> b.user_id
    )"""


def cooccurrence_edges(events: DataFrame) -> DataFrame:
    """The user co-occurrence graph over `read_events` output: a
    directed edge (src, dst) for every ordered pair of distinct users
    who share an event type in the same hour. Distinct rows, so each
    undirected link appears once per direction."""
    ev = events.select(
        "user_id", "event_type", F.date_trunc("hour", "ts").alias("h")
    )
    a = ev.select(F.col("user_id").alias("src"), "event_type", "h")
    b = ev.select(F.col("user_id").alias("dst"), "event_type", "h")
    return (
        a.join(b, ["event_type", "h"])
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


def mutual_knn_edges(emb: DataFrame, k: int) -> DataFrame:
    """Undirected mutual k-NN edges as BOTH directed rows (u,v) and
    (v,u) — the adjacency the matrix-vector product needs."""
    from arrow_supercluster_spark.operators.similarity import (
        knn_edges_exact,
    )

    ed = knn_edges_exact(emb, k)
    rev = ed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return ed.intersect(rev)  # a->b kept iff b->a also present


def node_set(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """(node) — the distinct endpoints of an edge list."""
    return (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
    restart: Optional[Column] = None,
) -> DataFrame:
    """PageRank over a directed edge list, fixed iteration count.
    Simplified dangling treatment (their mass is dropped, the common
    relational variant). Returns (node, rank), ranks rounded to 6.

    Without `restart`, every node starts at 1/N and receives the
    teleport term (1−d)/N. With `restart` — a boolean Column over
    `node` selecting the restart set S — the walk is personalized: the
    nodes of S start at 1/|S| and receive (1−d)·(1/|S|), every other
    node starts at and receives 0. A restart set that matches no node
    raises ValueError.

    r10: the edge list, node set and degree table are materialized ONCE
    (eager truncate) — callers pass expensive lineages (the
    co-occurrence self-join), and the iteration loop re-ran that
    lineage per round per consumer (edges ×3 rounds, nodes ×5 uses:
    12.5 s → ~4 s for q_pagerank at sf0.1).  Materializing the edge
    table before iterating is also the 100 TB-correct shape: each round
    then reads a stored table instead of re-shuffling the derivation."""
    edges = truncate(edges.select(F.col(src).alias(src), F.col(dst).alias(dst)))
    nodes = truncate(node_set(edges, src, dst))
    if restart is None:
        n = nodes.count()
        if n == 0:
            # empty graph (e.g. a co-occurrence window that matched nothing)
            # → empty rank table, not a ZeroDivisionError at plan build
            return nodes.select("node", F.lit(0.0).alias("rank")).limit(0)
        init = F.lit(1.0 / n)
        base = F.lit((1.0 - damping) / n)
    else:
        ns = nodes.filter(restart).count()
        if ns == 0:
            raise ValueError("pagerank: the restart set matches no node of the graph")
        init = F.when(restart, F.lit(1.0 / ns)).otherwise(F.lit(0.0))
        base = F.when(restart, F.lit((1.0 - damping) * (1.0 / ns))).otherwise(
            F.lit(0.0)
        )
    deg = truncate(edges.groupBy(src).agg(F.count(F.lit(1)).alias("deg")))
    ranks = nodes.select("node", F.round(init, 9).alias("rank"))
    for _ in range(iterations):
        contribs = (
            edges.join(deg, src)
            .join(ranks, F.col(src) == F.col("node"))
            .select(F.col(dst).alias("node"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                F.round(
                    base + damping * F.coalesce(F.col("inflow"), F.lit(0.0)), 9
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def pagerank_sql(
    iterations: int = 3, damping: float = 0.85, restart: Optional[str] = None
) -> str:
    """SQL twin of `pagerank`, as CTE text over an `edges (src, dst)` CTE
    the caller defines: nodes, nstat, deg, r0 and the unrolled rounds
    r1..r{iterations}. The caller selects from r{iterations} and rounds
    to 6. `restart` is the restart set as a SQL predicate over `node`."""
    d = f"CAST({damping} AS DOUBLE)"
    if restart is None:
        nstat = "SELECT COUNT(*) AS n FROM nodes"
        init = "CAST(1.0 AS DOUBLE) / nstat.n"
        base = f"(CAST(1.0 AS DOUBLE) - {d}) / nstat.n"
    else:
        nstat = f"SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes WHERE {restart}"
        init = (
            f"CASE WHEN {restart} THEN CAST(1.0 AS DOUBLE) / nstat.n"
            " ELSE CAST(0.0 AS DOUBLE) END"
        )
        base = f"(CAST(1.0 AS DOUBLE) - {d}) * {init}"
    rounds = "".join(
        f""",
    r{i + 1} AS (
      SELECT nodes.node,
             round({base}
                   + {d} * coalesce(c.inflow, 0.0), 9) AS rank
      FROM nodes CROSS JOIN nstat
      LEFT JOIN (
        SELECT e.dst AS node, SUM(r.rank / d.deg) AS inflow
        FROM edges e JOIN deg d ON d.src = e.src
                     JOIN r{i} r ON r.node = e.src
        GROUP BY e.dst
      ) c USING (node)
    )"""
        for i in range(iterations)
    )
    return f"""
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    nstat AS ({nstat}),
    deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    r0 AS (
      SELECT node, round({init}, 9) AS rank
      FROM nodes CROSS JOIN nstat
    ){rounds}"""


def _neighbour_sum(
    edges: DataFrame, nodes: DataFrame, scores: DataFrame, node_end: str
) -> DataFrame:
    """(node, s): for every node, the sum of its neighbours' `score`
    along the edges (src, dst) whose `node_end` end is the node — s is
    (A·x)(node) for node_end="src", (Aᵀ·x)(node) for node_end="dst".
    A node with no such edge gets 0."""
    far = "dst" if node_end == "src" else "src"
    msg = (
        edges.join(scores.select(F.col("node").alias(far), "score"), far)
        .groupBy(F.col(node_end).alias("node"))
        .agg(F.sum("score").alias("s"))
    )
    return nodes.join(msg, "node", "left").select(
        "node", F.coalesce(F.col("s"), F.lit(0.0)).alias("s")
    )


def _l2_normalise(sums: DataFrame, digits: Optional[int] = None) -> DataFrame:
    """(node, score) = s / ‖s‖₂, 0 everywhere when the norm is 0. With
    `digits`, the norm and each score round to that many decimals."""

    def rnd(c: Column) -> Column:
        return c if digits is None else F.round(c, digits)

    nrm = sums.agg(rnd(F.sqrt(F.sum(F.col("s") * F.col("s")))).alias("nrm"))
    return sums.crossJoin(F.broadcast(nrm)).select(
        "node",
        F.when(F.col("nrm") > 0, rnd(F.col("s") / F.col("nrm")))
        .otherwise(F.lit(0.0))
        .alias("score"),
    )


def _power_iteration(
    edges: DataFrame, nodes: DataFrame, iterations: int, step
) -> DataFrame:
    """x⁰ = 1 over `nodes`, xᵗ⁺¹ = step(A·xᵗ) over the symmetric edge
    list; returns (node, score) after `iterations` rounds."""
    edges = truncate(edges.select("src", "dst"))
    nodes = truncate(nodes.select("node"))
    x = nodes.select("node", F.lit(1.0).alias("score"))
    for _ in range(iterations):
        # eager cut per round: an uncut 12-round tree spends its time in
        # planning, and the L2 norm reads the sums twice, so the plan
        # would also double each round
        x = truncate(step(_neighbour_sum(edges, nodes, x, "src")))
    return x


def katz(
    edges: DataFrame, nodes: DataFrame, alpha: float, iterations: int
) -> DataFrame:
    """Katz centrality by truncated Neumann series: x⁰ = 1,
    xᵗ⁺¹ = α·A·xᵗ + 1 for `iterations` rounds. `nodes` (node) may hold
    isolated nodes; they stay at 1. Returns (node, score), unrounded."""
    return _power_iteration(
        edges,
        nodes,
        iterations,
        lambda s: s.select("node", (alpha * F.col("s") + 1.0).alias("score")),
    )


def eigenvector_centrality(
    edges: DataFrame, nodes: DataFrame, iterations: int
) -> DataFrame:
    """Power iteration for the principal eigenvector: x⁰ = 1,
    xᵗ⁺¹ = A·xᵗ / ‖A·xᵗ‖₂ for `iterations` rounds. Isolated nodes stay
    exactly 0. Returns (node, score), unrounded."""
    return _power_iteration(edges, nodes, iterations, _l2_normalise)


def hits(edges: DataFrame, iterations: int) -> DataFrame:
    """HITS hubs and authorities (Kleinberg 1999) over a directed edge
    list (src, dst), from hub = authority = 1: each round, authority =
    L2-normalised in-link hub sum, then hub = L2-normalised out-link
    authority sum, every norm and score rounded to 9. Returns
    (node, hub, authority)."""
    edges = truncate(edges.select("src", "dst"))
    nodes = truncate(node_set(edges))
    hub = auth = nodes.select("node", F.lit(1.0).alias("score"))
    for _ in range(iterations):
        auth = _l2_normalise(_neighbour_sum(edges, nodes, hub, "dst"), 9)
        auth = auth.localCheckpoint(eager=False)
        hub = _l2_normalise(_neighbour_sum(edges, nodes, auth, "src"), 9)
        hub = hub.localCheckpoint(eager=False)
    return hub.select("node", F.col("score").alias("hub")).join(
        auth.select("node", F.col("score").alias("authority")), "node"
    )


def undirected_edges(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Canonical undirected edge set: (u, v) with u < v, distinct."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


_TRI_BITSET_MAX_NODES = 16384  # 2 KB bitmap/node, <= 32 MB broadcast


def triangle_counts(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """(node, n_tri) — number of triangles each node participates in.

    Two regimes behind a bounded dispatch probe (the q_setsim_join
    design language):

    * node domain <= _TRI_BITSET_MAX_NODES: BITSET kernel — adjacency
      bitmaps (n/8 bytes per node) build distributed, broadcast as one
      <= 32 MB matrix, and every edge's common-neighbor count is one
      vectorized AND+popcount over the batch (numpy).  n_tri(x) =
      Σ_{(x,y)∈E} |N(x)∩N(y)| / 2.  Work is O(m·n/64) WORD ops and the
      shuffle carries one row per edge — on the dense bench graph
      (1.5k nodes, 789k edges, ~1.7e9 wedges) this replaces a
      ~2e8-row wedge/corner stream with a ~40 ms popcount pass.
    * above the cap: relational enumeration with DEGREE ORIENTATION —
      orient each edge from its lower-(degree, id) endpoint; every
      triangle has exactly one apex with two out-edges, so counts are
      identical and the wedge frame is Σ outdeg² (bounded by
      arboricity: outdeg = O(√m)) instead of Σ deg².  This is the
      any-scale path: equi-joins on node keys only.

    Counts are invariant to the strategy (equivalence-tested), so the
    DuckDB oracle is unaffected by dispatch.
    """
    und = undirected_edges(edges, src, dst)
    # bounded probe: scans until cap+1 distinct nodes, one small collect
    node_rows = node_set(und, "u", "v").limit(_TRI_BITSET_MAX_NODES + 1).collect()
    if len(node_rows) <= _TRI_BITSET_MAX_NODES:
        return _triangle_counts_bitset(
            und, sorted(r.node for r in node_rows)
        )
    return _triangle_counts_oriented(und)


def _triangle_counts_bitset(und: DataFrame, ids: list) -> DataFrame:
    """Dense/bounded-domain fast path: broadcast adjacency bitmaps,
    one AND+popcount per edge.  ids = the full sorted node domain
    (<= _TRI_BITSET_MAX_NODES by dispatch)."""
    import numpy as np

    spark = und.sparkSession
    n = len(ids)
    if n == 0:
        return spark.createDataFrame([], "node long, n_tri long")
    n_bytes = (n + 7) // 8
    idx_df = F.broadcast(
        spark.createDataFrame(
            [(int(v), i) for i, v in enumerate(ids)], "node long, idx int"
        )
    )
    ei = (
        und.join(idx_df.select(F.col("node").alias("u"),
                               F.col("idx").alias("ui")), "u")
        .join(idx_df.select(F.col("node").alias("v"),
                            F.col("idx").alias("vi")), "v")
        .select("ui", "vi")
    )
    sym = ei.unionAll(ei.select(F.col("vi").alias("ui"),
                                F.col("ui").alias("vi")))
    adj = sym.groupBy("ui").agg(F.collect_list("vi").alias("nbrs"))

    def pack(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for ui, nbrs in zip(pdf["ui"], pdf["nbrs"]):
                bm = np.zeros(n_bytes, dtype=np.uint8)
                a = np.asarray(nbrs, dtype=np.int64)
                np.bitwise_or.at(bm, a // 8,
                                 (1 << (a % 8)).astype(np.uint8))
                rows.append((int(ui), bm.tobytes()))
            yield pd.DataFrame(rows, columns=["ui", "bm"])

    # bitmap table: <= cap rows x n/8 bytes — bounded by dispatch
    bm_rows = adj.mapInPandas(pack, "ui int, bm binary").collect()
    bms = np.zeros((n, n_bytes), dtype=np.uint8)
    for r in bm_rows:
        bms[r.ui] = np.frombuffer(r.bm, dtype=np.uint8)
    bc = spark.sparkContext.broadcast(bms)
    pop = np.unpackbits(np.arange(256, dtype=np.uint8)[:, None],
                        axis=1).sum(axis=1).astype(np.int64)
    bc_pop = spark.sparkContext.broadcast(pop)

    def common(batches):
        import pandas as pd

        B = bc.value
        P = bc_pop.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            u = pdf["ui"].to_numpy()
            v = pdf["vi"].to_numpy()
            inter = np.bitwise_and(B[u], B[v])
            c = P[inter].sum(axis=1)
            yield pd.DataFrame({"ui": u, "vi": v, "c": c})

    ec = ei.mapInPandas(common, "ui int, vi int, c long")
    corners = ec.select(F.col("ui").alias("i"), "c").unionAll(
        ec.select(F.col("vi").alias("i"), "c")
    )
    per_idx = (
        corners.groupBy("i")
        .agg((F.sum("c") / 2).cast("long").alias("n_tri"))
        .filter(F.col("n_tri") > 0)
    )
    return per_idx.join(
        idx_df.select(F.col("idx").alias("i"), "node"), "i"
    ).select("node", "n_tri")


def _triangle_counts_oriented(und: DataFrame) -> DataFrame:
    """Any-scale relational path: degree-oriented wedge enumeration."""
    deg = (
        und.select(F.col("u").alias("n"))
        .unionAll(und.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    lo_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = truncate(
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lo_first, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(lo_first, F.col("v")).otherwise(F.col("u")).alias("b"),
            F.when(lo_first, F.col("dv")).otherwise(F.col("du")).alias(
                "db"
            ),
        )
    )
    e1 = oriented.select("a", "b", "db")
    e2 = oriented.select(
        F.col("a").alias("a2"), F.col("b").alias("c"),
        F.col("db").alias("dc"),
    )
    wedge_order = (F.col("db") < F.col("dc")) | (
        (F.col("db") == F.col("dc")) & (F.col("b") < F.col("c"))
    )
    wedges = e1.join(e2, F.col("a") == F.col("a2")).filter(wedge_order)
    closing = oriented.select(
        F.col("a").alias("b"), F.col("b").alias("c")
    )
    tri = wedges.join(closing, ["b", "c"], "leftsemi")
    corners = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_tri"))


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et al.
    2007, public algorithm), made DETERMINISTIC: each round every node
    adopts the most frequent label among its neighbors, ties broken by
    smallest label (the textbook random tie-break would not be
    reproducible across partitionings, let alone engines).

    Returns (node, label) after `iterations` synchronous rounds; labels
    start as the node's own id. Per round: one join keyed on the edge
    destination + one (src, label) agg + one bounded per-src window
    (frame = the node's distinct neighbor labels, degree-bounded) —
    edges shuffle once per round, labels are |nodes|-sized.
    localCheckpoint per round keeps lineage O(1).
    """
    from pyspark.sql import Window

    # r10: materialize the caller's edge lineage once — each of the 3
    # rounds re-joined `e`, whose unmaterialized lineage (typically the
    # co-occurrence self-join) re-ran per round (8.9 s → ~3 s for
    # q_label_prop at sf0.1).
    e = truncate(edges.select(F.col(src).alias("e_src"), F.col(dst).alias("e_dst")))
    nodes = node_set(e, "e_src", "e_dst")
    labels = nodes.withColumn("label", F.col("node"))
    w = Window.partitionBy("e_src").orderBy(F.col("c").desc(), F.col("label"))
    for _ in range(iterations):
        cnt = (
            e.join(labels, e.e_dst == labels.node)
            .groupBy("e_src", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        pick = (
            cnt.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("e_src").alias("node"), F.col("label").alias("new_label"))
        )
        labels = (
            labels.join(pick, "node", "left")
            .select(
                "node", F.coalesce("new_label", F.col("label")).alias("label")
            )
            .localCheckpoint(eager=False)
        )
    return labels
