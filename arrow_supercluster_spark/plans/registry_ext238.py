"""Round-10 registry additions, batch 238 — decode mechanics, CRDT
merge algebra, paged-KV serving plan, quorum staleness; all SQL-backed
(public: beam search as in Graves 2012 / any seq2seq decoder; CRDT
G-counters Shapiro et al. 2011; PagedAttention/vLLM Kwon et al. 2023;
probabilistically bounded staleness Bailis et al. 2012):

- q_beam_search_bigram: width-3 beam search over the corpus bigram
  graph, four expansion steps from the most frequent seed token.  The
  additive score is the raw bigram count (integer — the operator under
  test is the BEAM MECHANICS: expand / rank / prune, not the LM;
  count-additive scoring keeps every intermediate exactly comparable
  across engines, where log-prob floats could flip an argmax at an
  ulp).  Prune = total-order sort + LIMIT (score desc, sequence asc)
  — no global window, deterministic ties.
- q_crdt_gcounter: grow-only-counter merge audit — each event
  increments the hash-assigned replica's per-event-type counter; two
  deterministic partial views (each missing a different slice of one
  replica's increments) are merged element-wise with max(); the query
  certifies merge-convergence (merged == full state) per key.  The
  commutative/idempotent merge IS the max agg — the reason G-counters
  scale writes at 100 TB.
- q_kv_page_plan: PagedAttention-style KV-cache allocation plan —
  pages of 16 tokens per sequence, ceil-division page counts, internal
  fragmentation vs the contiguous worst case (max-seq-len × n_seqs)
  per source.  The serving-capacity planner an LLM fleet runs over its
  corpus; exact-integer throughout, one final division for the pct.
- q_quorum_staleness: probabilistically-bounded-staleness audit for
  N=3 / R=2 quorum reads: per-write replica apply lags are
  hash-deterministic (0–199 ms), quorum visibility = the MEDIAN lag
  (2nd smallest of 3 = sum − min − max, exact integer), aggregated per
  event type with the stale-beyond-100 ms share.

At 100 TB: the beam state is B×vocab candidate rows per step
(dimension-sized); the G-counter/staleness/page plans are single-pass
keyed aggs over hash projections of the fact table.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from arrow_supercluster_spark.functions.checkpoint import truncate
from arrow_supercluster_spark.plans.registry_core import register
from arrow_supercluster_spark.plans.registry_ext import SQL_TOKS, _docs
from arrow_supercluster_spark.sources.tables import read_events

_P = 2147483647

# ===========================================================================
# R701 — beam search over the bigram graph
# ===========================================================================

_BEAM_B = 3
_BEAM_STEPS = 4

_BIGRAMS_SQL = f"""
    toks AS MATERIALIZED (
      SELECT list_filter({SQL_TOKS}, t -> t != '') AS ts FROM documents
    ),
    bigrams AS MATERIALIZED (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM (
        SELECT ts[i] AS w1, ts[i + 1] AS w2
        FROM toks, unnest(range(1, len(ts))) AS u(i)
      ) GROUP BY w1, w2
    ),
    seed AS MATERIALIZED (
      SELECT w1 AS tok FROM (
        SELECT w1, SUM(c) AS n FROM bigrams GROUP BY w1
        ORDER BY n DESC, w1 LIMIT 1
      )
    )
"""


def _beam_step_sql(prev: str, out: str) -> str:
    return f"""
    {out} AS MATERIALIZED (
      SELECT seq || ' ' || b.w2 AS seq, b.w2 AS last, p.score + b.c AS score
      FROM {prev} p JOIN bigrams b ON b.w1 = p.last
      ORDER BY score DESC, seq ASC LIMIT {_BEAM_B}
    )
    """


@register(
    "q_beam_search_bigram",
    f"""
    WITH {_BIGRAMS_SQL},
    beam0 AS MATERIALIZED (
      SELECT tok AS seq, tok AS last, CAST(0 AS BIGINT) AS score FROM seed
    ),
    {_beam_step_sql("beam0", "beam1")},
    {_beam_step_sql("beam1", "beam2")},
    {_beam_step_sql("beam2", "beam3")},
    {_beam_step_sql("beam3", "beam4")}
    SELECT seq, score FROM beam4 ORDER BY score DESC, seq
    """,
)
def q_beam_search_bigram(spark, sf_dir):
    """R701 — width-3 beam over corpus bigrams, 4 steps, count-additive
    integer scores: expand (beam ⋈ bigrams on last token), rank
    (score desc, sequence asc — a total order), prune (LIMIT 3).
    Beam state is ≤ B·vocab rows per step; the bigram table is the
    only corpus-sized input and is built once."""
    from arrow_supercluster_spark.operators.dedup import tokenize

    toks = _docs(spark, sf_dir).select(
        F.filter(tokenize(F.col("text")), lambda t: t != "").alias("ts")
    )
    # r10 (guide §2.3): the old posexplode carried the WHOLE token array
    # alongside every exploded position just to index ts[i+1] — O(len²)
    # bytes per document through the generator.  zip_with the array with
    # its own tail inside the row, then explode the (w1, w2) structs:
    # identical adjacent-bigram pairs, linear bytes.
    n1 = F.size("ts") - 1
    adj = F.zip_with(
        F.slice("ts", 1, n1),
        F.slice("ts", 2, n1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    pairs = (
        toks.filter(F.size("ts") >= 2)
        .select(F.explode(adj).alias("p"))
        .select("p.w1", "p.w2")
    )
    bigrams = truncate(pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c")))
    seed = (
        bigrams.groupBy("w1")
        .agg(F.sum("c").alias("n"))
        .orderBy(F.col("n").desc(), "w1")
        .limit(1)
        .select(
            F.col("w1").alias("seq"),
            F.col("w1").alias("last"),
            F.lit(0).cast("long").alias("score"),
        )
    )
    beam = seed
    for _ in range(_BEAM_STEPS):
        beam = (
            beam.join(bigrams, F.col("last") == F.col("w1"))
            .select(
                F.concat_ws(" ", "seq", "w2").alias("seq"),
                F.col("w2").alias("last"),
                (F.col("score") + F.col("c")).alias("score"),
            )
            .orderBy(F.col("score").desc(), F.col("seq").asc())
            .limit(_BEAM_B)
        )
    return beam.select("seq", "score").orderBy(F.col("score").desc(), "seq")


# ===========================================================================
# R702 — CRDT G-counter merge convergence
# ===========================================================================

_CRDT_N = 4  # replicas


@register(
    "q_crdt_gcounter",
    f"""
    WITH incs AS MATERIALIZED (
      SELECT event_type AS key,
             (48271 * event_id + 11) % {_P} % {_CRDT_N} AS replica,
             (48271 * event_id + 11) % {_P} % 7 AS slice
      FROM events
    ),
    full_state AS MATERIALIZED (
      SELECT key, replica, CAST(COUNT(*) AS BIGINT) AS c
      FROM incs GROUP BY key, replica
    ),
    -- view A misses replica 3's slice-0 increments; view B misses
    -- replica 0's slice-0 increments (deterministic partial sync)
    view_a AS MATERIALIZED (
      SELECT key, replica, CAST(COUNT(*) AS BIGINT) AS c FROM incs
      WHERE NOT (replica = 3 AND slice = 0) GROUP BY key, replica
    ),
    view_b AS MATERIALIZED (
      SELECT key, replica, CAST(COUNT(*) AS BIGINT) AS c FROM incs
      WHERE NOT (replica = 0 AND slice = 0) GROUP BY key, replica
    ),
    merged AS MATERIALIZED (
      SELECT key, replica, MAX(c) AS c FROM (
        SELECT * FROM view_a UNION ALL SELECT * FROM view_b
      ) GROUP BY key, replica
    )
    SELECT f.key,
           CAST(SUM(f.c) AS BIGINT) AS full_total,
           CAST(SUM(m.c) AS BIGINT) AS merged_total,
           CAST(SUM(CASE WHEN m.c = f.c THEN 1 ELSE 0 END) AS BIGINT)
             AS replicas_converged
    FROM full_state f JOIN merged m USING (key, replica)
    GROUP BY f.key ORDER BY f.key
    """,
)
def q_crdt_gcounter(spark, sf_dir):
    """R702 — G-counter merge audit: increments hash-routed to 4
    replica counters per event type; two deterministic partial views
    (each missing a different replica's slice) merge with the CRDT
    rule (element-wise MAX).  merged_total == full_total certifies
    convergence — each view retained the authoritative count for the
    replica the other lost."""
    ev = read_events(spark, sf_dir).select("event_id", "event_type")
    h = F.pmod(F.lit(48271) * F.col("event_id") + 11, F.lit(_P))
    incs = truncate(
        ev.select(
            F.col("event_type").alias("key"),
            F.pmod(h, F.lit(_CRDT_N)).alias("replica"),
            F.pmod(h, F.lit(7)).alias("slice"),
        )
    )

    def state(df):
        return df.groupBy("key", "replica").agg(
            F.count(F.lit(1)).alias("c")
        )

    full_state = state(incs)
    view_a = state(incs.filter(~((F.col("replica") == 3) & (F.col("slice") == 0))))
    view_b = state(incs.filter(~((F.col("replica") == 0) & (F.col("slice") == 0))))
    merged = (
        view_a.unionAll(view_b)
        .groupBy("key", "replica")
        .agg(F.max("c").alias("c"))
    )
    f_ = full_state.select("key", "replica", F.col("c").alias("fc"))
    return (
        f_.join(merged, ["key", "replica"])
        .groupBy("key")
        .agg(
            F.sum("fc").alias("full_total"),
            F.sum("c").alias("merged_total"),
            F.sum(F.when(F.col("c") == F.col("fc"), 1).otherwise(0)).alias(
                "replicas_converged"
            ),
        )
        .orderBy("key")
    )


# ===========================================================================
# R703 — paged-KV cache allocation plan
# ===========================================================================

_KV_PAGE = 16


@register(
    "q_kv_page_plan",
    f"""
    WITH seqs AS MATERIALIZED (
      SELECT source,
             CAST(len(list_filter({SQL_TOKS}, t -> t != '')) AS BIGINT)
               AS n_tokens
      FROM documents
    ),
    paged AS MATERIALIZED (
      SELECT source, n_tokens,
             CAST((n_tokens + {_KV_PAGE} - 1) // {_KV_PAGE} AS BIGINT)
               AS pages
      FROM seqs
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_seqs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(pages) AS BIGINT) AS total_pages,
           CAST(SUM(pages) * {_KV_PAGE} - SUM(n_tokens) AS BIGINT)
             AS frag_tokens,
           CAST(MAX(n_tokens) AS BIGINT) * COUNT(*) AS contiguous_tokens,
           ROUND((SUM(pages) * {_KV_PAGE} - SUM(n_tokens)) * 100.0
                 / (SUM(pages) * {_KV_PAGE}), 2) AS frag_pct
    FROM paged GROUP BY source ORDER BY source
    """,
)
def q_kv_page_plan(spark, sf_dir):
    """R703 — PagedAttention allocation plan: 16-token pages per
    sequence (ceil division), per-source page totals, internal
    fragmentation, and the contiguous-allocation worst case
    (max_len × n_seqs — the quantity paging exists to avoid).
    Single pass; exact integers; one final division."""
    from arrow_supercluster_spark.operators.dedup import tokenize

    seqs = _docs(spark, sf_dir).select(
        "source",
        F.size(F.filter(tokenize(F.col("text")), lambda t: t != ""))
        .cast("long")
        .alias("n_tokens"),
    )
    paged = seqs.withColumn(
        "pages", F.expr(f"(n_tokens + {_KV_PAGE} - 1) div {_KV_PAGE}")
    )
    return (
        paged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_seqs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("pages").alias("total_pages"),
            (F.sum("pages") * _KV_PAGE - F.sum("n_tokens")).alias(
                "frag_tokens"
            ),
            (F.max("n_tokens") * F.count(F.lit(1))).alias(
                "contiguous_tokens"
            ),
            F.round(
                (F.sum("pages") * _KV_PAGE - F.sum("n_tokens"))
                * 100.0
                / (F.sum("pages") * _KV_PAGE),
                2,
            ).alias("frag_pct"),
        )
        .orderBy("source")
    )


# ===========================================================================
# R704 — quorum-read staleness (PBS) audit
# ===========================================================================


@register(
    "q_quorum_staleness",
    f"""
    WITH lags AS MATERIALIZED (
      SELECT event_type,
             (48271 * event_id + 11) % {_P} % 200 AS l0,
             (48271 * event_id + 22) % {_P} % 200 AS l1,
             (48271 * event_id + 33) % {_P} % 200 AS l2
      FROM events
    ),
    vis AS MATERIALIZED (
      SELECT event_type,
             l0 + l1 + l2 - least(l0, l1, l2)
               - greatest(l0, l1, l2) AS stale_ms
      FROM lags
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_writes,
           CAST(MIN(stale_ms) AS BIGINT) AS min_ms,
           CAST(MAX(stale_ms) AS BIGINT) AS max_ms,
           ROUND(SUM(stale_ms) * 1.0 / COUNT(*), 2) AS mean_ms,
           CAST(SUM(CASE WHEN stale_ms > 100 THEN 1 ELSE 0 END) AS BIGINT)
             AS stale_over_100ms
    FROM vis GROUP BY event_type ORDER BY event_type
    """,
)
def q_quorum_staleness(spark, sf_dir):
    """R704 — PBS audit for N=3 / R=2 quorum reads: hash-deterministic
    per-replica apply lags (0–199 ms), quorum visibility = median lag
    (2nd of 3 = sum − min − max, exact integer), per-type staleness
    stats + the >100 ms tail count.  Single pass, keyed agg."""
    ev = read_events(spark, sf_dir).select("event_id", "event_type")

    def lag(off):
        return F.pmod(
            F.pmod(F.lit(48271) * F.col("event_id") + off, F.lit(_P)),
            F.lit(200),
        )

    lags = ev.select(
        "event_type",
        lag(11).alias("l0"),
        lag(22).alias("l1"),
        lag(33).alias("l2"),
    )
    stale = lags.select(
        "event_type",
        (
            F.col("l0")
            + F.col("l1")
            + F.col("l2")
            - F.least("l0", "l1", "l2")
            - F.greatest("l0", "l1", "l2")
        ).alias("stale_ms"),
    )
    return (
        stale.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_writes"),
            F.min("stale_ms").alias("min_ms"),
            F.max("stale_ms").alias("max_ms"),
            F.round(F.sum("stale_ms") * 1.0 / F.count(F.lit(1)), 2).alias(
                "mean_ms"
            ),
            F.sum(F.when(F.col("stale_ms") > 100, 1).otherwise(0)).alias(
                "stale_over_100ms"
            ),
        )
        .orderBy("event_type")
    )
