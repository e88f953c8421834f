"""Round-5 registry additions, batch 107 — collocation mining and
graph-based keyword extraction:

- q_collocations_pmi: pointwise mutual information over corpus bigrams
  (count ≥ 5): PMI = ln(p(w1w2)/(p(w1)p(w2))) — the classic collocation
  / multi-word-expression detector; two keyed count aggs + keyed joins,
  top-20 by PMI via TakeOrdered.
- q_textrank_keywords: TextRank (Mihalcea & Tarau 2004) — PageRank over
  the undirected adjacent-token co-occurrence graph, reusing the graph
  family's pagerank operator and its unrolled-iteration oracle CTEs
  (operators/graph.py), with the token graph swapped in for the user
  graph. Top-10 keywords by rank.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from arrow_supercluster_spark.operators import graph
from arrow_supercluster_spark.operators.dedup import tokenize
from arrow_supercluster_spark.plans.registry_core import register
from arrow_supercluster_spark.plans.registry_ext import SQL_TOKS, _docs

_PMI_MIN = 5
_PMI_K = 20
_TR_K = 10

_SQL_BIGRAMS = f"""
      SELECT doc_id,
             string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2
      FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(toks) - 1),
                      i -> toks[i] || ' ' || toks[i + 1])) AS bg
        FROM (SELECT doc_id, list_filter({SQL_TOKS}, x -> x != '') AS toks
              FROM documents)
        WHERE len(toks) >= 2
      )
"""


@register(
    "q_collocations_pmi",
    f"""
    WITH big AS ({_SQL_BIGRAMS}),
    cnt2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM big GROUP BY 1, 2),
    uni AS (
      SELECT tok, COUNT(*) AS c1
      FROM (SELECT unnest(list_filter({SQL_TOKS}, x -> x != '')) AS tok
            FROM documents)
      GROUP BY tok
    ),
    tot AS (
      SELECT (SELECT SUM(c1) FROM uni) AS n_tok,
             (SELECT SUM(c2) FROM cnt2) AS n_big
    )
    SELECT w1, w2, CAST(c2 AS BIGINT) AS c2,
           round(ln((c2 * 1.0 / tot.n_big)
                    / ((u1.c1 * 1.0 / tot.n_tok)
                       * (u2.c1 * 1.0 / tot.n_tok))), 6) AS pmi
    FROM cnt2
    JOIN uni u1 ON u1.tok = cnt2.w1
    JOIN uni u2 ON u2.tok = cnt2.w2
    CROSS JOIN tot
    WHERE c2 >= {_PMI_MIN}
    ORDER BY pmi DESC, w1, w2
    LIMIT {_PMI_K}
    """,
)
def q_collocations_pmi(spark, sf_dir):
    """Collocation extraction — PMI over corpus bigrams with count ≥
    {m}: high PMI = the pair co-occurs far above chance (a multi-word
    expression), the statistic under phrase-mining. Two keyed count
    tables (bigram, unigram) + two keyed joins + a broadcast scalar
    pair; final rank = TakeOrdered top-{k}, never a global
    sort.""".format(m=_PMI_MIN, k=_PMI_K)
    t = _docs(spark, sf_dir).select(
        "doc_id",
        F.filter(tokenize(F.col("text")), lambda x: x != F.lit("")).alias(
            "toks"
        ),
    )
    big = t.filter(F.size("toks") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.struct(
                    F.element_at("toks", i).alias("w1"),
                    F.element_at("toks", i + 1).alias("w2"),
                ),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    cnt2 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    uni = (
        t.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    tot = uni.agg(F.sum("c1").alias("n_tok")).crossJoin(
        cnt2.agg(F.sum("c2").alias("n_big"))
    )
    pmi = F.log(
        (F.col("c2") * F.lit(1.0) / F.col("n_big"))
        / (
            (F.col("u1c") * F.lit(1.0) / F.col("n_tok"))
            * (F.col("u2c") * F.lit(1.0) / F.col("n_tok"))
        )
    )
    return (
        cnt2.filter(F.col("c2") >= _PMI_MIN)
        .join(uni.select(F.col("tok").alias("w1"), F.col("c1").alias("u1c")), "w1")
        .join(uni.select(F.col("tok").alias("w2"), F.col("c1").alias("u2c")), "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "c2", F.round(pmi, 6).alias("pmi"))
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(_PMI_K)
    )


_TR_SQL = f"""
    WITH big AS ({_SQL_BIGRAMS}),
    edges AS (
      SELECT w1 AS src, w2 AS dst FROM big WHERE w1 <> w2
      UNION
      SELECT w2 AS src, w1 AS dst FROM big WHERE w1 <> w2
    ),{graph.pagerank_sql(3, 0.85)}
    SELECT node AS word, round(rank, 6) AS rank FROM r3
    ORDER BY rank DESC, word LIMIT {_TR_K}
    """


@register("q_textrank_keywords", _TR_SQL)
def q_textrank_keywords(spark, sf_dir):
    """TextRank keyword extraction: PageRank (3 iterations, d=0.85 —
    operators/graph.pagerank, the exact machinery q_pagerank runs on
    the user graph) over the UNDIRECTED distinct adjacent-token
    co-occurrence graph; top-{k} words by rank. The oracle reuses
    graph.pagerank_sql's unrolled-iteration CTEs verbatim with the token
    edge list swapped in — one graph family, two domains.""".format(
        k=_TR_K
    )
    t = _docs(spark, sf_dir).select(
        F.filter(tokenize(F.col("text")), lambda x: x != F.lit("")).alias(
            "toks"
        )
    )
    big = t.filter(F.size("toks") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.struct(
                    F.element_at("toks", i).alias("w1"),
                    F.element_at("toks", i + 1).alias("w2"),
                ),
            )
        ).alias("p")
    ).select("p.w1", "p.w2").filter(F.col("w1") != F.col("w2"))
    # pagerank's loop joins edges every iteration — materialize the
    # exploded co-occurrence frame once instead of re-tokenizing 3×
    edges = (
        big.select(F.col("w1").alias("src"), F.col("w2").alias("dst"))
        .union(big.select(F.col("w2").alias("src"), F.col("w1").alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    ranks = graph.pagerank(edges, iterations=3, damping=0.85)
    return (
        ranks.select(F.col("node").alias("word"), "rank")
        .orderBy(F.desc("rank"), "word")
        .limit(_TR_K)
    )
