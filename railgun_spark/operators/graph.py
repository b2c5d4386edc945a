"""Graph analytics on DataFrames: PageRank with fixed iterations.

Together with `dedup.connected_components` (min-label propagation) this
covers the two classic distributed-graph templates without GraphX: an
edge-join + groupBy per superstep, corpus-sized state kept distributed,
lineage flattened per iteration with localCheckpoint. The graph here is
the word co-occurrence graph (nodes = vocabulary, edge u->v if the words
share a document) — vocabulary-sized, but the implementation never
assumes that: ranks/edges stay DataFrames end-to-end and the only driver
scalar is the node count.

Cross-engine determinism (same recipe as kmeans_embeddings): ranks are
round()ed to 8 decimals after EVERY iteration on both engines, so
aggregation-order drift (~1e-17) is re-synced before it can compound;
the initial rank 1/N is rounded the same way. The DuckDB oracle unrolls
the three supersteps as generated CTEs with per-node correlated sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from railgun_spark.operators.dedup import words
from railgun_spark.session import pin
from railgun_spark.suite import extra_query, query

PR_ITER = 3
PR_DAMP = 0.85
PR_ROUND = 8
# Cap on distinct words contributing edges per document. Without it the
# per-doc self-join fans out as distinct-words², so one 100k-word document
# generates 10^10 edge candidates; with it the fan-out is a constant
# (≤ K·(K-1) pairs/doc). Deterministic: the first K of the alphabetically
# sorted distinct words — mirrored exactly in the DuckDB oracle.
PR_MAX_WORDS_PER_DOC = 64


def _pagerank_oracle() -> str:
    steps = []
    prev = "r0"
    for k in range(1, PR_ITER + 1):
        steps.append(
            f"""r{k} AS (
      SELECT n.word,
             round((1 - {PR_DAMP}) / (SELECT n_nodes FROM nn)
                   + {PR_DAMP} * coalesce((
                 SELECT sum(p.rank / od.outdeg)
                 FROM edges e
                 JOIN {prev} p ON p.word = e.src
                 JOIN outdeg od ON od.word = e.src
                 WHERE e.dst = n.word), 0), {PR_ROUND}) AS rank
      FROM nodes n
    )"""
        )
        prev = f"r{k}"
    steps_sql = ", ".join(steps)
    return f"""
    WITH dw0 AS (
      SELECT DISTINCT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
      FROM documents
    ), dw AS (
      SELECT doc_id, word FROM (
        SELECT doc_id, word,
               row_number() OVER (PARTITION BY doc_id ORDER BY word) AS rn
        FROM dw0
      ) WHERE rn <= {PR_MAX_WORDS_PER_DOC}
    ), edges AS (
      SELECT DISTINCT a.word AS src, b.word AS dst
      FROM dw a JOIN dw b ON a.doc_id = b.doc_id AND a.word <> b.word
    ), nodes AS (
      SELECT DISTINCT src AS word FROM edges
    ), nn AS (
      SELECT count(*) AS n_nodes FROM nodes
    ), outdeg AS (
      SELECT src AS word, count(*) AS outdeg FROM edges GROUP BY src
    ), r0 AS (
      SELECT word, round(1.0 / (SELECT n_nodes FROM nn), {PR_ROUND}) AS rank
      FROM nodes
    ), {steps_sql}
    SELECT n.word, round(r.rank, 6) AS rank, od.outdeg
    FROM nodes n
    JOIN r{PR_ITER} r ON r.word = n.word
    JOIN outdeg od ON od.word = n.word
    ORDER BY rank DESC, n.word
    """


@query(
    "pagerank_word_graph",
    oracle=_pagerank_oracle(),
    doc=f"PageRank, {PR_ITER} fixed supersteps over the word co-occurrence "
    "graph: one edge-join + groupBy per step, distributed state, "
    "localCheckpoint-flattened lineage; ranks rounded per step for "
    f"cross-engine re-sync. Edge construction caps distinct words/doc at "
    f"{PR_MAX_WORDS_PER_DOC} so per-doc pair fan-out is constant.",
    tags=("graph", "iterative"),
)
def pagerank_word_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from railgun_spark.operators.text import _docs_scan

    docs = _docs_scan(spark, sf_dir)
    # slice of the sorted distinct-word array bounds the self-join fan-out
    # per doc at K·(K-1) regardless of document length (see PR_MAX_WORDS_PER_DOC)
    dw = (
        docs.select(
            "doc_id",
            F.explode(words(F.col("text"))).alias("word"),
        )
        .groupBy("doc_id")
        .agg(
            F.slice(
                F.array_sort(F.collect_set("word")), 1, PR_MAX_WORDS_PER_DOC
            ).alias("words")
        )
        .select("doc_id", F.explode("words").alias("word"))
    )
    a, b = dw.alias("a"), dw.alias("b")
    edges = pin(  # reused every superstep; don't re-derive
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.word") != F.col("b.word")),
        )
        .select(F.col("a.word").alias("src"), F.col("b.word").alias("dst"))
        .distinct(),
        "graph.edges",
    )
    # superstep invariants (node set, outdeg-annotated edges) are re-read
    # by every iteration; pin them only when they are BIG — the r17
    # unconditional pins measured x0.80 on the driver bench (the blocking
    # pin jobs cost more than re-deriving from the pinned edge list at
    # sf0.1: r18 A/B 1.92 s unpinned vs 2.01 s pinned), while at 100 TB
    # re-planning the distinct + outdeg groupBy + join per superstep is
    # two edge-set-sized exchanges of pure recompute per iteration.
    nodes = edges.select(F.col("src").alias("word")).distinct()
    nodes = pin(nodes, "graph.nodes", gated=True)
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    n_nodes = nodes.count()  # the one driver scalar

    # pre-join outdeg onto edges once: each superstep is then join+groupBy
    esrc = edges.join(outdeg, "src").select("src", "dst", "outdeg")
    esrc = pin(esrc, "graph.edges_outdeg", gated=True)
    ranks = nodes.select(
        "word", F.round(F.lit(1.0 / n_nodes), PR_ROUND).alias("rank")
    )
    for _ in range(PR_ITER):
        contrib = (
            esrc.join(ranks, esrc.src == ranks.word)
            .select("dst", (F.col("rank") / F.col("outdeg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = pin(
            nodes.join(contrib, nodes.word == contrib.dst, "left").select(
                "word",
                F.round(
                    F.lit((1 - PR_DAMP) / n_nodes)
                    + F.lit(PR_DAMP) * F.coalesce("inflow", F.lit(0.0)),
                    PR_ROUND,
                ).alias("rank"),
            ),
            "graph.ranks",
        )
    return (
        ranks.join(outdeg, ranks.word == outdeg.src)
        .select("word", F.round("rank", 6).alias("rank"), "outdeg")
        .orderBy(F.desc("rank"), "word")
    )
