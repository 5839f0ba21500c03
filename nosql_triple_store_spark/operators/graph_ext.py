"""Graph extensions: BFS shortest-path levels over the triples graph,
TF-IDF term ranking."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..plans.bgp import TRIPLES_SQL, triples_view
from ..registry import register
from ..materialize import materialize
from .graph import min_label_fixpoint

BFS_ROUND_CAP = 16


@register(
    "q_graph_bfs",
    oracle=f"""
WITH {TRIPLES_SQL}
SELECT 'region:2' AS node, 0 AS dist
UNION ALL
SELECT s, 1 FROM triples WHERE p = 'inRegion' AND o = 'region:2'
UNION ALL
SELECT t2.s, 2
FROM triples t1 JOIN triples t2 ON t2.o = t1.s AND t2.p = 'inNation'
WHERE t1.p = 'inRegion' AND t1.o = 'region:2'
""",
)
def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS levels from region:2 over the undirected inNation/inRegion
    edge graph (:func:`bfs_levels`) — the generic algorithm; the oracle
    derives the same levels non-iteratively from the known 2-level
    topology. One join+agg shuffle per level, O(eccentricity) rounds."""
    t = triples_view(spark, sf_dir)
    e_dir = t.filter(F.col("p").isin("inNation", "inRegion")).select(
        F.col("s").alias("src"), F.col("o").alias("dst")
    )
    e = e_dir.unionByName(
        e_dir.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).transform(materialize)  # loop invariant: joined every level (guide §2.4)
    return bfs_levels(e, "region:2")


def bfs_levels(edges: DataFrame, source) -> DataFrame:
    """(node, dist): the hop distance from ``source`` along
    ``edges(src, dst)`` of every node it reaches, iterated until no
    distance improves (at most BFS_ROUND_CAP rounds, then it raises)."""
    node_type = edges.schema[0].dataType.simpleString()
    start = edges.sparkSession.createDataFrame(
        [(source, 0)], f"node {node_type}, dist int"
    )
    return min_label_fixpoint(
        start, edges, cap=BFS_ROUND_CAP, what="BFS", hop=1
    )


@register(
    "q_text_tfidf",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(list_filter(str_split(lower(text), ' '),
                                    t -> t <> '')) AS token
  FROM documents),
tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
       FROM tok GROUP BY doc_id, token),
df AS (SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
       FROM tok GROUP BY token),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf,
         ROUND(tf.tf * ln(n.n_docs * 1.0 / df.df), 6) AS tfidf
  FROM tf JOIN df USING (token) CROSS JOIN n),
ranked AS (
  SELECT doc_id, token, tf, tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, token) AS rnk
  FROM scored)
SELECT doc_id, token, tf, tfidf, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= 3
""",
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — the classic salient-term
    extraction. Ordering uses the ROUNDED score (6 dp) so last-ulp libm
    differences between engines can't flip ranks; token breaks ties."""
    from ..functions.textfns import tokens_col

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens_col()).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("token").agg(
        F.countDistinct("doc_id").alias("df")
    )
    n_docs = docs.count()
    scored = tf.join(df, "token").select(
        "doc_id",
        "token",
        "tf",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "token", "tf", "tfidf", "rnk")
    )
