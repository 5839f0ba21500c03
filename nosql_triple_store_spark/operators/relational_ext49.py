"""Forty-ninth extension batch: unordered funnel completion, skip-gram
pair extraction over graph walks, and MERGE-INTO upsert/delete
semantics.

Lineage: the unordered funnel answers "did the user do ALL of these,
ever, and how tightly clustered were the firsts?" — the set-completion
twin of q_funnel's ordered path. Skip-grams turn q_graph_random_walk's
reproducible walks into the (center, context) training pairs DeepWalk
/node2vec feed to the embedding trainer — the final hop from graph to
training data. MERGE INTO is the lakehouse write primitive (update
matched, delete flagged, insert new) that q_upsert_result's
insert-or-replace and the LWW register stop short of.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.lww import latest_by_key
from ..registry import register
from .graph_ext7 import _DIGRAPH_SQL, _walk_step_sql, q_graph_random_walk
from .triple import E_CTE

_FUNNEL_TYPES = ("view", "click", "purchase")


@register(
    "q_events_funnel_unordered",
    oracle=f"""
{E_CTE},
firsts AS (
  SELECT user_id, event_type,
         MIN(CAST(epoch_us(ts) AS BIGINT)) AS first_us
  FROM e WHERE event_type IN {_FUNNEL_TYPES}
  GROUP BY 1, 2),
per_user AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_types,
         MAX(first_us) - MIN(first_us) AS spread_us
  FROM firsts GROUP BY user_id)
SELECT
  CAST(SUM(CASE WHEN n_types = {len(_FUNNEL_TYPES)} THEN 1 ELSE 0 END)
       AS BIGINT) AS n_complete,
  CAST(SUM(CASE WHEN n_types < {len(_FUNNEL_TYPES)} THEN 1 ELSE 0 END)
       AS BIGINT) AS n_partial,
  CAST(MIN(CASE WHEN n_types = {len(_FUNNEL_TYPES)}
                THEN spread_us END) AS BIGINT) AS min_spread_us,
  CAST(MAX(CASE WHEN n_types = {len(_FUNNEL_TYPES)}
                THEN spread_us END) AS BIGINT) AS max_spread_us,
  AVG(CASE WHEN n_types = {len(_FUNNEL_TYPES)}
           THEN spread_us END) AS avg_spread_us
FROM per_user
""",
)
def q_events_funnel_unordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered (set-completion) funnel over {_FUNNEL_TYPES}: a user
    completes when they have done ALL the steps in ANY order; the
    spread is the time between their earliest and latest FIRST
    occurrences — how long full adoption took. Complements q_funnel's
    strictly-ordered path semantics; product analytics wants both.
    Exact integer microseconds; the average is a single identical
    IEEE division of exact sums.

    Scale: one (user, type) first-occurrence census — partial
    aggregable min — then a per-user fold and a constant-size reduce;
    no joins, no windows.
    """
    ev = load_table(spark, sf_dir, "events")
    t = F.unix_micros(F.col("ts").cast("timestamp"))
    firsts = (
        ev.filter(F.col("event_type").isin(*_FUNNEL_TYPES))
        .groupBy("user_id", "event_type")
        .agg(F.min(t).alias("first_us"))
    )
    per_user = firsts.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_types"),
        (F.max("first_us") - F.min("first_us")).alias("spread_us"),
    )
    k = len(_FUNNEL_TYPES)
    done = F.col("n_types") == k
    return per_user.agg(
        F.sum(F.when(done, 1).otherwise(0)).alias("n_complete"),
        F.sum(F.when(~done, 1).otherwise(0)).alias("n_partial"),
        F.min(F.when(done, F.col("spread_us"))).alias("min_spread_us"),
        F.max(F.when(done, F.col("spread_us"))).alias("max_spread_us"),
        F.avg(F.when(done, F.col("spread_us"))).alias("avg_spread_us"),
    )


_SG_WINDOW = 2


@register(
    "q_graph_walk_skipgrams",
    oracle=f"""
WITH {_DIGRAPH_SQL},
vs AS (
  SELECT DISTINCT v
  FROM (SELECT a AS v FROM ed UNION ALL SELECT b FROM ed) u),
nid AS (SELECT v, row_number() OVER (ORDER BY v) - 1 AS id FROM vs),
adj AS (
  SELECT a, b, row_number() OVER (PARTITION BY a ORDER BY b) - 1 AS idx
  FROM ed),
deg AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS d FROM ed GROUP BY a),
w0 AS (
  SELECT v AS start, CAST(w AS BIGINT) AS walk_id, v AS node, v AS path
  FROM vs CROSS JOIN (SELECT unnest(range(2)) AS w) ws),
w1 AS ({_walk_step_sql("w0", 0)}),
w2 AS ({_walk_step_sql("w1", 1)}),
w3 AS ({_walk_step_sql("w2", 2)}),
w4 AS ({_walk_step_sql("w3", 3)}),
toks AS (
  SELECT start, walk_id, str_split(path, '>') AS parts FROM w4),
pos AS (
  SELECT start, walk_id, CAST(i AS BIGINT) AS i, parts[i + 1] AS tok
  FROM toks CROSS JOIN unnest(range(5)) AS r(i)),
pairs AS (
  SELECT c.tok AS center, x.tok AS context
  FROM pos c JOIN pos x
    ON x.start = c.start AND x.walk_id = c.walk_id
   AND x.i <> c.i AND ABS(x.i - c.i) <= {_SG_WINDOW})
SELECT center, context, CAST(COUNT(*) AS BIGINT) AS n
FROM pairs GROUP BY 1, 2
""",
)
def q_graph_walk_skipgrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram extraction over the deterministic graph walks: every
    walk position pairs with its neighbors within a +-{_SG_WINDOW}
    window, and (center, context) pairs aggregate into the
    co-occurrence counts a DeepWalk/node2vec embedding trainer
    consumes — the graph-to-training-data hop that completes
    q_graph_random_walk's sampling stage. Reuses the walk operator
    verbatim, so walks (and therefore pairs) are byte-identical across
    engines and reruns.

    Scale: posexplode of fixed-length paths + a self-join keyed on the
    walk id (co-partitioned, window-bounded fanout of <= 2x{_SG_WINDOW}
    per position), then one hash aggregation — the standard corpus
    windowing shape (q_text_pmi's sibling, on walks instead of
    documents).
    """
    walks = q_graph_random_walk(spark, sf_dir)
    pos = walks.select(
        "start",
        "walk_id",
        F.posexplode(F.split("path", ">")).alias("i", "tok"),
    )
    c = pos.select(
        F.col("start").alias("s"),
        F.col("walk_id").alias("w"),
        F.col("i").alias("ci"),
        F.col("tok").alias("center"),
    )
    x = pos.select(
        F.col("start").alias("s"),
        F.col("walk_id").alias("w"),
        F.col("i").alias("xi"),
        F.col("tok").alias("context"),
    )
    pairs = c.join(x, ["s", "w"]).filter(
        (F.col("xi") != F.col("ci"))
        & (F.abs(F.col("xi") - F.col("ci")) <= _SG_WINDOW)
    )
    return pairs.groupBy("center", "context").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "q_maintenance_merge_upsert",
    oracle=f"""
{E_CTE},
target AS (
  SELECT user_id, event_type AS status,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM (
    SELECT user_id, event_type, value,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM e WHERE CAST(ts AS DATE) < DATE '2024-01-16') t
  WHERE rn = 1),
changes AS (
  SELECT user_id, event_type AS status,
         CAST(ROUND(value * 100) AS BIGINT) AS cents,
         (event_type = 'error') AS is_delete
  FROM (
    SELECT user_id, event_type, value,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM e WHERE CAST(ts AS DATE) >= DATE '2024-01-16') t
  WHERE rn = 1),
merged AS (
  SELECT COALESCE(c.user_id, t.user_id) AS user_id,
         CASE WHEN c.user_id IS NULL THEN t.status ELSE c.status END
           AS status,
         CASE WHEN c.user_id IS NULL THEN t.cents ELSE c.cents END
           AS cents,
         CASE WHEN c.user_id IS NOT NULL AND c.is_delete
              THEN 1 ELSE 0 END AS drop_row
  FROM target t FULL JOIN changes c ON c.user_id = t.user_id)
SELECT user_id, status, cents FROM merged WHERE drop_row = 0
""",
)
def q_maintenance_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics over a keyed register: the pre-period
    latest state per user is the TARGET, the post-period latest state
    is the CHANGE batch, and the merge applies the three lakehouse
    clauses at once — WHEN MATCHED AND is_delete THEN DELETE (error
    states purge the row), WHEN MATCHED THEN UPDATE, WHEN NOT MATCHED
    THEN INSERT. This is the Delta/Iceberg writer primitive the
    engine's LWW union-merge (q_lww_merge) approximates but cannot
    express (LWW has no delete clause; tombstones are a workaround —
    compare q_lww_tombstone).

    Scale: one full outer join on the key — the canonical MERGE plan;
    both sides are already per-key ``latest_by_key`` aggregates. On disk this pairs with
    q_source_txnlog_snapshot: MERGE writes a new data file + a
    remove/add commit, readers replay the log.
    """
    ev = load_table(spark, sf_dir, "events")
    split = F.lit("2024-01-16").cast("date")
    cents = F.round(F.col("value") * 100).cast("long")

    def latest(side: DataFrame) -> DataFrame:
        return latest_by_key(
            side.select(
                "user_id",
                "ts",
                "event_id",
                F.col("event_type").alias("status"),
                cents.alias("cents"),
            ),
            keys=["user_id"],
            order=["ts", "event_id"],
            payload=["status", "cents"],
        )

    target = latest(ev.filter(F.col("ts").cast("date") < split))
    changes = latest(
        ev.filter(F.col("ts").cast("date") >= split)
    ).withColumn("is_delete", F.col("status") == "error")
    t = target.select(
        F.col("user_id").alias("tu"),
        F.col("status").alias("ts_"),
        F.col("cents").alias("tc"),
    )
    c = changes.select(
        F.col("user_id").alias("cu"),
        F.col("status").alias("cs"),
        F.col("cents").alias("cc"),
        "is_delete",
    )
    merged = t.join(c, t.tu == c.cu, "full_outer").select(
        F.coalesce("cu", "tu").alias("user_id"),
        F.when(F.col("cu").isNull(), F.col("ts_"))
        .otherwise(F.col("cs"))
        .alias("status"),
        F.when(F.col("cu").isNull(), F.col("tc"))
        .otherwise(F.col("cc"))
        .alias("cents"),
        (F.col("cu").isNotNull() & F.col("is_delete")).alias("drop_row"),
    )
    return merged.filter(~F.col("drop_row")).select(
        "user_id", "status", "cents"
    )
