"""Incremental BGP view maintenance: the SPARQL star join kept
up-to-date as triples STREAM in — the delta-join algebra
(M_Δ = P1(Δ)⋈P2(T∪Δ) ∪ P1(T)⋈P2(Δ)) every materialized-view engine
runs, here over the reference's triple domain.

q_stream_incr_view maintains an incremental AGGREGATE; this operator
maintains an incremental JOIN — the harder half of view maintenance,
because a correct implementation must emit each match EXACTLY once
across micro-batches (Δ⋈Δ belongs to the first term only; double-
counting or missing the cross-wave pairs both corrupt the view).

Ingestion model: the customer-derived triples (?c inSegment seg and
?c inNation nat, plans/bgp.triples_view rows) arrive over 4 waves,
with a triple's wave depending on BOTH subject and predicate — a
customer's two triples usually land in DIFFERENT waves, so the
old⋈delta and delta⋈old terms are genuinely exercised, not just the
same-batch delta⋈delta shortcut. The final view must equal the batch
star-query answer (STAR_ORACLE), which is what the driver checks.

Scale: per batch the work is two joins of |Δ| against the accumulated
store — never a re-join of the full store with itself; the
accumulated side is an append-only parquet dir compacted by segment
count (same retention policy as dedup_stream.compact_band_index).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.bgp_queries import STAR_ORACLE
from ..registry import register
from ..scratch import build_once, scratch_tmp
from ..sources.compaction import publish, publish_file, versions
from .queries import drain

_N_WAVES = 4

# test hook: last scratch base used by q_stream_bgp_delta_join
_LAST_BASE: dict[str, str] = {}


def _triple_wave_dir(spark: SparkSession, sf_dir: str) -> str:
    """Customer triples written as one parquet file per ingestion
    wave: inSegment triples of customer k go to wave k % 4, inNation
    triples to wave (k * 3 + 1) % 4 — predicate-dependent scrambling
    so join partners split across waves."""

    def write(out: str) -> None:
        cust = load_table(spark, sf_dir, "customer")
        seg = cust.select(
            F.concat(F.lit("customer:"), F.col("c_custkey")).alias("s"),
            F.lit("inSegment").alias("p"),
            F.col("c_mktsegment").alias("o"),
            (F.col("c_custkey") % _N_WAVES).alias("wave"),
        )
        nat = cust.select(
            F.concat(F.lit("customer:"), F.col("c_custkey")).alias("s"),
            F.lit("inNation").alias("p"),
            F.concat(F.lit("nation:"), F.col("c_nationkey")).alias("o"),
            ((F.col("c_custkey") * 3 + 1) % _N_WAVES).alias("wave"),
        )
        triples = seg.unionByName(nat)
        os.makedirs(out)
        for w in range(_N_WAVES):
            publish_file(
                triples.filter(F.col("wave") == w).drop("wave"),
                f"{out}/wave{w}.parquet",
            )

    return build_once("bgpwaves", sf_dir, write, sources=("customer",))


@register("q_stream_bgp_delta_join", oracle=STAR_ORACLE)
def q_stream_bgp_delta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain `?c inSegment "BUILDING" . ?c inNation ?n` as triples
    arrive over 4 micro-batches (module docstring): per batch,
    new matches = P1(Δ) ⋈ P2(T ∪ Δ)  ∪  P1(T) ⋈ P2(Δ), where T is
    the accumulated pre-batch store; Δ then appends to T. Exactly-once
    emission is structural (Δ⋈Δ pairs live only in the first term;
    cross-batch pairs appear in whichever batch completes them), and
    the foreachBatch sinks are idempotent by batch id. The final view
    is hash-compared against the one-shot star oracle — a duplicated
    or dropped cross-wave pair breaks it."""
    src = _triple_wave_dir(spark, sf_dir)
    base = scratch_tmp("bgp_delta_")
    _LAST_BASE[sf_dir] = base
    store_dir = f"{base}/store"
    match_dir = f"{base}/matches"
    os.makedirs(store_dir, exist_ok=True)
    os.makedirs(match_dir, exist_ok=True)

    def maintain(batch_df: DataFrame, batch_id: int) -> None:
        mpath = f"{match_dir}/m{batch_id:06d}"
        spath = f"{store_dir}/t{batch_id:06d}"
        if os.path.isdir(mpath) and os.path.isdir(spath):
            return  # idempotent retry
        s = batch_df.sparkSession
        prior_dirs = versions(store_dir, "t")
        delta = batch_df
        p1 = lambda df: df.filter(  # noqa: E731
            (F.col("p") == "inSegment") & (F.col("o") == "BUILDING")
        ).select(F.col("s").alias("c"))
        p2 = lambda df: df.filter(F.col("p") == "inNation").select(  # noqa: E731
            F.col("s").alias("c"), F.col("o").alias("n")
        )
        if prior_dirs:
            store = s.read.parquet(*prior_dirs)
            full = store.unionByName(delta)
            new_matches = (
                p1(delta).join(p2(full), "c")
                .unionByName(p1(store).join(p2(delta), "c"))
            )
        else:
            new_matches = p1(delta).join(p2(delta), "c")
        publish(new_matches.coalesce(1), mpath)
        publish(delta.coalesce(1), spath)

    stream = (
        spark.readStream.schema("s string, p string, o string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    drain(stream.writeStream.foreachBatch(maintain), 8)
    return spark.read.parquet(f"{match_dir}/m*")
