"""Dump the dedup-ladder saturation-probe decisions for one or more SF
dirs as JSON — the measured decision artifact for VERDICT r10 #1: per
(corpus, kind, rung), the estimated exact-candidate volume, the corpus
shingle-row count, their ratio, and whether the exact prefix path is
selected (ratio <= SAT_MAX_BLOWUP) or the rung routes to banded-LSH
candidates + exact verify.

Usage:
    python scripts/saturation_probe.py [sf_dir ...] > SATURATION_DECISIONS.json

Defaults to the driver sf0.01/sf0.1 dirs plus /tmp/sfderived/sf{1,3}
when they exist.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import SparkSession

    dirs = sys.argv[1:] or [
        d
        for d in (
            "/root/testdata/sf0.01",
            "/root/testdata/sf0.1",
            "/tmp/scaled/sf1",
            "/tmp/scaled/sf3",
            "/tmp/scaled/zipf_sf1",
            "/tmp/scaled/zipf_sf3",
        )
        if os.path.isdir(d)
    ]
    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark.sql import functions as F

    from nosql_triple_store_spark.functions.textfns import tokens_col
    from nosql_triple_store_spark.operators import dedup as dd
    from nosql_triple_store_spark.operators import dedup_prefix as dp
    from nosql_triple_store_spark.widths import fanout_width

    # the rungs the registered queries actually run: the ladder's
    # routable rungs for both kinds
    rungs = {"jaccard": [(49, 50), (9, 10), (4, 5), (1, 2)],
             "containment": [(49, 50), (9, 10), (4, 5)]}
    for sf_dir in dirs:
        rs = dp.ranked_shingles(spark, sf_dir)
        for kind, pqs in rungs.items():
            for p, q in pqs:
                dp._probe_saturation(sf_dir, rs, p, q, kind)
        # the simhash occupancy probe (round 11): same measured-decision
        # evidence for the banding arity step-up on head-biased corpora
        from nosql_triple_store_spark.catalog import load_table

        docs = load_table(spark, sf_dir, "documents")
        n_docs = docs.count()
        arity = 1
        while arity < 3 and n_docs / (256 ** arity) > 16:
            arity += 1
        sigs = docs.repartition(fanout_width(spark)).select(
            "doc_id", dd._simhash64(tokens_col()).alias("sh")
        )
        groups = sigs.groupBy("sh").agg(
            F.slice(F.sort_array(F.collect_list("doc_id")), 1, 51).alias(
                "members"
            ),
            F.count(F.lit(1)).alias("m"),
        )
        dd._probe_simhash_arity(sf_dir, groups, arity)
    print(
        json.dumps(
            {
                "sat_max_blowup": dp.SAT_MAX_BLOWUP,
                "decisions": dp.SATURATION_LOG,
                "simhash_arity_blowup": dd._SIMHASH_ARITY_BLOWUP,
                "simhash_cap_blowup": dd._SIMHASH_CAP_BLOWUP,
                "simhash_arity_decisions": dd.SIMHASH_ARITY_LOG,
            },
            indent=1,
        )
    )


if __name__ == "__main__":
    main()
