"""Round-11 SPARQL graph management: CLEAR / DROP / LOAD.

Closes the last recognized-rejection block of the Update subset
(VERDICT r10 #4 "what's missing" item 4). All three lower to the same
scan-local machinery the rest of the update pipeline uses:

- CLEAR GRAPH <g> / DROP GRAPH <g>: one subject-family string
  predicate on the state — this store records no empty graphs (a
  triple's graph IS its subject family), so DROP and CLEAR coincide,
  the store shape SPARQL 1.1 §3.2.2/§3.2.3 explicitly anticipates.
- LOAD <doc> [INTO GRAPH <g>]: the reference's R19 bulk TSV ingest
  (TSV_bulk upload route, MasterServer.py:96-117) re-expressed as
  SPARQL 1.1 §3.1.4's graph union — document triples merge SET-wise
  into the state (unlike INSERT DATA's documented R2 LWW upsert).
  INTO GRAPH validates representability on the actual document: every
  loaded subject must belong to the target graph's family, rejected
  loudly, never silently re-homed.

Scale: CLEAR/DROP are predicate pushdown onto the state scan; LOAD is
one distributed file read + a broadcast-able anti-join against the
state on (s, p, o) — at 100 TB the anti-join shuffles on the triple
key exactly like the compaction MERGE (sources/compaction.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..plans.quads import QUADS_SQL
from ..plans.sparql import compile_sparql_update
from ..registry import register
from ..scratch import build_once

_CLEAR_Q = """
CLEAR GRAPH <g:region> ;
DROP SILENT GRAPH <g:supplier>
"""


@register(
    "q_sparql_update_clear",
    oracle=f"""
WITH {QUADS_SQL}
SELECT s, p, o FROM quads WHERE g NOT IN ('g:region', 'g:supplier')
""",
)
def q_sparql_update_clear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`CLEAR GRAPH` + `DROP SILENT GRAPH` sequence (round 11): both
    remove every triple whose subject family derives the named graph —
    DROP ≡ CLEAR because the layout records no empty graphs (SPARQL
    1.1 §3.2.2/§3.2.3's anticipated store shape), and SILENT is inert
    for the same reason. The plan is two stacked scan-local predicates
    (Catalyst folds them into the state scan — no join, no shuffle).
    Reference parity: the reference's admin delete route drops one
    backend shard's keyspace (MasterServer.py admin endpoints); CLEAR
    GRAPH is that operation addressed by provenance domain instead of
    shard id. Output: the full post-update graph."""
    return compile_sparql_update(spark, sf_dir, _CLEAR_Q)


# deterministic LOAD document: region-family subjects only (the INTO
# GRAPH <g:region> target), one row duplicated in-document to pin the
# §3.1.4 set-union (a graph is a set — the dup must not double), plus
# one triple per region key 0..4 so the post-state is fixture-stable
_LOAD_ROWS = [
    ("region:0", "hasMotto", "unity"),
    ("region:1", "hasMotto", "progress"),
    ("region:2", "hasMotto", "harmony"),
    ("region:3", "hasMotto", "strength"),
    ("region:4", "hasMotto", "wisdom"),
    ("region:0", "inZone", "zone_a"),
    ("region:0", "inZone", "zone_a"),  # in-document duplicate
]

def _load_doc_path(sf_dir: str) -> str:
    """Write the deterministic TSV LOAD document once per process —
    the bulk-ingest fixture file, shaped exactly like the reference's
    TSV upload payloads (s \\t p \\t o)."""

    def write(d: str) -> None:
        os.makedirs(d)
        with open(os.path.join(d, "doc.tsv"), "w") as f:
            for s, p, o in _LOAD_ROWS:
                f.write(f"{s}\t{p}\t{o}\n")

    d = build_once("sparql_load_doc", sf_dir, write, sources=())
    return os.path.join(d, "doc.tsv")


_LOAD_VALUES = ", ".join(f"('{s}', '{p}', '{o}')" for s, p, o in _LOAD_ROWS)


@register(
    "q_sparql_update_load",
    oracle=f"""
WITH {QUADS_SQL}
SELECT s, p, o FROM quads
UNION
SELECT s, p, o FROM (VALUES {_LOAD_VALUES}) AS v(s, p, o)
""",
)
def q_sparql_update_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`LOAD <file:...> INTO GRAPH <g:region>` (round 11): bulk-ingest
    a TSV triple document through the update pipeline — R19's bulk
    load (reference TSV_bulk route) with SPARQL §3.1.4 set-union
    semantics (the in-document duplicate row lands once; UNION in the
    oracle mirrors the set). INTO GRAPH validates on the actual
    document that every subject belongs to the region family (the
    subject-derived-graph representability rule shared with WITH
    templates). Output: the full post-update graph."""
    path = _load_doc_path(sf_dir)
    return compile_sparql_update(
        spark, sf_dir, f"LOAD <file://{path}> INTO GRAPH <g:region>"
    )
