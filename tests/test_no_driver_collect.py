"""Static scale guard: driver-side .collect() is allowed ONLY at the
audited bounded sites (scalar aggregates, k*dim centroid stats, top-1
BPE merge, 3-term dictionary constants, per-partition write stats —
VERDICT r4 confirmed none sit in a data path). A new .collect() in an
operator is a scale smell until audited; add it here WITH a bounded-
cardinality justification or restructure the operator."""

from __future__ import annotations

import os
import re

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "nosql_triple_store_spark",
)

# file (relative to package) -> max allowed .collect() sites, each one
# audited bounded:
ALLOWED = {
    "streaming/dedup_stream.py": 1,  # max(doc_id) scalar
    "operators/graph_ext2.py": 1,  # (count, xor-digest) 1-row agg
    "operators/vector_ext4.py": 2,  # k seed rows + k*dim centroid stats
    "operators/register_ext.py": 1,  # 1-row ts cutoff scalar
    "plans/sparql.py": 1,  # k pattern-constant dictionary lookups
    "operators/relational_ext17.py": 1,  # min(src) scalar (BFS source)
    "operators/vector_ext6.py": 1,  # dim*dim scatter-matrix cells
    # M*K codebook rows (index build) + <=SHORTLIST ADC ids per query
    # (the FAISS coordinator shortlist, a plan constant)
    "operators/vector_ext9.py": 2,
    "operators/text_ext.py": 1,  # top-1 BPE merge pair per round
    "sources/avro_py.py": 1,  # one (path, n) row per write partition
    "operators/source_jdbc.py": 1,  # 2-scalar JDBC partition bounds
    # two 1-scalar candidate-volume estimates (saturation probe)
    "operators/dedup_prefix.py": 2,
    # one 1-row (est, rows) scalar per probed simhash arity (<=3 ever,
    # cached per corpus — the occupancy probe)
    "operators/dedup.py": 1,
    "sources/bson_py.py": 1,  # one (path, n) row per write partition
}


def _collect_sites() -> dict[str, int]:
    sites: dict[str, int] = {}
    for root, _, files in os.walk(PKG):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            n = 0
            with open(path) as fh:
                for line in fh:
                    stripped = line.split("#")[0]
                    if re.search(r"\.collect\(\)", stripped):
                        n += 1
            if n:
                sites[rel] = n
    return sites


def test_collect_sites_are_frozen_allowlist():
    sites = _collect_sites()
    unexpected = {
        f: n for f, n in sites.items() if n > ALLOWED.get(f, 0)
    }
    assert not unexpected, (
        f"unaudited .collect() sites (scale smell): {unexpected}; "
        "audit boundedness and extend the allowlist, or restructure"
    )


def test_allowlist_not_stale():
    sites = _collect_sites()
    gone = {f for f in ALLOWED if f not in sites}
    assert not gone, f"allowlist entries no longer present: {gone}"
