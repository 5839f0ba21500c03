"""Registry discovery (no Spark session): loading the registry imports
every operator/streaming module, and the self-registered layouts are
exactly the build-once layouts the bench builds, in dependency order."""

from __future__ import annotations

import os
import re
import sys

from nosql_triple_store_spark import operators, streaming
from nosql_triple_store_spark.registry import all_layouts, all_specs

LAYOUTS = {
    "bucketed_orders_lineitem",
    "copurchase_edges",
    "triangle_list",
    "shingle_stream",
    "ranked_shingles",
    "band_index",
    "nearband_edges",
    "bgp_encoded_store",
    "ivf_coarse_codebook",
    "pq_code_table",
    "bucket_layout",
    "bloom_layout",
    "vacuum_register",
}


def test_every_module_is_imported():
    all_specs()
    for pkg in (operators, streaming):
        (pkg_dir,) = pkg.__path__
        for f in sorted(os.listdir(pkg_dir)):
            if f.endswith(".py") and f != "__init__.py":
                assert f"{pkg.__name__}.{f[:-3]}" in sys.modules, f


def test_layout_names():
    names = list(all_layouts())
    assert len(names) == len(set(names))
    assert set(names) == LAYOUTS


def test_layout_consumers_match_registered_queries():
    specs = all_specs()
    for layout in all_layouts().values():
        cre = re.compile(layout.consumers)
        assert any(cre.search(q) for q in specs), layout.name


def test_layouts_register_after_their_inputs():
    order = list(all_layouts())
    for before, after in [
        ("shingle_stream", "ranked_shingles"),
        ("shingle_stream", "band_index"),
        ("band_index", "nearband_edges"),
        ("copurchase_edges", "triangle_list"),
        ("ivf_coarse_codebook", "pq_code_table"),
    ]:
        assert order.index(before) < order.index(after), (before, after)
