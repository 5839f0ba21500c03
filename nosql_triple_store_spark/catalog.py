"""Table loader over the driver's parquet fixtures, and the parquet read
cache every engine read goes through.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings. One parquet each under an ``sf_dir``.

Read cache (:func:`read_parquet`). ``spark.read.parquet`` lists the files
and reads the parquet footers on every call (~80-110 ms), which at
point-read scale is most of a request's plan construction. The engine
therefore resolves each input once and hands back the same DataFrame
while the input is unchanged:

- **Key**: the tuple of absolute paths. The entry stores the paths'
  on-disk fingerprint (``scratch.path_fingerprint``: size + mtime_ns for
  a file, the sorted (name, size, mtime_ns) of its files for a
  directory); a lookup whose current fingerprint differs re-reads and
  replaces the entry.
- **Fingerprint, not TTL**: a TTL either serves stale rows until it
  expires or re-reads unchanged inputs; the fingerprint costs a few
  ``stat`` calls and is exact for the cases the engine produces — a
  rewritten file changes its mtime, an overwritten directory changes its
  part-file names, a new register version is a new path.
- **Session-scoped**: the cache lives on the ``SparkSession`` object, so
  a DataFrame is only reused by the session that resolved it (another
  session may carry other confs, e.g. ``nanosAsLong``) and the entries
  die with the session. It is a fixed-size LRU (:data:`READ_CACHE_SIZE`),
  so versioned register dirs cannot grow it without bound. There is no
  lock: two threads that miss together each read once, and the last
  store wins.
- **Schema given**: ``read_parquet(spark, *paths, schema=st)`` resolves a
  miss through ``spark.read.schema(st).parquet(...)``, a file listing
  with no footer-inference job. It is for files whose schema the engine
  knows because it wrote them (the register's ``vN``, ``dN`` and
  changelog reads, sources/compaction.py). Key, fingerprint and LRU are
  the same, so the entry it stores serves later calls with or without a
  schema.

Scale notes (100 TB): loading stays a plain parquet scan so Catalyst keeps
predicate pushdown / column pruning / partition pruning. The only transform
applied at load time is a cheap projection fixing the events ``ts`` column
(ns-long -> timestamp_ntz @ µs), which Catalyst folds into the scan's
projection; it does not block pushdown of ``ts`` range predicates expressed
on the converted column (they stay as filters over a deterministic
expression evaluated inside the scan stage, still pruning row groups via
``event_id``/partition stats where present).
"""

from __future__ import annotations

import contextlib
import os
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .scratch import path_fingerprint
from .session import ensure_runtime_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimensions a planner should always broadcast in joins.
BROADCAST_TABLES = {"region", "nation"}

# Entries kept per session; the least recently used one is dropped first.
READ_CACHE_SIZE = 256


def read_parquet(
    spark: SparkSession, *paths: str, schema: StructType | None = None
) -> DataFrame:
    """``spark.read.parquet(*paths)``, resolved once per session while the
    files under ``paths`` are unchanged (see the module docstring). A
    ``schema`` replaces footer inference on a miss; pass only the schema
    the files were written with."""
    ensure_runtime_confs(spark)
    key = tuple(os.path.abspath(p) for p in paths)
    fp = tuple(path_fingerprint(p) for p in key)
    cache = getattr(spark, "_nts_read_cache", None)
    if cache is None:
        cache = spark._nts_read_cache = OrderedDict()
    # Each dict operation is atomic under the GIL but the sequence is not:
    # a racing thread may evict ``key`` or empty the dict in between, which
    # costs a re-read or an early eviction, never an error.
    hit = cache.get(key)
    if hit is not None and hit[0] == fp:
        with contextlib.suppress(KeyError):
            cache.move_to_end(key)
        return hit[1]
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(*paths)
    cache.pop(key, None)
    cache[key] = (fp, df)
    with contextlib.suppress(KeyError):
        while len(cache) > READ_CACHE_SIZE:
            cache.popitem(last=False)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table, normalizing types for determinism.

    events.ts arrives as INT64 TIMESTAMP(NANOS) parquet which Spark cannot
    map natively; with ``nanosAsLong`` it reads as long, and we convert to
    timestamp_ntz truncated to µs — exactly matching DuckDB's
    ``CAST(ts AS TIMESTAMP)`` so differential oracles compare equal.
    """
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # integer div (not float div): ns epochs exceed double's 53-bit
        # mantissa, so a float path would corrupt low-order µs digits.
        df = df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
        )
    return df
