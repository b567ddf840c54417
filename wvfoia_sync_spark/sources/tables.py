"""Parquet table readers for the driver's synthetic star schema.

Scale notes (100 TB design):
- ``spark.read.parquet`` with declarative filters/selects downstream gives
  Catalyst predicate pushdown + column pruning for free; never pre-collect.
- ``events.ts`` is stored as parquet TIMESTAMP(NANOS) which Spark's
  vectorized reader rejects outright; we read it under
  ``spark.sql.legacy.parquet.nanosAsLong`` and convert to a microsecond
  timestamp with a codegen-friendly expression (no UDF). At cluster scale
  the conversion stays inside WholeStageCodegen and costs ~nothing.

Schema memo: ``spark.read.parquet(path)`` runs a schema-inference Spark
job (a footer read; 70-110 ms on a 4-vCPU VM) on every call, though the
files rarely change between calls. ``read_parquet`` infers once per file
generation and remembers the ``StructType``, keyed by the path's
``derived.content_fingerprint`` (names, sizes, mtimes) and by the session
confs that change what inference returns; a later read declares that
schema and runs no job (6-13 ms). Each call still builds a fresh relation
with fresh attribute ids, so self-joins of two reads stay resolvable; no
DataFrame is cached. One entry per path: a rewritten file replaces it.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..session import configure_session
from . import derived

TABLE_NAMES = (
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Input-size threshold for the multi-pass corpus queries' persist flag
# (r14, VERDICT r13 task 6). Queries whose plan evaluates the tokenize
# subtree more than once (tfidf_top_terms, pmi_collocations,
# dsir_importance) persist/checkpoint the slim intermediate ONLY when the
# on-disk input exceeds this — the measured crossover
# (SCALE_probe_r8_dsir.jsonl): at the 584 KB bench corpus the page-cached
# recompute wins every in-bench A/B (materialization adds job
# boundaries), by ~6 MB (k=10) persist edges ahead, and at ~58 MB (k=100)
# persist wins 1.6x (28.7 s -> 18.1 s). 4 MiB sits just under the
# measured flip point.
PERSIST_PASSES_MIN_BYTES = 4 * 1024 * 1024


# Session confs that change the schema parquet inference returns.
_INFERENCE_CONFS = (
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)

# path -> (content fingerprint + inference confs, inferred schema). No
# lock: an entry is replaced whole, and a lost race costs one re-inference.
_SCHEMAS: dict[str, tuple[tuple[str | None, ...], StructType]] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per file
    generation (see the module docstring)."""
    key = (derived.content_fingerprint(path),) + tuple(
        spark.conf.get(c) for c in _INFERENCE_CONFS
    )
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (key, df.schema)
    return df


def table_bytes(sf_dir: str, name: str) -> int:
    """On-disk bytes of a table (single parquet file or a directory of
    parts) — a driver-side metadata read, no data scan."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(path):
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
        return total
    try:
        return os.path.getsize(path)
    except OSError:
        return 0


def persist_multi_pass(
    sf_dir: str, name: str = "documents", factor: int = 1
) -> bool:
    """True when a multi-pass corpus query should materialize its shared
    intermediate once instead of recomputing it per pass (see
    PERSIST_PASSES_MIN_BYTES for the measured crossover). Pure
    input-size heuristic: the same inputs always make the same choice,
    and both choices are hash-identical by construction at every call
    site.

    ``factor`` scales the threshold per call site from each query's OWN
    measured crossover (SCALE_probe_r14_persist_heuristic.jsonl vs the
    heuristic-off control, same session, k-grown corpora):
    dsir_importance wins 3-4x from 9 MB up -> factor 1; tfidf_top_terms
    is a wash through the 19 MB point and pmi_collocations LOSES 1.4x at
    9 MB (the checkpoint barrier serializes passes the page cache serves
    for free) -> factor 64 (~256 MiB), the documented
    corpus-outgrows-page-cache posture those queries' r11/r13 A/Bs
    established, beyond the largest locally measurable point."""
    return table_bytes(sf_dir, name) >= PERSIST_PASSES_MIN_BYTES * factor


def load_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Load one synthetic table, normalizing awkward physical types.

    ``spread``: the testdata parquet is written as ONE row group per
    file, so a scan is one task regardless of maxPartitionBytes — and the
    scan stage carries the map-side work on a single core while 31 idle.
    ``spread=True`` inserts one explicit round-robin exchange on local
    masters so that work lands on every core. Measured on the full bench,
    this only pays for itself when the per-row map work is genuinely
    heavy (tokenize-then-self-join pipelines: exact-Jaccard, winnowing);
    for ordinary scans/aggs the extra exchange costs more than the
    parallelism gains, so it is strictly OPT-IN. On a real cluster the
    same tables arrive as many files/row groups and split naturally — the
    exchange is never applied there (repartition-after-scan at 100 TB
    would shuffle the whole table).
    """
    configure_session(spark)
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if spread and spark.sparkContext.master.startswith("local"):
        df = df.repartition(spark.sparkContext.defaultParallelism)
    if name == "events":
        # Physical TIMESTAMP(NANOS) surfaces differently by Spark build:
        # bigint (nanos, under the legacy conf) or TIMESTAMP_NTZ (micros,
        # pyspark 4.1 native). Normalize both to session-tz TIMESTAMP so
        # every downstream epoch/window expression resolves identically.
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # integer `div`, NOT float division: epoch nanos (~1.7e18)
            # exceed double's 53-bit mantissa, so (ts/1000).cast(long)
            # lands 1us low on ~1.6% of microsecond-aligned inputs
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            # session tz is pinned to UTC in configure_session, so this
            # cast is a pure type relabel (same epoch micros underneath).
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df

