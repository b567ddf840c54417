"""Materialized, incrementally-maintained FTS posting index.

The reference keeps its FTS table in sync with row-level triggers
(migrations/0002_fts.sql:17-32): every insert/update immediately patches
the posting lists. Spark has no triggers; the round-3 answer was
deterministic full rebuild (operators/fts.py docstring). This module
adds the production middle ground — the Lucene segment model on plain
parquet:

- **build**: postings (token, id, seg=0) hash-partitioned into
  ``bucket=`` dirs + a ``live/`` table of (id, seg) — which segment
  holds each document's CURRENT postings.
- **upsert**: NEW and UPDATED docs append their postings as segment
  seg+1 and append (id, seg+1) to ``live/`` — O(|delta|) work, the
  corpus is never re-tokenized. An updated doc's stale postings stay on
  disk but are dead: the read path keeps only rows whose seg matches
  the doc's LATEST live entry (Lucene's live-docs filter as a join).
- **read**: postings ⋈ (per-id max seg) — one aggregate at doc
  cardinality + one equi-join, then the standard prefix-AND semi-join
  query path (operators/fts.py search_index) applies unchanged.
- **compact**: fold live postings back into a single segment when the
  dead fraction grows (the OPTIMIZE/merge-segments maintenance pass).

Cache discipline per sources/derived.py: content-fingerprinted paths,
rename-if-absent publication. Token buckets keep query-time equality
probes narrow; prefix terms span buckets by nature (documented — the
reference's FTS5 prefix scan has the same shape).

The lifecycle mechanics (manifest IO, newest-wins resolution,
single-segment fast path, compaction swap) are the shared segment core
(operators/segments.py, r10) — this module owns only the FTS-specific
layout: tokenization, token-bucket partitioning, and the separate
``live/`` table that makes the live aggregate doc-sized instead of
posting-sized.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..sources import derived
from ..sources.tables import read_parquet
from . import segments
from .fts import with_tokens

MANIFEST = "_fts_manifest.json"


def fts_index_path(sf_dir: str, num_buckets: int = 16) -> str:
    return derived.derived_path(
        "fts_idx",
        sf_dir,
        params=f"b{num_buckets}",
        fingerprint_of=[os.path.join(sf_dir, "documents.parquet")],
    )


def _postings(
    docs: DataFrame, id_col: str, text_cols: list[str], num_buckets: int, seg: int
) -> DataFrame:
    tok = with_tokens(docs, text_cols, "_fts_tokens")
    return (
        tok.select(
            F.col(id_col).alias("id"), F.explode("_fts_tokens").alias("token")
        )
        .distinct()
        .select(
            "token",
            "id",
            F.lit(seg).alias("seg"),
            (F.pmod(F.xxhash64("token"), F.lit(num_buckets))).alias("bucket"),
        )
    )


def build_fts_index(
    docs: DataFrame,
    out: str,
    id_col: str = "doc_id",
    text_cols: list[str] | None = None,
    num_buckets: int = 16,
) -> str:
    """Materialize segment 0. Idempotent via rename-if-absent."""
    text_cols = text_cols or ["text"]

    def build(tmp: str) -> None:
        p = _postings(docs, id_col, text_cols, num_buckets, seg=0)
        p.repartition("bucket").write.mode("overwrite").partitionBy(
            "bucket"
        ).parquet(os.path.join(tmp, "postings"))
        docs.select(F.col(id_col).alias("id")).distinct().withColumn(
            "seg", F.lit(0)
        ).write.mode("overwrite").parquet(os.path.join(tmp, "live"))
        segments.write_manifest(
            tmp,
            MANIFEST,
            {
                "max_seg": 0,
                "committed_seg": 0,
                "gen": 0,
                "num_buckets": num_buckets,
            },
        )
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    return derived.publish(build, out)


def upsert_fts_index(
    delta_docs: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_cols: list[str] | None = None,
) -> int:
    """Append a new segment for the delta (new AND updated docs) and
    point their live entries at it. O(|delta|): tokenization, postings
    write, and the live append all touch delta rows only. Returns the
    new segment number.

    Single-writer ENFORCED (r12, was an assumption through r11): the
    whole upsert — manifest read through commit — runs under the
    index's writer lease (segments.writer_lease), so a concurrent
    upserter raises ConcurrentWriterError instead of double-reserving
    a segment; crashed holders are auto-broken (pid-dead same host, or
    TTL)."""
    text_cols = text_cols or ["text"]
    with segments.writer_lease(index_dir):
        man = segments.read_manifest(index_dir, MANIFEST)
        # two-phase (segments.snapshot_seg's protocol): RESERVE the seg
        # id before any data, write all data, then COMMIT — readers
        # bound to the committed seg never see an in-flight or crashed
        # append's partial segment; the id is never reused so a retry
        # wins
        seg = segments.reserve_seg(index_dir, MANIFEST, man)
        p = _postings(
            delta_docs, id_col, text_cols, man["num_buckets"], seg=seg
        )
        p.repartition("bucket").write.mode("append").partitionBy(
            "bucket"
        ).parquet(os.path.join(index_dir, "postings"))
        delta_docs.select(F.col(id_col).alias("id")).distinct().withColumn(
            "seg", F.lit(seg)
        ).write.mode("append").parquet(os.path.join(index_dir, "live"))
        segments.commit_seg(index_dir, MANIFEST, man, seg)
        return seg


def load_fts_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """(token, id) posting view of the CURRENT corpus state: per-id max
    live seg (doc-cardinality aggregate, from the doc-sized ``live/``
    table — never the posting-sized one) equi-joined onto postings —
    the live-docs filter. Stale segments' rows drop out of the join.
    Single-segment indexes (max_seg == 0: fresh build or just
    compacted, the common case) skip the live join entirely (r10 — the
    fast path the band/ANN indexes already had; an un-upserted index
    now pays zero resolution overhead on every FTS query)."""
    bound = segments.snapshot_seg(segments.read_manifest(index_dir, MANIFEST))
    postings = segments.bounded(
        read_parquet(spark, os.path.join(index_dir, "postings")), bound
    )
    if bound == 0:
        return postings.select("token", "id")
    live = segments.live_view(
        segments.bounded(
            read_parquet(spark, os.path.join(index_dir, "live")), bound
        ),
        "id",
    )
    return segments.resolve_newest(postings, live, "id").select("token", "id")


def dead_fraction(spark: SparkSession, index_dir: str) -> float:
    """Fraction of stored posting rows that the live filter discards —
    the compaction trigger metric. Zero by construction for a
    single-segment index (each id has exactly one segment)."""
    bound = segments.snapshot_seg(segments.read_manifest(index_dir, MANIFEST))
    if bound == 0:
        return 0.0
    postings = segments.bounded(
        read_parquet(spark, os.path.join(index_dir, "postings")), bound
    )
    live = segments.live_view(
        segments.bounded(
            read_parquet(spark, os.path.join(index_dir, "live")), bound
        ),
        "id",
    )
    return segments.stale_fraction(postings, live, "id")


def compact_fts_index(
    spark: SparkSession, index_dir: str, reader_safe: bool = False
) -> str:
    """Fold the live postings into a single-segment index via the
    shared whole-directory swap (segments.compact_swap — crash-safe
    single-writer rewrite; the max_seg=0 manifest and the _SUCCESS
    completeness marker are written INTO the temp dir before the swap,
    so no crash leaves a manifest that disagrees with the layout or a
    postings table that disagrees with live/). ``reader_safe=True``
    (r11) publishes aside into a new (gen, committed)-keyed sibling
    instead, leaving this dir intact for readers in flight and
    RETURNING the new path — segments.compact_aside's contract. The
    in-place mode holds the writer lease from manifest read to swap
    (r12): a raced append between them would otherwise be silently
    dropped by the fold; aside mode needs none (source untouched,
    publish keyed on the snapshot it folded)."""
    import contextlib

    ctx = (
        contextlib.nullcontext()
        if reader_safe
        else segments.writer_lease(index_dir)
    )
    with ctx:
        return _compact_fts_index_locked(spark, index_dir, reader_safe)


def _compact_fts_index_locked(
    spark: SparkSession, index_dir: str, reader_safe: bool
) -> str:
    man = segments.read_manifest(index_dir, MANIFEST)
    alive = (
        load_fts_index(spark, index_dir)
        .withColumn("seg", F.lit(0))
        .withColumn(
            "bucket", F.pmod(F.xxhash64("token"), F.lit(man["num_buckets"]))
        )
    ).localCheckpoint()  # two consumers (postings + live); fold once

    def write_into(tmp: str) -> None:
        alive.repartition("bucket").write.mode("overwrite").partitionBy(
            "bucket"
        ).parquet(os.path.join(tmp, "postings"))
        alive.select("id").distinct().withColumn("seg", F.lit(0)).write.mode(
            "overwrite"
        ).parquet(os.path.join(tmp, "live"))
        segments.write_manifest(
            tmp,
            MANIFEST,
            {
                **man,
                "max_seg": 0,
                "committed_seg": 0,
                "gen": man.get("gen", 0) + 1,  # ABA guard for caches
            },
        )
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    if reader_safe:
        return segments.compact_aside(index_dir, man, write_into)
    return segments.compact_swap(index_dir, write_into)


def stream_maintain_fts_index(
    docs_stream: DataFrame,
    index_dir: str,
    checkpoint_path: str,
    id_col: str = "doc_id",
    text_cols: list[str] | None = None,
    query_name: str = "fts_index_maintenance",
) -> None:
    """The reference's FTS triggers (0002_fts.sql:17-32) as a streaming
    job: each micro-batch of new/updated docs becomes one index segment
    via ``foreachBatch`` -> ``upsert_fts_index``. Exactly-once per batch
    comes from the checkpoint (a replayed batch re-appends under a new
    segment id, and live-docs resolution keeps only the latest — the
    idempotence segment models give you for free). Runs availableNow and
    blocks until the backlog is indexed."""
    cols = text_cols or ["text"]

    def sink(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        upsert_fts_index(batch_df, index_dir, id_col=id_col, text_cols=cols)

    q = (
        docs_stream.writeStream.foreachBatch(sink)
        .queryName(query_name)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_path)
        .start()
    )
    q.awaitTermination(300)
