"""Structured Streaming jobs (SURVEY §2.9).

The reference is batch-scheduled (daily cron sync) — its only streaming-
shaped semantics are the incremental watermark loop (foia.sync). These
jobs are the engine's scale extension: the same event analytics the
registry checks in batch form (events_hourly, sessionization) expressed
as real streams, so a production deployment can run them continuously.

Each job reads the events parquet as a file-source stream (at scale:
Kafka/Kinesis source with the same downstream plan), applies an event-time
watermark for late data, and supports ``trigger(availableNow=True)`` for
batch-equivalent runs — the tests assert stream output == batch output.
"""

from __future__ import annotations

import fnmatch
import os
import shutil

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.utils import AnalysisException

from ..operators import segments
from ..session import configure_session
from ..sources.tables import read_parquet

def _events_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


# Default for the pinned pyspark 4.1 build (TIMESTAMP(NANOS) -> NTZ micros);
# read_events_stream probes the actual batch-read type and adapts.
EVENTS_SCHEMA = _events_schema(T.TimestampNTZType())


def read_events_stream(
    spark: SparkSession,
    events_dir: str,
    glob: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over the events parquet directory (the source
    requires a directory; ``glob`` narrows to specific files;
    ``max_files_per_trigger`` bounds each micro-batch so availableNow
    catch-up over a large directory becomes MANY time-ordered batches —
    required for the watermark to advance and evict state mid-run,
    which is how a production backfill behaves); normalizes
    the physical TIMESTAMP(NANOS) column exactly like
    sources.tables.load_table, whatever this Spark build reads it as:
    NTZ micros (pyspark 4.1 native), bigint nanos (builds honoring the
    legacy nanosAsLong conf), or plain TIMESTAMP. The type comes from a
    batch read of the directory (or of the first file ``glob`` matches)
    through sources.tables.read_parquet, which infers it once per file
    generation: streaming queries build two sources over one directory,
    and a regenerated directory is probed again."""
    configure_session(spark)
    probe = events_dir
    if glob:
        matched = sorted(fnmatch.filter(os.listdir(events_dir), glob))
        if not matched:
            raise FileNotFoundError(f"no file in {events_dir} matches {glob!r}")
        probe = os.path.join(events_dir, matched[0])
    ts_type = dict(read_parquet(spark, probe).dtypes).get("ts", "timestamp_ntz")

    if ts_type == "bigint":
        # integer `div` (see sources.tables.load_table: float division is
        # lossy above 2^53)
        schema, norm = _events_schema(T.LongType()), lambda c: F.expr(
            "timestamp_micros(ts div 1000)"
        )
    elif ts_type == "timestamp_ntz":
        # NTZ -> session-tz TIMESTAMP (UTC pinned in configure_session):
        # pure type relabel, keeps watermark/window semantics == batch.
        schema, norm = _events_schema(T.TimestampNTZType()), lambda c: c.cast(
            "timestamp"
        )
    else:
        schema, norm = _events_schema(T.TimestampType()), lambda c: c

    reader = spark.readStream.schema(schema).format("parquet")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.load(events_dir)
    return raw.withColumn("ts", norm(F.col("ts")))


def hourly_aggregation(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour windowed count+sum with late-data watermark —
    streaming twin of the registry's ``events_hourly`` batch query."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def session_aggregation(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Event-time session windows (30-min inactivity gap) — streaming twin
    of the batch lag-based sessionization; session_window is Spark's
    native stateful session operator."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        )
    )


def click_view_attribution(
    clicks: DataFrame,
    views: DataFrame,
    lookback: str = "2 hours",
    watermark: str = "4 hours",
) -> DataFrame:
    """Stream-stream interval join: each click pairs with the same user's
    view events in the preceding ``lookback`` window. Both sides carry an
    event-time watermark and the join condition time-bounds the buffered
    state, so Spark can expire rows from BOTH join-state stores — the
    canonical bounded-state stream-stream join (without the time bound the
    state grows forever). Append-mode output; batch-equivalence against a
    plain interval self-join is the registry's ``stream_stream_join``
    oracle check."""
    c = (
        clicks.withWatermark("ts", watermark)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
    )
    v = (
        views.withWatermark("ts", watermark)
        .where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
    )
    return c.join(
        v,
        (F.col("c_user") == F.col("v_user"))
        & (F.col("v_ts") >= F.col("c_ts") - F.expr(f"INTERVAL {lookback}"))
        & (F.col("v_ts") < F.col("c_ts")),
        "inner",
    ).select("click_id", "view_id")


def click_view_attribution_outer(
    clicks: DataFrame,
    views: DataFrame,
    lookback: str = "2 hours",
    watermark: str = "4 hours",
) -> DataFrame:
    """LEFT OUTER stream-stream interval join: like
    click_view_attribution, but clicks with NO view in the lookback
    window still emit — with a null view_id — once the watermark passes
    their state-expiry point. This is the semantics inner joins can't
    give ("which clicks were unattributed?") and the reason outer
    stream-stream joins need the time bound even more than inner ones:
    the null row can only be emitted when the engine can PROVE no
    matching view can still arrive, which is exactly watermark >
    click_ts + lookback. Feed it watermark-advancing sources
    (events_stream_flushed) or the tail of the stream stays buffered.

    Do NOT filter sentinel rows (negative event ids) inside this plan:
    Catalyst pushes even a post-join `click_id >= 0` into the left side
    and below the EventTimeWatermark node (measured), so the sentinel
    stops advancing the watermark and the tail stays buffered again.
    The sentinel click's own null row is never emitted anyway (the
    watermark ends `delay` short of the sentinel's ts, so its state
    never expires) — callers that still want belt-and-braces filtering
    must apply it to the SINK table, outside the streaming plan."""
    c = (
        clicks.withWatermark("ts", watermark)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
    )
    v = (
        views.withWatermark("ts", watermark)
        .where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
    )
    return c.join(
        v,
        (F.col("c_user") == F.col("v_user"))
        & (F.col("v_ts") >= F.col("c_ts") - F.expr(f"INTERVAL {lookback}"))
        & (F.col("v_ts") < F.col("c_ts")),
        "left_outer",
    ).select("click_id", "view_id")


def events_stream_flushed(
    spark: SparkSession, sf_dir: str, pad_hours: int = 240
) -> DataFrame:
    """Events stream plus far-future SENTINEL events (ts = max(ts) +
    pad_hours) that exist only to advance the final watermark past every
    real row's state-expiry point. Outer joins and other event-time
    state can then emit their last results in the closing no-data
    micro-batch — without it, an availableNow run ends with the final
    watermark-window of state silently unemitted (the outer join would
    "lose" its newest unmatched rows).

    The sentinels carry REAL event types ('click', 'view') with negative
    event/user ids, one per type a consumer filters on. A neutral
    '__flush__' type does NOT work: the consumer's event_type filter is
    pushed below the EventTimeWatermark node by Catalyst, so a row the
    filter drops never reaches the watermark accumulator — measured: the
    tail clicks' null rows stayed buffered. Negative user ids keep
    sentinels from joining real rows; consumers exclude them AFTER the
    join (click_view_attribution_outer's `click_id >= 0`). The padded
    copy is derived state (sources/derived.py: content-fingerprinted
    cache key, rename-if-absent publication), same contract as the
    partitioned layouts."""
    from ..sources import derived
    from ..sources.tables import load_table

    out = derived.derived_path(
        "flushstream_v2",
        sf_dir,
        fingerprint_of=[os.path.join(sf_dir, "events.parquet")],
    )

    def build(tmp: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        mx = ev.agg(F.max("ts").alias("_mx"))
        sentinels = [
            mx.select(
                F.lit(-1 - i).cast("long").alias("event_id"),
                (
                    F.col("_mx") + F.expr(f"INTERVAL {int(pad_hours)} HOURS")
                ).alias("ts"),
                F.lit(-1).cast("long").alias("user_id"),
                F.lit(etype).alias("event_type"),
                F.lit(0.0).alias("value"),
                F.lit(None).cast("string").alias("props"),
            )
            for i, etype in enumerate(["click", "view"])
        ]
        base = ev.select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        )
        for s in sentinels:
            base = base.unionByName(s)
        base.write.mode("overwrite").parquet(tmp)

    derived.publish(build, out)
    return read_events_stream(spark, out)


def _await_available_now(
    spark: SparkSession, writer: DataStreamWriter, confs: dict[str, str]
) -> None:
    """Start ``writer`` with an availableNow trigger and block until the
    stream has drained its input, with ``confs`` set on the session for
    the stream's lifetime and restored afterwards, so batch plans run
    after it see the confs they had before."""
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        writer.trigger(availableNow=True).start().awaitTermination()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def _run_available_now(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str,
    state_partitions: int | None,
    no_data_batches: bool = True,
) -> DataFrame:
    """Shared availableNow runner: memory sink, blocking, returns the
    sink table as a batch DataFrame.

    ``state_partitions`` scopes ``spark.sql.shuffle.partitions`` around
    the stream's lifetime. A stateful streaming query instantiates one
    state store PER shuffle partition PER stateful operator side, and
    each store pays a fixed open/commit cost every micro-batch — so the
    partition count should track STATE VOLUME, not the batch shuffle
    default (a stream-stream join at 32 partitions spends 3x longer in
    store commits than in the join on small state; measured 9.9s -> 3.3s
    at sf0.1 going 32 -> 8). At 100 TB/day this knob goes UP, and it is
    fixed at the query's first start (Spark pins state partitioning in
    the checkpoint), which is why it must be chosen deliberately here
    rather than inherited. Restored after termination so batch plans are
    untouched.

    ``no_data_batches=False`` scopes
    ``spark.sql.streaming.noDataMicroBatches.enabled`` off for this run
    (r14, guide §1.2/§2): after the last DATA batch, the engine otherwise
    schedules a closing no-data micro-batch whose only work is
    watermark-driven state EVICTION — a full state-store scan + commit
    per partition (measured on stream_stream_join at sf0.1: the no-data
    batch removes 39.5k rows, emits 0, and costs 0.7-1.0 s of the 2.1 s
    wall). In an availableNow run the store is torn down immediately
    after, so eviction work is pure waste — SKIPPING it is only legal
    when the closing batch provably emits nothing: eager-emitting
    operators only (inner stream-stream joins, dropDuplicates*) or
    complete/update-mode sinks whose content the closing batch merely
    re-states. Operators that EMIT on watermark advance (outer joins'
    null rows, append-mode window aggregates) MUST keep it True — a
    long-running production query keeps the default regardless, since
    there eviction is what bounds state."""
    spark = stream_df.sparkSession
    confs = {}
    if state_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(state_partitions)
    if not no_data_batches:
        confs["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    _await_available_now(
        spark,
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode),
        confs,
    )
    return spark.table(query_name)


def run_available_now(
    stream_df: DataFrame,
    query_name: str,
    state_partitions: int | None = 8,
    no_data_batches: bool = True,
) -> DataFrame:
    """Execute a streaming plan over all currently-available input
    (micro-batch catch-up) into an in-memory sink; returns the result as a
    batch DataFrame. Production would use a durable sink + checkpoint."""
    return _run_available_now(
        stream_df, query_name, "complete", state_partitions, no_data_batches
    )


def stateful_user_counts(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: a running
    per-user event count + total value carried in GroupState across
    micro-batches (the template for bespoke streaming state the built-in
    window/session operators can't express).

    State is one (count, total) pair per user — O(users) store entries,
    partitioned by the grouping key; timeouts are disabled because the
    demo aggregates to completion, a production op would use
    GroupStateTimeout.ProcessingTimeTimeout + state eviction."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdf_iter, state: GroupState):
        count, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            count += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((count, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [count], "sum_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, sum_value double",
        stateStructType="count long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_available_now_update(
    stream_df: DataFrame,
    query_name: str,
    state_partitions: int | None = 8,
    no_data_batches: bool = True,
) -> DataFrame:
    """Like run_available_now but with update output mode (required by
    stateful operators that emit per-group deltas)."""
    return _run_available_now(
        stream_df, query_name, "update", state_partitions, no_data_batches
    )


def run_available_now_append(
    stream_df: DataFrame,
    query_name: str,
    state_partitions: int | None = 8,
    no_data_batches: bool = True,
) -> DataFrame:
    """Like run_available_now but with append output mode (required by
    stream-stream joins, which emit each matched row exactly once)."""
    return _run_available_now(
        stream_df, query_name, "append", state_partitions, no_data_batches
    )


def streaming_dedup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact-dedup: drop events whose (user_id, event_type,
    value) fingerprint was already seen within the watermark horizon —
    the ingest-time dedup stage of a training-data pipeline (batch twin:
    dedup_exact). dropDuplicatesWithinWatermark keys state by the
    fingerprint and expires it once the watermark passes, so state stays
    bounded by (dup horizon x arrival rate), not the stream's lifetime."""
    # null-safe structural hash: concat_ws skips nulls and has no
    # delimiter escaping, so ('a|2.0', null) and ('a', 2.0) would collide
    # on one fingerprint and the second arrival would be silently dropped
    keyed = events.withColumn(
        "fp", F.xxhash64(F.struct("user_id", "event_type", "value"))
    )
    return keyed.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["fp"])


def tws_user_counts(events: DataFrame) -> DataFrame:
    """The Spark 4 transformWithStateInPandas form of the running
    per-user counter (the successor API to applyInPandasWithState):
    typed ValueState survives across micro-batches in the RocksDB state
    store, and the processor yields one delta row per user per batch.
    Requires the RocksDB state store provider (set in the writeStream
    caller or session conf) and google.protobuf on the Python path (the
    state-server wire protocol); state is O(users) entries keyed by the
    grouping column."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class RunningCounts(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._st = handle.getValueState("totals", "count long, total double")

        def handleInputRows(self, key, rows, timerValues):
            prev = self._st.get() if self._st.exists() else (0, 0.0)
            count, total = prev[0], prev[1]
            for pdf in rows:
                count += len(pdf)
                total += float(pdf["value"].fillna(0.0).sum())
            self._st.update((count, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [count], "sum_value": [total]}
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningCounts(),
        outputStructType="user_id long, n_events long, sum_value double",
        outputMode="Update",
        timeMode="None",
    )


DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents table, tolerant of the same
    two physical layouts as events_stream (flat ``documents.parquet``
    file beside siblings -> pathGlobFilter; a directory of part files ->
    the directory is the source). No timestamp columns, so no
    normalization pass."""
    p = os.path.join(sf_dir, "documents.parquet")
    reader = spark.readStream.schema(DOCUMENTS_SCHEMA).format("parquet")
    if os.path.isdir(p):
        return reader.load(p)
    return reader.option("pathGlobFilter", "documents.parquet").load(sf_dir)


def streaming_near_dup(
    incoming: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    max_band_bucket: int | None = None,
) -> DataFrame:
    """Ingest-time near-duplicate gate: a STREAM of incoming documents
    checked against a STATIC banded-MinHash index of the existing
    corpus — the continuous-ingestion form of
    dedup.cross_corpus_minhash_pairs, where the band index plays the
    stored index and each micro-batch is an arriving crawl shard.
    Returns the streaming DataFrame of (eval_id, train_id) matches with
    shingle Jaccard >= threshold (one row PER MATCHING BAND — dedup is
    the consumer's sink-side distinct, keeping this plan state-free).

    Plan shape per micro-batch: incoming rows run the exact batch
    shingle->signature->band stages (pure Column builders plus the
    Arrow-batched signature UDF — all map-only, so they stream
    unchanged), with the shingle array CARRIED through the band explode
    (joining it back by id would be a stateful stream-stream self-join;
    the array rides the slim incoming batch instead). Then two
    stream-static equi-joins, both stateless: (band, bhash) against the
    precomputed index for candidates, and train_id against the corpus
    shingle table for the exact-Jaccard verify. No watermark, no state
    store — state lives in the static index, which is localCheckpointed
    once so repeated micro-batches re-join, never recompute, it. At
    100 TB the index is a bucketed table maintained incrementally (the
    fts_index segment pattern); the per-batch work stays proportional
    to the arriving shard.

    ``max_band_bucket`` applies the r7 stop-band guard (Zipfian hot-band
    mitigation, operators/dedup.py:minhash_lsh_candidates) to the STATIC
    index side: corpus band buckets holding more than this many docs are
    dropped at index build, bounding each arriving doc's candidate term
    at (bands x cap) instead of (bands x hot-bucket size) — at ingest
    time a boilerplate-heavy shard otherwise reproduces the measured 18x
    candidate blowup inside the micro-batch, where wall directly gates
    ingest latency. Same recall contract as the batch guard: a true pair
    is lost only if it collides in NO surviving bucket (near-dups keep
    colliding on their non-boilerplate shingles); OFF by default."""
    from ..operators.dedup import (
        _band_signatures,
        _sig_from_hashed_pandas,
        hashed_shingles,
    )

    if bands > num_hashes or num_hashes % bands != 0:
        raise ValueError(
            f"bands={bands} must divide num_hashes={num_hashes} "
            "(empty/truncated band slices degenerate the LSH bucketing)"
        )
    sig = _sig_from_hashed_pandas(num_hashes)
    # static side: built once, checkpointed so each micro-batch replans
    # against materialized blocks instead of re-running the shingle UDF
    h_corpus = hashed_shingles(corpus, id_col, text_col, shingle_size).localCheckpoint(
        eager=False
    )
    index = _band_signatures(
        h_corpus.select("id", sig(F.col("hs")).alias("sig")), bands
    ).select(F.col("id").alias("train_id"), "band", "bhash")
    if max_band_bucket is not None:
        from ..operators.dedup import drop_hot_band_buckets

        index = drop_hot_band_buckets(index, max_band_bucket)
    # checkpoint the index AFTER the guard (r8 advice): the heavy-hitter
    # groupBy + anti-join is corpus-wide work and belongs in the
    # built-once static side, not replanned per micro-batch — batches
    # re-join the materialized guarded blocks.
    index = index.localCheckpoint(eager=False)

    h_in = hashed_shingles(incoming, id_col, text_col, shingle_size)
    banded_in = _band_signatures(
        h_in.select("id", F.col("hs"), sig(F.col("hs")).alias("sig")),
        bands,
        carry=("hs",),
    ).select(F.col("id").alias("eval_id"), "hs", "band", "bhash")

    cands = banded_in.join(index, ["band", "bhash"])
    verified = cands.join(
        h_corpus.select(F.col("id").alias("train_id"), F.col("hs").alias("hs_t")),
        "train_id",
    )
    inter = F.size(F.array_intersect("hs", "hs_t"))
    union = F.size("hs") + F.size("hs_t") - inter
    jac = inter.cast("double") / union.cast("double")
    return verified.select("eval_id", "train_id", jac.alias("jaccard")).where(
        F.col("jaccard") >= threshold
    )


BAND_MANIFEST = "_manifest.json"
# shingles has exactly one row per (train_id, seg), so the newest-segment
# aggregate runs at doc cardinality, never on the much larger bands table
BAND_LAYOUT = segments.Layout(
    BAND_MANIFEST,
    {"bands": "pbucket", "shingles": None},
    live="shingles",
    id_col="train_id",
)


def _banded_corpus(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    shingle_size: int,
    prune_buckets: int,
    max_band_bucket: int | None,
) -> dict[str, DataFrame]:
    """Band rows and shingle rows for one corpus segment — the same
    shingle->signature->band pipeline the batch dedup and the
    stream-static gate run."""
    from ..operators.dedup import (
        _band_signatures,
        _sig_from_hashed_pandas,
        drop_hot_band_buckets,
        hashed_shingles,
    )

    h = hashed_shingles(corpus, id_col, text_col, shingle_size)
    sig = _sig_from_hashed_pandas(num_hashes)
    index = _band_signatures(
        h.select("id", sig(F.col("hs")).alias("sig")), bands
    ).select(F.col("id").alias("train_id"), "band", "bhash")
    if max_band_bucket is not None:
        index = drop_hot_band_buckets(index, max_band_bucket)
    return {
        "bands": index.withColumn(
            "pbucket", F.pmod("bhash", F.lit(prune_buckets)).cast("int")
        ),
        "shingles": h.select(F.col("id").alias("train_id"), "hs"),
    }


def write_band_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    prune_buckets: int = 64,
    max_band_bucket: int | None = None,
) -> None:
    """Persist the banded-MinHash index as the PRUNABLE on-disk layout the
    100 TB deployment of the streaming gate uses: band rows Hive-partitioned
    on ``pbucket = pmod(bhash, prune_buckets)`` (so a micro-batch's bucket
    set becomes a PartitionFilter on the scan), plus the corpus shingle
    table for the exact verify, and a ``_manifest.json`` recording the
    build parameters. The segment lifecycle (operators/segments.py) lets
    append_band_index / compact_band_index maintain the index
    incrementally with newest-segment-wins resolution for re-arriving
    doc_ids. Published rename-if-absent, so ``path`` must be fresh.

    ``max_band_bucket`` bakes the stop-band guard INTO the stored index
    (r8, VERDICT r7 item 4): corpus band buckets above the cap are
    dropped at build time, so every downstream consumer — the pruned
    foreachBatch gate, contamination probes — is bounded without its
    own guard pass. The guard belongs at build: a bucket hot in the
    stored index inflates EVERY arriving shard's candidate join (the
    measured 18x blowup), and dropping it once here is cheaper than
    re-deriving the heavy-hitter set per micro-batch. Same recall
    contract as minhash_lsh_candidates(max_band_bucket=): a true pair
    is lost only if it collides in NO surviving bucket. OFF by
    default."""
    segments.build(
        BAND_LAYOUT,
        path,
        lambda: _banded_corpus(
            corpus,
            id_col,
            text_col,
            num_hashes,
            bands,
            shingle_size,
            prune_buckets,
            max_band_bucket,
        ),
        num_hashes=num_hashes,
        bands=bands,
        shingle_size=shingle_size,
        prune_buckets=prune_buckets,
    )


def append_band_index(
    corpus_delta: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_band_bucket: int | None = None,
) -> int:
    """INCREMENTAL maintenance for the stored band index: a corpus
    delta appends its band rows AS A NEW SEGMENT (new part files inside
    the same ``pbucket=`` partition directories) and its shingle rows
    to the verify table — work proportional to the DELTA, never a
    rebuild (segments.append). Build parameters (num_hashes / bands /
    shingle_size / prune_buckets) come from the index's own manifest, so
    a segment can never be appended with a geometry that disagrees with
    the stored rows. Returns the new segment id.

    Re-arriving doc_ids are SAFE (r9, closes the r8 verdict's "silently
    corrupts the gate" finding): a delta may contain UPDATED versions of
    already-indexed docs — readers (load_band_index, the pruned gate,
    compact_band_index) resolve each train_id to its NEWEST segment, so
    the stale version's band and shingle rows drop out of every join.
    Equivalence contract (tested, including an updated-doc delta): a
    gate run against write(base) + append(delta) returns the identical
    pair set as against write(upserted corpus).

    ``max_band_bucket`` caveat (both directions): the guard is applied
    PER CALL over this delta's buckets only — a bucket hot only across
    base+delta is NOT retro-dropped (under-dropping), and a bucket
    merely popular within a large delta but under the cap corpus-wide
    IS dropped (over-dropping), so write(base)+append(delta, cap) can
    diverge from write(base ∪ delta, cap) in either direction.
    Production recipe: append with the guard OFF (the default) and
    re-apply the tight cap at compact_band_index, which computes the
    heavy-hitter set across the merged LIVE whole; between compactions
    the residual cross-segment exposure is bounded by the delta sizes,
    and the stream-static form (streaming_near_dup(max_band_bucket=))
    re-derives its guard from the live index if ingest latency demands
    a hard bound sooner."""
    return segments.append(
        BAND_LAYOUT,
        path,
        lambda man: _banded_corpus(
            corpus_delta,
            id_col,
            text_col,
            man["num_hashes"],
            man["bands"],
            man["shingle_size"],
            man["prune_buckets"],
            max_band_bucket,
        ),
    )


def load_band_index(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """(band rows, shingle rows) of the CURRENT index state: newest
    segment wins per train_id (segments.load)."""
    current = segments.load(spark, BAND_LAYOUT, path)
    return current["bands"], current["shingles"]


def band_index_staleness(spark: SparkSession, path: str) -> dict:
    """Measurable compaction trigger for the stored band index (r10,
    VERDICT r9 item 4 — the band twin of fts_index.dead_fraction, so
    the SCALE.md cadence rule "compact when accumulated gate-side
    live-join rent exceeds one compaction" is computable instead of
    folklore). Returns::

        {"max_seg": int,          # segments since last compaction
         "stale_fraction": float} # band rows the live filter discards

    Cost: zero Spark work for a single-segment index (manifest read
    only); otherwise one scan of the bands table + the doc-cardinality
    live aggregate — the same work ONE gate run's live join pays, so
    measuring is never costlier than the rent being measured.

    Cadence recipe (measured, SCALE_probe_r10_bandstale.jsonl): every
    multi-segment gate run pays the live join on top of its own work;
    compaction costs roughly one index rebuild minus the banding (the
    r9 probe: 2.44 s vs 3.62 s at sf0.1 geometry) and repays itself in
    about one gate run (4.78 s -> 1.98 s same probe). So trigger when
    ``max_seg > 0`` and the expected number of gate runs before the
    next natural rebuild exceeds ~1, or unconditionally once
    stale_fraction clears ~0.3 (the fts compaction bar) — stale rows
    inflate every candidate join's build side, not just the resolution
    aggregate."""
    return segments.staleness(spark, BAND_LAYOUT, path)


def compact_band_index(
    spark: SparkSession,
    path: str,
    max_band_bucket: int | None = None,
) -> str:
    """Fold all appended segments back into a clean single-segment index
    in place (segments.compact): newest-wins live resolution
    materializes, stale segments' rows are dropped for good, and
    ``max_band_bucket`` re-applies the tight stop-band cap across the
    MERGED whole — the cross-segment hot-bucket exposure the per-call
    append guard cannot see (a bucket under the cap in every segment
    but over it in the union is dropped here). Contract (tested):
    compact(write(base) + append(delta) × N) is row-identical to a fresh
    write_band_index of the upserted union with the same cap, and the
    pruned gate's pair set is unchanged. Work is one scan of each table
    + the doc-cardinality live aggregate + (guard on) the bucket
    heavy-hitter aggregate — proportional to the index, run at the
    cadence band_index_staleness's trigger chooses; appends stay
    delta-sized between runs."""
    from ..operators.dedup import drop_hot_band_buckets

    def fold(_man: dict, rows: dict[str, DataFrame]) -> dict[str, DataFrame]:
        if max_band_bucket is None:
            return rows
        bands = drop_hot_band_buckets(rows["bands"], max_band_bucket)
        return {**rows, "bands": bands}

    return segments.compact(spark, BAND_LAYOUT, path, fold)


def streaming_near_dup_pruned(
    incoming: DataFrame,
    index_path: str,
    query_name: str,
    sink_path: str,
    threshold: float = 0.8,
    num_hashes: int | None = None,
    bands: int | None = None,
    shingle_size: int | None = None,
    prune_buckets: int | None = None,
    plan_tap: list | None = None,
    checkpoint_path: str | None = None,
) -> "DataFrame":
    """The partition-PRUNED form of the streaming near-dup gate (the scale
    path SCALE.md's round-6 section documents): instead of a stream-static
    join that scans the whole index per micro-batch, each batch runs in
    foreachBatch, collects its DISTINCT pbucket values — bounded by
    min(bands x batch_rows, prune_buckets), a CONSTANT at any corpus size —
    and reads the stored index WITH a pbucket isin filter that lands in the
    scan's PartitionFilters: the probe term is proportional to the arriving
    shard's bucket set, not the corpus. Semantics identical to
    streaming_near_dup (same signature stages, same verify).

    Production sink form (r7, closes the r6 verdict's "documented, not
    implemented" gap): each batch's matched pairs are WRITTEN inside the
    same foreachBatch to ``sink_path/batch=<epoch>`` — a per-epoch
    partition-directory overwrite, so a retried batch rewrites exactly
    its own directory (the same at-least-once -> effectively-once
    argument as stream_upsert_sink's batch_id MERGE; nothing row-sized
    ever crosses the driver). The ONLY driver-side collect left is the
    pbucket key set, bounded by the prune_buckets CONSTANT (the
    documented bloom-bitset posture). After the availableNow run
    terminates the sink is read back and returned as the result
    DataFrame — a convenience for tests/registry. SINK CONTRACT for a
    deployment consuming ``sink_path`` directly: each ``batch=<epoch>``
    directory is internally distinct, but the raw sink is a MULTISET
    across epochs — a pair recurs when a doc re-arrives in a later
    batch — so readers own the ``distinct()`` (or read through this
    function, which applies it). ``checkpoint_path``, when given, is
    passed through so a restarted stream resumes from the source offset
    frontier instead of re-gating the history. ``plan_tap``, when
    given, receives each batch's executed-plan string so tests can
    assert the PartitionFilters actually materialized.

    Index GEOMETRY (num_hashes / bands / shingle_size / prune_buckets)
    defaults to the stored index's own manifest (r9): the arriving
    side must be shingled, signed, and banded with exactly the
    parameters the index was built with, or candidates silently miss —
    passing them explicitly is allowed for doc value, but a mismatch
    with the manifest raises instead of returning wrong answers.

    APPEND-WHILE-STREAMING (r10, closes the r9 advice finding): an
    ``append_band_index`` concurrent with a running gate is visible at
    the NEXT batch boundary — each batch re-reads the manifest and
    re-derives the newest-wins live map only when max_seg moved (the
    common no-append case pays one JSON stat per batch, zero Spark
    work). Earlier the live map was snapshotted once at stream start
    while each batch re-read the parquet fresh: appended docs were
    silently invisible, re-arrived docs gated against stale text, and a
    0 -> >0 max_seg transition exposed BOTH versions."""
    from ..operators.dedup import (
        _band_signatures,
        _sig_from_hashed_pandas,
        hashed_shingles,
    )

    man = segments.read_manifest(index_path, BAND_MANIFEST)
    for arg, key in (
        (num_hashes, "num_hashes"),
        (bands, "bands"),
        (shingle_size, "shingle_size"),
        (prune_buckets, "prune_buckets"),
    ):
        if arg is not None and arg != man[key]:
            raise ValueError(
                f"{key}={arg} disagrees with the stored index's manifest "
                f"({man[key]}) — the gate must band the arriving side "
                "with the index's own geometry"
            )
    num_hashes = man["num_hashes"]
    bands = man["bands"]
    shingle_size = man["shingle_size"]
    prune_buckets = man["prune_buckets"]

    spark = incoming.sparkSession
    sig = _sig_from_hashed_pandas(num_hashes)
    # Newest-segment-wins live resolution, computed once and checkpointed
    # (doc-cardinality — two longs per indexed doc), so the resolution
    # aggregate does NOT re-run per micro-batch (the r8 advice's
    # built-once posture). Fresh/compacted indexes (max_seg == 0) skip it
    # entirely. A concurrent append_band_index during a running stream IS
    # tolerated (r9 advice): each batch re-reads the manifest (one tiny
    # JSON read — no Spark job) and re-derives the live map only when
    # max_seg actually moved, so mid-stream appends become visible at the
    # next batch boundary, a re-arrived doc gates against its newest text,
    # and the 0 -> >0 transition (which would otherwise expose BOTH
    # versions through the fast path) picks up resolution the moment it
    # is needed. Batches between the append and the next manifest read
    # gate against the pre-append snapshot — the same eventual-visibility
    # contract as any snapshot-isolated reader.
    # live map bounded to each snapshot's COMMITTED seg and cached on
    # segments.snapshot_key — never on max_seg, which moves at
    # reservation time before the data exists (a cache keyed on it
    # could pin a map derived mid-append and never see the segment's
    # rows) and can recur across a compaction (the ABA case the
    # generation component catches); mechanics shared with the gram gate
    live_cache, live_close = segments.live_snapshot_cache(
        lambda b: segments.live_map(spark, BAND_LAYOUT, index_path, man, b)
    )
    live_cache(segments.snapshot_key(man), segments.snapshot_seg(man))

    def gate(batch_df: DataFrame, epoch_id: int) -> None:
        bman = segments.read_manifest(index_path, BAND_MANIFEST)
        bound = segments.snapshot_seg(bman)
        live = live_cache(segments.snapshot_key(bman), bound)
        h_in = hashed_shingles(batch_df, "doc_id", "text", shingle_size)
        banded_in = _band_signatures(
            h_in.select("id", F.col("hs"), sig(F.col("hs")).alias("sig")),
            bands,
            carry=("hs",),
        ).select(
            F.col("id").alias("eval_id"),
            "hs",
            "band",
            "bhash",
            F.pmod("bhash", F.lit(prune_buckets)).cast("int").alias("pbucket"),
        )
        banded_in = banded_in.localCheckpoint()  # two consumers: keys + join
        # driver-side collect is bounded by prune_buckets (a constant),
        # NOT by batch or corpus size — the documented constant-collect
        # posture (cf. bloom bitset, BPE one-row-per-iteration)
        pb = [r[0] for r in banded_in.select("pbucket").distinct().collect()]
        # bound both scans to this batch's COMMITTED snapshot: an
        # in-flight append's reserved-but-uncommitted segment stays
        # invisible on every path, including the 0 -> 1 transition's
        # fast path (no live join), which would otherwise read the new
        # segment's half-committed rows alongside the old ones
        idx = segments.scan(spark, BAND_LAYOUT, index_path, "bands", bound).where(
            F.col("pbucket").isin(pb)
        )
        shingle_t = segments.scan(
            spark, BAND_LAYOUT, index_path, "shingles", bound
        ).withColumnRenamed("hs", "hs_t")
        if live is not None:  # stale-segment rows drop out of the join
            idx = idx.join(live, ["train_id", "seg"])
            shingle_t = shingle_t.join(live, ["train_id", "seg"])
        cands = banded_in.drop("pbucket").join(
            idx.drop("pbucket", "seg"), ["band", "bhash"]
        )
        verified = cands.join(shingle_t.drop("seg"), "train_id")
        inter = F.size(F.array_intersect("hs", "hs_t"))
        union = F.size("hs") + F.size("hs_t") - inter
        jac = inter.cast("double") / union.cast("double")
        out = (
            verified.where(jac >= F.lit(threshold))
            .select("eval_id", "train_id")
            .distinct()  # collapse multi-band hits batch-side
        )
        if plan_tap is not None:
            plan_tap.append(
                out._jdf.queryExecution().executedPlan().toString()
            )
        # sink write INSIDE the batch: overwrite of this epoch's own
        # partition directory — idempotent under batch retry, and the
        # matched pairs never materialize on the driver
        out.write.mode("overwrite").parquet(f"{sink_path}/batch={epoch_id}")

    writer = (
        incoming.writeStream.foreachBatch(gate)
        .queryName(query_name)
        .trigger(availableNow=True)
    )
    if checkpoint_path is not None:
        writer = writer.option("checkpointLocation", checkpoint_path)
    q = writer.start()
    try:
        q.awaitTermination()
    finally:
        live_close()  # the stream owns its snapshots
    # Explicit schema: an all-empty sink (every epoch's pair set empty —
    # AQE empty-relation propagation can leave only _SUCCESS in each
    # batch= dir) has nothing to infer from, and a zero-batch run has no
    # sink directory at all. With the schema pinned, both degrade to an
    # empty DataFrame; only true absence raises, which the except below
    # translates — works for any sink URI scheme (hdfs://, s3a://, ...),
    # unlike an os.path probe that is always False off the local FS.
    # The pinned types are DERIVED, not hard-coded (r8 advice): eval_id
    # from the incoming stream's doc_id, train_id from the stored
    # shingle table — an int32-id corpus writes int32 pairs, and a
    # hard-coded long schema would fail (or silently misread) here.
    pair_schema = T.StructType(
        [
            T.StructField(
                "eval_id", incoming.schema["doc_id"].dataType
            ),
            T.StructField(
                "train_id",
                read_parquet(spark, f"{index_path}/shingles")
                .schema["train_id"]
                .dataType,
            ),
        ]
    )
    try:
        sink = spark.read.schema(pair_schema).parquet(sink_path)
        sink.head(1)  # force path resolution while we can still catch it
    except AnalysisException:  # zero batches arrived: no sink directory
        return spark.createDataFrame([], pair_schema)
    return (
        sink.select("eval_id", "train_id")
        # cross-EPOCH dedup: each epoch's directory is internally
        # distinct (the batch-side verify collapses multi-band hits),
        # but a pair recurs across epochs when a doc re-arrives; the
        # gate's contract is the SET of flagged pairs
        .distinct()
    )


def streaming_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Streaming PII scrub: the functions/pii.py redaction pipeline
    applied at ingest — curation expressions are plain Column builders,
    so the exact batch scrub runs unchanged on a stream (stateless
    projection: no watermark, no state store, trivially scalable)."""
    from ..functions import pii

    out = docs
    for name, col in pii.pii_counts(F.col(text_col)).items():
        out = out.withColumn(name, col)  # counts BEFORE redaction
    return out.withColumn(text_col, pii.redact(F.col(text_col)))


def static_enrichment(
    events: DataFrame, dim: DataFrame, on_left: str, on_right: str
) -> DataFrame:
    """Stream-static join: enrich a stream with a batch dimension table.
    Stateless on the stream side — each micro-batch plans a fresh join
    against the CURRENT dim snapshot (broadcast when small), so no state
    store, no watermark requirement, and dim updates between batches are
    picked up automatically. The canonical 100 TB shape: a Kafka event
    stream decorated with a slowly-changing reference table."""
    return events.join(
        F.broadcast(dim), events[on_left] == dim[on_right], "inner"
    )


def stream_upsert_sink(
    stream_df: DataFrame,
    table_path: str,
    checkpoint_path: str,
    key: str,
    order_col: str,
    query_name: str = "stream_upsert",
    state_partitions: int | None = 8,
):
    """foreachBatch upsert sink: each micro-batch MERGEs into a parquet
    table by key (anti-join + union + atomic directory swap — with Delta
    or Iceberg this body becomes one MERGE INTO and the swap goes away).

    Why foreachBatch: Spark's built-in file sink is append-only; keyed
    upsert needs the batch handed to arbitrary writer code. The batch_id
    argument makes retries idempotent at-least-once -> effectively-once
    for deterministic batches (a re-run of batch N re-merges the same
    rows to the same keys). Within a batch, the row with the max
    ``order_col`` wins per key (deterministic last-writer-wins — a bare
    dropDuplicates would keep an arbitrary row).

    The swap is write-new -> atomic rename, the same pattern as
    foia/export's staged artifacts: readers see the old table or the new
    one, never a half-written directory."""
    from pyspark.sql import Window as W

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        w = W.partitionBy(key).orderBy(F.col(order_col).desc())
        dedup = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        if os.path.isdir(table_path):
            existing = spark.read.parquet(table_path)
            kept = existing.join(dedup.select(key), key, "left_anti")
            merged = kept.unionByName(dedup.select(*existing.columns))
        else:
            merged = dedup
        tmp = table_path + f"._staged_{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        old = table_path + "._old"
        if os.path.isdir(table_path):
            os.rename(table_path, old)
        os.rename(tmp, table_path)
        shutil.rmtree(old, ignore_errors=True)

    _await_available_now(
        stream_df.sparkSession,
        stream_df.writeStream.foreachBatch(merge_batch)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_path),
        {}
        if state_partitions is None
        else {"spark.sql.shuffle.partitions": str(state_partitions)},
    )


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolve the events table inside a dataset directory for streaming,
    tolerant of both physical layouts: a flat ``events.parquet`` FILE
    beside other tables (the driver's testdata — needs a pathGlobFilter
    so sibling tables don't pollute the source) and an ``events.parquet``
    DIRECTORY of part files (any production/multifile layout — the
    directory IS the source; a file-name glob would match nothing and
    schema inference dies)."""
    p = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(p):
        return read_events_stream(spark, p)
    return read_events_stream(spark, sf_dir, glob="events.parquet")


def streaming_substring_gate(
    incoming: DataFrame,
    index_path: str,
    query_name: str,
    sink_path: str,
    span: int | None = None,
    plan_tap: list | None = None,
    checkpoint_path: str | None = None,
) -> DataFrame:
    """Streaming form of the exact-substring ingest gate (r10 — the
    production shape of queries/corpus_text.exact_substring_gate):
    each micro-batch of arriving documents is gated against the STORED
    gram index (operators/gram_index.py) and admitted as its surviving
    runs ``(doc_id, run_idx, n_toks, run_md5)``, written inside the
    batch to ``sink_path/batch=<epoch>`` (per-epoch overwrite:
    idempotent under batch retry; nothing row-sized crosses the
    driver). The streaming_near_dup_pruned postures carry over
    verbatim:

    - PARTITION PRUNING: the batch's distinct gbucket values — bounded
      by the index's prune_buckets CONSTANT, the only driver-side
      collect — become an isin PartitionFilter on the stored scan, so
      the probe term is proportional to the arriving shard, not the
      corpus. ``plan_tap`` receives each batch's executed plan so tests
      can assert the filter materialized.
    - APPEND-WHILE-STREAMING: each batch re-reads the manifest (one
      JSON stat, no Spark work) and re-derives the newest-wins live map
      only when max_seg moved — a concurrent append_gram_index becomes
      visible at the next batch boundary; single-segment indexes skip
      resolution entirely.
    - GEOMETRY PINNING: an explicit ``span`` that disagrees with the
      manifest raises (grams of different spans never match — the gate
      would silently admit everything).

    SINK CONTRACT: each batch= directory is internally consistent and
    carries one TOMBSTONE row (run_idx = -1, n_toks = 0) per processed
    doc — the presence marker that lets newest-epoch-wins retire a
    re-arrived doc's older runs even when its new text was FULLY
    rejected (zero surviving runs). The raw sink is a MULTISET across
    epochs; the read-back returned here resolves each doc to its last
    epoch (the index's own re-arrival semantics) and drops tombstones.
    A deployment consuming ``sink_path`` directly owns that resolution.
    ``checkpoint_path`` resumes from the source frontier.

    WITHIN-BATCH RE-ARRIVAL: a file source with no version column can
    deliver TWO versions of one doc in a single micro-batch (old and
    new file both unprocessed at stream start). Gating both would merge
    match positions computed against different token arrays into one
    per-doc set — corrupting BOTH versions' runs — so the gate first
    resolves each id to ONE deterministically-chosen version per batch
    (greatest non-id column tuple; with a real version column upstream,
    pre-resolve before the gate). Cross-batch re-arrivals resolve by
    epoch as documented above.

    SNAPSHOT ISOLATION: each batch bounds its stored scans to
    ``seg <= max_seg`` as of its OWN manifest read, so a concurrent
    append landing mid-batch cannot be half-seen — including the
    0 -> 1 transition, where the fast path would otherwise read
    freshly-appended rows with no live join and expose both versions
    of a re-arrived doc (segments.snapshot_seg's contract).
    """
    from ..operators import gram_index
    from ..operators.textops import survivor_runs

    man = segments.read_manifest(index_path, gram_index.MANIFEST)
    if span is not None and span != man["span"]:
        raise ValueError(
            f"span={span} disagrees with the stored index's manifest "
            f"(span={man['span']}) — the gate must shingle the arriving "
            "side with the index's own geometry"
        )
    span = man["span"]
    prune_buckets = man["prune_buckets"]
    id_col = man["id_col"]
    spark = incoming.sparkSession

    # doc-sized live table (never the corpus-sized grams), bounded to
    # each snapshot's COMMITTED seg and cached on segments.snapshot_key
    # (see the band gate: max_seg moves at reservation time, and a
    # compaction can make a committed number recur); mechanics shared
    # with the band gate
    live_cache, live_close = segments.live_snapshot_cache(
        lambda b: segments.live_map(spark, gram_index.LAYOUT, index_path, man, b)
    )
    live_cache(segments.snapshot_key(man), segments.snapshot_seg(man))

    from ..functions import text as text_fns

    def gate(batch_df: DataFrame, epoch_id: int) -> None:
        bman = segments.read_manifest(index_path, gram_index.MANIFEST)
        bound = segments.snapshot_seg(bman)
        # within-batch version resolution (see docstring): one
        # deterministic row per id before any gating
        others = [c for c in batch_df.columns if c != id_col]
        batch_df = batch_df.groupBy(id_col).agg(
            F.max(F.struct(*others)).alias("_v")
        ).select(id_col, *[F.col(f"_v.{c}").alias(c) for c in others])
        # tokenize ONCE: the probe grams and the survivor-fold base
        # share this projection
        toks_df = batch_df.select(
            id_col, text_fns.tokens("text").alias("toks")
        ).localCheckpoint()
        # (measured: dropping this checkpoint and recomputing per
        # consumer is SLOWER at micro-batch sizes — 2.6-3.0 s vs
        # 2.4-2.6 s gate wall)
        probe = gram_index.doc_grams(
            toks_df, span, id_col=id_col, with_pos=True, tokenized=True
        ).withColumn(
            "gbucket",
            F.pmod(F.xxhash64("g"), F.lit(prune_buckets)).cast("int"),
        )
        # the only driver-side collect, bounded by prune_buckets
        gb = [r[0] for r in probe.select("gbucket").distinct().collect()]
        stored = segments.scan(
            spark, gram_index.LAYOUT, index_path, "grams", bound
        ).where(F.col("gbucket").isin(gb))
        live = live_cache(segments.snapshot_key(bman), bound)
        if live is not None:  # stale segments drop out
            stored = stored.join(live, [id_col, "seg"])
        hits = (
            probe.drop("gbucket")
            .join(stored.select("g"), "g", "left_semi")
            .groupBy(id_col)
            .agg(F.collect_set("i").alias("mpos"))
        )
        base = toks_df.join(hits, id_col, "left")
        runs = survivor_runs(base, span=span, id_col=id_col)
        # one TOMBSTONE row (run_idx = -1) per processed doc per epoch:
        # a re-arrival that is FULLY rejected emits zero runs, and
        # without a presence marker the read-back's newest-epoch-wins
        # could not distinguish "doc not in this batch" from "doc
        # re-arrived and nothing survived" — the old epoch's runs would
        # wrongly win. Filtered out after resolution.
        marks = base.select(
            id_col,
            F.lit(-1).cast("long").alias("run_idx"),
            F.lit(0).cast("long").alias("n_toks"),
            F.lit(None).cast("string").alias("run_md5"),
        )
        out = runs.unionByName(marks).withColumn(
            # epoch written INTO the rows (not a partition dir to be
            # re-inferred): the read-back's newest-epoch-wins resolution
            # must not depend on partition-discovery interplay with an
            # explicit schema
            "epoch",
            F.lit(epoch_id).cast("long"),
        )
        if plan_tap is not None:
            plan_tap.append(
                out._jdf.queryExecution().executedPlan().toString()
            )
        out.write.mode("overwrite").parquet(f"{sink_path}/batch={epoch_id}")

    writer = incoming.writeStream.foreachBatch(gate).queryName(query_name)
    if checkpoint_path is not None:
        writer = writer.option("checkpointLocation", checkpoint_path)
    # scope shuffle partitions to batch volume around the stream's
    # lifetime (the _run_available_now posture): each micro-batch runs
    # several shuffles (probe distinct, hits aggregate, sink write) on
    # shard-sized data, and 32-way exchanges on a few-hundred-doc batch
    # are pure task-scheduling overhead
    try:
        _await_available_now(spark, writer, {"spark.sql.shuffle.partitions": "8"})
    finally:
        live_close()  # the stream owns its snapshots
    run_schema = T.StructType(
        [
            T.StructField(id_col, incoming.schema[id_col].dataType),
            T.StructField("run_idx", T.LongType()),
            T.StructField("n_toks", T.LongType()),
            T.StructField("run_md5", T.StringType()),
            T.StructField("epoch", T.LongType()),
        ]
    )
    out_cols = [id_col, "run_idx", "n_toks", "run_md5"]
    try:
        sink = spark.read.schema(run_schema).parquet(sink_path)
        sink.head(1)
    except AnalysisException:  # zero batches arrived: no sink directory
        return spark.createDataFrame([], run_schema).select(out_cols)
    # newest-epoch-wins per doc (the re-arrival contract, matching the
    # index's own resolution) — one doc-cardinality aggregate + equi-join
    # over ALL rows including tombstones (so a fully-rejected re-arrival
    # retires its older runs), then the tombstones drop out
    latest = sink.groupBy(id_col).agg(F.max("epoch").alias("epoch"))
    return (
        sink.join(latest, [id_col, "epoch"])
        .where(F.col("run_idx") >= 0)
        .select(out_cols)
    )


def streaming_delta_impact(
    incoming: DataFrame,
    index_path: str,
    query_name: str,
    sink_path: str,
    checkpoint_path: str | None = None,
) -> DataFrame:
    """Streaming twin of the O(|delta|) delta-impact report (r12 —
    completes the production ingest loop's streaming story: the gate
    cuts known text, THIS answers "may this batch merge without a
    recompute?" at the same micro-batch cadence). Each batch of
    arriving documents runs gram_index.stolen_first_occurrences against
    the stored with_first index — the gbucket-pruned, broadcast-joined
    O(|batch|) core, with the manifest re-read per batch inside it so a
    concurrent append becomes visible at the next batch boundary — and
    the folded per-affected-doc report lands in a per-epoch parquet
    sink (idempotent overwrite under batch retry; nothing row-sized
    crosses the driver).

    SEMANTICS ACROSS BATCHES: each epoch's report answers ITS batch's
    merge question against the index AS OF that batch — reports from
    different epochs are answers to different questions, so the
    read-back returned here is the LATEST epoch's report whole (the
    current batch's pre-merge answer), never a per-doc merge across
    epochs (affected corpus docs recur across unrelated batches; mixing
    epochs would blend answers to different deltas). A deployment
    consuming ``sink_path`` directly gets every epoch, labeled.

    WITHIN-BATCH RE-ARRIVAL: same hazard and remedy as the gate — a
    file source can deliver two versions of one doc in a single batch;
    both would contribute packed minima computed against different
    token arrays, so each id is first resolved to one deterministic
    version per batch (greatest non-id column tuple).

    Empty batches still write their (empty) epoch dir: "the latest
    batch steals nothing" is a real answer, and skipping it would make
    the read-back resurrect a STALE epoch's report. That covers BOTH
    empty shapes (r13, ADVICE r12): a fired batch with zero rows writes
    its dir inside ``impact``, and an availableNow run that finds
    NOTHING new (a checkpointed restart with no new files — foreachBatch
    is never invoked at all then) writes a SENTINEL empty epoch after
    termination, one above the sink's max, so the read-back answers
    "this run steals nothing" instead of resurrecting the previous
    run's report. A first run over an empty source stays empty-frame
    (no sink dir exists and there is no stale answer to shadow)."""
    from ..operators import gram_index
    from ..operators.textops import delta_report_fold

    man = segments.read_manifest(index_path, gram_index.MANIFEST)
    span = man["span"]
    id_col = man["id_col"]
    spark = incoming.sparkSession
    fired = {"n": 0}

    def impact(batch_df: DataFrame, epoch_id: int) -> None:
        fired["n"] += 1
        others = [c for c in batch_df.columns if c != id_col]
        batch_df = (
            batch_df.groupBy(id_col)
            .agg(F.max(F.struct(*others)).alias("_v"))
            .select(id_col, *[F.col(f"_v.{c}").alias(c) for c in others])
        )
        stolen = gram_index.stolen_first_occurrences(
            spark, index_path, batch_df
        )
        report = delta_report_fold(stolen, span, id_col=id_col).withColumn(
            "epoch", F.lit(epoch_id).cast("long")
        )
        report.write.mode("overwrite").parquet(f"{sink_path}/batch={epoch_id}")

    writer = incoming.writeStream.foreachBatch(impact).queryName(query_name)
    if checkpoint_path is not None:
        writer = writer.option("checkpointLocation", checkpoint_path)
    _await_available_now(spark, writer, {"spark.sql.shuffle.partitions": "8"})
    # the report's id is ALWAYS BIGINT — unlike the gate (whose runs
    # carry the incoming dtype through, the r9 int32 lesson), the
    # report's ids round-trip the 21-bit packing (shiftright on the
    # packed long), so an int32-id corpus still yields long ids here,
    # exactly as the batch forms' oracles CAST to BIGINT
    report_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("n_stolen_grams", T.LongType()),
            T.StructField("n_new_dup_tokens", T.LongType()),
            T.StructField("epoch", T.LongType()),
        ]
    )
    out_cols = [id_col, "n_stolen_grams", "n_new_dup_tokens"]
    # The latest epoch is resolved from the sink's DIRECTORY names, not
    # from row values (r13, ADVICE r12 — and the deeper bug behind it):
    # an epoch whose report is EMPTY writes a zero-row dir, and a
    # row-valued max(epoch) cannot see it, so both a fired-but-empty
    # batch and the no-batch sentinel would silently resurrect the
    # previous epoch's rows — the exact staleness the per-epoch
    # contract forbids. "batch=<n>" is this sink's own layout, listed
    # driver-side at epoch cardinality (bounded: one entry per
    # availableNow run, compacted trivially by deleting old dirs).
    import re

    def _epochs() -> list[int]:
        try:
            names = os.listdir(sink_path)
        except OSError:
            return []
        return [
            int(m.group(1))
            for n in names
            if (m := re.fullmatch(r"batch=(\d+)", n))
        ]

    epochs = _epochs()
    if not epochs:  # zero batches EVER: no sink directory, no stale
        return spark.createDataFrame([], report_schema).select(out_cols)

    # Sentinel ids live in the SINK's sequence (dir-max + 1) while real
    # epochs live in Spark's CHECKPOINTED batchId sequence, which does
    # not advance on no-data runs — so a sentinel written at dir-max+1
    # can sit AHEAD of the next real batch's id and would shadow its
    # report forever (two no-data runs, then data: the real batch lands
    # at id 1 while the stale "steals nothing" sentinel sits at 2).
    # Sentinel dirs therefore carry an underscore marker file (invisible
    # to parquet/hive readers), and any run that FIRES a real batch
    # deletes every surviving sentinel on the way out: a sentinel
    # answers "nothing new as of run X", and the moment a newer real
    # answer exists that question is obsolete. A sentinel overwritten
    # in place by a real batch at the same id loses its marker with the
    # dir (mode=overwrite), so it is never misclassified.
    def _is_sentinel(n: int) -> bool:
        return os.path.exists(
            os.path.join(sink_path, f"batch={n}", "_sentinel")
        )

    if fired["n"] == 0:
        # an availableNow run with NOTHING new never invokes
        # foreachBatch (a checkpointed restart with no new files), so
        # this run must publish its own "steals nothing" answer: a
        # SENTINEL empty epoch one above the sink's max. Idempotent
        # like every epoch dir; dir-based resolution makes it (and any
        # fired-but-empty epoch) actually shadow the older reports.
        nxt = max(epochs) + 1
        spark.createDataFrame([], report_schema).write.mode(
            "overwrite"
        ).parquet(f"{sink_path}/batch={nxt}")
        open(
            os.path.join(sink_path, f"batch={nxt}", "_sentinel"), "w"
        ).close()
        epochs.append(nxt)
    else:
        import shutil as _shutil

        stale = [n for n in epochs if _is_sentinel(n)]
        for n in stale:
            _shutil.rmtree(
                os.path.join(sink_path, f"batch={n}"), ignore_errors=True
            )
        epochs = [n for n in epochs if n not in stale]
        # fired > 0 wrote at least one REAL epoch dir this run, so the
        # survivor set is never empty
    return (
        spark.read.schema(report_schema)
        .parquet(f"{sink_path}/batch={max(epochs)}")
        .select(out_cols)
        .orderBy(id_col)
    )
