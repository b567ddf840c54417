"""Text-analysis operators over a document corpus: token counting, quality
scoring (LLM-training-pipeline surface).

All codegen column expressions from functions.text — a 100 TB corpus scan
stays in WholeStageCodegen with zero Python round-trips.
"""

from __future__ import annotations

import threading

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.text import quality_metrics, token_count


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    min_tokens: int = 10,
    min_alpha_ratio: float = 0.5,
    max_avg_token_len: float = 20.0,
) -> DataFrame:
    """Keep documents passing basic quality gates (C4-style heuristics)."""
    qm = quality_metrics(text_col)
    return df.where(
        (qm["n_tokens"] >= min_tokens)
        & (qm["alpha_ratio"] >= min_alpha_ratio)
        & (qm["avg_token_len"] <= max_avg_token_len)
    )


def token_histogram(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus token-frequency table (partial+final hash agg after explode).
    At scale: this is the classic wordcount shuffle — AQE coalesces, and a
    ``.repartition(token)`` pre-write gives a bucketed vocabulary table."""
    from ..functions.text import tokens

    return (
        df.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )


def token_count_stats(df: DataFrame, group_col: str, text_col: str = "text") -> DataFrame:
    """Per-group token-count distribution (sum/avg/min/max)."""
    n = token_count(text_col)
    return (
        df.select(F.col(group_col).alias("grp"), n.alias("n"))
        .groupBy("grp")
        .agg(
            F.count("*").alias("docs"),
            F.sum("n").cast("long").alias("total_tokens"),
            (F.sum("n").cast("double") / F.count("*").cast("double")).alias("avg_tokens"),
            F.min("n").cast("long").alias("min_tokens"),
            F.max("n").cast("long").alias("max_tokens"),
        )
    )


def passage_dedup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    passage_tokens: int = 16,
) -> DataFrame:
    """Exact passage-level dedup (the passage-granularity approximation
    of RefinedWeb/Falcon-style exact substring dedup): split each doc
    into fixed ``passage_tokens``-token passages, keep only the FIRST
    corpus occurrence of each passage (lexicographic (doc, position)
    owner), report per-doc (n_passages, n_kept).

    Scale shape: passages are built inside codegen (sequence+transform
    +slice+array_join — no UDF, no pre-explode blowup beyond the chunk
    rows themselves), the keep-first rule is ONE groupBy at passage
    cardinality (uniform content-hash keys, no skew), and ownership
    flows back through an equi-join on the passage key. Shuffle volume =
    passage strings; at 100 TB substitute xxhash64(passage) as the join
    key to shuffle 8 bytes instead of text (kept textual here so the
    DuckDB oracle mirrors byte-for-byte).

    Edge cases pinned by tests: a zero-token doc yields NO passages
    (``F.sequence(0, -1)`` would auto-step down and fabricate two
    phantom chunks, so the chunk list is NULL-guarded and the doc drops
    out of the result, matching the oracle's empty ``range(0, 0)``);
    ownership is the lexicographic ``min(struct(doc_id, chunk_idx))``,
    not an arithmetic ``doc_id*1e6+idx`` packing, so docs with >=1M
    passages or 2^63-scale ids cannot collide/misorder the winner."""
    from ..functions.text import tokens

    toks = df.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("t"))
    n_chunks = F.ceil(F.size("t") / F.lit(passage_tokens)).cast("int")
    # posexplode drops NULL arrays, so empty docs emit zero passages
    chunk_list = F.when(
        n_chunks > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(
                F.slice(
                    F.col("t"),
                    i * passage_tokens + 1,
                    passage_tokens,
                ),
                " ",
            ),
        ),
    )
    passages = toks.select(
        "doc_id",
        F.posexplode(chunk_list).alias("chunk_idx", "passage"),
    )
    keyed = passages.withColumn("okey", F.struct("doc_id", "chunk_idx"))
    owners = keyed.groupBy("passage").agg(F.min("okey").alias("owner_key"))
    return (
        keyed.join(owners, "passage")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_passages"),
            F.sum(
                F.when(F.col("okey") == F.col("owner_key"), 1).otherwise(0)
            ).cast("long").alias("n_kept"),
        )
        .orderBy("doc_id")
    )


def boilerplate_removal(
    df: DataFrame,
    id_col: str = "doc_id",
    lines_col: str = "lines",
    min_docs: int = 3,
) -> DataFrame:
    """Corpus-wide boilerplate line removal (the C4/CCNet cleanup pass:
    drop every line that appears verbatim in >= ``min_docs`` DISTINCT
    documents — nav bars, cookie banners, license footers).

    ``lines_col`` is an ``array<string>`` of the document's lines (the
    caller decides what a "line" is — newline split for web text,
    fixed-token segments for unstructured corpora). Output one row per
    input doc — INCLUDING docs whose array is empty or NULL, which emit
    (n_lines=0, n_removed=0, cleaned='') via the posexplode_outer
    placeholder row (ADVICE r5) — with ``cleaned`` the surviving lines
    re-joined in original order (empty string when everything was
    boilerplate — the doc row is kept so downstream filters see the
    removal, matching C4's drop-then-length-filter). NULL elements
    INSIDE a lines array are dropped: they don't count toward n_lines
    and never appear in cleaned.

    Scale shape: one posexplode -> one line-keyed count-distinct
    aggregate -> one equi-join back -> one doc-keyed aggregate. The
    boilerplate side is (lines above threshold) — tiny relative to the
    corpus, so AQE broadcasts the join; the line shuffle key at 100 TB
    should be ``xxhash64(line)`` (8 bytes vs the text — kept textual
    here so the DuckDB oracle mirrors byte-for-byte). collect_list skips
    the NULLs the boilerplate flag produces, so reassembly is one
    conditional aggregate, and array_sort on (line_no) restores order
    deterministically regardless of shuffle arrival.

    posexplode_OUTER + null filter, not plain posexplode: the non-outer
    Generate plants an implicit ``size(lines) > 0`` pre-filter that
    duplicates the caller's whole line-construction expression tree —
    for a lambda-built lines column (higher-order functions run
    interpreted, outside codegen) that re-tokenizes every document
    (bench r5: 3.9 s -> 0.6 s at sf0.1 from this + the persist)."""
    ex = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode_outer(lines_col).alias("line_no", "line"),
    )
    return boilerplate_removal_exploded(ex, min_docs)


# At most ONE exploded relation stays pinned: each invocation releases
# the previous call's cache (unpersist is safe mid-use — consumers just
# recompute), so repeated registry/bench runs can't accumulate pinned
# executor storage for the session's lifetime (ADVICE r5). The swap is
# lock-guarded (ADVICE r6): a threaded bench/driver running two
# boilerplate-family queries concurrently must not interleave the
# pop/unpersist/append triple — the worst case is now a concurrent
# query losing its cache and RECOMPUTING (correct, slower), never a
# leaked pin or a double-unpersist.
_persisted_exploded: list = []
_persisted_lock = threading.Lock()


def boilerplate_removal_exploded(ex: DataFrame, min_docs: int = 3) -> DataFrame:
    """Core of boilerplate_removal over pre-exploded (doc_id, line_no,
    line) rows — callers that can produce exploded lines cheaply (e.g.
    posexplode of token chunks, string-joining AFTER the explode so the
    join is plain codegen, not a per-doc lambda) skip the array
    round-trip entirely. NULL ``line`` rows (posexplode_outer
    placeholders for empty docs, or NULL array elements) flow through:
    they keep the doc's output row but count 0 toward n_lines and never
    join the boilerplate set (NULL keys don't equi-join)."""
    # persist: BOTH the boilerplate-set aggregate and the flag join scan
    # ex; without it the explode (and everything under it) executes
    # twice per action. Slim rows; LRU evicts under pressure.
    ex = ex.persist()
    with _persisted_lock:
        prev, _persisted_exploded[:] = _persisted_exploded[:], [ex]
    for p in prev:
        p.unpersist()
    boiler = (
        ex.where(F.col("line").isNotNull())
        .groupBy("line")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("line", F.lit(True).alias("_boiler"))
    )
    flagged = ex.join(boiler, "line", "left")
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("line").alias("n_lines"),
            F.coalesce(F.sum(F.when(F.col("_boiler"), 1)), F.lit(0)).alias(
                "n_removed"
            ),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_boiler").isNull()
                                & F.col("line").isNotNull(),
                                F.struct("line_no", "line"),
                            )
                        )
                    ),
                    lambda s: s["line"],
                ),
                " ",
            ).alias("cleaned"),
        )
    )


# ------------------------------------------------------------------ BPE ---


def word_frequencies(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over the tokenized corpus — the classic BPE trainer
    input. One explode + one groupBy; output is vocabulary-sized."""
    from ..functions.text import tokens

    return (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def bpe_pair_counts(words: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts weighted by word frequency, from a
    (word, freq, symbols array<string>) DataFrame (``symbols`` defaults
    to the word's characters when absent). Pure codegen: per-word pair
    enumeration is a transform over an index sequence; the only shuffle
    is the pair-keyed sum, whose cardinality is bounded by the symbol
    alphabet squared, never the corpus."""
    if "symbols" not in words.columns:
        words = words.withColumn("symbols", F.split("word", ""))
    s = F.col("symbols")
    pairs = words.select(
        "freq",
        F.explode(
            F.when(
                F.size(s) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(s) - 1),
                    lambda i: F.struct(
                        F.element_at(s, i).alias("a"),
                        F.element_at(s, i + 1).alias("b"),
                    ),
                ),
            )
        ).alias("pair"),
    )
    return pairs.groupBy(
        F.col("pair.a").alias("a"), F.col("pair.b").alias("b")
    ).agg(F.sum("freq").alias("cnt"))


def _merge_pair_expr(s, a: str, b: str):
    """Greedy left-to-right merge of adjacent (a, b) into a+b inside a
    symbol array — one aggregate fold, stays in codegen. Greedy-left is
    the textbook BPE apply order: after 'aa' merges in 'aaa', the tail
    'a' cannot re-pair with the merged head."""
    merged = F.lit(a + b)
    return F.aggregate(
        s,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 10,
    checkpoint_every: int = 4,
) -> list[tuple[str, str]]:
    """Distributed BPE merge training (Sennrich et al. 2016 on
    DataFrames): iterate n_merges times over the vocabulary-sized
    (word, freq, symbols) table — count adjacent pairs, pick the
    (count desc, pair asc)-best, fold the merge into every word's symbol
    array. Returns the ordered merge list.

    Scale shape: the ITERATION state is the distinct-word table (output
    of one corpus-wide explode+groupBy, after which the corpus is never
    rescanned) — vocabulary-sized, millions of rows at 100 TB, not
    corpus-sized. Each iteration is one bounded-cardinality pair
    aggregate (driver takes exactly ONE row) + one codegen fold
    projection; lineage is truncated every ``checkpoint_every`` rounds
    exactly like dup_clusters' label propagation, so the plan never
    deepens past a constant."""
    words = word_frequencies(df, text_col).withColumn(
        "symbols", F.split("word", "")
    )
    merges: list[tuple[str, str]] = []
    for i in range(n_merges):
        top = (
            bpe_pair_counts(words)
            .orderBy(F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1)
            .collect()
        )
        if not top or top[0]["cnt"] is None:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        words = words.withColumn("symbols", _merge_pair_expr(F.col("symbols"), a, b))
        if (i + 1) % checkpoint_every == 0:
            words = words.localCheckpoint(eager=True)
    return merges


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoint_every: int = 8,
) -> DataFrame:
    """Apply a trained BPE merge list to a corpus — the other half of
    the tokenizer loop (train_bpe learns the merges; this encodes with
    them). Output one row per doc WITH AT LEAST ONE TOKEN (a doc whose
    text tokenizes to nothing has no encoding — it drops out, like every
    tokenize-then-explode pipeline here): (doc_id, n_words, n_tokens,
    pieces array<string>) with ``pieces`` the document's BPE symbols in
    original word order.

    Scale shape (the reason this is NOT a per-doc UDF): the merge fold
    runs over the DISTINCT-WORD table only — one corpus explode ->
    distinct (vocabulary-sized), then len(merges) codegen fold
    projections over that vocab frame with lineage checkpoints, exactly
    train_bpe's iteration state. The corpus itself is touched twice: the
    word explode and one word->pieces equi-join back (AQE broadcasts the
    encoded vocab while it fits, shuffles when an open vocab outgrows
    memory — no hint pinned), then one doc-keyed reassembly aggregate.
    Encoding cost is O(vocab x merges) + O(corpus), never
    O(corpus x merges)."""
    from ..functions.text import tokens

    ex = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(text_col)).alias("pos", "word"),
    )
    vocab = ex.select("word").distinct().withColumn("symbols", F.split("word", ""))
    for i, (a, b) in enumerate(merges):
        vocab = vocab.withColumn("symbols", _merge_pair_expr(F.col("symbols"), a, b))
        if (i + 1) % checkpoint_every == 0:
            vocab = vocab.localCheckpoint(eager=True)
    return (
        ex.join(vocab, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum(F.size("symbols")).alias("n_tokens"),
            F.flatten(
                F.array_sort(
                    F.collect_list(F.struct("pos", "symbols"))
                ).symbols
            ).alias("pieces"),
        )
    )


def compression_scores(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """zlib compression-ratio quality signal (the RefinedWeb/DataTrove
    heuristic: templated or repetitive text compresses far better than
    natural prose, so a LOW ratio flags low-information documents the
    n-gram repetition counters can miss). Emits (id, n_bytes,
    n_compressed, ratio) with ratio = n_compressed / n_bytes over exact
    integers.

    Physical shape: one Arrow-batched pandas UDF inside the scan stage —
    zlib is per-row CPU with zero state, so the stage is embarrassingly
    parallel and shuffle-free; level 6 (zlib default) pinned explicitly
    so scores are reproducible across environments. No SQL oracle is
    possible (DEFLATE in SQL); the driver records rows-only and the
    separation property is gated by compression_property_check."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def n_comp(texts):
        import zlib

        return texts.map(
            lambda t: len(zlib.compress((t or "").encode("utf-8"), 6))
        )

    n_bytes = F.octet_length(F.col(text_col))
    return (
        df.select(F.col(id_col), F.col(text_col))
        .where(n_bytes > 0)
        .select(
            id_col,
            n_bytes.cast("long").alias("n_bytes"),
            n_comp(F.col(text_col)).alias("n_compressed"),
        )
        .withColumn(
            "ratio",
            F.col("n_compressed").cast("double") / F.col("n_bytes").cast("double"),
        )
    )

def survivor_runs(
    base: DataFrame,
    span: int,
    min_run_tokens: int = 0,
    max_runs: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Shared split-document tail (decontam_split and
    exact_substring_dedup): given rows ``(id, toks, mpos)`` where
    ``mpos`` is the (nullable) set of matched 0-based gram STARTS and
    each start covers tokens ``m..m+span-1``, emit every contiguous
    surviving token run as ``(id, run_idx, n_toks, run_md5)``.
    ``id_col`` names the id column — the streaming gate threads the
    index manifest's pinned id through here.

    Run BOUNDS (token-index [s, e) pairs) in ONE aggregate fold over
    the position sequence. Single-reference discipline: higher-order
    functions run interpreted (no whole-stage codegen, so no common-
    subexpression elimination), and project-collapse INLINES an
    aliased array into every element_at that touches it — a
    breaks-array formulation that probes kept[j] and kept[j-1] per
    position re-evaluates the whole O(n*m) survivor filter per probe,
    O(n^2*m) per doc (measured: 7.7 s vs 0.55 s for the scrub twin at
    sf0.1). Here every upstream array is referenced exactly once per
    pass: mpos once inside the keep predicate, bounds once by the
    final transform, toks once across all md5 slices."""
    mpos = F.coalesce("mpos", F.array().cast("array<int>"))
    n = F.size("toks")
    empty_bounds = F.array().cast("array<struct<s:int,e:int>>")
    keep = lambda i: ~F.exists(  # noqa: E731
        mpos, lambda m: (i >= m) & (i <= m + (span - 1))
    )
    bounds = F.when(
        n > 0,
        F.aggregate(
            F.sequence(F.lit(0), n - 1),
            F.struct(
                empty_bounds.alias("bs"), F.lit(False).alias("open")
            ),
            lambda acc, i: F.when(
                ~keep(i),  # covered token: close any open run
                F.struct(acc["bs"].alias("bs"), F.lit(False).alias("open")),
            )
            .when(
                acc["open"],  # survivor extends the open run: bump e
                F.struct(
                    F.concat(
                        F.slice(acc["bs"], 1, F.size(acc["bs"]) - 1),
                        F.array(
                            F.struct(
                                F.element_at(acc["bs"], -1)["s"].alias("s"),
                                (i + 1).alias("e"),
                            )
                        ),
                    ).alias("bs"),
                    F.lit(True).alias("open"),
                ),
            )
            .otherwise(  # survivor opens a new run
                F.struct(
                    F.concat(
                        acc["bs"],
                        F.array(F.struct(i.alias("s"), (i + 1).alias("e"))),
                    ).alias("bs"),
                    F.lit(True).alias("open"),
                )
            ),
            lambda acc: acc["bs"],
        ),
    ).otherwise(empty_bounds)
    base = base.select(id_col, "toks", bounds.alias("bounds"))
    runs = F.transform(
        "bounds",
        lambda b, k: F.struct(
            k.cast("long").alias("run_idx"),  # ORIGINAL index: stable
            (b["e"] - b["s"]).cast("long").alias("n_toks"),  # under filters
            F.md5(
                F.array_join(F.slice("toks", b["s"] + 1, b["e"] - b["s"]), " ")
            ).alias("run_md5"),
        ),
    )
    out = base.select(id_col, runs.alias("runs"))
    if max_runs is not None:  # split count = contamination signal
        out = out.where(F.size("runs") <= max_runs)
    if min_run_tokens > 0:  # GPT-3's short-piece discard
        out = out.select(
            id_col,
            F.filter(
                "runs", lambda r: r["n_toks"] >= min_run_tokens
            ).alias("runs"),
        )
    # explode_OUTER + post-generate null filter, not plain explode
    # (r13): Catalyst's InferFiltersFromGenerate seats a
    # `size(runs) > 0 AND isnotnull(runs)` Filter BELOW a non-outer
    # Generate, and because the projections collapse, that filter
    # re-evaluates the entire interpreted bounds fold + md5 transform a
    # second time per document (observed as the 2,300-char Filter
    # condition in the before-plans). The rule skips outer generates, so
    # the fold runs ONCE; empty run arrays surface as a single null
    # element and the where() on the GENERATED column (not pushable
    # below the Generate) drops exactly the rows plain explode never
    # emitted — `runs` itself never contains nulls (transform always
    # yields structs), so the two forms are row-identical.
    return out.select(
        id_col, F.explode_outer("runs").alias("r")
    ).where(F.col("r").isNotNull()).select(
        id_col,
        F.col("r.run_idx").alias("run_idx"),
        F.col("r.n_toks").alias("n_toks"),
        F.col("r.run_md5").alias("run_md5"),
    )


def delta_report_fold(stolen: DataFrame, span: int, id_col: str = "doc_id") -> DataFrame:
    """Shared tail of the ExactSubstr delta-impact family (batch full
    pass, stored-index incremental, and the streaming twin): fold
    per-gram stolen first occurrences ``(id, i)`` into one row per
    affected doc — ``(id, n_stolen_grams, n_new_dup_tokens)``, the
    newly-duplicated token count as an interval union over the sorted
    start set (one doc-keyed aggregate at affected-doc cardinality,
    then a per-row array fold — no second exchange)."""
    per_doc = stolen.groupBy(id_col).agg(
        F.count("*").alias("n_stolen_grams"),
        F.sort_array(F.collect_set("i")).alias("starts"),
    )
    covered = F.aggregate(
        F.col("starts"),
        F.struct(F.lit(0).cast("long").alias("tot"), F.lit(0).alias("end")),
        lambda acc, s: F.struct(
            (
                acc["tot"]
                + F.greatest(F.lit(0), (s + span) - F.greatest(s, acc["end"]))
            ).alias("tot"),
            F.greatest(acc["end"], s + span).alias("end"),
        ),
        lambda acc: acc["tot"],
    )
    return per_doc.select(
        id_col,
        "n_stolen_grams",
        covered.alias("n_new_dup_tokens"),
    ).orderBy(id_col)
