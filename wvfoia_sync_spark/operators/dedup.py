"""Deduplication operators: exact, token-set Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup (LLM-training-pipeline surface).

Physical strategy per scale:
- exact: hash-groupBy on a sha256 fingerprint — one shuffle on a
  uniformly-distributed key (no skew by construction).
- pairwise Jaccard: only ever *within a bucket* (source, LSH band, ...).
  Unbucketed O(n^2) never runs at scale; the bucketed form is a self-join
  on the bucket key, so each task handles one bucket's pair block.
- MinHash+LSH: signature -> bands -> bucket self-join -> exact-Jaccard
  verify. The band join shuffles only (band, hash) pairs (~k rows per doc),
  not the corpus; candidate verification touches candidate pairs only.
- SimHash: one 32-bit signature per doc; near-dups collide on signature
  (optionally with rotations for Hamming-distance tolerance).

Arithmetic is kept inside [0, 2^31) with pmod so it is safe under Spark 4's
default ANSI mode (no silent 64-bit wraparound, no overflow errors).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ..functions.text import fingerprint, tokens

MERSENNE31 = 2147483647  # 2^31 - 1, prime


def with_fingerprint(df: DataFrame, text_col: str, out_col: str = "fingerprint") -> DataFrame:
    return df.withColumn(out_col, fingerprint(text_col))


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Fingerprint groups with >1 member: (fingerprint, dup_count, keep_id).
    keep_id = min id (deterministic survivor)."""
    return (
        with_fingerprint(df, text_col)
        .groupBy("fingerprint")
        .agg(
            F.count("*").alias("dup_count"),
            # no cast: keep_id keeps the id column's own type (string ids
            # would fail/NULL under a hardcoded long cast)
            F.min(id_col).alias("keep_id"),
        )
        .where(F.col("dup_count") > 1)
    )


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the min-id row per fingerprint (drop exact duplicates)."""
    fp = with_fingerprint(df, text_col)
    keep = fp.groupBy("fingerprint").agg(F.min(id_col).alias(id_col))
    return fp.join(keep, ["fingerprint", id_col], "left_semi").drop("fingerprint")


def source_dup_matrix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    source_col: str = "source",
) -> DataFrame:
    """Cross-source exact-duplicate audit matrix: for every unordered
    source pair (src_a <= src_b), the count of document pairs whose
    normalized fingerprints collide, plus that count as a rate over the
    pair capacity (n_a*n_b cross-source, C(n_a,2) within-source) — the
    "which sources copy from each other" report a mixture designer reads
    before weighting sources (and the reference's duplicate-entry audit
    generalized across feeds).

    Scale shape: one shuffle to (fingerprint, source) counts, then a
    fingerprint-keyed equi-join of that slim count table with itself —
    per-fingerprint groups hold at most one row per source (bounded by
    source cardinality, not document count), and pair counts come from
    combination arithmetic (c_a*c_b cross, C(c,2) within), so the
    duplicate doc-pair cross product is COUNTED, never formed: a
    fingerprint shared by 1M docs contributes arithmetic over a handful
    of count rows, not 5*10^11 join rows. The source-pair rollup and the
    per-source totals are dimension-sized (totals broadcast)."""
    per = (
        with_fingerprint(
            df.select(F.col(id_col), F.col(text_col), F.col(source_col)), text_col
        )
        .groupBy("fingerprint", source_col)
        .agg(F.count("*").alias("c"))
    )
    # Materialize the slim (fingerprint, source, c) counts ONCE (r13 opt,
    # same pattern as minhash_lsh_candidates / jaccard_pairs_bitset): the
    # self-join's broadcast side gets no exchange reuse, so without the
    # barrier the whole fingerprint subtree — regexp_replace + sha256
    # over full document text — EXECUTED TWICE, and the join's inferred
    # isnotnull(fingerprint) filters, pushed below the aggregate into the
    # scan, re-ran the sha256 chain a second time per document within
    # each execution (plans/r13/before/dup_rate_matrix.txt nodes (2),
    # (12); guide §2.4/§4.4). Both join sides and the totals now read
    # ~40-byte count rows; the corpus is scanned and fingerprinted once.
    per = per.localCheckpoint(eager=False)
    a = per.select(
        "fingerprint", F.col(source_col).alias("src_a"), F.col("c").alias("ca")
    )
    b = per.select(
        "fingerprint", F.col(source_col).alias("src_b"), F.col("c").alias("cb")
    )
    # `div`, not `/`: float division is lossy past 2^53 and the product of
    # two per-fingerprint counts can exceed it at corpus scale (always
    # even, so integer halving is exact)
    n = F.when(
        F.col("src_a") == F.col("src_b"), F.expr("ca * (ca - 1) div 2")
    ).otherwise(F.col("ca") * F.col("cb"))
    pairs = (
        a.join(b, "fingerprint")
        .where(F.col("src_a") <= F.col("src_b"))
        .select("src_a", "src_b", n.alias("n"))
        .where(F.col("n") > 0)
        .groupBy("src_a", "src_b")
        .agg(F.sum("n").cast("long").alias("dup_pairs"))
    )
    # per-source totals derive from the checkpointed counts instead of
    # two more raw scans: sum of per-(fingerprint, source) counts over a
    # source is exactly that source's document count (NULL-fingerprint
    # groups are counted here just like count(*) counted their docs; the
    # equi-join above drops them from PAIRS either way, matching the
    # inner-join-on-fingerprint semantics)
    tot = per.groupBy(source_col).agg(F.sum("c").cast("long").alias("n_docs"))
    ta = tot.select(F.col(source_col).alias("src_a"), F.col("n_docs").alias("na"))
    tb = tot.select(F.col(source_col).alias("src_b"), F.col("n_docs").alias("nb"))
    cap = F.when(
        F.col("src_a") == F.col("src_b"), F.expr("na * (na - 1) div 2")
    ).otherwise(F.col("na") * F.col("nb"))
    # dup_rate divides two exact integers — bit-identical cross-engine
    # (registry determinism rule: ratios divide exact integers)
    return (
        pairs.join(F.broadcast(ta), "src_a")
        .join(F.broadcast(tb), "src_b")
        .select(
            "src_a",
            "src_b",
            "dup_pairs",
            (F.col("dup_pairs").cast("double") / cap.cast("double")).alias(
                "dup_rate"
            ),
        )
    )


# ------------------------------------------------------- token Jaccard ---


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bucket_col: str,
    threshold: float,
) -> DataFrame:
    """Exact token-set Jaccard over pairs *within a bucket* (a < b).

    Jaccard = |A ∩ B| / (|A| + |B| - |A ∩ B|) — integer counts, so the
    double division is bit-deterministic (oracle-safe)."""
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(bucket_col).alias("bucket"),
        F.array_distinct(tokens(text_col)).alias("toks"),
    ).withColumn("n", F.size("toks"))
    a = base.select(
        F.col("id").alias("id_a"), "bucket", F.col("toks").alias("toks_a"),
        F.col("n").alias("n_a"),
    )
    b = base.select(
        F.col("id").alias("id_b"), "bucket", F.col("toks").alias("toks_b"),
        F.col("n").alias("n_b"),
    )
    # size-ratio prune BEFORE the expensive intersect: J(A,B) <= min/max
    # (I <= min, union >= max), so min/max < t implies J < t — exact.
    ratio_ok = (
        F.least("n_a", "n_b").cast("double")
        >= F.lit(threshold) * F.greatest("n_a", "n_b").cast("double")
    )
    inter = F.size(F.array_intersect(F.col("toks_a"), F.col("toks_b")))
    union = F.col("n_a") + F.col("n_b") - inter
    jac = inter.cast("double") / union.cast("double")
    return (
        a.join(b, "bucket")
        .where((F.col("id_a") < F.col("id_b")) & ratio_ok)
        .select("id_a", "id_b", jac.alias("jaccard"))
        .where((F.col("jaccard") >= F.lit(threshold)) & (union > 0))
    )


def jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bucket_col: str,
    threshold: float,
) -> DataFrame:
    """Exact Jaccard pairs via PREFIX FILTERING (SSJoin / PPJoin family):
    identical result set to :func:`jaccard_pairs`, without enumerating the
    O(n^2) within-bucket cross product.

    Principle: order every token set by a global total order (ascending
    document frequency, rarest first; ties by token). If J(A,B) >= t then
    |A∩B| >= ceil(t*|A|) and >= ceil(t*|B|), so A and B MUST share at
    least one token inside their (|x| - ceil(t*|x|) + 1)-prefixes — any
    pair sharing no prefix token is provably below threshold. Candidate
    generation is therefore an equi-join on (bucket, prefix_token); the
    exact intersect runs on surviving candidates only.

    Scale shape: three narrow shuffles over exploded tokens (doc-frequency
    agg, frequency-sort regroup, candidate join) — each O(total tokens) —
    replacing an O(n^2 per bucket) pair scan. Rarest-first ordering makes
    prefix tokens near-unique, so candidate blocks stay tiny even when a
    bucket holds millions of docs; frequency skew lands in the SUFFIX,
    never in the join key.
    """
    base = (
        df.select(
            F.col(id_col).alias("id"),
            F.col(bucket_col).alias("bucket"),
            F.array_distinct(tokens(text_col)).alias("toks"),
        )
        .withColumn("n", F.size("toks"))
        .where(F.col("n") > 0)
    )
    tok = base.select("id", "bucket", F.explode("toks").alias("tok"))
    dfreq = tok.groupBy("tok").agg(F.count("*").alias("df"))
    # re-assemble each doc's tokens rarest-first; keep the full sorted
    # array (verify stage reuses it — intersect is order-agnostic)
    prefix_len = (
        F.col("n") - F.ceil(F.lit(threshold) * F.col("n")).cast("int") + 1
    )
    ranked = (
        tok.join(dfreq, "tok")
        .groupBy("id", "bucket")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("df", "tok"))),
                lambda s: s["tok"],
            ).alias("toks")
        )
        .withColumn("n", F.size("toks"))
        .withColumn("prefix", F.slice("toks", 1, prefix_len))
    )
    # candidate phase shuffles SLIM rows (id, n, one prefix token) — the
    # token arrays stay out of the explode and rejoin only for survivors
    slim = lambda s: ranked.select(  # noqa: E731
        F.col("id").alias(f"id_{s}"),
        "bucket",
        F.col("n").alias(f"n_{s}"),
        F.explode("prefix").alias("ptok"),
    )
    ratio_ok = (
        F.least("n_a", "n_b").cast("double")
        >= F.lit(threshold) * F.greatest("n_a", "n_b").cast("double")
    )
    cand = (
        slim("a")
        .join(slim("b"), ["bucket", "ptok"])
        .where((F.col("id_a") < F.col("id_b")) & ratio_ok)
        .select("id_a", "id_b", "n_a", "n_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    arrs = ranked.select("id", "toks")
    cand = cand.join(
        arrs.select(F.col("id").alias("id_a"), F.col("toks").alias("toks_a")), "id_a"
    ).join(
        arrs.select(F.col("id").alias("id_b"), F.col("toks").alias("toks_b")), "id_b"
    )
    inter = F.size(F.array_intersect(F.col("toks_a"), F.col("toks_b")))
    union = F.col("n_a") + F.col("n_b") - inter
    jac = inter.cast("double") / union.cast("double")
    return cand.select("id_a", "id_b", jac.alias("jaccard")).where(
        (F.col("jaccard") >= F.lit(threshold)) & (union > 0)
    )


# Per-process memo of the bitset dictionary (r14): the sorted distinct
# vocabulary of a dataset's text column is a fixture INPUT — a
# deterministic pure function of the table, like registry._TRAINED's
# centroids/codebooks/quantization stats — yet every jaccard-family
# query re-derived it with a full tokenize+distinct+collect job (~0.9 s
# at sf0.1). Keyed by the caller-supplied dataset identity + the column
# and cap that define it; each process still derives it from parquet
# once, inside a timed query. Stores False when the sweep bailed
# (vocab > max_vocab) so the bail-out is memoized too.
_VOCAB_MEMO: dict[tuple, list | bool] = {}


def jaccard_pairs_bitset(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bucket_col: str,
    threshold: float,
    max_vocab: int = 4096,
    vocab_key: str | None = None,
) -> DataFrame:
    """Exact Jaccard pairs via DICTIONARY-ENCODED BITSETS — identical
    result set to :func:`jaccard_pairs`, for corpora whose distinct-token
    vocabulary is small enough to dictionary-encode (templated/structured
    text, categorical tag sets, k-mer alphabets).

    Each token set becomes a fixed-width bitset (token -> stable dense id
    -> bit): |A∩B| = popcount(A AND B) — integer-exact, no hashing, full
    whole-stage codegen. vs the array form this shuffles W*8 bytes per doc
    instead of the string array (~40x smaller here) and replaces per-pair
    hash-set intersection with word-wide AND+POPCNT.

    Returns None when the vocabulary exceeds ``max_vocab`` (caller falls
    back to prefix filtering) — the dictionary is collected to the driver
    and baked into the plan as a literal map, the same small-dimension
    broadcast pattern as the corrections overlay.
    """
    base = (
        df.select(
            F.col(id_col).alias("id"),
            F.col(bucket_col).alias("bucket"),
            F.array_distinct(tokens(text_col)).alias("toks"),
        )
        .where(F.size("toks") > 0)
    )
    # vocabulary sweep: one distinct over exploded tokens (at 100 TB this
    # is the adaptive stats-gathering step; bail out early if too large).
    # Memoized per (process, dataset identity) when the caller supplies
    # one — see _VOCAB_MEMO; correctness requires the key to name the
    # exact input, so only the registry queries (whole-table scans keyed
    # by sf_dir) pass it.
    memo_key = (
        ("jaccard_vocab", vocab_key, text_col, max_vocab)
        if vocab_key is not None
        else None
    )
    cached = _VOCAB_MEMO.get(memo_key) if memo_key is not None else None
    if cached is False:
        return None
    if cached is not None:
        vlist = cached
    else:
        vocab_rows = (
            base.select(F.explode("toks").alias("tok"))
            .distinct()
            .limit(max_vocab + 1)
            .collect()
        )
        if len(vocab_rows) > max_vocab:
            if memo_key is not None:
                _VOCAB_MEMO[memo_key] = False
            return None
        vlist = sorted(r.tok for r in vocab_rows)
        if memo_key is not None:
            _VOCAB_MEMO[memo_key] = vlist
    nwords = (len(vlist) + 63) // 64
    tid_map = F.create_map(
        *[c for i, t in enumerate(vlist) for c in (F.lit(t), F.lit(i))]
    )
    tids = F.transform("toks", lambda t: F.element_at(tid_map, t))
    if nwords == 1:
        # single-word fast path: plain LONG column, pure codegen
        bits = F.aggregate(
            tids,
            F.lit(0).cast("long"),
            lambda acc, t: acc.bitwiseOR(F.call_function("shiftleft", F.lit(1).cast("long"), t)),
        )
        enc = base.select("id", "bucket", bits.alias("w0"), F.size("toks").alias("n"))
        inter = F.bit_count(F.col("w0_a").bitwiseAND(F.col("w0_b")))
        wcols = ["w0"]
    else:
        words = F.transform(
            F.sequence(F.lit(0), F.lit(nwords - 1)),
            lambda w: F.aggregate(
                tids,
                F.lit(0).cast("long"),
                lambda acc, t: F.when(
                    (t / 64).cast("int") == w,
                    acc.bitwiseOR(
                        F.call_function("shiftleft", F.lit(1).cast("long"), t % 64)
                    ),
                ).otherwise(acc),
            ),
        )
        enc = base.select(
            "id", "bucket", words.alias("w"), F.size("toks").alias("n")
        )
        inter = F.aggregate(
            F.zip_with("w_a", "w_b", lambda x, y: x.bitwiseAND(y)),
            F.lit(0),
            lambda acc, x: acc + F.bit_count(x),
        )
        wcols = ["w"]
    # Checkpoint the encoded frame before the self-join (r13, same
    # pattern as minhash_lsh_candidates): without the barrier each join
    # side replans the full tokenize+bitset subtree (two executions),
    # and the join's inferred IsNotNull(bitset)/size-guard constraints
    # push below the projection, re-deriving the tokenize chain up to
    # three times per row inside the pushed Filter (measured in the
    # before-plan: tokenize x3 + fold x2 per side). Materialized blocks
    # are scanned by both sides; filters above an RDD scan evaluate
    # ready columns instead.
    enc = enc.localCheckpoint(eager=False)
    a = enc.select(
        F.col("id").alias("id_a"),
        "bucket",
        *[F.col(c).alias(f"{c}_a") for c in wcols],
        F.col("n").alias("n_a"),
    )
    b = enc.select(
        F.col("id").alias("id_b"),
        "bucket",
        *[F.col(c).alias(f"{c}_b") for c in wcols],
        F.col("n").alias("n_b"),
    )
    ratio_ok = (
        F.least("n_a", "n_b").cast("double")
        >= F.lit(threshold) * F.greatest("n_a", "n_b").cast("double")
    )
    union = F.col("n_a") + F.col("n_b") - inter
    jac = inter.cast("double") / union.cast("double")
    return (
        a.join(b, "bucket")
        .where((F.col("id_a") < F.col("id_b")) & ratio_ok)
        .select("id_a", "id_b", jac.alias("jaccard"))
        .where((F.col("jaccard") >= F.lit(threshold)) & (union > 0))
    )


def jaccard_pairs_auto(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bucket_col: str,
    threshold: float,
    vocab_key: str | None = None,
) -> DataFrame:
    """Adaptive exact Jaccard join: bitset encoding when the vocabulary
    dictionary fits (dense small-alphabet corpora), prefix filtering
    otherwise (open-vocabulary text, where candidate pruning — not set
    representation — is what kills the O(n^2) pair scan).
    ``vocab_key``: optional dataset identity enabling the per-process
    dictionary memo (see _VOCAB_MEMO) — pass it only for whole-table
    scans whose identity the key names exactly."""
    # the tokenize/encode stage is compute-heavy and runs at the INPUT's
    # parallelism; a single-file upstream pins it to 1-2 cores (measured
    # 2.3s -> 1.7s warm at sf0.1 with the spread; no-op when already
    # parallel)
    df = spread_for_python_stage(df)
    out = jaccard_pairs_bitset(
        df, id_col, text_col, bucket_col, threshold, vocab_key=vocab_key
    )
    if out is not None:
        return out
    return jaccard_pairs_prefix(df, id_col, text_col, bucket_col, threshold)


# ------------------------------------------------------------- MinHash ---


def _minhash_permutations(k: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a*x + b) mod 2^31-1."""
    rng_state = seed
    out = []
    for _ in range(k):
        # xorshift-ish deterministic stream, no external RNG dependency
        rng_state = (rng_state * 1103515245 + 12345) % (1 << 31)
        a = 1 + (rng_state % (MERSENNE31 - 1))
        rng_state = (rng_state * 1103515245 + 12345) % (1 << 31)
        b = rng_state % MERSENNE31
        out.append((a, b))
    return out


def spread_for_python_stage(df: DataFrame) -> DataFrame:
    """Repartition a frame about to enter a CPU-bound Python/Arrow stage
    up to the session's default parallelism IF the upstream left it with
    too few splits (single-file scans yield 1-2). Unlike the opt-in
    ``load_table(spread=...)`` (a local-layout workaround), this is
    correct at any scale: pre-shuffling slim rows once is always cheaper
    than serializing a per-row Python stage onto a couple of cores, and
    it is a no-op when the upstream is already parallel."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() * 2 <= target:
        return df.repartition(target)
    return df


def _shingles_from_th_pandas(shingle_size: int):
    """Arrow-batched shingle combiner: per-token hashes -> DISTINCT
    rolling-hash shingle values, vectorized in numpy across the whole
    batch (r13 optimization round, guide §4.2).

    Replaces the previous Catalyst form (two zip_with folds + an
    array_distinct per row): higher-order functions evaluate interpreted
    per ELEMENT, so the shingle combine dominated the whole MinHash
    family (~1.5s of the 3.4s sf0.1 pipeline). Here the fold runs as a
    handful of whole-batch numpy passes.

    Arithmetic is IDENTICAL to the old expression — acc = pmod(acc*P +
    h, M) over k shifted slices — with the % replaced by the exact
    Mersenne-prime fold (M = 2^31-1, so 2^31 === 1 (mod M): x = (x &
    M) + (x >> 31), twice, then one conditional subtract; inputs are
    < 2^51 so two folds always land in [0, M+1]). Output arrays are
    sorted ascending (np.unique) where array_distinct kept first-
    occurrence order; every consumer is order-insensitive
    (size/array_intersect/signature mins)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    P = 1_000_003  # prime multiplier for positional combination
    M = MERSENNE31
    k = shingle_size

    @pandas_udf("array<bigint>")
    def sh(th):
        import numpy as _np
        import pandas as _pd

        arrs = th.to_numpy()
        R = len(arrs)
        if R == 0:
            return _pd.Series([], dtype=object)
        lens = _np.fromiter(
            (0 if a is None else len(a) for a in arrs), dtype=_np.int64, count=R
        )
        n = int(lens.sum())
        if n == 0:
            return _pd.Series([_np.empty(0, _np.int64)] * R)
        flat = _np.concatenate(
            [_np.asarray(a, dtype=_np.int64) for a in arrs if a is not None and len(a)]
        )
        win = n - (k - 1)
        if win <= 0:
            return _pd.Series([_np.empty(0, _np.int64)] * R)
        # rolling combine over the FLAT array; windows that straddle a
        # row boundary are masked out below
        acc = flat[:win].copy()
        for off in range(1, k):
            acc *= P
            acc += flat[off : off + win]
            acc = (acc & M) + (acc >> 31)
            acc = (acc & M) + (acc >> 31)
            acc[acc >= M] -= M
        starts = _np.concatenate(([0], _np.cumsum(lens)[:-1]))
        row_of = _np.repeat(_np.arange(R, dtype=_np.int64), lens)[:win]
        # a window starting at flat position p (row r) is valid iff it
        # ends inside row r: (p - starts[r]) <= lens[r] - k
        idx_in_row = _np.arange(win, dtype=_np.int64) - starts[row_of]
        valid = idx_in_row <= (lens[row_of] - k)
        keys = _np.unique((row_of[valid] << 31) | acc[valid])
        rows = keys >> 31
        vals = keys & M
        counts = _np.bincount(rows, minlength=R)
        return _pd.Series(_np.split(vals, _np.cumsum(counts)[:-1]))

    # NOTE: deliberately NOT asNondeterministic(): the band candidate
    # stage self-joins this UDF's subtree, and non-determinism disables
    # Catalyst's exchange/subexpression reuse there (measured 3.4s ->
    # 90s+ at sf0.1). The guide §4.4 filter-duplication hazard is
    # avoided structurally instead: hashed_shingles filters on
    # size(tokens) — an input-side JVM predicate — never on the UDF
    # output column.
    return sh


def hashed_shingles(df: DataFrame, id_col: str, text_col: str, shingle_size: int = 3) -> DataFrame:
    """(id, hs: array<long>) distinct word-n-gram shingles hashed into
    [0, 2^31).

    Hashing shingles to ints ONCE up front means (a) the signature fold
    and the exact-verify join both reuse one cheap array instead of
    re-deriving string shingles, and (b) candidate-pair verification
    shuffles int arrays (~4x smaller than the strings).

    Shingle hashes are built ARITHMETICALLY from per-token hashes
    (h(w_i)*P^2 + h(w_{i+1})*P + h(w_{i+2}) mod M over shifted slices)
    instead of hashing concatenated strings. Per-token hashing
    (xxhash64 + pmod) stays in the JVM; the shingle fold + distinct run
    in one Arrow numpy stage (_shingles_from_th_pandas — r13: the
    interpreted zip_with fold was the MinHash family's hottest stage,
    2.49s -> 1.2s at sf0.1 for the hashed-shingle table alone). Values
    are bit-identical to the old Catalyst fold; array order is sorted
    ascending instead of first-occurrence (all consumers are
    order-insensitive set/size/min operations)."""
    toks = tokens(text_col)
    th = F.transform(toks, lambda t: F.pmod(F.xxhash64(t), F.lit(MERSENNE31)))
    n = F.size(toks)
    if shingle_size <= 1:
        base = F.array_distinct(th)
        return df.select(F.col(id_col).alias("id"), base.alias("hs")).where(n > 0)
    sh = _shingles_from_th_pandas(shingle_size)
    # filter on the INPUT side (token count), exactly like the old
    # Catalyst form: pushes below the Arrow stage, so short rows never
    # cross the Python boundary and the UDF column is never referenced
    # by a filter (guide §4.4 duplication hazard)
    return (
        df.where(n >= shingle_size)
        .select(F.col(id_col).alias("id"), sh(th).alias("hs"))
    )


def _sig_from_hashed(hs: Column, num_hashes: int) -> Column:
    """MinHash signature fold over a hashed-shingle array.

    Physical form matters: ONE aggregate fold carrying an array<long>
    accumulator (sig[i] = running min of perm_i over shingles). The naive
    alternative — num_hashes separate array_min(transform(...)) columns —
    makes Catalyst inline the shingle pipeline into every column
    (higher-order fns don't share subexpressions), exploding both optimize
    time and per-row work ~num_hashes-fold (620s -> 28s at sf0.1)."""
    params = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in _minhash_permutations(num_hashes)
        ]
    )
    init = F.array_repeat(F.lit(MERSENNE31).cast("long"), num_hashes)
    return F.aggregate(
        hs,
        init,
        lambda acc, x: F.zip_with(
            acc,
            params,
            lambda m, p: F.least(m, F.pmod(p["a"] * x + p["b"], F.lit(MERSENNE31))),
        ),
    )


def _sig_from_hashed_pandas(num_hashes: int):
    """Arrow-batched vectorized signature stage: numpy computes the
    (num_hashes x n_shingles) permutation matrix min per doc.

    Same values as the expression fold (same base hashes, same (a,b)
    params, same mod-prime arithmetic) at ~100x less per-element overhead
    — Catalyst higher-order functions evaluate interpreted, so the fold
    costs an interpreter dispatch per shingle*hash while numpy does the
    whole doc in one C loop. The closure captures only locals (arrays,
    ints), so cloudpickle ships it by value — workers need no package.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    perms = np.array(_minhash_permutations(num_hashes), dtype=np.int64)
    A = perms[:, 0][:, None]
    B = perms[:, 1][:, None]
    M = MERSENNE31
    k = num_hashes

    @pandas_udf("array<bigint>")
    def sig(hs):
        # r13 optimization round: one (k x chunk) matrix pass +
        # minimum.reduceat per CHUNK of docs instead of a python-level
        # loop with a small matrix per DOC (10k numpy dispatches per
        # batch), and the % M division replaced by the exact
        # Mersenne-prime fold (A*x+B < 2^62; two folds land in [0, M+1],
        # one conditional subtract finishes — same values bit-for-bit).
        import numpy as _np
        import pandas as _pd

        arrs = hs.to_numpy()
        R = len(arrs)
        if R == 0:
            return _pd.Series([], dtype=object)
        lens = _np.fromiter(
            (0 if a is None else len(a) for a in arrs), dtype=_np.int64, count=R
        )
        res = _np.full((R, k), M, dtype=_np.int64)
        nonempty = _np.flatnonzero(lens > 0)
        # chunk so the (k x n_shingles) temp stays cache-resident
        # (~2 MB at k=64): the op count is fixed at k*shingles*~6, so
        # the win over a per-doc loop comes from fewer python dispatches
        # WITHOUT spilling the working set to RAM — a 100 MB chunk is
        # memory-bound and measured ~2x slower than this
        budget = max(262_144 // max(k, 1), 512)
        i = 0
        while i < len(nonempty):
            j, tot = i, 0
            while j < len(nonempty) and (tot == 0 or tot + lens[nonempty[j]] <= budget):
                tot += lens[nonempty[j]]
                j += 1
            rows = nonempty[i:j]
            flat = _np.concatenate([_np.asarray(arrs[r], dtype=_np.int64) for r in rows])
            starts = _np.concatenate(([0], _np.cumsum(lens[rows])[:-1]))
            v = A * flat[None, :] + B
            v = (v & M) + (v >> 31)
            v = (v & M) + (v >> 31)
            v[v >= M] -= M
            res[rows] = _np.minimum.reduceat(v, starts, axis=1).T
            i = j
        return _pd.Series(list(res))

    return sig


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    shingle_size: int = 3,
    vectorized: bool = True,
) -> DataFrame:
    """(id, sig: array<long>) MinHash signatures over word shingles.

    ``vectorized=True`` (default) computes the permutation mins in an
    Arrow-batched numpy UDF; ``False`` uses the pure-Catalyst aggregate
    fold (zero Python dependency in the plan — useful where Python
    workers are undesirable). Both produce identical signatures."""
    if vectorized:
        # CPU-bound pipeline (regex tokenize + shingle hashing + Arrow
        # numpy mins): inherit too few splits (a single-file upstream
        # gives 1-2) and the whole thing serializes onto 2 cores.
        # Spreading the INPUT is cluster-safe — the shuffle moves raw
        # (id, text) rows once, far below the per-row compute it unlocks
        # parallelism for — and a no-op on already-parallel upstreams.
        df = spread_for_python_stage(df)
    hashed = hashed_shingles(df, id_col, text_col, shingle_size)
    if vectorized:
        sig = _sig_from_hashed_pandas(num_hashes)(F.col("hs"))
    else:
        sig = _sig_from_hashed(F.col("hs"), num_hashes)
    return hashed.select("id", sig.alias("sig"))


def _band_signatures(
    signatures: DataFrame, bands: int, carry: tuple[str, ...] = ()
) -> DataFrame:
    """(id, *carry, band, bhash) — each signature sliced into ``bands``
    equal slices, each slice hashed to one bucket key. Shared by the
    self-join (dedup) and cross-corpus (contamination) candidate
    generators. ``carry`` rides extra columns through the explode for
    callers that cannot join back by id afterwards (a STREAMING side
    would need a stateful stream-stream self-join for that; carrying the
    array through the map-only explode keeps the plan stateless)."""
    sig_size_col = F.size("sig")
    return signatures.select(
        "id",
        *carry,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda band: F.struct(
                    band.alias("band"),
                    # xxhash64 hashes the array STRUCTURALLY — the old
                    # .cast("string") built a "[1, 2, ...]" string per
                    # band slice first (r13: pure overhead; bucketing
                    # semantics identical — docs collide iff their
                    # slice values are equal under either form)
                    F.xxhash64(
                        F.slice(
                            F.col("sig"),
                            band * (sig_size_col / bands).cast("int") + 1,
                            (sig_size_col / bands).cast("int"),
                        )
                    ).alias("bhash"),
                ),
            )
        ).alias("bb"),
    ).select("id", *carry, "bb.band", "bb.bhash")


def drop_hot_band_buckets(banded: DataFrame, max_band_bucket: int) -> DataFrame:
    """Stop-band guard core, shared by the batch LSH self-join
    (minhash_lsh_candidates), the stored band index build
    (streaming/jobs.py:write_band_index), and the stream-static gate
    (streaming_near_dup): drop (band, bhash) buckets holding more than
    ``max_band_bucket`` rows via a broadcast anti-join against the tiny
    heavy-hitter bucket set — the hot set is small by construction
    (Zipfian head), so this never shuffles the banded corpus."""
    hot = (
        banded.groupBy("band", "bhash")
        .agg(F.count("*").alias("_bn"))
        .where(F.col("_bn") > max_band_bucket)
        .select("band", "bhash")
    )
    return banded.join(F.broadcast(hot), ["band", "bhash"], "left_anti")


def minhash_lsh_candidates(
    signatures: DataFrame, bands: int = 16, max_band_bucket: int | None = None
) -> DataFrame:
    """Band the signatures and self-join on (band, band_hash): docs sharing
    any band are candidate pairs. Shuffle volume = bands rows/doc.

    ``bands`` must divide the signature length (validated by
    minhash_dedup_pairs): bands > len(sig) would make every band slice
    empty, collapsing ALL docs into one bucket (the O(n^2) cross product
    LSH exists to avoid), and a non-dividing bands silently ignores the
    trailing len(sig) mod bands signature entries.

    ``max_band_bucket`` is the STOP-BAND guard (r7 — the hot-band
    mitigation for Zipfian boilerplate, winnow's stop-fingerprint
    posture applied to LSH): band buckets holding more than this many
    docs are dropped before the self-join. At 100 TB web text a
    near-universal template block drives a large doc fraction into the
    SAME few buckets, and the candidate join emits C(k,2) pairs per
    k-doc bucket — quadratic work AQE's skew split can re-balance but
    not shrink. The guard bounds per-bucket work at C(cap,2). Recall
    contract: a true pair is lost only if it collides in NO surviving
    bucket — near-dups share their non-boilerplate shingles too, so
    they keep colliding in ordinary buckets (pair-set equality on the
    hot-band fixture + the recall gate quantify this; the guard is the
    documented recall-for-boundedness trade, OFF by default). The hot
    set itself is tiny (heavy hitters over bucket counts), so the
    anti-join is a broadcast, not a shuffle of the banded corpus."""
    # localCheckpoint: BOTH self-join sides read `banded`, and Spark
    # plans one side as a BroadcastExchange with no subtree reuse — the
    # signature UDF and the banding explode would execute twice (r13:
    # the Python stage is the pipeline's hot loop; the banded table is
    # slim (id, band, bhash) so storing it is ~free)
    banded = _band_signatures(signatures, bands).localCheckpoint(eager=False)
    if max_band_bucket is not None:
        banded = drop_hot_band_buckets(banded, max_band_bucket)
    a = banded.select(F.col("id").alias("id_a"), "band", "bhash")
    b = banded.select(F.col("id").alias("id_b"), "band", "bhash")
    return (
        a.join(b, ["band", "bhash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    max_band_bucket: int | None = None,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: sign -> band -> candidates ->
    exact hashed-shingle-Jaccard verify at ``threshold``.

    The hashed-shingle table is computed once, MATERIALIZED, and reused
    by the signature stage and both verify-join sides (Jaccard over
    distinct 31-bit shingle hashes == string-shingle Jaccard up to
    negligible hash collisions). Without it the shingling expression —
    the most expensive stage — executes three times: sf0.1 pipeline
    24.6s -> ~12s. localCheckpoint rather than persist(): blocks are
    GC-cleaned when the DataFrame goes out of scope, so repeated calls
    in one session don't accumulate CacheManager entries."""
    if bands > num_hashes or num_hashes % bands != 0:
        raise ValueError(
            f"bands={bands} must divide num_hashes={num_hashes} "
            "(empty/truncated band slices degenerate the LSH bucketing)"
        )
    # spread BEFORE the Python stages: the checkpointed hashed-shingle
    # table feeds the signature UDF on BOTH band-join sides, and an
    # unspread single-file scan pins all of that Arrow compute onto 1-2
    # cores (r13: 3.4s -> 1.9s at sf0.1; no-op on parallel upstreams)
    hashed = hashed_shingles(
        spread_for_python_stage(df), id_col, text_col, shingle_size
    ).localCheckpoint(eager=False)
    sigs = hashed.select(
        "id", _sig_from_hashed_pandas(num_hashes)(F.col("hs")).alias("sig")
    )
    cands = minhash_lsh_candidates(sigs, bands, max_band_bucket=max_band_bucket)
    pairs = (
        cands.join(
            hashed.withColumnRenamed("id", "id_a").withColumnRenamed("hs", "hs_a"),
            "id_a",
        ).join(
            hashed.withColumnRenamed("id", "id_b").withColumnRenamed("hs", "hs_b"),
            "id_b",
        )
    )
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    union = F.size("hs_a") + F.size("hs_b") - inter
    jac = inter.cast("double") / union.cast("double")
    return pairs.select("id_a", "id_b", jac.alias("jaccard")).where(
        F.col("jaccard") >= threshold
    )


def cross_corpus_minhash_pairs(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
) -> DataFrame:
    """Cross-corpus near-duplicate CONTAMINATION join (the Dolma/
    FineWeb-style decontamination pass): find (eval_id, train_id) pairs
    whose shingle Jaccard >= ``threshold`` between two DIFFERENT
    corpora — training documents that would leak evaluation content.
    Complements ``decontam_overlap`` (exact n-gram containment): the
    banded MinHash join also catches near-verbatim paraphrases and
    whitespace/formatting mutations exact shingles miss.

    Same machinery as minhash_dedup_pairs, but the band join is
    train x eval instead of a self-join — candidate volume is bounded
    by bucket co-occupancy ACROSS corpora, so a small eval suite
    against a 100 TB train corpus shuffles (bands x rows) slim keys and
    never the cross product. The eval side is typically broadcast-sized
    (benchmarks are thousands of docs); AQE picks that up from the band
    join's runtime stats. Exact verify joins the hashed-shingle arrays
    back by id for candidates only.

    Recall: identical token streams share every band (structural 1.0 —
    trailing-whitespace mutations hash identically after tokenize);
    sub-identical pairs are probabilistic in (num_hashes, bands), the
    standard LSH trade documented on minhash_dedup_pairs."""
    if bands > num_hashes or num_hashes % bands != 0:
        raise ValueError(
            f"bands={bands} must divide num_hashes={num_hashes} "
            "(empty/truncated band slices degenerate the LSH bucketing)"
        )
    # spread the (large) train side before its Python stages, as in
    # minhash_dedup_pairs; the eval suite is typically tiny and not worth
    # an exchange
    h_train = hashed_shingles(
        spread_for_python_stage(train), id_col, text_col, shingle_size
    ).localCheckpoint(eager=False)
    h_eval = hashed_shingles(eval_df, id_col, text_col, shingle_size).localCheckpoint(
        eager=False
    )
    sig = _sig_from_hashed_pandas(num_hashes)
    bt = _band_signatures(h_train.select("id", sig(F.col("hs")).alias("sig")), bands)
    be = _band_signatures(h_eval.select("id", sig(F.col("hs")).alias("sig")), bands)
    cands = (
        be.select(F.col("id").alias("eval_id"), "band", "bhash")
        .join(bt.select(F.col("id").alias("train_id"), "band", "bhash"), ["band", "bhash"])
        .select("eval_id", "train_id")
        .distinct()
    )
    pairs = cands.join(
        h_eval.select(F.col("id").alias("eval_id"), F.col("hs").alias("hs_e")),
        "eval_id",
    ).join(
        h_train.select(F.col("id").alias("train_id"), F.col("hs").alias("hs_t")),
        "train_id",
    )
    inter = F.size(F.array_intersect("hs_e", "hs_t"))
    union = F.size("hs_e") + F.size("hs_t") - inter
    jac = inter.cast("double") / union.cast("double")
    return pairs.select("eval_id", "train_id", jac.alias("jaccard")).where(
        F.col("jaccard") >= threshold
    )


# ------------------------------------------------------------- SimHash ---


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """(id, simhash) 32-bit SimHash over tokens: bit j is the sign of
    sum_t (+1 if bit j of hash(t) else -1).

    Same single-fold physical form as minhash_signatures: one aggregate
    carrying an array<int> of per-bit votes (bits separate folds would
    re-evaluate the token hash pipeline per bit)."""
    toks = F.array_distinct(tokens(text_col))
    h = F.transform(toks, lambda t: F.pmod(F.xxhash64(t), F.lit(1 << bits)))
    masks = F.array(*[F.lit(1 << j).cast("long") for j in range(bits)])
    votes = F.aggregate(
        h,
        F.array_repeat(F.lit(0), bits),
        lambda acc, x: F.zip_with(
            acc,
            masks,
            lambda v, m: v + F.when(x.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    sig = F.aggregate(
        F.zip_with(
            votes,
            masks,
            lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, b: acc + b,
    )
    return df.select(F.col(id_col).alias("id"), sig.alias("simhash"))


def simhash_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Docs colliding on the full SimHash signature (Hamming distance 0)."""
    sigs = simhash(df, id_col, text_col)
    return (
        sigs.groupBy("simhash")
        .agg(F.count("*").alias("dup_count"), F.min("id").alias("keep_id"))
        .where(F.col("dup_count") > 1)
    )


# ------------------------------------------- winnow-overlap near-dup ---


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_shared: int = 2,
    max_fp_doc_freq: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Paragraph-granularity near-dup pairs via shared winnowing
    fingerprints (MOSS-style local copy detection, vs MinHash's whole-doc
    similarity): docs sharing >= min_shared fingerprints, with per-doc
    fingerprint-set sizes so callers can derive containment/overlap.

    Physical strategy: explode fingerprints -> self-join on the
    fingerprint value (the fingerprint IS the blocking key; no O(n^2)
    block) -> count shared per pair. Skew guard: fingerprints occurring
    in more than max_fp_doc_freq docs (boilerplate 5-grams) are dropped
    before the join — the standard stop-fingerprint cut, which bounds any
    join key's fan-out at max_fp_doc_freq^2 pairs.
    """
    from ..functions.text import winnow_fingerprints

    fps = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.explode(winnow_fingerprints(text_col)).alias("fp"),
    )
    if materialize:
        # The fingerprint UDF feeds 3 consumers (sizes, the doc-freq cut,
        # the self-join); exchange reuse only dedups the identical join
        # sides, so without materialization the Arrow UDF runs ~3x.
        # localCheckpoint stores the exploded fps once (GC-cleaned, unlike
        # CacheManager entries). ~35% faster at sf0.1. On a real cluster
        # the same role is played by persisting fps as a table; lineage
        # truncation is the documented tradeoff.
        fps = fps.localCheckpoint(eager=False)
    sizes = fps.groupBy("id").agg(F.count("*").alias("n_fp"))
    if max_fp_doc_freq is not None:
        rare = (
            fps.groupBy("fp")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") <= max_fp_doc_freq)
            .select("fp")
        )
        fps = fps.join(rare, "fp", "left_semi")
    a, b = fps.alias("a"), fps.alias("b")
    pairs = (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("shared_fp"))
        .where(F.col("shared_fp") >= min_shared)
    )
    return (
        pairs.join(sizes.withColumnRenamed("id", "id_a"), "id_a")
        .withColumnRenamed("n_fp", "n_a")
        .join(sizes.withColumnRenamed("id", "id_b"), "id_b")
        .withColumnRenamed("n_fp", "n_b")
        .select("id_a", "id_b", "shared_fp", "n_a", "n_b")
    )


# ------------------------------------------------- duplicate clusters ---


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 25,
    broadcast_max_vertices: int = 500_000,
) -> DataFrame:
    """Connected components over an undirected pair list -> (id, component)
    where component = min member id (the canonical duplicate-cluster
    labeling: near-dup PAIRS become duplicate CLUSTERS, from which one
    representative per cluster survives).

    Physical form: iterative min-label propagation with pointer jumping.
    Each round computes L'(v) = min over {L(u): u in N(v) + {v}} via ONE
    edge join + min-aggregate — SELF-LOOP edges (v, v) fold the vertex's
    own label into the same aggregate, deleting the per-round
    labels-side left join the r13 form paid (guide §2.4: one fewer join
    + frontier exchange per round) — then jumps the result one hop
    through the previous round's checkpointed frontier (L'' = min(L',
    L(L')): labels only decrease and always name a vertex inside the
    component, so the jump preserves the invariant and the fixed point;
    chain-shaped clusters converge in ~log(diam) rounds). Every round
    ``localCheckpoint``s the frontier — without lineage truncation an
    iterative plan grows exponentially and Catalyst re-optimizes the
    whole history each round.

    Scale adaptivity (r14, guide §3.1): near-dup frontiers are usually
    tiny relative to the corpus (vertices = docs that HAVE a near-dup
    pair), so when the measured vertex count fits
    ``broadcast_max_vertices`` both per-round frontier joins take an
    explicit broadcast — the per-round cost collapses to one small
    groupBy exchange (measured at sf0.1, 2.9k vertices / 170k edges:
    0.55 s/round -> ~0.15 s/round). Above the threshold the same plan
    runs as shuffle joins, which is the only viable shape when the
    frontier is corpus-sized (the default ~8 MB of broadcast rows is a
    deliberate driver/executor-memory bound, not a tuning constant).

    Convergence is detected by the frontier's label-sum (driver scalar,
    not a collect of data): every vertex's label is non-increasing
    across rounds, so the exact integer sum is strictly decreasing iff
    any label changed. At extreme diameters (chain-shaped graphs) switch
    to the large-star/small-star contraction (Kiveris et al., "Connected
    Components in MapReduce"); near-dup graphs never need it.
    """
    edges = (
        # symmetrize via ONE explode pass instead of a self-union: the
        # union form executes the (possibly expensive) pair-producing
        # pipeline once per branch — ReuseExchange does not collapse the
        # two branches under AQE — which doubled the edge-build wall
        # (measured 3.2s -> 1.7s at sf0.1 for the exact-Jaccard graph;
        # at 100 TB it is one corpus-scale candidate join instead of two)
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(a_col).alias("src"), F.col(b_col).alias("dst")),
                    F.struct(F.col(b_col).alias("src"), F.col(a_col).alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
        # EAGER checkpoint — every round joins against edges, and without
        # lineage truncation the pair pipeline would re-execute per
        # round. Eager, not lazy: the per-round broadcast of the frontier
        # collects through a path that re-executes a merely-MARKED
        # checkpoint's lineage (measured +1.7 s with eager=False here).
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint(eager=True)
    )
    # one pass over the checkpointed frontier: vertex count decides the
    # join strategy, the exact label sum seeds convergence detection
    # (decimal(38,0): immune to long overflow at any corpus size)
    n_vertices, prev_sum = labels.agg(
        F.count("*"), F.sum(F.col("component").cast("decimal(38,0)"))
    ).first()
    hint = (
        F.broadcast if n_vertices <= broadcast_max_vertices else (lambda df: df)
    )
    # static self-loops (v, v): joined against the CURRENT frontier each
    # round they contribute exactly (src=v, component=L(v)) — the
    # vertex's own label — to the min-aggregate
    edges_sl = edges.unionByName(
        labels.select(F.col("id").alias("src"), F.col("id").alias("dst"))
    )
    for _ in range(max_iter):
        nbr = (
            # column names are disjoint (src/dst vs id/component), so the
            # string-keyed condition binds unambiguously to the hinted frame
            edges_sl.join(hint(labels), F.col("dst") == F.col("id"))
            .groupBy("src")
            .agg(F.min("component").alias("c1"))
        )
        lk = labels.select(
            F.col("id").alias("lk_id"), F.col("component").alias("lk_comp")
        )
        updated = (
            nbr.join(hint(lk), nbr.c1 == F.col("lk_id"), "left")
            .select(
                F.col("src").alias("id"),
                F.least(
                    F.col("c1"), F.coalesce("lk_comp", F.col("c1"))
                ).alias("component"),
            )
        ).localCheckpoint(eager=True)
        new_sum = updated.agg(
            F.sum(F.col("component").cast("decimal(38,0)"))
        ).first()[0]
        labels = updated
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    else:
        # loop exhausted with labels still moving: returning now would
        # silently split true clusters (under-dedup with no signal)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(label sum still decreasing) — the graph diameter exceeds "
            "max_iter; raise it or switch to large-star/small-star "
            "contraction (see docstring)"
        )
    return labels


def duplicate_clusters(
    pairs: DataFrame, a_col: str = "id_a", b_col: str = "id_b"
) -> DataFrame:
    """Cluster summary over near-dup pairs: (component, size, keep_id) —
    keep_id = min member (deterministic survivor), size >= 2 by
    construction. Downstream dedup = anti-join corpus against members
    minus keep_ids."""
    cc = connected_components(pairs, a_col, b_col)
    return (
        cc.groupBy("component")
        .agg(F.count("*").alias("size"), F.min("id").alias("keep_id"))
        .select("component", "size", "keep_id")
    )
