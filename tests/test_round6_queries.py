"""Round-6 additions: BPE encoding (the apply half of the tokenizer
loop) and the hashed-bigram linear quality classifier."""

from __future__ import annotations

import pyspark.sql.functions as F

from wvfoia_sync_spark import registry
from wvfoia_sync_spark.operators import segments, textops

SF_DIR = "/root/testdata/sf0.001"


def _encode_map(spark, rows, merges):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return {
        r["doc_id"]: r
        for r in textops.bpe_encode(df, merges, "text").collect()
    }


def test_bpe_encode_greedy_left(spark):
    """'aaa' under merge (a,a) is [aa, a] — the merged head cannot
    re-pair with the tail (textbook greedy-left apply)."""
    got = _encode_map(spark, [(1, "aaa bab")], [("a", "a")])
    assert got[1]["pieces"] == ["aa", "a", "b", "a", "b"]
    assert got[1]["n_words"] == 2 and got[1]["n_tokens"] == 5


def test_bpe_encode_chained_multichar_merges(spark):
    """Merge list applies IN ORDER and later merges see earlier merges'
    multi-char symbols: (a,a) then (aa,a) turns 'aaa' into one piece,
    while 'aaaa' stays [aa, aa] — the first merge's greedy-left pass
    already paired all four a's, leaving no (aa, a) adjacency."""
    got = _encode_map(spark, [(1, "aaa aaaa")], [("a", "a"), ("aa", "a")])
    assert got[1]["pieces"] == ["aaa", "aa", "aa"]
    assert got[1]["n_tokens"] == 3


def test_bpe_encode_preserves_word_order_across_docs(spark):
    got = _encode_map(
        spark, [(1, "the cat"), (2, "cat the")], [("t", "h"), ("th", "e")]
    )
    assert got[1]["pieces"] == ["the", "c", "a", "t"]
    assert got[2]["pieces"] == ["c", "a", "t", "the"]


def test_bpe_encode_tokenless_doc_drops(spark):
    got = _encode_map(spark, [(1, "ok doc"), (2, "!!! ...")], [("o", "k")])
    assert set(got) == {1}
    assert got[1]["pieces"] == ["ok", "d", "o", "c"]


def test_bpe_encode_roundtrips_train_merges_on_fixture(spark):
    """Encode with merges learned on the same corpus: content is
    conserved (pieces re-join to the folded tokens) and every merge
    actually fired somewhere (n_tokens < total chars)."""
    docs = registry.QUERIES["filter_scan"].__globals__["load_table"](
        spark, SF_DIR, "documents"
    )
    merges = textops.train_bpe(docs, "text", n_merges=4)
    assert len(merges) == 4
    enc = textops.bpe_encode(docs, merges, "text")
    from wvfoia_sync_spark.functions.text import tokens

    toks = docs.select("doc_id", tokens("text").alias("t")).where(F.size("t") > 0)
    joined = enc.join(toks, "doc_id")
    bad = joined.where(
        (F.array_join("pieces", "") != F.array_join("t", ""))
        | (F.col("n_tokens") != F.size("pieces"))
    ).count()
    assert bad == 0
    assert joined.count() == toks.count()
    shrunk = joined.where(
        F.col("n_tokens") < F.length(F.array_join("t", ""))
    ).count()
    assert shrunk > 0


def test_bpe_encode_property_check_rows(spark):
    out = {
        r["property"]: r["ok"]
        for r in registry.QUERIES["bpe_encode_property_check"](
            spark, SF_DIR
        ).collect()
    }
    assert out == {
        "per_word_pieces_match_reference": True,
        "doc_reassembly_conserves_text": True,
    }


def test_quality_classifier_score_shape(spark):
    """n_feat is exactly n_tokens - 1 per kept doc, score is the exact
    integer mean, label matches the sum's sign, and both label classes
    occur on the fixture (the pseudo-weights are centered)."""
    from wvfoia_sync_spark.functions.text import tokens
    from wvfoia_sync_spark.sources.tables import load_table

    out = registry.QUERIES["quality_classifier_score"](spark, SF_DIR)
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", F.size(tokens("text")).alias("n_tok")
    )
    j = out.join(docs, "doc_id")
    assert j.where(F.col("n_feat") != F.col("n_tok") - 1).count() == 0
    assert out.where(
        F.abs(
            F.col("score")
            - F.col("score_sum").cast("double") / F.col("n_feat")
        )
        > 1e-12
    ).count() == 0
    assert out.where(F.col("label") != (F.col("score_sum") > 0)).count() == 0
    labels = {r["label"] for r in out.select("label").distinct().collect()}
    assert labels == {True, False}
    # every multi-token doc is scored
    assert out.count() == docs.where(F.col("n_tok") >= 2).count()


def test_quality_classifier_stays_in_codegen(spark):
    """No Python UDF, no cartesian: one explode projection, one hash
    aggregate."""
    from tests.test_plan_quality import plan

    p = plan(registry.QUERIES["quality_classifier_score"](spark, SF_DIR))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    assert "HashAggregate" in p


def test_k_center_select_greedy_semantics(spark):
    """Line fixture: ids 1..4 at x=0,10,4,6; seed=min id. Round 2 takes
    the farthest (id 2, d^2=100); round 3 is a 16.0-vs-16.0 tie between
    ids 3 and 4, broken to the smaller id."""
    from wvfoia_sync_spark.operators.similarity import k_center_select

    df = spark.createDataFrame(
        [(1, [0.0]), (2, [10.0]), (3, [4.0]), (4, [6.0])],
        "vec_id long, embedding array<float>",
    )
    assert k_center_select(df, k=3) == [
        (1, 1, None),
        (2, 2, 100.0),
        (3, 3, 16.0),
    ]


def test_k_center_select_exhausts_small_input(spark):
    from wvfoia_sync_spark.operators.similarity import k_center_select

    df = spark.createDataFrame(
        [(7, [1.0, 0.0]), (9, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    sel = k_center_select(df, k=5)
    assert [(r, i) for r, i, _ in sel] == [(1, 7), (2, 9)]
    assert k_center_select(df.limit(0), k=3) == []


def test_coreset_queries_on_fixture(spark):
    sel = registry.QUERIES["coreset_select"](spark, SF_DIR).collect()
    assert [r["rank"] for r in sel] == list(range(1, 9))
    assert len({r["vec_id"] for r in sel}) == 8
    props = {
        r["property"]: r["ok"]
        for r in registry.QUERIES["coreset_property_check"](
            spark, SF_DIR
        ).collect()
    }
    assert props == {
        "kcenter_matches_reference": True,
        "cover_radius_non_increasing": True,
    }


def _py_bpe_encode(word: str, merges: list[tuple[str, str]]) -> list[str]:
    syms = list(word)
    for a, b in merges:
        out: list[str] = []
        for s in syms:
            if out and out[-1] == a and s == b:
                out[-1] = a + b
            else:
                out.append(s)
        syms = out
    return syms


def test_bpe_encode_randomized_differential(spark):
    """Randomized differential against the pure-Python greedy encoder:
    words over a 3-letter alphabet (maximal merge collisions), merges
    learned FROM the corpus so multi-char chains occur, per-word pieces
    and doc reassembly must match exactly. Deterministic seed — a
    failure reproduces."""
    import random

    rng = random.Random(606)
    alphabet = "abc"
    docs = []
    for doc_id in range(40):
        words = [
            "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 9)))
            for _ in range(rng.randint(1, 12))
        ]
        docs.append((doc_id, " ".join(words)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    merges = textops.train_bpe(df, "text", n_merges=6)
    assert merges, "fixture should learn at least one merge"
    got = {
        r["doc_id"]: r for r in textops.bpe_encode(df, merges, "text").collect()
    }
    for doc_id, text in docs:
        words = text.split()
        want = [p for w in words for p in _py_bpe_encode(w, merges)]
        assert got[doc_id]["pieces"] == want, (doc_id, merges)
        assert got[doc_id]["n_words"] == len(words)
        assert got[doc_id]["n_tokens"] == len(want)


def test_temperature_mixture_quota_semantics(spark):
    """Quotas follow c^0.5 temperature scaling of the OBSERVED counts:
    recompute them in python (same floor(sqrt*1e6) + integer-div pinning)
    and check per-source kept counts == min(quota, n); down-weighting
    must hold (largest source's quota share < its natural share)."""
    import math

    from wvfoia_sync_spark.sources.tables import load_table

    out = registry.QUERIES["temperature_mixture"](spark, SF_DIR)
    kept = {
        r["source"]: r["k"]
        for r in out.groupBy("source").agg(F.count("*").alias("k")).collect()
    }
    counts = {
        r["source"]: r["n"]
        for r in load_table(spark, SF_DIR, "documents")
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    s6 = {s: math.floor(math.sqrt(n) * 1_000_000) for s, n in counts.items()}
    tot6 = sum(s6.values())
    quota = {s: (1000 * v) // tot6 for s, v in s6.items()}
    for s, n in counts.items():
        assert kept.get(s, 0) == min(quota[s], n), (s, quota[s], n)
    big = max(counts, key=counts.get)
    if len(set(counts.values())) > 1:
        # strict down-weighting only observable on non-uniform sources
        assert quota[big] / 1000 < counts[big] / sum(counts.values())
    else:
        # uniform fixture: temperature scaling must be share-preserving
        assert abs(quota[big] / 1000 - 1 / len(counts)) <= 1 / 1000

    # strict down-weighting pinned on a synthetic non-uniform mixture
    syn = {"big": 900, "mid": 90, "small": 10}
    s6s = {s: math.floor(math.sqrt(n) * 1_000_000) for s, n in syn.items()}
    t6 = sum(s6s.values())
    qs = {s: (1000 * v) // t6 for s, v in s6s.items()}
    assert qs["big"] / 1000 < syn["big"] / 1000
    assert qs["small"] / 1000 > syn["small"] / 1000


# ------------------------------------------------- dup_rate_matrix ---


def test_source_dup_matrix_combination_counts(spark):
    """Pair counts are combination arithmetic, never a doc-pair join:
    3 copies in A and 2 in B of one text -> C(3,2)=3 within A, C(2,2)=1
    within B, 3*2=6 cross; rates divide by pair capacity."""
    from wvfoia_sync_spark.operators import dedup

    rows = [
        (1, "x y z", "A"),
        (2, "x y z", "A"),
        (3, "x  y z ", "A"),  # whitespace mutant: same fingerprint
        (4, "x y z", "B"),
        (5, "x y z", "B"),
        (6, "unique doc", "B"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        (r["src_a"], r["src_b"]): (r["dup_pairs"], r["dup_rate"])
        for r in dedup.source_dup_matrix(df, "doc_id", "text", "source").collect()
    }
    # capacities: A has 3 docs -> C(3,2)=3; B has 3 -> 3; cross 3*3=9
    assert got == {
        ("A", "A"): (3, 1.0),
        ("B", "B"): (1, 1.0 / 3),
        ("A", "B"): (6, 6.0 / 9),
    }


def test_source_dup_matrix_no_dup_sources_absent(spark):
    from wvfoia_sync_spark.operators import dedup

    rows = [(1, "a", "A"), (2, "b", "A"), (3, "c", "B")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    assert dedup.source_dup_matrix(df, "doc_id", "text", "source").count() == 0


# ----------------------------------------------------- filtered_knn ---


def test_filtered_knn_prefilter_semantics(spark):
    """Only same-filter-value candidates are ranked; self excluded; k
    never under-fills from post-filtering (the close other-label vector
    is invisible, not rank-consuming)."""
    from wvfoia_sync_spark.operators import similarity

    rows = [
        (0, [1.0, 0.0], 7),   # query
        (1, [0.99, 0.1], 3),  # closest overall but WRONG label: invisible
        (2, [0.9, 0.2], 7),   # best same-label candidate
        (3, [0.0, 1.0], 7),   # orthogonal same-label: rank 2
        (4, [1.0, 0.0], 5),   # identical but wrong label: invisible
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = similarity.filtered_knn(df, df.where(F.col("vec_id") == 0), k=2).collect()
    got = [(r["rank"], r["vec_id"]) for r in sorted(out, key=lambda r: r["rank"])]
    assert got == [(1, 2), (2, 3)]


def test_filtered_knn_null_label_never_matches(spark):
    from wvfoia_sync_spark.operators import similarity

    rows = [(0, [1.0, 0.0], None), (1, [1.0, 0.0], None), (2, [1.0, 0.1], 7)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    assert similarity.filtered_knn(df, df.where(F.col("vec_id") == 0), k=2).count() == 0


def test_filtered_knn_oracle_precondition_same_label_score_gaps(spark):
    """filtered_knn's hash-match oracle assumes rank order agrees between
    Spark's dot/norm fold and DuckDB's list_cosine_similarity — sound
    only if adjacent scores in each query's SAME-LABEL top-(k+1) list
    are separated by far more than float-accumulation noise (mirrors
    test_hard_negatives_oracle_precondition_top_k_score_gaps, whose
    mask is the complement)."""
    import duckdb
    import numpy as np

    for sf_dir in (
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ):
        d = duckdb.sql(
            f"SELECT vec_id, label, embedding FROM "
            f"'{sf_dir}/embeddings.parquet' ORDER BY vec_id"
        ).fetchnumpy()
        X = np.stack([np.asarray(v, dtype=np.float64) for v in d["embedding"]])
        X = X / np.linalg.norm(X, axis=1, keepdims=True)
        ids, labels = d["vec_id"], d["label"]
        for qi in range(20):  # the query batch is vec_id < 20
            mask = (labels == labels[qi]) & (ids != ids[qi])
            top = np.sort(X[mask] @ X[qi])[::-1][:4]  # k=3 -> top-(k+1)
            assert -np.diff(top).min() > 1e-8, (
                f"{sf_dir} query {ids[qi]}: adjacent same-label top-4 "
                "scores within float noise — re-gate filtered_knn as a "
                "recall check before regenerating fixtures"
            )


def test_filtered_knn_plan_hash_joins_on_label(spark):
    """The equality conjunct makes the pre-filter join HASHABLE: Spark
    must plan a broadcast hash join keyed on the metadata column (each
    corpus row meets only its filter bucket), not a nested-loop over
    the whole corpus, and never a cartesian product."""
    from tests.test_plan_quality import plan

    p = plan(registry.QUERIES["filtered_knn"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


# --------------------------------------------------- stream_near_dup ---


def test_stream_near_dup_matches_batch_contamination(spark):
    """The streaming band-index gate must produce the exact pair set of
    the batch cross-corpus join (same corpus, params, threshold) — the
    streaming-ness changes execution, never semantics."""
    stream_pairs = {
        (r["eval_id"], r["train_id"])
        for r in registry.QUERIES["stream_near_dup"](spark, SF_DIR).collect()
    }
    batch_pairs = {
        (r["eval_id"], r["train_id"])
        for r in registry.QUERIES["contamination_pairs"](spark, SF_DIR).collect()
    }
    assert stream_pairs == batch_pairs and stream_pairs


def test_streaming_near_dup_plan_is_stateless(spark):
    """No state store in the gate: the streaming plan must contain no
    stateful operator (watermark/dedup/stream-stream join) — state
    lives in the static index, so a restart replays nothing."""
    from wvfoia_sync_spark.sources.tables import load_table
    from wvfoia_sync_spark.streaming import jobs

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    incoming = jobs.documents_stream(spark, SF_DIR).select("doc_id", "text")
    matched = jobs.streaming_near_dup(incoming, docs, threshold=0.8, bands=32)
    q = (
        matched.writeStream.format("memory")
        .queryName("snd_stateless_probe")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert q.lastProgress is not None
    assert q.lastProgress["stateOperators"] in ([], None)


# -------------------------------------------------- image_ahash_dedup ---


def _png_media(spark, rows):
    """rows: (media_id, w, h, px_bytes) -> media DataFrame."""
    import pandas as pd
    from wvfoia_sync_spark.functions.png import encode_png

    data = [(mid, bytearray(encode_png(w, h, px, 3))) for mid, w, h, px in rows]
    return spark.createDataFrame(
        pd.DataFrame({"media_id": [r[0] for r in data], "payload": [bytes(r[1]) for r in data]}),
        "media_id long, payload binary",
    )


def test_ahash64_brightness_shift_invariance(spark):
    """aHash must be structurally invariant to a global +k brightness
    shift (both comparison sides inflate by grid^2 * 4k * channels) —
    the property the dedup query's planted mutants rely on."""
    from wvfoia_sync_spark.operators import multimodal

    px = bytes(((i * 37) % 200) for i in range(16 * 16 * 3))
    shifted = bytes(v + 5 for v in px)
    media = _png_media(spark, [(1, 16, 16, px), (2, 16, 16, shifted)])
    got = {r["media_id"]: (r["ahash_hi"], r["ahash_lo"]) for r in multimodal.ahash64(media).collect()}
    assert got[1] == got[2] and got[1][0] is not None


def test_ahash64_distinct_images_differ(spark):
    from wvfoia_sync_spark.operators import multimodal

    a = bytes(255 if (i // 3) % 16 < 8 else 0 for i in range(16 * 16 * 3))   # left half bright
    b = bytes(0 if (i // 3) % 16 < 8 else 255 for i in range(16 * 16 * 3))   # right half bright
    media = _png_media(spark, [(1, 16, 16, a), (2, 16, 16, b)])
    got = {r["media_id"]: (r["ahash_hi"], r["ahash_lo"]) for r in multimodal.ahash64(media).collect()}
    assert got[1] != got[2]


def test_ahash64_bad_payloads_yield_null_rows(spark):
    """Undecodable payloads and pooling-indivisible dimensions skip-and-
    log as NULL hash rows instead of failing the Arrow batch."""
    import pandas as pd
    from wvfoia_sync_spark.functions.png import encode_png
    from wvfoia_sync_spark.operators import multimodal

    ok = encode_png(16, 16, bytes(range(0, 256)) * 3, 3)
    odd = encode_png(12, 12, bytes(12 * 12 * 3), 3)  # 12 % 8 != 0
    media = spark.createDataFrame(
        pd.DataFrame({"media_id": [1, 2, 3], "payload": [bytes(ok), b"not a png", bytes(odd)]}),
        "media_id long, payload binary",
    )
    got = {r["media_id"]: r["ahash_hi"] for r in multimodal.ahash64(media).collect()}
    assert got[1] is not None and got[2] is None and got[3] is None


def test_image_ahash_dedup_planted_mutants_all_collide(spark):
    """Every planted brightness mutant (doc_id % 7, id+900000) must land
    in the same collision group as its base image."""
    out = registry.QUERIES["image_ahash_dedup"](spark, SF_DIR).collect()
    from wvfoia_sync_spark.sources.tables import load_table

    want = {
        r["doc_id"]
        for r in load_table(spark, SF_DIR, "documents")
        .where((F.col("doc_id") < 400) & (F.col("doc_id") % 7 == 0))
        .select("doc_id")
        .collect()
    }
    # reconstruct membership: groups carry keep_id + count only, so
    # recompute hashes for an exact membership check via the operator
    from wvfoia_sync_spark.queries.vectors_multimodal import image_ahash_dedup  # noqa: F401
    import pandas as pd
    from wvfoia_sync_spark.functions.png import encode_png
    from wvfoia_sync_spark.operators import multimodal

    rows = []
    for did in sorted(want):
        base = bytes(((did + 1) * i) % 251 for i in range(16 * 16 * 3))
        mut = bytes(v + 1 for v in base)
        rows.append((did, 16, 16, base))
        rows.append((did + 900000, 16, 16, mut))
    media = _png_media(spark, rows)
    got = {r["media_id"]: (r["ahash_hi"], r["ahash_lo"]) for r in multimodal.ahash64(media).collect()}
    assert all(got[d] == got[d + 900000] for d in want) and want


# ----------------------------------- next_event_examples / drift ---


def test_next_event_examples_context_semantics(spark):
    """Contexts are the 3 preceding event types in (ts, event_id) order;
    rows with underfull frames are not examples."""
    from datetime import datetime

    rows = [
        (i, datetime(2024, 1, 1, 0, i), 1, f"e{i}", 0.0, None)
        for i in range(5)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    from wvfoia_sync_spark.queries.aggregates_windows import next_event_examples  # noqa: F401
    import pyspark.sql.functions as F_
    from pyspark.sql import Window as W_

    w = W_.partitionBy("user_id").orderBy(F_.unix_micros("ts"), "event_id").rowsBetween(-3, -1)
    out = (
        ev.select(
            "event_id",
            F_.array_join(F_.collect_list("event_type").over(w), " ").alias("context"),
            F_.size(F_.collect_list("event_type").over(w)).alias("_n"),
            F_.col("event_type").alias("label"),
        )
        .where(F_.col("_n") == 3)
        .collect()
    )
    got = {r["event_id"]: (r["context"], r["label"]) for r in out}
    assert got == {3: ("e0 e1 e2", "e3"), 4: ("e1 e2 e3", "e4")}


def test_next_event_examples_on_fixture(spark):
    out = registry.QUERIES["next_event_examples"](spark, SF_DIR)
    n = out.count()
    assert n > 0
    # every context has exactly 3 space-joined types
    assert out.where(F.size(F.split("context", " ")) != 3).count() == 0


def test_snapshot_drift_shares_and_buckets(spark):
    out = registry.QUERIES["snapshot_drift"](spark, SF_DIR).collect()
    by_type = {}
    for r in out:
        by_type.setdefault(r["event_type"], []).append(r)
    assert by_type
    for t, rows in by_type.items():
        assert {r["bucket"] for r in rows} <= set(range(1, 11))
        assert abs(sum(r["ref_share"] for r in rows) - 1.0) < 1e-9, t
        assert abs(sum(r["cur_share"] for r in rows) - 1.0) < 1e-9, t
        assert all(r["ref_n"] + r["cur_n"] > 0 for r in rows)


def test_streaming_near_dup_pruned_matches_and_prunes(spark, tmp_path):
    """The foreachBatch partition-pruned gate, PRODUCTION sink-write form
    (r7): (a) identical pair set to the stream-static form and the batch
    twin, read back from the parquet sink the batches wrote — no
    driver-side pair accumulation; (b) the per-batch index scan carries
    a pbucket PartitionFilter (the corpus-sized scan is pruned to the
    shard's bucket set); (c) the sink holds per-epoch partition
    directories (the idempotent-retry unit)."""
    import os

    from wvfoia_sync_spark.sources.tables import load_table
    from wvfoia_sync_spark.streaming import jobs

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    idx = str(tmp_path / "band_index")
    sink = str(tmp_path / "gate_sink")
    jobs.write_band_index(docs, idx, num_hashes=64, bands=32)
    incoming = (
        jobs.documents_stream(spark, SF_DIR)
        .where(F.col("doc_id") % 31 == 0)
        .select(
            (F.col("doc_id") + 500000).alias("doc_id"),
            F.concat(F.col("text"), F.lit("  ")).alias("text"),
        )
    )
    plans: list = []
    out = jobs.streaming_near_dup_pruned(
        incoming, idx, "snd_pruned_test", sink, threshold=0.8,
        num_hashes=64, bands=32, plan_tap=plans,
        checkpoint_path=str(tmp_path / "gate_ckpt"),
    )
    got = {(r["eval_id"], r["train_id"]) for r in out.collect()}
    want = {
        (r["eval_id"], r["train_id"])
        for r in registry.QUERIES["contamination_pairs"](spark, SF_DIR).collect()
    }
    assert got == want and got
    # the pairs came off DISK, written inside foreachBatch — one
    # batch=<epoch> partition directory per micro-batch
    epoch_dirs = [d for d in os.listdir(sink) if d.startswith("batch=")]
    assert epoch_dirs
    sunk = {
        (r["eval_id"], r["train_id"])
        for r in spark.read.parquet(sink).select("eval_id", "train_id").collect()
    }
    assert sunk == want
    assert plans
    pruned_lines = [
        ln
        for p in plans
        for ln in p.splitlines()
        if "PartitionFilters" in ln and "pbucket" in ln
    ]
    assert pruned_lines, "index scan did not carry a pbucket PartitionFilter"


def test_stored_index_stop_band_guard_same_pairs(spark, tmp_path):
    """r8 (VERDICT r7 item 4): the stop-band guard applied at stored-index
    BUILD (write_band_index(max_band_bucket=)) bounds the foreachBatch
    gate against a boilerplate-heavy arriving shard — the exact ingest
    scenario where the measured 18x hot-band candidate blowup lands on
    micro-batch wall. Same hot-band fixture as the batch guard test
    (test_similarity_dedup.py): ~1/3 of substantial docs share an
    80-token template block, incoming docs are near-dup mutations of a
    slice of them. Asserts the guard ENGAGED (guarded index strictly
    smaller: hot corpus buckets dropped) and the gate's verified pair
    set is IDENTICAL — hot-bucket candidates are junk the exact verify
    rejects, so only wasted work is removed."""
    from wvfoia_sync_spark.functions.text import tokens
    from wvfoia_sync_spark.sources.tables import load_table
    from wvfoia_sync_spark.streaming import jobs

    boiler = " ".join(
        f"boilerplate term{i % 17} clause{i % 23} notice{i}" for i in range(20)
    )

    def templated(df):
        return df.select(
            "doc_id",
            F.when(
                (F.col("doc_id") % 3 == 0) & (F.size(tokens("text")) >= 40),
                F.concat(F.lit(boiler + " "), F.col("text")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )

    corpus = templated(
        load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    )
    cap = 20
    idx_raw = str(tmp_path / "idx_raw")
    idx_guard = str(tmp_path / "idx_guard")
    jobs.write_band_index(corpus, idx_raw, num_hashes=64, bands=16)
    jobs.write_band_index(
        corpus, idx_guard, num_hashes=64, bands=16, max_band_bucket=cap
    )
    n_raw = spark.read.parquet(f"{idx_raw}/bands").count()
    n_guard = spark.read.parquet(f"{idx_guard}/bands").count()
    assert n_guard < n_raw, "guard did not drop any hot corpus buckets"

    # boilerplate-heavy arriving shard: near-dup mutations of template docs
    incoming = (
        templated(jobs.documents_stream(spark, SF_DIR).select("doc_id", "text"))
        .where(F.col("doc_id") % 13 == 0)
        .select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" trailing mutation")).alias("text"),
        )
    )
    got = {}
    for tag, idx in (("raw", idx_raw), ("guard", idx_guard)):
        out = jobs.streaming_near_dup_pruned(
            incoming,
            idx,
            f"snd_guard_{tag}",
            str(tmp_path / f"sink_{tag}"),
            threshold=0.8,
            num_hashes=64,
            bands=16,
            checkpoint_path=str(tmp_path / f"ckpt_{tag}"),
        )
        got[tag] = {(r["eval_id"], r["train_id"]) for r in out.collect()}
    assert got["raw"] and got["guard"] == got["raw"], (
        f"stored-index guard changed the verified pair set: "
        f"lost {len(got['raw'] - got['guard'])}, "
        f"gained {len(got['guard'] - got['raw'])}"
    )


# ---------------------------------- compression / near-dup matrix ---


def test_compression_scores_separates_repetition(spark):
    rows = [
        (1, "the quick brown fox jumps over a lazy dog near the riverbank today"),
        (2, "spam " * 120),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in textops.compression_scores(df).collect()}
    assert got[2]["ratio"] < got[1]["ratio"]
    import zlib

    assert got[1]["n_compressed"] == len(zlib.compress(rows[0][1].encode(), 6))


def test_compression_property_check_rows(spark):
    out = {
        r["property"]: r["ok"]
        for r in registry.QUERIES["compression_property_check"](
            spark, SF_DIR
        ).collect()
    }
    assert out == {
        "planted_repetitive_separates": True,
        "ratios_bounded": True,
    }


def test_near_dup_rate_matrix_counts_cross_source(spark):
    """A 20-token doc and its 1-token mutation in ANOTHER source is one
    cross-source near-dup pair; unrelated docs contribute nothing."""
    from wvfoia_sync_spark.queries.dedup_queries import near_dup_rate_matrix  # noqa: F401
    from wvfoia_sync_spark.operators import dedup as _dedup

    base = " ".join(f"tok{i}" for i in range(20))
    mut = " ".join(f"tok{i}" for i in range(19)) + " zzz"
    rows = [
        (1, base, "A"),
        (2, mut, "B"),
        (3, "completely different words entirely here", "B"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    pairs = _dedup.minhash_dedup_pairs(df, "doc_id", "text", threshold=0.85, bands=32)
    got = {(r["id_a"], r["id_b"]) for r in pairs.select("id_a", "id_b").collect()}
    assert got == {(1, 2)}


def test_shard_manifest_reproducible_and_order_invariant(spark):
    """Manifest rows are a pure function of content: shuffling input
    row order and repartitioning must reproduce identical manifests
    (the dataset-equality gate the op exists for)."""
    out1 = {
        r["shard_id"]: (r["n_docs"], r["n_tokens"], r["manifest_sha"])
        for r in registry.QUERIES["shard_manifest"](spark, SF_DIR).collect()
    }
    from wvfoia_sync_spark.sources.tables import load_table
    from wvfoia_sync_spark.functions.text import fingerprint

    docs = (
        load_table(spark, SF_DIR, "documents")
        .orderBy(F.rand(42))
        .repartition(7)
        .select(
            fingerprint("text").alias("f"),
            F.size(
                F.filter(
                    F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                    lambda t: t != F.lit(""),
                )
            ).alias("n_tok"),
        )
    )
    shard = (F.conv(F.substring("f", 1, 4), 16, 10).cast("long") % 16).alias("shard_id")
    out2 = {
        r["shard_id"]: (r["n_docs"], r["n_tokens"], r["manifest_sha"])
        for r in docs.select(shard, "f", "n_tok")
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.sha2(F.concat_ws("", F.array_sort(F.collect_list("f"))), 256).alias(
                "manifest_sha"
            ),
        )
        .collect()
    }
    assert out1 == out2 and len(out1) == 16


# --------------------------------------------- audio_fingerprint_dedup ---


def _wav_media(spark, rows):
    """rows: (media_id, samples list[int]) -> media DataFrame."""
    import io
    import struct
    import wave

    import pandas as pd

    payloads = []
    for _, samples in rows:
        pcm = b"".join(struct.pack("<h", s) for s in samples)
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(8000)
            w.writeframes(pcm)
        payloads.append(buf.getvalue())
    return spark.createDataFrame(
        pd.DataFrame({"media_id": [r[0] for r in rows], "payload": payloads}),
        "media_id long, payload binary",
    )


def test_audio_energy_hash_polarity_inversion_invariance(spark):
    from wvfoia_sync_spark.operators import multimodal

    s = [((i * 37) % 1500) - 700 for i in range(256)]
    inv = [-v for v in s]
    media = _wav_media(spark, [(1, s), (2, inv)])
    got = {r["media_id"]: r["ehash"] for r in multimodal.audio_energy_hash(media).collect()}
    assert got[1] == got[2] and got[1] is not None


def test_audio_energy_hash_distinct_profiles_differ(spark):
    from wvfoia_sync_spark.operators import multimodal

    loud_start = [1000] * 128 + [1] * 128
    loud_end = [1] * 128 + [1000] * 128
    media = _wav_media(spark, [(1, loud_start), (2, loud_end)])
    got = {r["media_id"]: r["ehash"] for r in multimodal.audio_energy_hash(media).collect()}
    assert got[1] != got[2]


def test_audio_energy_hash_bad_payloads_null(spark):
    import pandas as pd
    from wvfoia_sync_spark.operators import multimodal

    odd = _wav_media(spark, [(3, [5] * 100)]).collect()[0]["payload"]  # 100 % 16 != 0
    media = spark.createDataFrame(
        pd.DataFrame({"media_id": [1, 2], "payload": [b"not audio", bytes(odd)]}),
        "media_id long, payload binary",
    )
    got = {r["media_id"]: r["ehash"] for r in multimodal.audio_energy_hash(media).collect()}
    assert got[1] is None and got[2] is None


def test_shard_manifest_incremental_prunes_untouched_shards(spark):
    """The incremental path must equal the full recompute AND actually
    carry untouched shards forward: with a delta confined to one shard,
    only that shard's manifest may be recomputed."""
    rows = [
        (1, "alpha beta gamma"),
        (2, "delta epsilon zeta"),
        (3, "eta theta iota"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from wvfoia_sync_spark.functions.text import fingerprint

    docs = df.select(
        "doc_id",
        fingerprint("text").alias("f"),
        F.size(F.split(F.lower("text"), " ")).alias("n_tok"),
    )
    shard = (F.conv(F.substring("f", 1, 4), 16, 10).cast("long") % 16).alias("shard_id")
    sharded = docs.select(shard, "f", "n_tok", "doc_id")

    def manifest(rows_):
        return rows_.groupBy("shard_id").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.sha2(F.concat_ws("", F.array_sort(F.collect_list("f"))), 256).alias(
                "manifest_sha"
            ),
        )

    base, delta = sharded.where(F.col("doc_id") < 3), sharded.where(F.col("doc_id") == 3)
    touched = delta.select("shard_id").distinct()
    inc = manifest(
        base.unionAll(delta).join(F.broadcast(touched), "shard_id", "left_semi")
    ).unionAll(manifest(base).join(F.broadcast(touched), "shard_id", "left_anti"))
    full = manifest(sharded)
    key = lambda c: {r["shard_id"]: (r["n_docs"], r["n_tokens"], r["manifest_sha"]) for r in c}
    assert key(inc.collect()) == key(full.collect())
    # delta shard really was the only one recomputed: untouched rows are
    # bytes-identical to the base-only manifests
    t = {r["shard_id"] for r in touched.collect()}
    base_m = key(manifest(base).collect())
    for sid, v in key(inc.collect()).items():
        if sid not in t:
            assert base_m[sid] == v


def test_snapshot_drift_sketch_properties_and_plan(spark):
    out = {
        r["property"]: r["ok"]
        for r in registry.QUERIES["snapshot_drift_sketch"](spark, SF_DIR).collect()
    }
    assert out == {"counts_conserved": True, "shares_sum_to_one": True}
    # no per-type sort: the plan must not contain a Window sort spilling
    # whole-table rows (ntile) — percentile_approx is an aggregate
    from tests.test_plan_quality import plan

    p = plan(registry.QUERIES["snapshot_drift_sketch"](spark, SF_DIR))
    assert "ntile(10)" not in p and "percentile_approx" in p


# ------------------------------------------- decontamination scrub ---


def test_decontam_scrub_semantics(spark):
    """Span-removal semantics against an independent Python reference on
    the fixture corpus: (a) docs with no eval-gram overlap come back
    md5-identical to their own token join (nothing removed); (b) docs
    flagged by decontam_overlap lose exactly the tokens covered by a
    matching 4-gram start (positions recomputed in Python from the
    collected token arrays); (c) the fixture is non-trivial — at least
    one doc actually gets scrubbed."""
    import hashlib

    from wvfoia_sync_spark.functions import text as text_fns
    from wvfoia_sync_spark.sources.tables import load_table

    toks = {
        r["doc_id"]: list(r["t"])
        for r in load_table(spark, SF_DIR, "documents")
        .select("doc_id", text_fns.tokens("text").alias("t"))
        .collect()
    }
    ev_grams = {
        " ".join(t[i : i + 4])
        for d, t in toks.items()
        if d % 50 == 0
        for i in range(len(t) - 3)
    }
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["scrubbed_md5"])
        for r in registry.QUERIES["decontam_scrub"](spark, SF_DIR).collect()
    }
    assert set(got) == {d for d in toks if d % 50 != 0}
    scrubbed_any = 0
    for d, (n_tokens, n_removed, md5) in got.items():
        t = toks[d]
        assert n_tokens == len(t)
        starts = [
            i for i in range(len(t) - 3) if " ".join(t[i : i + 4]) in ev_grams
        ]
        removed = {p for i in starts for p in range(i, i + 4)}
        kept = [x for i, x in enumerate(t) if i not in removed]
        assert n_removed == len(removed)
        assert md5 == hashlib.md5(" ".join(kept).encode()).hexdigest()
        scrubbed_any += bool(removed)
    assert scrubbed_any > 0, "fixture produced no contaminated training doc"


def test_append_band_index_equivalent_to_rebuild(spark, tmp_path):
    """r8: incremental band-index maintenance (append_band_index) is
    gate-equivalent to a full rebuild — write(base) + append(delta)
    and write(base ∪ delta) give the pruned streaming gate the
    IDENTICAL verified pair set, and the appended layout keeps the
    pbucket partition directories (the PartitionFilter pruning
    contract) while touching only delta-sized work."""
    import os

    from wvfoia_sync_spark.sources.tables import load_table
    from wvfoia_sync_spark.streaming import jobs

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    base = docs.where(F.col("doc_id") % 5 != 0)
    delta = docs.where(F.col("doc_id") % 5 == 0)

    idx_full = str(tmp_path / "idx_full")
    idx_inc = str(tmp_path / "idx_inc")
    jobs.write_band_index(docs, idx_full, num_hashes=64, bands=16)
    jobs.write_band_index(base, idx_inc, num_hashes=64, bands=16)
    jobs.append_band_index(delta, idx_inc)

    # same LIVE rows in both layouts (bands + shingle verify table) —
    # the seg column differs by construction (0 everywhere vs 0/1), so
    # the contract is over the newest-wins view readers consume; the
    # shingle column is an array -> tuple-ize for set membership
    for a, b in zip(
        jobs.load_band_index(spark, idx_full),
        jobs.load_band_index(spark, idx_inc),
    ):
        assert _rowset(a) == _rowset(b)
    assert any(
        d.startswith("pbucket=") for d in os.listdir(f"{idx_inc}/bands")
    )

    incoming = (
        jobs.documents_stream(spark, SF_DIR)
        .where(F.col("doc_id") % 31 == 0)
        .select(
            (F.col("doc_id") + 500000).alias("doc_id"),
            F.concat(F.col("text"), F.lit("  ")).alias("text"),
        )
    )
    pairs = {}
    for tag, idx in (("full", idx_full), ("inc", idx_inc)):
        out = jobs.streaming_near_dup_pruned(
            incoming,
            idx,
            f"snd_append_{tag}",
            str(tmp_path / f"sink_{tag}"),
            threshold=0.8,
            num_hashes=64,
            bands=16,
        )
        pairs[tag] = {(r["eval_id"], r["train_id"]) for r in out.collect()}
    assert pairs["full"] and pairs["inc"] == pairs["full"]


def _rowset(df):
    """Set of tuples, array columns tuple-ized for set membership."""
    return {
        tuple(tuple(x) if isinstance(x, list) else x for x in r)
        for r in df.collect()
    }


def _gate_pairs(spark, tmp_path, idx, tag, **kw):
    from wvfoia_sync_spark.streaming import jobs

    incoming = (
        jobs.documents_stream(spark, SF_DIR)
        .where(F.col("doc_id") % 31 == 0)
        .select(
            (F.col("doc_id") + 500000).alias("doc_id"),
            F.concat(F.col("text"), F.lit("  ")).alias("text"),
        )
    )
    out = jobs.streaming_near_dup_pruned(
        incoming,
        idx,
        f"snd_{tag}",
        str(tmp_path / f"sink_{tag}"),
        threshold=0.8,
        num_hashes=64,
        bands=16,
        **kw,
    )
    return {(r["eval_id"], r["train_id"]) for r in out.collect()}


def test_append_band_index_rearriving_doc_newest_wins(spark, tmp_path):
    """r9 (closes the r8 verdict's What's-wrong #2): a delta containing
    an UPDATED version of an already-indexed doc must not leave the
    stale version's band/shingle rows visible — readers resolve each
    train_id to its newest segment, so write(base) + append(updated
    delta) gates identically to a fresh rebuild of the UPSERTED corpus.
    Without live resolution the appended layout scores candidates
    against both versions and can emit pairs against content that no
    longer exists (the silent-corruption path this test pins shut)."""
    from wvfoia_sync_spark.sources.tables import load_table
    from wvfoia_sync_spark.streaming import jobs

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    # the delta REWRITES every 31st doc (the very docs the incoming
    # stream mutates into near-dups) to unrelated short content, plus
    # adds genuinely new docs — the upserted corpus should yield ZERO
    # matches against the rewritten ids' old text
    rewritten = docs.where(F.col("doc_id") % 31 == 0).select(
        "doc_id",
        F.concat(F.lit("replaced content "), F.col("doc_id").cast("string"))
        .alias("text"),
    )
    new_docs = docs.where(F.col("doc_id") % 31 != 0).limit(5).select(
        (F.col("doc_id") + 900000).alias("doc_id"), "text"
    )
    delta = rewritten.unionByName(new_docs)
    upserted = (
        docs.join(delta.select("doc_id"), "doc_id", "left_anti")
        .unionByName(delta)
    )

    idx_inc = str(tmp_path / "idx_inc")
    idx_fresh = str(tmp_path / "idx_fresh")
    jobs.write_band_index(docs, idx_inc, num_hashes=64, bands=16)
    jobs.append_band_index(delta, idx_inc)
    jobs.write_band_index(upserted, idx_fresh, num_hashes=64, bands=16)

    for a, b in zip(
        jobs.load_band_index(spark, idx_inc),
        jobs.load_band_index(spark, idx_fresh),
    ):
        assert _rowset(a) == _rowset(b)

    pairs_inc = _gate_pairs(spark, tmp_path, idx_inc, "upsert_inc")
    pairs_fresh = _gate_pairs(spark, tmp_path, idx_fresh, "upsert_fresh")
    assert pairs_inc == pairs_fresh
    # and the rewritten docs really are gone from the match set: every
    # incoming doc's only true near-dup was its pre-rewrite original
    assert not any(t % 31 == 0 for _, t in pairs_inc)


def test_compact_band_index_equivalent_and_recaps(spark, tmp_path):
    """r9 (the r8 verdict's top_next): compact_band_index folds
    write + append x2 (with a re-arriving doc) into a single-segment
    layout row-identical to a fresh write_band_index of the upserted
    union, with the gate pair set unchanged, pbucket partition dirs
    rebuilt, and the manifest reset to max_seg=0."""
    import os

    from wvfoia_sync_spark.sources.tables import load_table
    from wvfoia_sync_spark.streaming import jobs

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    base = docs.where(F.col("doc_id") % 3 == 0)
    d1 = docs.where(F.col("doc_id") % 3 == 1)
    # d2 re-arrives one of d1's docs with new text: compaction must keep
    # only the newest version
    first_d1 = d1.orderBy("doc_id").limit(1).collect()[0]["doc_id"]
    d2 = docs.where(F.col("doc_id") % 3 == 2).unionByName(
        spark.createDataFrame(
            [(first_d1, "fresh replacement text")], "doc_id long, text string"
        )
    )
    upserted = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") == first_d1, F.lit("fresh replacement text")
        ).otherwise(F.col("text")),
    )

    idx = str(tmp_path / "idx")
    idx_fresh = str(tmp_path / "idx_fresh")
    jobs.write_band_index(base, idx, num_hashes=64, bands=16)
    jobs.append_band_index(d1, idx)
    jobs.append_band_index(d2, idx)
    jobs.compact_band_index(spark, idx)
    jobs.write_band_index(upserted, idx_fresh, num_hashes=64, bands=16)

    # post-compaction the RAW layouts are comparable (both seg=0) —
    # stale rows physically gone, not just filtered at read
    for sub in ("bands", "shingles"):
        a = _rowset(spark.read.parquet(f"{idx}/{sub}"))
        b = _rowset(spark.read.parquet(f"{idx_fresh}/{sub}"))
        assert a == b, f"{sub} diverged: {len(a ^ b)} rows"
    man = segments.read_manifest(idx, jobs.BAND_MANIFEST)
    assert man["max_seg"] == 0
    assert any(d.startswith("pbucket=") for d in os.listdir(f"{idx}/bands"))

    pairs_c = _gate_pairs(spark, tmp_path, idx, "compact")
    pairs_f = _gate_pairs(spark, tmp_path, idx_fresh, "compact_fresh")
    assert pairs_c and pairs_c == pairs_f


def test_compact_band_index_drops_cross_segment_hot_bucket(spark, tmp_path):
    """r9: the compaction cap sees the MERGED whole — a (band, bhash)
    bucket under the cap within every individual segment but over it
    across segments (boilerplate arriving spread over many shards, the
    exact exposure append_band_index's per-call guard cannot see) is
    dropped by compact_band_index(max_band_bucket=)."""
    from wvfoia_sync_spark.streaming import jobs

    boiler = "the quick brown fox jumps over the lazy dog again and again"
    uniq = lambda i: " ".join(f"w{i}x{j} tok{i * 37 + j}" for j in range(12))
    mk = lambda lo, hi: spark.createDataFrame(
        [(i, boiler) for i in range(lo, hi)]
        + [(i + 100, uniq(i)) for i in range(lo, hi)],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "idx_hot")
    # 3 boilerplate docs per segment, identical text: each of their
    # buckets holds 3 per segment (under cap=5) but 9 across the merged
    # whole (over cap); the unique docs' buckets stay cold throughout
    jobs.write_band_index(mk(0, 3), idx, num_hashes=64, bands=16)
    jobs.append_band_index(mk(3, 6), idx)
    jobs.append_band_index(mk(6, 9), idx)
    pre = spark.read.parquet(f"{idx}/bands")
    assert pre.count() == 18 * 16  # nothing dropped at write/append time

    jobs.compact_band_index(spark, idx, max_band_bucket=5)
    post = spark.read.parquet(f"{idx}/bands")
    # boilerplate ids (0..8) gone from candidate gen, unique ids intact
    assert post.where(F.col("train_id") < 100).count() == 0, (
        "cross-segment hot buckets survived compaction"
    )
    assert post.where(F.col("train_id") >= 100).count() == 9 * 16
    # shingle verify table is NOT capped — only the candidate-gen side
    assert spark.read.parquet(f"{idx}/shingles").count() == 18


def test_dsir_persist_grams_hash_identical_and_plan_differs_only_by_cache(
    spark,
):
    """r9 (the r8 verdict's What's-wrong #1): persist_grams=True — the
    measured 100x-scale side of the SCALE_probe_r8_dsir crossover — is
    value-identical to the default recompute form, and the two plans
    differ ONLY by the InMemoryRelation under the gram consumers (same
    aggregate/broadcast shape above the cache)."""
    from tests.test_plan_quality import plan
    from wvfoia_sync_spark.queries.corpus_text import dsir_importance

    rows = lambda df: sorted(
        (r["doc_id"], r["n_grams"], round(r["llr"], 9), r["selected"])
        for r in df.collect()
    )
    # plan+collect the base form BEFORE the persist exists: Spark's
    # cache manager substitutes matching subtrees globally, so a
    # later-planned "uncached" query would silently read the cache too
    base = dsir_importance(spark, SF_DIR)
    p_base, r_base = plan(base), rows(base)
    try:
        cached = dsir_importance(spark, SF_DIR, persist_grams=True)
        p_cached, r_cached = plan(cached), rows(cached)
        assert r_base == r_cached
        assert "InMemoryTableScan" not in p_base
        assert "InMemoryTableScan" in p_cached
        # same shape above the cache: the one-row broadcast model attach
        # and the doc-keyed aggregate survive in both forms
        for frag in ("BroadcastNestedLoopJoin", "HashAggregate"):
            assert frag in p_base and frag in p_cached
    finally:
        spark.catalog.clearCache()


def test_decontam_split_semantics(spark):
    """Split-document semantics against an independent Python reference
    on the fixture corpus: surviving positions recomputed in Python
    from the collected token arrays are grouped into contiguous runs;
    the query's (run_idx, n_toks, run_md5) rows must match run-for-run
    in document order. Also pins the scrub<->split relationship: per
    doc, sum of run lengths == n_tokens - n_removed from decontam_scrub,
    and a doc with >= 2 runs exists (a real mid-document cut — the
    fixture exercises the seam the operator is FOR)."""
    import hashlib

    from wvfoia_sync_spark.functions import text as text_fns
    from wvfoia_sync_spark.sources.tables import load_table

    toks = {
        r["doc_id"]: list(r["t"])
        for r in load_table(spark, SF_DIR, "documents")
        .select("doc_id", text_fns.tokens("text").alias("t"))
        .collect()
    }
    ev_grams = {
        " ".join(t[i : i + 4])
        for d, t in toks.items()
        if d % 50 == 0
        for i in range(len(t) - 3)
    }
    expected: dict[int, list[tuple[int, str]]] = {}
    for d, t in toks.items():
        if d % 50 == 0:
            continue
        starts = [
            i for i in range(len(t) - 3) if " ".join(t[i : i + 4]) in ev_grams
        ]
        removed = {p for i in starts for p in range(i, i + 4)}
        runs: list[list[str]] = []
        prev = None
        for i, x in enumerate(t):
            if i in removed:
                continue
            if prev is None or i != prev + 1:
                runs.append([])
            runs[-1].append(x)
            prev = i
        expected[d] = [
            (len(r), hashlib.md5(" ".join(r).encode()).hexdigest())
            for r in runs
        ]

    got: dict[int, dict[int, tuple[int, str]]] = {}
    for r in registry.QUERIES["decontam_split"](spark, SF_DIR).collect():
        got.setdefault(r["doc_id"], {})[r["run_idx"]] = (
            r["n_toks"],
            r["run_md5"],
        )
    assert set(got) == {d for d, rs in expected.items() if rs}
    multi = 0
    for d, runs_d in got.items():
        assert sorted(runs_d) == list(range(len(runs_d)))  # dense 0-based
        assert [runs_d[i] for i in range(len(runs_d))] == expected[d]
        multi += len(runs_d) >= 2

    scrub = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"])
        for r in registry.QUERIES["decontam_scrub"](spark, SF_DIR).collect()
    }
    for d, (n_tokens, n_removed) in scrub.items():
        assert sum(n for n, _ in expected[d]) == n_tokens - n_removed
    assert multi > 0, "fixture produced no mid-document cut"


def test_append_guard_on_divergence_reconverged_by_compaction(spark, tmp_path):
    """r9 (pins the r8 advice's delta-local over-dropping caveat as
    SEMANTICS, not just prose): appending a large delta WITH the cap
    drops buckets that are merely popular within the delta but under
    the cap corpus-wide, and conversely buckets jointly hot across
    base+delta survive because no single call sees them — so
    write(base)+append(delta, cap) diverges from write(base ∪ delta,
    cap). The production recipe (re-apply the tight cap at
    compact_band_index) makes the layouts row-identical again. Both
    halves asserted."""
    from wvfoia_sync_spark.streaming import jobs

    # Cross-segment under-dropping fixture: 3 boilerplate copies in the
    # base + 3 more in the delta, cap=5. Each per-call guard sees only
    # 3 (under cap, nothing dropped) while a fresh capped rebuild of
    # the union sees 6 > 5 and drops the bucket — the divergence the
    # docstring documents. Compaction with the same cap re-converges
    # the appended layout to the fresh rebuild, row for row.
    boiler = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    mk = lambda lo, hi: spark.createDataFrame(
        [(i, boiler) for i in range(lo, hi)]
        + [(i + 100, f"unique doc {i} " + " ".join(f"w{i}{j}" for j in range(8)))
           for i in range(lo, hi)],
        "doc_id long, text string",
    )
    idx_inc = str(tmp_path / "idx_inc")
    idx_fresh = str(tmp_path / "idx_fresh")
    jobs.write_band_index(mk(0, 3), idx_inc, num_hashes=64, bands=16,
                          max_band_bucket=5)
    jobs.append_band_index(mk(3, 6), idx_inc, max_band_bucket=5)
    jobs.write_band_index(
        mk(0, 3).unionByName(mk(3, 6)), idx_fresh,
        num_hashes=64, bands=16, max_band_bucket=5,
    )
    live_inc = jobs.load_band_index(spark, idx_inc)[0]
    live_fresh = jobs.load_band_index(spark, idx_fresh)[0]
    # divergence: the per-call guard saw 3 per segment (under cap) and
    # kept the boilerplate buckets; the fresh capped rebuild dropped
    # them (6 > 5 across the union)
    assert live_inc.where(F.col("train_id") < 100).count() == 6 * 16
    assert live_fresh.where(F.col("train_id") < 100).count() == 0

    # the documented recipe: compaction re-applies the cap across the
    # merged whole and re-converges the layouts row-for-row
    jobs.compact_band_index(spark, idx_inc, max_band_bucket=5)
    assert _rowset(spark.read.parquet(f"{idx_inc}/bands")) == _rowset(
        spark.read.parquet(f"{idx_fresh}/bands")
    )


def test_repetition_budget_waterfilling_semantics(spark):
    """r9: repetition_budget against an independent sequential
    waterfilling reference in Python (ascending-capacity sweep: cap out
    while capacity < remaining/remaining_sources, then equal shares
    with largest-remainder to the last sources in order). Also pins the
    allocation laws: budget exactly conserved, capped sources sit at
    exactly 4.000000 epochs, no source exceeds its capacity, and the
    fixture is non-trivial (both capped and uncapped sources occur)."""
    from wvfoia_sync_spark.functions import text as text_fns
    from wvfoia_sync_spark.sources.tables import load_table

    c = {
        r["source"]: r["c"]
        for r in load_table(spark, SF_DIR, "documents")
        .select("source", F.size(text_fns.tokens("text")).alias("n"))
        .groupBy("source")
        .agg(F.sum("n").alias("c"))
        .collect()
    }
    budget = 39 * sum(c.values()) // 10
    order = sorted(c, key=lambda s: (c[s], s))
    rem, rem_n = budget, len(order)
    expected = {}
    i = 0
    for i, s in enumerate(order):
        if 4 * c[s] * rem_n < rem:
            expected[s] = (4 * c[s], True)
            rem -= 4 * c[s]
            rem_n -= 1
        else:
            break
    uncapped = order[len(expected):]
    if uncapped:
        base, extra = rem // len(uncapped), rem % len(uncapped)
        for j, s in enumerate(uncapped):
            expected[s] = (
                base + (1 if j >= len(uncapped) - extra else 0),
                False,
            )

    got = {
        r["source"]: r
        for r in registry.QUERIES["repetition_budget"](spark, SF_DIR).collect()
    }
    assert set(got) == set(c)
    for s, r in got.items():
        alloc, capped = expected[s]
        assert r["unique_tokens"] == c[s]
        assert r["capacity"] == 4 * c[s]
        assert (r["allocated_tokens"], r["capped"]) == (alloc, capped), s
        assert r["allocated_tokens"] <= r["capacity"]
        assert r["epochs_ppm"] == r["allocated_tokens"] * 1000000 // c[s]
        if capped:
            assert r["epochs_ppm"] == 4000000
    assert sum(r["allocated_tokens"] for r in got.values()) == budget
    caps = {r["capped"] for r in got.values()}
    assert caps == {True, False}, "fixture should mix capped and uncapped"


def test_decontam_split_production_rules(spark):
    """r9: the GPT-3 appendix-C production rules as parameters —
    min_run_tokens discards short pieces (keeping ORIGINAL run_idx),
    max_runs drops whole docs whose split count (pre-length-floor)
    exceeds the cap. Verified by filtering the default output in
    Python and comparing row sets; both rules must actually fire on
    the fixture."""
    from wvfoia_sync_spark.queries.corpus_text import decontam_split

    base_rows = [
        (r["doc_id"], r["run_idx"], r["n_toks"], r["run_md5"])
        for r in decontam_split(spark, SF_DIR).collect()
    ]
    by_doc: dict[int, list] = {}
    for row in base_rows:
        by_doc.setdefault(row[0], []).append(row)

    MIN, MAXR = 20, 1
    expected = {
        row
        for d, rows_d in by_doc.items()
        if len(rows_d) <= MAXR
        for row in rows_d
        if row[2] >= MIN
    }
    got = {
        (r["doc_id"], r["run_idx"], r["n_toks"], r["run_md5"])
        for r in decontam_split(
            spark, SF_DIR, min_run_tokens=MIN, max_runs=MAXR
        ).collect()
    }
    assert got == expected
    # both rules fired: some doc dropped for splitting, some run
    # dropped for length (among docs that survived the split cap)
    assert any(len(rows_d) > MAXR for rows_d in by_doc.values())
    assert any(
        row[2] < MIN
        for d, rows_d in by_doc.items()
        if len(rows_d) <= MAXR
        for row in rows_d
    )


def test_exact_substring_dedup_semantics(spark):
    """r10 (Lee et al. 2022 ExactSubstr): the query's surviving runs
    against an independent Python reference on the fixture corpus —
    every 6-gram occurrence is enumerated in Python, grams with >= 2
    occurrences mark all BUT the (doc_id, position)-first occurrence,
    covered positions fold into contiguous surviving runs, and the
    query's (run_idx, n_toks, run_md5) rows must match run-for-run.
    Also pins that the fixture exercises the semantics (a cross-doc
    duplicated gram exists; its canonical doc keeps tokens a later doc
    loses; some doc splits mid-document) and that fingerprint=True
    (xxhash64 keys, the narrow-shuffle scale form) is row-identical on
    collision-free data."""
    import hashlib

    from wvfoia_sync_spark.functions import text as text_fns
    from wvfoia_sync_spark.queries.corpus_text import exact_substring_dedup
    from wvfoia_sync_spark.sources.tables import load_table

    SPAN = 6
    toks = {
        r["doc_id"]: list(r["t"])
        for r in load_table(spark, SF_DIR, "documents")
        .select("doc_id", text_fns.tokens("text").alias("t"))
        .collect()
    }
    occ: dict[str, list[tuple[int, int]]] = {}
    for d, t in toks.items():
        for i in range(len(t) - SPAN + 1):
            occ.setdefault(" ".join(t[i : i + SPAN]), []).append((d, i))
    removed: dict[int, set[int]] = {d: set() for d in toks}
    cross_doc_dup = False
    for g, positions in occ.items():
        if len(positions) < 2:
            continue
        first = min(positions)
        cross_doc_dup |= len({d for d, _ in positions}) >= 2
        for d, i in positions:
            if (d, i) != first:
                removed[d].update(range(i, i + SPAN))
    assert cross_doc_dup, "fixture has no cross-document duplicated gram"

    expected: dict[int, list[tuple[int, str]]] = {}
    for d, t in toks.items():
        runs: list[list[str]] = []
        prev = None
        for i, x in enumerate(t):
            if i in removed[d]:
                continue
            if prev is None or i != prev + 1:
                runs.append([])
            runs[-1].append(x)
            prev = i
        expected[d] = [
            (len(r), hashlib.md5(" ".join(r).encode()).hexdigest())
            for r in runs
        ]

    rows = registry.QUERIES["exact_substring_dedup"](spark, SF_DIR).collect()
    got: dict[int, dict[int, tuple[int, str]]] = {}
    for r in rows:
        got.setdefault(r["doc_id"], {})[r["run_idx"]] = (
            r["n_toks"],
            r["run_md5"],
        )
    assert set(got) == {d for d, rs in expected.items() if rs}
    for d, runs_d in got.items():
        assert sorted(runs_d) == list(range(len(runs_d)))  # dense 0-based
        assert [runs_d[i] for i in range(len(runs_d))] == expected[d]
    # fixture shape at this SF (the generator plants whole-document and
    # edge-anchored duplicates; mid-document cuts only appear at sf0.1
    # and are exercised by the planted-corpus test below): at least one
    # doc vanishes entirely (a later full copy) and at least one is
    # partially trimmed — and conservation holds doc-for-doc
    assert any(t and len(removed[d]) == len(t) for d, t in toks.items())
    assert any(removed[d] and len(removed[d]) < len(t) for d, t in toks.items())
    for d, t in toks.items():
        assert sum(n for n, _ in expected[d]) == len(t) - len(removed[d])

    fp = exact_substring_dedup(spark, SF_DIR, fingerprint=True).collect()
    assert sorted(map(tuple, fp)) == sorted(map(tuple, rows))


def test_exact_substring_dedup_planted_mid_cut(spark, tmp_path):
    """r10: the planted-corpus twin of the semantics test, forcing the
    shapes the generated fixture lacks at small SF — a MID-document
    duplicated passage (later copy splits into two runs), a whole-doc
    later copy (zero rows), and the keep-first guarantee (the canonical
    doc keeps the passage verbatim)."""
    import hashlib

    from wvfoia_sync_spark.queries.corpus_text import exact_substring_dedup

    shared = "s1 s2 s3 s4 s5 s6 s7"  # 7 tokens: two 6-grams, both dup'd
    d1 = "a1 a2 a3 a4 a5 a6 " + shared + " b1 b2 b3 b4 b5 b6"
    d2 = "c1 c2 c3 c4 c5 c6 " + shared + " e1 e2 e3 e4 e5 e6"
    d4 = "f1 f2 f3 f4 f5 f6 f7 f8 f9 f10"
    spark.createDataFrame(
        [(1, d1, "src_a"), (2, d2, "src_a"), (3, d1, "src_b"), (4, d4, "src_b")],
        "doc_id long, text string, source string",
    ).write.parquet(str(tmp_path / "documents.parquet"))

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    got = sorted(
        map(tuple, exact_substring_dedup(spark, str(tmp_path)).collect())
    )
    expected = sorted(
        [
            # doc 1 is every gram's first occurrence: intact, one run
            (1, 0, 19, md5(d1)),
            # doc 2: the shared mid-passage is a later copy — exactly
            # its 7 tokens drop, leaving the two flanks as runs
            (2, 0, 6, md5("c1 c2 c3 c4 c5 c6")),
            (2, 1, 6, md5("e1 e2 e3 e4 e5 e6")),
            # doc 3 is a whole-doc later copy: zero rows
            # doc 4 shares nothing: intact
            (4, 0, 10, md5(d4)),
        ]
    )
    assert got == expected

    # the report twin on the same corpus: per-source duplicated-token
    # accounting, exact (interval-union fold == oracle's DISTINCT count)
    from wvfoia_sync_spark.queries.corpus_text import exact_substring_stats

    stats = {
        r["source"]: (
            r["n_docs"],
            r["n_docs_touched"],
            r["n_tokens"],
            r["n_dup_tokens"],
            r["dup_frac"],
        )
        for r in exact_substring_stats(spark, str(tmp_path)).collect()
    }
    assert stats == {
        "src_a": (2, 1, 38, 7, 7 / 38),  # doc 2 loses exactly the passage
        "src_b": (2, 1, 29, 19, 19 / 29),  # doc 3 is fully non-canonical
    }


def test_exact_substring_delta_report_planted_steal(spark, tmp_path):
    """r11: the delta-impact report's planted twin. A delta doc with a
    SMALLER doc_id than a corpus gram's first occurrence steals
    canonicality (the corpus doc is reported with the exact stolen-gram
    count and interval-union token coverage); a delta doc with a LARGER
    id does not (the corpus copy stays first); corpus-internal
    duplication alone never appears (no delta involvement)."""
    from wvfoia_sync_spark.queries.corpus_text import (
        exact_substring_delta_report,
    )

    shared = "s1 s2 s3 s4 s5 s6 s7"  # 7 tokens: two 6-grams
    shared2 = "u1 u2 u3 u4 u5 u6 u7"
    dup_c = "d1 d2 d3 d4 d5 d6"  # one 6-gram, duplicated WITHIN corpus
    rows = [
        # corpus (doc_id % 7 != 0)
        (8, "b1 b2 b3 b4 b5 b6 " + shared, "src"),  # victim: 7 < 8
        (15, "c1 c2 c3 c4 c5 c6 " + shared2, "src"),  # safe: 21 > 15
        (2, dup_c, "src"),
        (3, dup_c, "src"),  # corpus-internal dup: not reported
        # delta (doc_id % 7 == 0)
        (7, shared, "src"),  # steals doc 8's two shared grams
        (21, shared2, "src"),  # later than doc 15: steals nothing
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    got = sorted(
        map(tuple, exact_substring_delta_report(spark, str(tmp_path)).collect())
    )
    # doc 8: shared grams start at 0-based 6 and 7 -> union [6,12)+[7,13)
    # covers 7 tokens
    assert got == [(8, 2, 7)]


def test_multi_pass_persist_heuristic_is_result_invariant(spark, monkeypatch):
    """r14 adaptive persist: above the input-size threshold the
    multi-pass corpus queries checkpoint/persist their shared
    intermediate; results must be identical either way (and the bench-SF
    default must be OFF for the committed threshold)."""
    from wvfoia_sync_spark.sources import tables

    assert not tables.persist_multi_pass(SF_DIR), (
        "bench-scale inputs must not trip the persist heuristic"
    )

    def run(name):
        rows = registry.QUERIES[name](spark, SF_DIR).collect()
        return sorted(map(tuple, rows))

    names = ["tfidf_top_terms", "pmi_collocations", "dsir_importance"]
    off = {n: run(n) for n in names}
    monkeypatch.setattr(tables, "PERSIST_PASSES_MIN_BYTES", 0)
    assert tables.persist_multi_pass(SF_DIR)
    on = {n: run(n) for n in names}
    spark.catalog.clearCache()  # dsir's persisted grams are caller-owned
    assert on == off
