"""Round-5 additions: boilerplate line removal, distributed BPE
training, hard-negative mining. Differential oracles run via
tools/check_oracle.py; these tests pin the operator semantics the
oracles can't see (edge cases absent from the fixture) and the plan
shapes."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from wvfoia_sync_spark import registry
from wvfoia_sync_spark.operators import similarity, textops

SF_DIR = "/root/testdata/sf0.001"


# ------------------------------------------------------- boilerplate ---


def test_boilerplate_removal_strips_shared_lines_keeps_order(spark):
    rows = [
        (1, ["nav bar", "unique alpha", "footer", "unique beta"]),
        (2, ["nav bar", "second body", "footer"]),
        (3, ["nav bar", "third body", "footer"]),
        (4, ["only original lines here"]),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lines array<string>")
    got = {
        r["doc_id"]: r
        for r in textops.boilerplate_removal(df, min_docs=3).collect()
    }
    assert got[1]["n_lines"] == 4 and got[1]["n_removed"] == 2
    assert got[1]["cleaned"] == "unique alpha unique beta"  # order kept
    assert got[2]["cleaned"] == "second body"
    assert got[4]["n_removed"] == 0
    assert got[4]["cleaned"] == "only original lines here"


def test_boilerplate_removal_fully_purged_doc_stays_as_empty_row(spark):
    """A doc that is ALL boilerplate must survive as (n_removed==n_lines,
    cleaned='') — C4 drops it in the later length filter, not silently
    here."""
    rows = [(i, ["same line"]) for i in range(1, 5)]
    df = spark.createDataFrame(rows, "doc_id long, lines array<string>")
    out = textops.boilerplate_removal(df, min_docs=3).collect()
    assert len(out) == 4
    assert all(r["cleaned"] == "" and r["n_removed"] == 1 for r in out)


def test_boilerplate_removal_keeps_empty_and_null_lines_docs(spark):
    """'One row per input doc' must include docs with an empty or NULL
    lines array — they emit (0, 0, '') instead of vanishing (ADVICE r5)
    — and NULL elements inside an array are dropped from n_lines and
    cleaned without dropping the doc."""
    rows = [
        (1, ["nav", "keep me"]),
        (2, ["nav"]),
        (3, ["nav"]),
        (4, []),            # empty array
        (5, None),          # NULL array
        (6, [None, "solo", None]),  # NULL elements
    ]
    df = spark.createDataFrame(rows, "doc_id long, lines array<string>")
    got = {
        r["doc_id"]: r
        for r in textops.boilerplate_removal(df, min_docs=3).collect()
    }
    assert set(got) == {1, 2, 3, 4, 5, 6}
    for d in (4, 5):
        assert (got[d]["n_lines"], got[d]["n_removed"], got[d]["cleaned"]) == (
            0,
            0,
            "",
        )
    assert got[6]["n_lines"] == 1 and got[6]["cleaned"] == "solo"
    assert got[1]["cleaned"] == "keep me"  # boilerplate still stripped


def test_boilerplate_count_is_distinct_docs_not_occurrences(spark):
    """One doc repeating a line 5 times is NOT boilerplate (count is
    distinct docs); the same line in 3 docs is."""
    rows = [
        (1, ["echo"] * 5),
        (2, ["other text"]),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lines array<string>")
    got = {r["doc_id"]: r for r in textops.boilerplate_removal(df, min_docs=3).collect()}
    assert got[1]["n_removed"] == 0 and got[1]["n_lines"] == 5


# --------------------------------------------------------------- BPE ---


def _py_bpe(freqs: dict[str, int], n: int) -> list[tuple[str, str]]:
    vocab = {w: tuple(w) for w in freqs}
    merges = []
    for _ in range(n):
        counts: dict[tuple[str, str], int] = {}
        for w, syms in vocab.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = (
                    counts.get((syms[i], syms[i + 1]), 0) + freqs[w]
                )
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        a, b = best
        for w, syms in vocab.items():
            out: list[str] = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            vocab[w] = tuple(out)
    return merges


def test_bpe_merge_fold_greedy_left_on_runs(spark):
    """'aaaa' under merge (a,a) must become [aa, aa] (greedy left), never
    [a, aa, a] or [aaa, a]."""
    df = spark.createDataFrame([(["a", "a", "a", "a"],)], "symbols array<string>")
    out = df.select(
        textops._merge_pair_expr(F.col("symbols"), "a", "a").alias("m")
    ).first()["m"]
    assert out == ["aa", "aa"]

    df = spark.createDataFrame([(["a", "a", "a"],)], "symbols array<string>")
    out = df.select(
        textops._merge_pair_expr(F.col("symbols"), "a", "a").alias("m")
    ).first()["m"]
    assert out == ["aa", "a"]


def test_bpe_merge_fold_merged_symbol_does_not_rechain(spark):
    """After [a,b]->ab, a following b must NOT merge with the fresh 'ab'
    (single pass semantics): [a, b, b] -> [ab, b]."""
    df = spark.createDataFrame([(["a", "b", "b"],)], "symbols array<string>")
    out = df.select(
        textops._merge_pair_expr(F.col("symbols"), "a", "b").alias("m")
    ).first()["m"]
    assert out == ["ab", "b"]


def test_train_bpe_matches_python_reference_on_skewed_corpus(spark):
    """Deterministic corpus with engineered ties: the distributed trainer
    must reproduce the reference merge SEQUENCE exactly (count desc,
    pair asc tie order) across iterations where earlier merges create
    later pair candidates."""
    texts = ["lower lower lowest low", "newer newest new new", "wider wide"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")
    spark_merges = textops.train_bpe(df, "text", n_merges=12)

    freqs = {
        r["word"]: r["freq"]
        for r in textops.word_frequencies(df, "text").collect()
    }
    assert spark_merges == _py_bpe(freqs, 12)
    assert len(spark_merges) == 12  # corpus is rich enough to not dry up


def test_bpe_pair_counts_weights_by_frequency(spark):
    df = spark.createDataFrame(
        [("ab", 10), ("ba", 1)], "word string, freq long"
    )
    got = {
        (r["a"], r["b"]): r["cnt"]
        for r in textops.bpe_pair_counts(df).collect()
    }
    assert got == {("a", "b"): 10, ("b", "a"): 1}


# ---------------------------------------------------- hard negatives ---


def test_hard_negatives_excludes_same_label_and_self(spark):
    rows = [
        (0, [1.0, 0.0], 7),   # query
        (1, [1.0, 0.0], 7),   # identical but SAME label: excluded
        (2, [0.9, 0.1], 3),   # the hardest valid negative
        (3, [0.0, 1.0], 3),   # orthogonal: ranked after 2
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = similarity.hard_negatives(
        df, df.where(F.col("vec_id") == 0), k=2
    ).collect()
    got = [(r["rank"], r["neg_id"]) for r in sorted(out, key=lambda r: r["rank"])]
    assert got == [(1, 2), (2, 3)]


def test_hard_negatives_oracle_precondition_top_k_score_gaps(spark):
    """hard_negatives' hash-match oracle assumes rank order agrees
    between Spark's dot/norm expression fold and DuckDB's
    list_cosine_similarity — only sound if adjacent scores in each
    query's top-(k+1) candidate list are separated by far more than
    cross-engine float-accumulation noise (ADVICE r5; mirrors
    test_embedding_near_dup_oracle_precondition). Pin the fixture
    invariant at every SF the gates run on: min adjacent gap measured
    1.9e-5..9e-5, asserted > 1e-8 (~1e7 x ulp)."""
    import numpy as np
    import duckdb

    for sf_dir in (
        "/root/testdata/sf0.001",
        SF_DIR,
        "/root/testdata/sf0.1",
    ):
        d = duckdb.sql(
            f"SELECT vec_id, label, embedding FROM "
            f"'{sf_dir}/embeddings.parquet' ORDER BY vec_id"
        ).fetchnumpy()
        X = np.stack([np.asarray(v, dtype=np.float64) for v in d["embedding"]])
        X = X / np.linalg.norm(X, axis=1, keepdims=True)
        ids, labels = d["vec_id"], d["label"]
        for qi in range(10):  # the query batch is vec_id < 10
            mask = (labels != labels[qi]) & (ids != ids[qi])
            top = np.sort(X[mask] @ X[qi])[::-1][:6]  # k=5 -> top-(k+1)
            assert -np.diff(top).min() > 1e-8, (
                f"{sf_dir} query {ids[qi]}: adjacent top-6 scores within "
                "float noise — re-gate hard_negatives as a recall check "
                "before regenerating fixtures"
            )


def test_knn_join_oracle_precondition_top_k_score_gaps():
    """knn_join's Arrow stage sums the cosine in numpy order, not the JVM
    fold's; the registry query's hash-match oracle stays exact only
    while adjacent scores in each query's top-(k+1) list (k=3, query
    batch vec_id < 20, self-match excluded) sit far above that noise.
    Smallest gap measured: 3.5e-3 at sf0.001, 9.2e-3 at sf0.01, 4.5e-3
    at sf0.1; asserted > 1e-8 like the other margin tests."""
    import os

    import numpy as np
    import duckdb

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        sf_dir = os.path.join(os.path.dirname(SF_DIR), sf)
        d = duckdb.sql(
            f"SELECT vec_id, embedding FROM "
            f"'{sf_dir}/embeddings.parquet' ORDER BY vec_id"
        ).fetchnumpy()
        X = np.stack([np.asarray(v, dtype=np.float64) for v in d["embedding"]])
        X = X / np.linalg.norm(X, axis=1, keepdims=True)
        ids = d["vec_id"]
        for qi in np.nonzero(ids < 20)[0]:
            top = np.sort(X[ids != ids[qi]] @ X[qi])[::-1][:4]
            assert -np.diff(top).min() > 1e-8, (
                f"{sf_dir} query {ids[qi]}: adjacent top-4 scores within "
                "float noise — re-gate knn_join as a recall check before "
                "regenerating fixtures"
            )


def test_hard_negatives_plan_broadcasts_queries_no_cartesian(spark):
    from tests.test_plan_quality import plan

    p = plan(registry.QUERIES["hard_negatives"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


# ----------------------------------------------- cross-corpus contamination ---


def test_contamination_oracle_precondition_margin_gap():
    """contamination_pairs' exact hash-match gate relies on the fixture
    invariant that no organic cross-corpus pair sits NEAR the 0.8
    cutoff: pairs are either near-identical (>= 0.85, where the r=2
    banded geometry misses with P <= 0.21^32) or unrelated (<= 0.3).
    A pair inside [0.3, 0.85) would make the gate data-dependent (the
    r4-ADVICE embedding_near_dup failure mode) — fixture regeneration
    must fail HERE, not as a flaky driver mismatch."""
    import duckdb

    for sf in ("/root/testdata/sf0.001", SF_DIR, "/root/testdata/sf0.1"):
        row = duckdb.sql(
            f"""
            WITH raw AS (
              SELECT doc_id, list_filter(
                regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                x -> x <> '') AS t
              FROM '{sf}/documents.parquet'
            ), trs AS (
              SELECT doc_id AS train_id, list_distinct(list_transform(
                range(1, len(t)-1),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
              FROM raw WHERE len(t) >= 3
            ), evs AS (
              SELECT train_id AS eval_id, s FROM trs WHERE train_id % 31 = 0
            ), j AS (
              SELECT CAST(len(list_intersect(e.s, t.s)) AS DOUBLE)
                       / (len(e.s) + len(t.s) - len(list_intersect(e.s, t.s)))
                       AS jac
              FROM evs e JOIN trs t ON e.eval_id <> t.train_id
            )
            SELECT COALESCE(COUNT(*) FILTER (jac >= 0.3 AND jac < 0.85), 0)
            FROM j
            """
        ).fetchone()
        assert row[0] == 0, (
            f"{sf}: {row[0]} organic cross-corpus pair(s) inside the "
            "[0.3, 0.85) margin band — re-gate contamination_pairs as a "
            "recall/property check before regenerating fixtures"
        )


def test_contamination_pairs_catches_planted_and_organic(spark):
    """Every planted eval twin must pair with its source train doc, and
    the organic fixture near-dups must be caught by the banded stage
    (they are sub-identical, so this exercises probabilistic recall at
    the engineered-safe geometry)."""
    out = registry.QUERIES["contamination_pairs"](spark, SF_DIR).collect()
    pairs = {(r["eval_id"], r["train_id"]) for r in out}
    planted = {(e, e - 500000) for (e, _t) in pairs if _t == e - 500000}
    from wvfoia_sync_spark.sources.tables import load_table
    import pyspark.sql.functions as F2

    eval_ids = [
        r["doc_id"] + 500000
        for r in load_table(spark, SF_DIR, "documents")
        .where(F2.col("doc_id") % 31 == 0)
        .select("doc_id")
        .collect()
    ]
    assert {e for (e, _t) in planted} == set(eval_ids)
    assert len(pairs) >= len(eval_ids)  # organic near-dups ride along


def test_cross_corpus_minhash_rejects_bad_band_geometry(spark):
    from wvfoia_sync_spark.operators import dedup as dedup_ops

    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    with pytest.raises(ValueError):
        dedup_ops.cross_corpus_minhash_pairs(df, df, bands=7)


def test_contamination_pairs_plan_no_cartesian_and_band_equijoin(spark):
    """The candidate stage must be an EQUI join on (band, bhash) — never
    a cross product between the corpora — and the verify joins come back
    by id."""
    from tests.test_plan_quality import plan

    p = plan(registry.QUERIES["contamination_pairs"](spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_boilerplate_purge_plan_single_doc_aggregate(spark):
    """Reassembly is ONE partial/final aggregate pair over doc_id (no
    per-doc window), and the boilerplate flag arrives via a hash join,
    not a cross product."""
    from tests.test_plan_quality import plan

    p = plan(registry.QUERIES["boilerplate_purge"](spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert p.count("Exchange hashpartitioning(doc_id") <= 1


def test_bpe_merge_fold_randomized_vs_python(spark):
    """500 random symbol arrays over {a,b,c,ab} x merges (a,b) and (a,a):
    the codegen fold must equal the greedy-left python apply on every
    one — batch-evaluated in a single projection."""
    import random

    rng = random.Random(20260814)
    alphabet = ["a", "b", "c", "ab"]
    rows = [
        ([rng.choice(alphabet) for _ in range(rng.randint(0, 12))],)
        for _ in range(500)
    ]

    def py_merge(syms, a, b):
        out = []
        for s in syms:
            if out and out[-1] == a and s == b:
                out[-1] = a + b
            else:
                out.append(s)
        return out

    df = spark.createDataFrame(rows, "symbols array<string>")
    got = df.select(
        "symbols",
        textops._merge_pair_expr(F.col("symbols"), "a", "b").alias("m_ab"),
        textops._merge_pair_expr(F.col("symbols"), "a", "a").alias("m_aa"),
    ).collect()
    assert len(got) == 500
    for r in got:
        assert r["m_ab"] == py_merge(r["symbols"], "a", "b"), r["symbols"]
        assert r["m_aa"] == py_merge(r["symbols"], "a", "a"), r["symbols"]


def test_boilerplate_removal_randomized_vs_python(spark):
    """40 random mini-corpora (docs of random lines over a tiny pool,
    so cross-doc repeats are common) evaluated in ONE batched operator
    call via disjoint doc_id ranges — result must equal a direct python
    computation of the same rule (line in >= min_docs DISTINCT docs is
    boilerplate; survivors rejoin in order)."""
    import random

    rng = random.Random(97)
    pool = [f"line{i}" for i in range(6)]
    corpora = []
    for c in range(40):
        docs = {
            c * 100 + d: [rng.choice(pool) for _ in range(rng.randint(1, 6))]
            for d in range(rng.randint(1, 5))
        }
        corpora.append(docs)

    # python reference PER CORPUS (the operator call below runs all
    # corpora at once, so boilerplate counting must NOT leak across the
    # corpus boundary — doc_id ranges are disjoint but lines are shared,
    # hence counting happens per whole input: emulate that)
    all_docs = {}
    for docs in corpora:
        all_docs.update(docs)
    from collections import defaultdict

    docs_per_line = defaultdict(set)
    for did, lines in all_docs.items():
        for ln in lines:
            docs_per_line[ln].add(did)
    expected = {}
    for did, lines in all_docs.items():
        boiler = [ln for ln in lines if len(docs_per_line[ln]) >= 3]
        kept = [ln for ln in lines if len(docs_per_line[ln]) < 3]
        expected[did] = (len(lines), len(boiler), " ".join(kept))

    df = spark.createDataFrame(
        [(did, lines) for did, lines in all_docs.items()],
        "doc_id long, lines array<string>",
    )
    got = {
        r["doc_id"]: (r["n_lines"], r["n_removed"], r["cleaned"])
        for r in textops.boilerplate_removal(df, min_docs=3).collect()
    }
    assert got == expected


def test_dup_clusters_and_best_pick_at_sf01_via_union_find():
    """sf0.1 value verification for the two iterative-CC queries whose
    recursive-CTE DuckDB twins blow any oracle budget at this scale
    (they ARE hash-verified at sf0.01): the exact 0.85 pair set comes
    from DuckDB (a bounded join, ~10 s), the transitive closure from a
    python union-find, and Spark's label-propagation output must match
    component-for-component — min-id labels, sizes, keep ids, and the
    richest-member argmax."""
    import duckdb
    from collections import defaultdict

    from wvfoia_sync_spark import registry
    from wvfoia_sync_spark.session import get_spark

    sf = "/root/testdata/sf0.1"
    con = duckdb.connect()
    con.execute("SET threads TO 16")
    pairs = con.execute(
        f"""
        WITH toks AS (
          SELECT doc_id, source, list_distinct(list_filter(
            regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> ''))
            AS t
          FROM '{sf}/documents.parquet'
        )
        SELECT a.doc_id, b.doc_id
        FROM toks a JOIN toks b ON a.source = b.source AND a.doc_id < b.doc_id
        WHERE len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)) > 0
          AND CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
                / (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))) >= 0.85
        """
    ).fetchall()
    assert len(pairs) > 0

    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps = defaultdict(set)
    for v in list(parent):
        comps[find(v)].add(v)
    # min-reachable-id relabel (the operators' component id convention)
    expected = {min(m): (len(m), min(m)) for m in comps.values()}

    spark = get_spark("tests", cpus=8)
    got_rows = registry.QUERIES["dup_clusters"](spark, sf).collect()
    got = {r["component"]: (r["size"], r["keep_id"]) for r in got_rows}
    assert got == expected

    # cluster_best_pick: richest member (max distinct tokens, min id)
    ntok = dict(
        con.execute(
            f"""
            SELECT doc_id, len(list_distinct(list_filter(
              regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')))
            FROM '{sf}/documents.parquet'
            """
        ).fetchall()
    )
    expected_best = {}
    for comp, members in comps.items():
        best = min(members, key=lambda d: (-ntok[d], d))
        expected_best[min(members)] = (best, ntok[best])
    got_best = {
        r["component"]: (r["best_id"], r["n_tokens"])
        for r in registry.QUERIES["cluster_best_pick"](spark, sf).collect()
    }
    assert got_best == expected_best
