"""Physical-plan regression tests: the scale promises (pushdown,
broadcast, codegen, no interpreted Python in hot paths) asserted against
`.explain` output so a refactor that silently deoptimizes a plan fails CI,
not the 100 TB run.
"""

import pyspark.sql.functions as F

from wvfoia_sync_spark import registry
from wvfoia_sync_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def plan(df) -> str:
    # widen scan-metadata truncation (default 100 chars) so assertions on
    # ReadSchema / PushedFilters can't pass vacuously behind a '...'
    df.sparkSession.conf.set("spark.sql.maxMetadataStringLength", "2000")
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_scan_pushes_predicates_and_prunes_columns(spark):
    p = plan(registry.QUERIES["filter_scan"](spark, SF_DIR))
    # equality + IN predicates reach the parquet reader
    assert "PushedFilters:" in p
    assert "o_orderstatus" in p.split("PushedFilters:")[1].split("\n")[0]
    # projection pruning: untouched wide column never read
    assert "o_comment" not in p.split("ReadSchema:")[1].split("\n")[0]


def test_dim_joins_broadcast(spark):
    # region/nation joins must be broadcast (tiny build sides), never
    # shuffle both sides
    p = plan(registry.QUERIES["region_revenue"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    p2 = plan(registry.QUERIES["nation_stats"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p2


def test_pricing_summary_partial_aggregation_and_codegen(spark):
    df = registry.QUERIES["pricing_summary"](spark, SF_DIR)
    p = plan(df)
    # partial (map-side) + final HashAggregate pair around ONE exchange:
    # the combine happens before the shuffle, so the exchange moves only
    # group-cardinality rows
    assert "partial_sum" in p
    assert p.count("HashAggregate") >= 2
    # execute so AQE finalizes, then check the executed plan: ONE exchange
    # (combine happens map-side, the shuffle moves group-cardinality rows)
    # inside whole-stage-codegen spans ("*(n)" markers)
    df.collect()
    simple = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    # ONE group-key shuffle in the FINAL adaptive plan (the simple AQE
    # explain appends the Initial Plan section, duplicating every line).
    # The r8 spread=True opt-in adds a local-only ROUND-ROBIN exchange
    # below the map stage (see test_spread_is_opt_in_and_enumerated) —
    # count hash exchanges specifically so the property stays "combine
    # before the shuffle, group-cardinality rows moved", which
    # round-robin doesn't affect.
    final = simple.split("Initial Plan")[0]
    assert final.count("Exchange hashpartitioning") <= 1
    assert "*(" in final


def test_no_row_python_udfs_in_headline_plans(spark):
    """Pandas/Arrow UDFs are allowed (ArrowEvalPython/MapInPandas);
    row-at-a-time BatchEvalPython is banned from every headline query."""
    import bench

    for name in bench.HEADLINE:
        if name == "events_hourly_stream":
            continue  # streaming plan; explained differently
        p = plan(registry.QUERIES[name](spark, SF_DIR))
        assert "BatchEvalPython" not in p, f"{name} uses a row Python UDF"


def test_approx_percentile_tracks_exact(spark):
    """The 100 TB percentile path (t-digest approx_percentile) stays
    within 2% relative error of the exact sort-based percentile."""
    o = load_table(spark, SF_DIR, "orders")
    v = F.col("o_totalprice").cast("double")
    row = o.agg(
        F.percentile(v, F.lit(0.9)).alias("exact"),
        F.approx_percentile(v, F.lit(0.9), F.lit(10000)).alias("approx"),
    ).collect()[0]
    assert abs(row.approx - row.exact) / row.exact < 0.02


def test_shipping_priority_pushdown_and_topk(spark):
    """The big-big join query must push its date/segment filters to the
    scans and take the top-10 without a global sort."""
    df = registry.QUERIES["shipping_priority"](spark, SF_DIR)
    p = plan(df)
    pushed = [ln for ln in p.splitlines() if "PushedFilters:" in ln]
    assert any("l_shipdate" in ln for ln in pushed)
    assert any("c_mktsegment" in ln for ln in pushed)
    assert "TakeOrderedAndProject" in p  # top-k, not Sort+Limit over all


def test_bm25_filters_terms_before_aggregation(spark):
    """BM25 must restrict exploded postings to the query terms before the
    tf aggregation (per-term postings, not a corpus-wide groupBy)."""
    import re

    p = plan(registry.QUERIES["bm25_rank"](spark, SF_DIR))
    # parse the formatted detail blocks: "(N) NodeName" headers, ids
    # increase bottom-up. The term Filter must sit BETWEEN the explode
    # Generate and the first aggregation above it — substring-matching
    # 'Filter' in the tree would also hit 'PushedFilters:' metadata
    blocks: dict[int, tuple[str, str]] = {}
    for m in re.finditer(r"^\((\d+)\) (\w+)", p, re.M):
        nid, name = int(m.group(1)), m.group(2)
        end = p.find("\n(", m.end())
        blocks[nid] = (name, p[m.start(): end if end > 0 else len(p)])
    gens = [i for i, (n, t) in blocks.items() if n == "Generate" and "explode" in t]
    assert gens, "no explode in the bm25 plan"
    ok = False
    for g in gens:
        aggs_above = [i for i, (n, _) in blocks.items() if "Aggregate" in n and i > g]
        if not aggs_above:
            continue
        h = min(aggs_above)
        if any(
            n == "Filter" and "term#" in t and g < i < h
            for i, (n, t) in blocks.items()
        ):
            ok = True
    assert ok, "term filter not applied between the explode and the aggregation"


def test_registry_wide_plan_hygiene(spark):
    """Every registry query (not just the headline set): no row-at-a-time
    Python UDFs anywhere, and no non-broadcast cartesian product. Queries
    that intentionally crossJoin a 1-row broadcast stats frame compile to
    BroadcastNestedLoopJoin, which is allowed."""
    # streaming twins: fn() executes a real stream run; their batch-side
    # result is a memory-table scan with no plan surface to gate
    skip = {
        "events_hourly_stream",
        "sessionization_stream",
        "stateful_counts_stream",
        "stream_stream_join",
        "stream_stream_outer_join",
        "stream_static_join",
        "stream_upsert",
    }
    for name, fn in registry.QUERIES.items():
        if name in skip:
            continue
        p = plan(fn(spark, SF_DIR))
        assert "BatchEvalPython" not in p, f"{name}: row Python UDF in plan"
        assert "CartesianProduct" not in p, f"{name}: unbroadcast cartesian"


def _bracket_groups(line: str) -> int:
    """Count top-level [...] groups in a formatted-plan Arguments line."""
    depth = n = 0
    for ch in line:
        if ch == "[":
            depth += 1
            if depth == 1:
                n += 1
        elif ch == "]":
            depth -= 1
    return n


def test_no_unbounded_partitionless_window_anywhere(spark):
    """A Window with an empty partition spec forces EVERY input row through
    a SinglePartition exchange + one-reducer sort (the r2 latest_snapshot
    hazard — 'No Partition Defined for Window operation'). Banned across
    the whole registry, with one carve-out: a partition-less window whose
    input is already bounded by a Limit/TakeOrderedAndProject below it
    (rank assignment over the k surviving rows of a top-k) is constant
    work, not a scale hazard.

    Detection: formatted-plan 'Window' blocks carry Arguments of
    [exprs], [partSpec], [orderSpec] (3 bracket groups) when partitioned
    AND ordered; a partitioned window with no ORDER BY prints only
    [exprs], [partSpec] (2 groups) — distinguished from the unpartitioned
    [exprs], [orderSpec] form by the absence of ASC/DESC markers, which
    every order-spec entry carries and partition columns never do.
    WindowGroupLimit blocks are the partitioned top-k pushdown and never
    match the exact node name."""
    import re

    skip = {
        "events_hourly_stream",
        "sessionization_stream",
        "stateful_counts_stream",
        "stream_stream_join",
        "stream_stream_outer_join",
        "stream_static_join",
        "stream_upsert",
    }
    bounding = {"CollectLimit", "GlobalLimit", "LocalLimit", "TakeOrderedAndProject"}
    for name, fn in registry.QUERIES.items():
        if name in skip:
            continue
        p = plan(fn(spark, SF_DIR))
        blocks: dict[int, tuple[str, str]] = {}
        for m in re.finditer(r"^\((\d+)\) (\w+)", p, re.M):
            end = p.find("\n(", m.end())
            blocks[int(m.group(1))] = (
                m.group(2),
                p[m.start(): end if end > 0 else len(p)],
            )
        bounded_ids = [i for i, (n, _) in blocks.items() if n in bounding]
        for wid, (node, text) in blocks.items():
            if node != "Window":
                continue
            args = next(
                (ln for ln in text.splitlines() if ln.startswith("Arguments:")), ""
            )
            if _bracket_groups(args) >= 3:
                continue  # partitioned — fine
            last = args[args.rstrip().rfind("["):].strip(" []")
            if (
                _bracket_groups(args) == 2
                and last
                and " ASC" not in last
                and " DESC" not in last
            ):
                continue  # [exprs], [partSpec]: partitioned, no ORDER BY
            assert any(b < wid for b in bounded_ids), (
                f"{name}: unbounded partition-less Window "
                f"(single-reducer global sort): {args[:160]}"
            )


def test_spread_is_opt_in_and_enumerated():
    """``load_table(spread=True)`` inserts a local-only round-robin
    exchange that would be a no-op-to-harmful full-table shuffle on a
    real cluster (sources/tables.py docstring). It must stay OFF by
    default, and every opt-in site must be one of the enumerated heavy
    map-stage pipelines — a new site means someone reached for it as a
    general go-fast knob, which it is not."""
    import inspect
    import re as _re

    from wvfoia_sync_spark.sources import tables as tables_mod

    assert (
        inspect.signature(tables_mod.load_table).parameters["spread"].default
        is False
    )
    import pkgutil

    from wvfoia_sync_spark import queries as queries_pkg

    srcs = [inspect.getsource(registry)]
    for info in pkgutil.iter_modules(queries_pkg.__path__):
        mod = __import__(
            f"wvfoia_sync_spark.queries.{info.name}", fromlist=[info.name]
        )
        srcs.append(inspect.getsource(mod))
    users = set()
    for src in srcs:
        for m in _re.finditer(r"spread=True\)", src):
            defs = [
                d for d in _re.finditer(r"^def (\w+)\(", src[: m.start()], _re.M)
            ]
            assert defs, "spread=True outside any function"
            users.add(defs[-1].group(1))
    assert users == {
        "jaccard_near_dup",
        "winnow_near_dup",
        "curated_corpus",
        "table_profile",
        # r8: six exact-decimal sum expressions (two chained 128-bit
        # products) per row — the one-row-group bench layout put the
        # whole map stage on one core (1.98 s -> 1.20 s, min-of-5)
        "pricing_summary",
        # r13: five exact decimal(24,4) sums (three 128-bit products) per
        # row; interleaved same-process A/B 1.17 s plain -> 1.01 s spread
        # (siblings market_share/region_revenue/shipping_priority measured
        # no win and stay plain — OPTIMIZATION_r13.md §7-8)
        "price_qty_corr",
        # r13: CUBE expands each row 4x before the partial aggregate;
        # interleaved A/B 1.46 s -> 1.27 s (OPTIMIZATION_r13.md §10)
        "status_cube",
        # r8: tokenize + per-doc bigram sort + run-length fold IS the
        # whole query after the shuffle-free rewrite (1.13 s -> 0.43 s)
        "gopher_repetition",
    }, f"unexpected spread=True sites: {users}"


def test_silver_partition_pruning(spark, silver_df):
    """A request-year filter over the partitioned silver table must prune
    at the partition level (PartitionFilters on request_year), not scan
    all partitions and filter rows. clearCache first: other tests cache
    silver plans, and a cache hit replaces the file scan (and its
    pruning) with InMemoryRelation."""
    spark.catalog.clearCache()
    df = silver_df.where(F.col("request_year") == 2023)
    p = plan(df)
    pf = [ln for ln in p.splitlines() if "PartitionFilters:" in ln]
    assert pf and any("request_year" in ln for ln in pf)
    # non-trivial: the fixture spans multiple years, so pruning excludes
    # at least one partition
    assert silver_df.select("request_year").distinct().count() > 1


def test_order_priority_semi_join_with_date_pushdown(spark):
    """Q4 shape: EXISTS compiles to a LEFT SEMI join, and the order-date
    window reaches the parquet reader as raw-timestamp range filters."""
    p = plan(registry.QUERIES["order_priority"](spark, SF_DIR))
    assert "LeftSemi" in p
    pushed = [ln for ln in p.splitlines() if "PushedFilters:" in ln]
    assert any(
        "GreaterThanOrEqual(o_orderdate" in ln and "LessThan(o_orderdate" in ln
        for ln in pushed
    ), "order-date range not pushed to the scan"


def test_volume_shipping_broadcasts_dims_and_pushes_ship_window(spark):
    """Q7 shape: nation/supplier/customer sides broadcast (never a
    shuffled or cartesian join), the two-nation IN() filter and the
    ship-date range reach their scans."""
    p = plan(registry.QUERIES["volume_shipping"](spark, SF_DIR))
    assert p.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in p
    pushed = "\n".join(ln for ln in p.splitlines() if "PushedFilters:" in ln)
    assert "GreaterThanOrEqual(l_shipdate" in pushed
    assert "In(n_name" in pushed


def test_scd2_single_partitioning_reused_across_passes(spark):
    """The lag pass, running-version pass, span groupBy, and lead pass all
    key on o_custkey — Catalyst must reuse one hash partitioning instead
    of re-exchanging per pass (2 exchanges: the custkey shuffle + the
    final AQE/agg read; 4+ means the reuse regressed)."""
    p = plan(registry.QUERIES["scd2_history"](spark, SF_DIR))
    assert p.count("Exchange") <= 2, "SCD2 build re-shuffles between window passes"


def test_scd2_asof_lookup_plan_has_no_global_sort_or_string_dates(spark):
    """r5 perf fix (VERDICT r4 #2): the as-of lookup must not carry a
    presentation-only total sort (rangepartitioning exchange over the
    full fact output) and the span-range residual must compare DATEs —
    a date_format inside the join condition re-stringifies per compared
    pair."""
    p = plan(registry.QUERIES["scd2_asof_lookup"](spark, SF_DIR))
    assert "rangepartitioning" not in p, "global orderBy crept back in"
    joins = "\n".join(
        ln for ln in p.splitlines() if "Join condition" in ln or "condition:" in ln
    )
    assert "date_format" not in joins, "string dates back in the join residual"


def test_unigram_surprisal_broadcasts_lm(spark):
    """The trained unigram LM (vocab-sized) must come back as a broadcast
    join against the token stream, not a corpus shuffle."""
    p = plan(registry.QUERIES["unigram_surprisal"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p


def test_knn_join_scores_in_arrow_stage(spark):
    """knn_join (r14): the unfiltered k-NN scoring runs as ONE Arrow
    numpy stage over the corpus (the query batch rides the closure) —
    no join at all, so no cartesian product and no per-pair interpreted
    dot fold; the only remaining wide op is the per-query top-k window."""
    p = plan(registry.QUERIES["knn_join"](spark, SF_DIR))
    assert "MapInPandas" in p or "ArrowEvalPython" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_knn_join_query_side_above_broadcast_threshold_takes_join_form(spark):
    """The Arrow stage ships the collected query batch to every task, a
    broadcast, so it only runs while the query side's estimated size is
    within spark.sql.autoBroadcastJoinThreshold. Above it the join form
    runs instead, with the same ranks; the size check itself runs no
    Spark job (building the Arrow form runs exactly its one collect)."""
    from tests.conftest import spark_jobs
    from wvfoia_sync_spark.operators import similarity

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.where(F.col("vec_id") < 20)
    cols = ["query_id", "rank", "vec_id"]

    def build():
        return similarity.knn_join_exact(emb, queries, k=3)

    arrow, jobs = spark_jobs(spark, build)
    assert jobs == 1
    assert "MapInPandas" in plan(arrow)
    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    spark.conf.set(key, "1024")  # below the query side's estimate
    try:
        joined, jobs = spark_jobs(spark, build)
        p = plan(joined)
        ranks = sorted(joined.select(cols).collect())
    finally:
        spark.conf.set(key, before)
    assert jobs == 0
    assert "MapInPandas" not in p and "BroadcastNestedLoopJoin" in p
    assert ranks == sorted(arrow.select(cols).collect())
    assert len(ranks) == 20 * 3


def test_no_pinned_broadcast_of_fact_scaled_tables(spark):
    """An explicit F.broadcast() hint PINS the strategy — AQE can never
    degrade it to a shuffled join, so a hint on a build side that grows
    with the data is a guaranteed OOM at some scale (the round-3 verdict's
    systemic finding). Gate: no ResolvedHint(broadcast) subtree in any
    registry query's analyzed plan may scan an sf-proportional table
    (customer/supplier/orders/lineitem/part/events/documents/embeddings)
    unless the subtree bounds it to a constant size (an Aggregate node —
    1-row anchors, vocab LMs, per-label centroids — or a Limit) or the
    query carries a documented exemption."""
    import re

    # signature columns that identify an sf-proportional base relation
    fact_sig = re.compile(
        r"\b(c_custkey|s_suppkey|o_orderkey|l_orderkey|p_partkey"
        r"|event_id|doc_id|vec_id|embedding)#"
    )
    allow = {
        # brand+container-filtered part slice (~0.1% of part) + its
        # per-partkey avg: bounded by the brand filter, documented
        "small_qty_revenue",
        # p_name LIKE-filtered part slice, the Q20 shape's probe side
        "excess_qty_suppliers",
        # eval-set shingles: fixed-size benchmark in production; the
        # doc_id % 50 slice is the test stand-in
        "decontam_overlap",
        # same eval-set posture as decontam_overlap (r8 removal half):
        # the broadcast side is the benchmark's gram SET — fixed-size in
        # production, doc_id % 50 slice as the test stand-in
        "decontam_scrub",
        # split variant (r9): the identical eval-gram broadcast side as
        # decontam_scrub — only the post-join run algebra differs
        "decontam_split",
        # query batch is an absolute id slice (vec_id < 20): constant
        # cardinality at any SF, asserted broadcast by its own plan test
        "knn_join",
        # same shape: vec_id < 10 query batch with its label (r5),
        # asserted broadcast by test_round5_queries' plan test
        "hard_negatives",
        # same shape: vec_id < 20 query batch with its label (r6),
        # asserted BroadcastHashJoin by test_round6_queries' plan test
        "filtered_knn",
    }
    skip = {
        "events_hourly_stream",
        "sessionization_stream",
        "stateful_counts_stream",
        "stream_stream_join",
        "stream_stream_outer_join",
        "stream_static_join",
        "stream_upsert",
    }

    def content_start(line: str) -> int:
        m = re.match(r"^[\s:+|-]*", line)
        return m.end()

    for name, fn in registry.QUERIES.items():
        if name in skip or name in allow:
            continue
        tree = fn(spark, SF_DIR)._jdf.queryExecution().analyzed().toString()
        lines = tree.splitlines()
        for i, ln in enumerate(lines):
            if "ResolvedHint" not in ln or "broadcast" not in ln:
                continue
            depth = content_start(ln)
            subtree, bounded = [], False
            for child in lines[i + 1:]:
                if content_start(child) <= depth:
                    break
                subtree.append(child)
                if re.search(r"\bAggregate \[", child) or re.search(
                    r"\b(GlobalLimit|LocalLimit|Limit) ", child
                ):
                    bounded = True
            if bounded:
                continue
            offending = [c for c in subtree if fact_sig.search(c)]
            assert not offending, (
                f"{name}: pinned broadcast hint over an sf-proportional "
                f"scan (no bounding aggregate): {offending[0].strip()[:140]}"
            )


def test_dehinted_joins_degrade_to_shuffle_correctly(spark):
    """The graceful-degradation proof the pinned hints made impossible:
    with autoBroadcastJoinThreshold=-1 (the '100 TB regime' where every
    sf-proportional side exceeds the threshold), the formerly-hinted
    queries must (a) plan shuffled joins for the customer/supplier sides
    — no broadcast of unbounded relations anywhere — and (b) return
    byte-identical results. A pinned F.broadcast() would have ignored
    the threshold and built the hash relation anyway."""
    names = ["nation_stats", "volume_shipping", "returned_items", "k_anonymity"]
    baseline = {}
    for n in names:
        df = registry.QUERIES[n](spark, SF_DIR)
        baseline[n] = sorted(map(str, df.collect()))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for n in names:
            df = registry.QUERIES[n](spark, SF_DIR)
            p = plan(df)
            assert (
                "SortMergeJoin" in p or "ShuffledHashJoin" in p
            ), f"{n}: no shuffled join under threshold=-1"
            assert sorted(map(str, df.collect())) == baseline[n], (
                f"{n}: results diverge between broadcast and shuffled plans"
            )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_aqe_skew_join_splits_hot_partitions(spark):
    """The engine's automatic skew path (complementing the explicit
    salted operators): a join keyed 90% on one hot key must trigger
    AQE's OptimizeSkewedJoin — the executed plan marks the sort-merge
    join `skew=true` and splits the hot partition — while returning the
    same counts a broadcast plan would."""
    import pyspark.sql.functions as F

    n = 400_000
    left = spark.range(n).select(
        F.when(F.col("id") % 10 != 0, F.lit(7)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )
    right = spark.range(1000).select(F.col("id").alias("k"))
    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ path
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = left.join(right, "k")
        # collect() (not count(), which builds a separate execution) so
        # THIS df's AQE plan finalizes and can be inspected below.
        # hot key 7 matches right (360k rows) + the multiples of 10
        # under 1000 that survive as their own key (100 rows)
        assert len(df.collect()) == n * 9 // 10 + 100
        p = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple"
        )
        assert "skew=true" in p, "AQE did not mark the skewed join"
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)
