"""Harness self-tests: the differential compare must canonicalize every
cell shape the registry can emit (scalars, NULL flavors, arrays) without
crashing — a harness crash reads as a query failure in CI."""

import importlib.util
from pathlib import Path

import numpy as np
import pandas as pd


def _load_check_oracle():
    p = Path(__file__).resolve().parent.parent / "tools" / "check_oracle.py"
    spec = importlib.util.spec_from_file_location("check_oracle", p)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_canon_handles_array_and_null_cells():
    canon = _load_check_oracle().canon
    df = pd.DataFrame(
        {
            "a": [[1, 2], None, [3]],
            "b": [np.array([1.0]), np.nan, np.array([])],
            "c": ["x", None, float("nan")],
        }
    )
    out = canon(df)  # must not raise "truth value is ambiguous"
    assert (out["c"] == "<NULL>").sum() == 2
    assert out.shape == (3, 3)


def test_canon_distinguishes_null_from_empty_string():
    canon = _load_check_oracle().canon
    df = pd.DataFrame({"a": ["", None]})
    out = canon(df)
    assert set(out["a"]) == {"", "<NULL>"}


def test_every_rows_only_query_has_a_driver_green_companion_gate():
    """Policy gate: a registry query without a DuckDB oracle is invisible
    to the driver's hash compare, so each one MUST name a hash-matched
    companion (property/recall gate) that goes red when the approximate
    path regresses. A new rows-only query without a companion fails here
    instead of silently weakening CORRECTNESS coverage."""
    from wvfoia_sync_spark import registry

    companions = {
        "minhash_near_dup": "minhash_property_check",
        "simhash_dups": "simhash_property_check",
        "embedding_lsh_topk": "lsh_recall_check",
        "ivf_topk": "ivf_recall_check",
        "sq8_topk": "sq8_recall_check",
        "pq_topk": "pq_recall_check",
        "ivfpq_topk": "ivfpq_recall_check",
        "approx_distinct_users": "hll_error_check",
        "semantic_dedup": "semdedup_property_check",
        "coreset_select": "coreset_property_check",
        "compression_scores": "compression_property_check",
    }
    rows_only = set(registry.QUERIES) - set(registry.ORACLE)
    unmapped = rows_only - set(companions)
    assert not unmapped, f"rows-only queries without a companion gate: {sorted(unmapped)}"
    for q, gate in companions.items():
        assert q in registry.QUERIES, f"stale companion map entry: {q}"
        assert gate in registry.ORACLE, (
            f"{q}'s companion {gate} must itself be oracle-checked"
        )


def test_queries_run_with_non_repo_cwd():
    """Closures that reference module-level helpers are cloudpickled by
    REFERENCE, so Python workers must import wvfoia_sync_spark — which
    only happens by accident when the worker cwd is the repo root,
    unless configure_session ships the package (addPyFile). Regression:
    run the by-reference query (heavy_hitters' mapInPandas) from a
    foreign cwd in a fresh interpreter; without the pyFiles shipping it
    dies with ModuleNotFoundError mid-query."""
    import subprocess
    import sys

    script = (
        "import sys; sys.path.insert(0, '/root/repo')\n"
        "from pyspark.sql import SparkSession\n"
        "spark = SparkSession.builder.master('local[4]').getOrCreate()\n"
        "import __spark_entry__ as e\n"
        "n = e.queries()['heavy_hitters_sketch']"
        "(spark, '/root/testdata/sf0.001').count()\n"
        "assert n == 10, n\n"
        "print('OK')\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd="/tmp",
        capture_output=True,
        text=True,
        timeout=240,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "OK" in proc.stdout


def test_configure_session_names_each_tolerated_failure(capsys):
    """configure_session tolerates a session that refuses parts of its
    set-up, but each refusal leaves one stderr line naming what failed."""
    from types import SimpleNamespace

    from wvfoia_sync_spark import session

    def refuse(k, v):
        raise RuntimeError(f"cannot set {k}\n\tat some.jvm.Frame")

    shipped = []
    # a context without _python_includes: the package is shipped anyway
    sc = SimpleNamespace(master="local[1]", addPyFile=shipped.append)
    spark = SimpleNamespace(conf=SimpleNamespace(set=refuse), sparkContext=sc)
    assert session.configure_session(spark) is spark
    lines = capsys.readouterr().err.splitlines()
    n = len(session._RUNTIME_CONFS)
    assert len(shipped) == 1
    assert len(lines) == n + 2
    assert all(ln.startswith("wvfoia_sync_spark.session: ignored ") for ln in lines)
    assert all(k in ln for k, ln in zip(session._RUNTIME_CONFS, lines))
    assert "_python_includes" in lines[n]
    assert "maxPartitionBytes" in lines[n + 1]

    class NoContext:
        conf = SimpleNamespace(set=lambda k, v: None)

        @property
        def sparkContext(self):
            raise RuntimeError("no SparkContext")

    session.configure_session(NoContext())
    lines = capsys.readouterr().err.splitlines()
    assert len(lines) == 2
    assert "shipping the package" in lines[0]
    assert "maxPartitionBytes" in lines[1]


def test_session_turns_off_call_site_capture(spark):
    """get_spark builds its session with DataFrame call-site capture off,
    and PySpark's process-wide cache of the flag reads it as off, so a
    functions/Column call makes no session, conf or origin round trips."""
    import pyspark.errors.utils as perr
    import pyspark.sql.functions as F

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    F.col("x")  # a wrapped call fills the cache if nothing has yet
    assert perr._enable_debugging_cache is False


def test_driver_window_fully_resolvable():
    """Every DRIVER_WINDOW name must resolve to a registered query (the
    runtime path silently skips unknowns so a rename can't zero the
    driver's correctness run — THIS is where a rename must fail), and
    the window must lead queries()/oracle_sql() in order."""
    import __spark_entry__ as e
    from wvfoia_sync_spark import registry

    missing = [q for q in e.DRIVER_WINDOW if q not in registry.QUERIES]
    assert not missing, f"DRIVER_WINDOW names unknown queries: {missing}"
    qs = e.queries()
    assert list(qs)[: len(e.DRIVER_WINDOW)] == e.DRIVER_WINDOW
    assert set(qs) == set(registry.QUERIES)
    osql = e.oracle_sql()
    window_with_oracle = [q for q in e.DRIVER_WINDOW if q in registry.ORACLE]
    assert list(osql)[: len(window_with_oracle)] == window_with_oracle


def test_bench_artifact_allowlist_stamp_and_diff_warning():
    """r13 (VERDICT r12 what's-wrong #2): bench artifacts are stamped
    with the adjudication-allowlist content hash so the substantive/
    adjudicated split is reproducible from the artifact alone, and
    bench_diff warns when two artifacts were computed against different
    allowlist versions (the r12-underload discrepancy class)."""
    import importlib.util

    import bench

    h = bench.adjudication_allowlist_hash()
    assert h == bench.adjudication_allowlist_hash()  # deterministic
    assert len(h) == 16
    # the hash covers anchors too, not just names: editing an anchor
    # (a re-adjudication) must change the stamp
    orig = dict(bench.ADJUDICATED_GT2)
    try:
        k = next(iter(bench.ADJUDICATED_GT2))
        bench.ADJUDICATED_GT2[k] = "edited anchor"
        assert bench.adjudication_allowlist_hash() != h
    finally:
        bench.ADJUDICATED_GT2.clear()
        bench.ADJUDICATED_GT2.update(orig)

    p = Path(__file__).resolve().parent.parent / "tools" / "bench_diff.py"
    spec = importlib.util.spec_from_file_location("bench_diff", p)
    bd = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bd)
    a = {"queries": {"q": 1.0}, "adjudication_allowlist_sha256": h}
    b = {"queries": {"q": 1.0}, "adjudication_allowlist_sha256": h}
    assert "allowlist_mismatch_warning" not in bd.diff(a, b)
    b["adjudication_allowlist_sha256"] = "different"
    assert "allowlist_mismatch_warning" in bd.diff(a, b)
    # an artifact predating the stamp (no field) also warns
    del a["adjudication_allowlist_sha256"]
    b["adjudication_allowlist_sha256"] = h
    assert "allowlist_mismatch_warning" in bd.diff(a, b)


def test_adjudication_rearm_band():
    """r14 (ADVICE r13): every adjudicated name carries the ratio band it
    was granted under, the band feeds the allowlist hash, and the re-arm
    predicate promotes a blown band back to substantive."""
    import bench

    # every allowlisted name is banded (no unconditional waivers left)
    assert set(bench.ADJUDICATED_BAND) == set(bench.ADJUDICATED_GT2)
    assert all(r > 0 and w > 0 for r, w in bench.ADJUDICATED_BAND.values())

    h = bench.adjudication_allowlist_hash()
    orig = dict(bench.ADJUDICATED_BAND)
    try:
        k = next(iter(bench.ADJUDICATED_BAND))
        r, w = orig[k]
        bench.ADJUDICATED_BAND[k] = (r * 2, w)
        assert bench.adjudication_allowlist_hash() != h  # bands are content
    finally:
        bench.ADJUDICATED_BAND.clear()
        bench.ADJUDICATED_BAND.update(orig)

    # the re-arm predicate (mirrors bench.main's conjunction): only a
    # SIMULTANEOUS ratio + wall blowout re-arms — one-sided noise does not
    def rearms(name, ratio, wall):
        br, bw = bench.ADJUDICATED_BAND[name]
        return (
            ratio > bench.REARM_FACTOR * br
            and wall > bench.REARM_WALL_FACTOR * bw
        )

    br, bw = bench.ADJUDICATED_BAND["sessionization_stream"]
    assert rearms("sessionization_stream", 19.4, 4.6)  # the driver outlier
    assert not rearms("sessionization_stream", 19.4, bw)  # duck-noise only
    assert not rearms("sessionization_stream", br, 4.6)  # wall-noise only
    # unigram's observed single-run noise point (5.54, 1.74) must NOT arm
    assert not rearms("unigram_surprisal", 5.54, 1.74)
