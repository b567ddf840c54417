"""Harness self-tests: the differential compare must canonicalize every
cell shape the registry can emit (scalars, NULL flavors, arrays) without
crashing — a harness crash reads as a query failure in CI."""

import importlib.util
from pathlib import Path

import numpy as np
import pandas as pd
import pytest


def _load_tool(name):
    p = Path(__file__).resolve().parent.parent / "tools" / f"{name}.py"
    spec = importlib.util.spec_from_file_location(name, p)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_canon_handles_array_and_null_cells():
    canon = _load_tool("check_oracle").canon
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
    canon = _load_tool("check_oracle").canon
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


def test_bench_diff_envelope_rule_on_committed_r14_runs():
    """bench_diff's one regression rule over the four committed r14 bench
    artifacts: each NEW run is compared against the per-query maximum
    (the noise envelope) of the other three. Two of them wrap the bench
    line under "parsed". The rule stays quiet on the two calm runs, names
    the five queries the loaded 32-core driver run slowed past 1.5x, and
    catches a planted 3x regression."""
    import json

    bd = _load_tool("bench_diff")
    root = Path(__file__).resolve().parent.parent
    runs = {
        name: json.loads((root / f"{name}.json").read_text())
        for name in (
            "BENCH_SELF_r14",
            "BENCH_SELF_r14_baseline",
            "BENCH_r14",
            "BENCH_r14_c8",
        )
    }

    def regressed(new_name, new=None):
        olds = [run for name, run in runs.items() if name != new_name]
        return set(bd.diff(olds, new or runs[new_name])["regressed"])

    assert regressed("BENCH_SELF_r14") == set()
    assert regressed("BENCH_r14_c8") == set()
    assert regressed("BENCH_r14") == {
        "bloom_semi_join",
        "fts_vocab",
        "kmv_set_algebra",
        "semantic_dedup",
        "stream_static_join",
    }
    planted = json.loads(json.dumps(runs["BENCH_SELF_r14"]))
    planted["queries"]["pricing_summary"] *= 3
    assert regressed("BENCH_SELF_r14", planted) == {"pricing_summary"}

    # one OLD artifact: the envelope is that run's own walls
    a = {"queries": {"q": 1.0, "r": 0.2, "s": 3.0}}
    b = {"parsed": {"queries": {"q": 1.6, "r": 0.9, "s": 1.0}}}
    out = bd.diff(a, b)
    assert out == bd.diff([a], b)
    assert out["regressed"] == {"q": [1.0, 1.6, 1.6]}
    assert out["improved"] == {"s": [3.0, 1.0, 0.33]}
    assert out["noise_n"] == 1

    # runs of different scale factors do not compare: the diff refuses
    # and names the key and both values instead of reporting the scale
    # factor as improved rows
    other_sf = json.loads(json.dumps(runs["BENCH_SELF_r14"]))
    other_sf["sf"] = 0.01
    with pytest.raises(ValueError, match=r"sf differs \(OLD 0\.1, NEW 0\.01\)"):
        bd.diff(runs["BENCH_SELF_r14"], other_sf)


def test_segment_protocol_lives_only_in_segments():
    """The segment lifecycle's write protocol has one copy: no package
    module but operators/segments.py calls the manifest writer, the
    reserve/commit pair, next_seg, the compaction swap or the writer
    lease. An index describes its segments.Layout and calls
    segments.build/append/compact instead of another copy of them."""
    import ast

    root = Path(__file__).resolve().parent.parent / "wvfoia_sync_spark"
    protocol = {
        "write_manifest",
        "reserve_seg",
        "commit_seg",
        "next_seg",
        "compact_swap",
        "writer_lease",
    }
    calls = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "operators/segments.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call):
                f = node.func
                name = getattr(f, "attr", getattr(f, "id", None))
                if name in protocol:
                    calls.append(f"{rel}:{node.lineno} {name}")
    assert calls == []


def test_every_package_function_has_a_caller():
    """Every undecorated top-level def or class in the package is named
    somewhere besides its own definition: in the package, the tests, the
    tools, the benchmark or the driver entry points. A helper nothing
    calls fails here instead of lingering. Decorated functions count as
    used (the decorator, e.g. ``@register``, is their caller), and a test
    reference counts as use (tested public API stays). A package
    ``__init__.py``'s imports and ``__all__`` do not count: a re-export
    is not a call."""
    import ast
    import re
    from collections import Counter

    root = Path(__file__).resolve().parent.parent
    sources = [
        p
        for d in ("wvfoia_sync_spark", "tests", "tools", "perfbench")
        for p in (root / d).rglob("*.py")
    ] + [root / "bench.py", root / "__spark_entry__.py"]

    def text(p: Path) -> str:
        src = p.read_text()
        if p.name != "__init__.py":
            return src
        lines = src.splitlines()
        for node in ast.parse(src).body:
            if isinstance(node, (ast.Import, ast.ImportFrom)) or (
                isinstance(node, ast.Assign)
                and any(getattr(t, "id", None) == "__all__" for t in node.targets)
            ):
                lines[node.lineno - 1 : node.end_lineno] = [""] * (
                    node.end_lineno - node.lineno + 1
                )
        return "\n".join(lines)

    # whole-word occurrences of every identifier-shaped word
    words = Counter(w for p in sources for w in re.findall(r"\w+", text(p)))

    defined = Counter()
    for p in (root / "wvfoia_sync_spark").rglob("*.py"):
        for node in ast.parse(p.read_text()).body:
            if (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and not node.decorator_list
            ):
                defined[node.name] += 1
    uncalled = sorted(n for n, k in defined.items() if words[n] <= k)
    assert not uncalled, f"top-level names nothing references: {uncalled}"
