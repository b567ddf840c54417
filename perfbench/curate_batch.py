"""curate_batch: one registry query per ``queries.*`` module.

Input: a run-private copy of the sf0.01 tables in ``data/``, so the
content fingerprints of ``sources.derived`` are new and every derived
index is built in the warm pass (its cost lands in ``setup_s``). The
seed permutes the query order of every pass.

An op is one query: ``fn(spark, dir)`` (build, including any eager jobs
the builder runs) followed by ``write.format("noop")`` (exec). The
window runs whole passes, so every run times the same query mix.

The warm pass checks each query's ``tools/check_oracle.canon`` digest
against the DuckDB-oracle digests pinned in ``oracle_sf0.01.json``
(``pin_oracle.py`` recomputes them); rows-only queries must return rows.
"""

from __future__ import annotations

import hashlib
import json
import random
import shutil
import sys
import traceback
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import harness
from tools.check_oracle import canon
from wvfoia_sync_spark import registry
from wvfoia_sync_spark.sources import tables

HERE = Path(__file__).resolve().parent
DATA = HERE / "data" / "sf0.01"
PINNED = HERE / "oracle_sf0.01.json"
QUERIES = (
    "exact_dedup",           # queries.dedup_queries
    "knn_join",              # queries.vectors_multimodal
    "fts_stored_index_search",  # queries.app_surface (derived FTS index)
    "token_chunks",          # queries.corpus_text
    "pricing_summary",       # queries.relational_tpch
    "price_percentiles",     # queries.aggregates_windows
    "events_hourly_stream",  # queries.streaming_incremental
    "triangle_count",        # queries.graph_queries
)
WARM_THREADS = 4


def digest(df) -> str:
    """sha256 of the order-insensitive canonical form the oracle check uses."""
    return hashlib.sha256(canon(df).to_csv(index=False).encode()).hexdigest()


def module_of(name: str) -> str:
    return registry.QUERIES[name].__module__.rsplit(".", 1)[1]


class Workload:
    unit = len(QUERIES)  # ops per pass
    unit_s = 7.5  # nominal seconds per pass on 4 cores

    def __init__(self, spark, run_dir: Path, seed: int, tracer: harness.Tracer):
        self.spark = spark
        self.t = tracer
        self.sf = run_dir / "sf"
        self.rng = random.Random(seed)
        self.order: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def prepare(self) -> None:
        self.sf.mkdir()
        for src in sorted(DATA.iterdir()):
            shutil.copyfile(src, self.sf / src.name)  # fresh mtimes
        with open(PINNED) as f:
            self.pinned = json.load(f)

    def _check(self, name: str) -> str | None:
        """Run ``name`` once and compare with the pinned oracle digest;
        the reason it failed, or None."""
        try:
            pdf = registry.QUERIES[name](self.spark, str(self.sf)).toPandas()
        except Exception:
            return f"{name}: {traceback.format_exc(limit=3)}"
        want = self.pinned[name]
        if want is None:
            return f"{name}: 0 rows from a rows-only query" if len(pdf) == 0 else None
        got = digest(pdf)
        return None if got == want else f"{name}: digest {got} != pinned {want}"

    def warm(self) -> None:
        """Every query once (this also builds the derived indexes), each
        checked against its pinned digest, then one untimed pass as the
        window runs it: without that pass the JVM was still compiling
        during the window, and its first pass read 15-45% slower than
        its second. The queries run concurrently only to shorten set-up;
        ``sources.derived`` publishes each index with rename-if-absent,
        so concurrent builders are safe."""
        with ThreadPoolExecutor(max_workers=WARM_THREADS) as pool:
            reasons = list(pool.map(self._check, QUERIES))
            reasons += pool.map(self._try_run, QUERIES)
        for why in reasons:
            self.attempted += 1
            if why is not None:
                self._fail(why)

    def _fail(self, why: str) -> None:
        self.failed += 1
        self.failures.append(why)

    def run_op(self, i: int) -> tuple[object, bool]:
        while len(self.order) <= i:
            p = list(QUERIES)
            self.rng.shuffle(p)
            self.order.extend(p)
        name = self.order[i]
        with self.t.span("op", root=True, query=name):
            why = self._try_run(name)
        if why is not None:
            self.failures.append(why)
        return name, why is None

    def _try_run(self, name: str) -> str | None:
        """One op: build, then execute into the noop sink; the reason it
        failed, or None."""
        mod = module_of(name)
        try:
            with self.t.span(f"queries.{mod}.build"):
                df = registry.QUERIES[name](self.spark, str(self.sf))
            with self.t.span(f"queries.{mod}.exec"):
                df.write.format("noop").mode("overwrite").save()
        except Exception:
            return f"{name}: {traceback.format_exc(limit=3)}"
        return None

    def verify(self) -> None:
        pass

    def traced_extra(self) -> None:
        pass

    def space_amp(self) -> float:
        """Bytes of the data copy plus its derived indexes, per source byte."""
        derived = self.sf.parent / "derived"
        return harness.tree_bytes(str(self.sf), str(derived)) / harness.tree_bytes(str(self.sf))

    def wrap(self, tracer: harness.Tracer) -> None:
        """``load_table`` itself and every module-level name bound to it by
        ``from ..sources.tables import load_table``."""
        mods = {tables, registry} | {sys.modules[registry.QUERIES[n].__module__] for n in QUERIES}
        for mod in mods:
            tracer.wrap(mod, "load_table", "sources.tables.load_table")

    def layer_metrics(
        self, view: harness.TraceView, ops: list[harness.Op], traced_ops: list[harness.Op]
    ) -> dict:
        """The layers this workload calls, per pass; each must have
        recorded spans."""
        passes = len(traced_ops) / self.unit
        builds = [f"queries.{module_of(n)}.build" for n in QUERIES]
        build_jobs = sum(len(view.jobs(s)) for b in builds for s in view.named(b))
        out = {
            "sources.tables.load_table_calls": len(view.named("sources.tables.load_table")) / passes,
            "sources.tables.load_table_s": view.total_s("sources.tables.load_table") / passes,
            "spark.build_jobs_per_op": build_jobs / len(traced_ops),
        }
        for name in QUERIES:
            mod = module_of(name)
            for phase in ("build", "exec"):
                out[f"queries.{mod}.{phase}_s"] = view.total_s(f"queries.{mod}.{phase}") / passes
        return out

    def close(self) -> None:
        pass
