"""sources.tables.read_parquet infers each parquet file's schema once
per file generation, and the registry builders that curate_batch times
stay within a frozen build-phase job budget."""

from __future__ import annotations

import shutil
import sys
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from tests.conftest import spark_jobs
from tests.test_plan_quality import SF_DIR
from wvfoia_sync_spark import registry
from wvfoia_sync_spark.sources.tables import load_table, read_parquet

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "perfbench"))

from curate_batch import QUERIES  # noqa: E402


def _copy(tmp_path, *names):
    for n in names:
        shutil.copyfile(f"{SF_DIR}/{n}.parquet", tmp_path / f"{n}.parquet")
    return str(tmp_path)


def test_second_load_of_unchanged_table_runs_no_job(spark, tmp_path):
    sf = _copy(tmp_path, "orders")
    _, first = spark_jobs(spark, lambda: load_table(spark, sf, "orders"))
    df, second = spark_jobs(spark, lambda: load_table(spark, sf, "orders"))
    assert (first, second) == (1, 0)
    assert df.count() == load_table(spark, SF_DIR, "orders").count()


def test_rewritten_table_is_inferred_again(spark, tmp_path):
    sf = _copy(tmp_path, "region")
    assert "extra" not in load_table(spark, sf, "region").columns
    path = tmp_path / "region.parquet"
    t = pq.read_table(path)
    pq.write_table(t.append_column("extra", pa.array([7] * t.num_rows)), path)
    df = load_table(spark, sf, "region")
    assert "extra" in df.columns
    assert {r["extra"] for r in df.select("extra").collect()} == {7}


def test_inference_conf_is_part_of_the_key(spark, tmp_path):
    path = f"{_copy(tmp_path, 'events')}/events.parquet"
    conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
    old = spark.conf.get(conf)
    read_parquet(spark, path)  # remembered under the current conf
    try:
        spark.conf.set(conf, "false" if old == "true" else "true")
        assert read_parquet(spark, path).schema == spark.read.parquet(path).schema
    finally:
        spark.conf.set(conf, old)


def test_concurrent_reads_return_the_inferred_schema(spark, tmp_path):
    names = ("region", "nation", "supplier")
    sf = _copy(tmp_path, *names)
    want = {n: spark.read.parquet(f"{SF_DIR}/{n}.parquet").schema for n in names}
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            got = list(
                pool.map(
                    lambda n: (n, read_parquet(spark, f"{sf}/{n}.parquet").schema),
                    names * 8,
                    timeout=300,
                )
            )
    finally:
        sys.setswitchinterval(old)
    assert len(got) == 24 and all(s == want[n] for n, s in got)


# Frozen from a run at sf0.001: Spark jobs each curate_batch query's
# builder launches on the calling thread once its inputs have been read
# before (schemas remembered, derived indexes built). knn_join's one job
# collects its query batch, after a size check on the plan's estimate
# (operators.similarity._knn_scores_arrow). Micro-batches of a stream run on the
# stream's own thread and are not counted here.
BUILD_JOB_BUDGET = {
    "exact_dedup": 0,
    "knn_join": 1,
    "fts_stored_index_search": 0,
    "token_chunks": 0,
    "pricing_summary": 0,
    "price_percentiles": 0,
    "events_hourly_stream": 0,
    "triangle_count": 0,
}


def test_curate_batch_builders_within_job_budget(spark):
    assert set(BUILD_JOB_BUDGET) == set(QUERIES)
    for name in QUERIES:  # warm build: infers schemas, builds indexes
        registry.QUERIES[name](spark, SF_DIR)
    jobs = {
        name: spark_jobs(spark, lambda: registry.QUERIES[name](spark, SF_DIR))[1]
        for name in QUERIES
    }
    over = {n: (k, BUILD_JOB_BUDGET[n]) for n, k in jobs.items() if k > BUILD_JOB_BUDGET[n]}
    assert not over, f"build jobs over budget (query -> (jobs, budget)): {over}"
