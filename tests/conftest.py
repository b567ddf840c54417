import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from wvfoia_sync_spark.session import get_spark  # noqa: E402
from wvfoia_sync_spark.foia import fixtures, silver  # noqa: E402



@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("foia_fixtures")
    fixtures.write_fixture_parquet(str(d))
    return str(d)


@pytest.fixture(scope="session")
def silver_df(spark, fixture_dir):
    """Silver entries, materialized once and re-read (as production would)."""
    entries = spark.read.parquet(f"{fixture_dir}/entries.parquet")
    corr = spark.read.parquet(f"{fixture_dir}/corrections_entries.parquet")
    aliases = spark.read.parquet(f"{fixture_dir}/agency_aliases.parquet")
    renames = spark.read.parquet(f"{fixture_dir}/org_renames.parquet")
    sdf = silver.to_silver(entries, corr, aliases, renames)
    out = f"{fixture_dir}/silver"
    silver.write_silver(sdf, out)
    return spark.read.parquet(out)


@pytest.fixture(scope="session")
def silver_duck(silver_df, fixture_dir):
    """DuckDB connection with the SAME silver parquet registered as a view
    — the oracle sees byte-identical inputs."""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW silver AS SELECT * FROM read_parquet('{fixture_dir}/silver/*/*.parquet', hive_partitioning=1)"
    )
    return con


def spark_jobs(spark, fn):
    """(fn(), number of Spark jobs fn launched), counted in a job group.
    A streaming query started inside fn runs its micro-batches on its own
    thread under the job group of its run id, so those groups count too."""
    import uuid

    from pyspark.sql.streaming import StreamingQueryListener

    class RunIds(StreamingQueryListener):
        def __init__(self):
            self.ids = []

        def onQueryStarted(self, event):
            self.ids.append(str(event.runId))

        def onQueryProgress(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    sc = spark.sparkContext
    group = uuid.uuid4().hex
    runs = RunIds()
    spark.streams.addListener(runs)
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.streams.removeListener(runs)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    return out, sum(len(tracker.getJobIdsForGroup(g)) for g in [group, *runs.ids])


def assert_frames_equal(spark_df, duck_df, sort_cols=None):
    """Canonical compare mirroring tools/check_oracle.py."""
    import pandas as pd

    a = spark_df.toPandas() if hasattr(spark_df, "toPandas") else spark_df
    b = duck_df
    assert sorted(a.columns) == sorted(b.columns), (
        f"columns: {sorted(a.columns)} vs {sorted(b.columns)}"
    )
    a = a.reindex(sorted(a.columns), axis=1)
    b = b.reindex(sorted(b.columns), axis=1)

    def null_token(v):
        # scalar-only pd.isna: an array-valued cell would return an array
        # whose truth value raises (mirrors tools/check_oracle.py canon)
        import numpy as np

        if isinstance(v, (list, tuple, dict, np.ndarray)):
            return str(v)
        return "<NULL>" if (v is None or bool(pd.isna(v))) else str(v)

    def canon(df: pd.DataFrame) -> pd.DataFrame:
        df = df.copy()
        for c in df.columns:
            if df[c].dtype == object:
                df[c] = df[c].map(null_token)
        df = df.astype(str)
        # ALWAYS row-sort (collect() order is partition-nondeterministic);
        # sort_cols just picks the sort key instead of all columns
        keys = list(sort_cols) if sort_cols else list(df.columns)
        return df.sort_values(keys).reset_index(drop=True)

    ca, cb = canon(a), canon(b)
    pd.testing.assert_frame_equal(ca, cb)
