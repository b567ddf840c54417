"""Local differential harness: run every registry query through Spark AND
its DuckDB oracle on the same parquet, compare row count / schema / values.

Mimics the driver's CORRECTNESS gate so regressions surface before a round
ends. Usage:  python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from wvfoia_sync_spark import registry  # noqa: E402
from wvfoia_sync_spark.session import get_spark  # noqa: E402
from wvfoia_sync_spark.sources.tables import TABLE_NAMES  # noqa: E402


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive canonical form: sort columns by name, sort rows,
    stringify. Floats compare EXACTLY (no rounding) — the registry's
    determinism rules make bit-identical doubles a design requirement, so
    a last-ulp divergence should fail, not be papered over. All NULL
    flavors (None, NaN, NaT) canonicalize to one token so a pandas object
    -> float upcast on one side can't fake a value diff."""
    df = df.reindex(sorted(df.columns), axis=1)

    def null_token(v):
        # pd.isna on a list/ndarray cell returns an ARRAY whose truth value
        # raises — stringify containers directly, isna-map scalars only
        import numpy as np

        if isinstance(v, (list, tuple, dict, np.ndarray)):
            return str(v)
        return "<NULL>" if (v is None or bool(pd.isna(v))) else str(v)

    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(null_token)
    df = df.astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


# The documented sf0.1 sweep exclusion class (SCALE.md rounds 5/6/8): the
# recursive-CTE twins (hash-verified at sf0.01; dup_clusters and
# cluster_best_pick additionally value-verified at sf0.1 via the
# union-find test) and the all-pairs-quadratic near-dup matrix oracle.
# `--exclude-quadratic` runs the whole registry minus this set, making
# the per-round full-corpus sweep one reproducible command:
#   python tools/check_oracle.py /root/testdata/sf0.1 --exclude-quadratic
QUADRATIC_TWINS = {
    "leakage_free_split",
    "dup_clusters",
    "cluster_best_pick",
    "near_dup_rate_matrix",
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    args = sys.argv[2:]
    exclude: set[str] = set()
    if "--exclude-quadratic" in args:
        args = [a for a in args if a != "--exclude-quadratic"]
        exclude = QUADRATIC_TWINS
    only = set(args)
    unknown = only - set(registry.QUERIES)
    if unknown:
        # a typo'd/renamed name must not produce a 0-queries false green
        print(f"ERROR: unknown query name(s): {sorted(unknown)}")
        return 2
    # an explicitly requested name wins over --exclude-quadratic: the
    # flag trims the default full sweep, it must not silently turn
    # `check_oracle.py DIR dup_clusters --exclude-quadratic` into a
    # 0-query false green (the same failure mode the unknown-name
    # guard exists for)
    exclude -= only

    con = duckdb.connect()
    for t in TABLE_NAMES:
        # layout-tolerant view: the driver testdata is one FILE per
        # table; a production/multifile layout (bench.py
        # materialize_multifile) is a DIRECTORY of part files — give
        # DuckDB the matching glob so the same sweep runs on both
        p = f"{sf_dir}/{t}.parquet"
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{src}')"
        )

    spark = get_spark("oracle-check")
    failures, passes = [], []
    for name, fn in registry.QUERIES.items():
        if (only and name not in only) or name in exclude:
            continue
        t0 = time.time()
        try:
            spark_df = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL {name}: spark error: {str(e)[:500]}")
            continue
        sql = registry.ORACLE.get(name)
        if sql is None:
            # rows-only queries run on inputs that guarantee output
            # (planted duplicates, k-row top-k): 0 rows IS a regression,
            # not a warning — except the exempt probe-miss case
            if len(spark_df) == 0 and name not in ("embedding_lsh_topk",):
                failures.append((name, "0 rows from a rows-only query"))
                print(f"FAIL {name}: 0 rows from a rows-only query")
                continue
            print(f"ok   {name}: rows={len(spark_df)} (no oracle, rows-only) "
                  f"[{time.time()-t0:.1f}s]")
            passes.append(name)
            continue
        try:
            duck_df = con.execute(sql).df()
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"FAIL {name}: duckdb error: {str(e)[:500]}")
            continue
        problems = []
        if len(spark_df) != len(duck_df):
            problems.append(f"rowcount {len(spark_df)} vs {len(duck_df)}")
        if sorted(spark_df.columns) != sorted(duck_df.columns):
            problems.append(
                f"columns {sorted(spark_df.columns)} vs {sorted(duck_df.columns)}"
            )
        if not problems:
            a, b = canon(spark_df), canon(duck_df)
            if not a.equals(b):
                diff_mask = (a != b).any(axis=1)
                sample = pd.concat(
                    [a[diff_mask].head(3), b[diff_mask].head(3)]
                ).to_string()
                problems.append(f"values differ on {int(diff_mask.sum())} rows:\n{sample}")
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"FAIL {name}: {problems[0][:800]} [{time.time()-t0:.1f}s]")
        else:
            passes.append(name)
            print(f"PASS {name}: rows={len(spark_df)} [{time.time()-t0:.1f}s]")

    print(f"\n{len(passes)} passed, {len(failures)} failed")
    for name, why in failures:
        print(f"  FAIL {name}: {why[:1000]}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
