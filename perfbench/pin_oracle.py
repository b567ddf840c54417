"""Recompute ``oracle_sf0.01.json``: the DuckDB-oracle digest of every
curate_batch query over ``data/sf0.01`` (null for rows-only queries,
which have no oracle). Run from the repository root after changing the
query list or the data:

    python3 perfbench/pin_oracle.py
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(Path.cwd())]

import duckdb  # noqa: E402

from curate_batch import DATA, PINNED, QUERIES, digest  # noqa: E402
from wvfoia_sync_spark import registry  # noqa: E402
from wvfoia_sync_spark.sources.tables import TABLE_NAMES  # noqa: E402


def main() -> int:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        p = DATA / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    pinned = {}
    for name in QUERIES:
        sql = registry.ORACLE.get(name)
        pinned[name] = None if sql is None else digest(con.execute(sql).df())
    with open(PINNED, "w") as f:
        json.dump(pinned, f, indent=1)
        f.write("\n")
    print(json.dumps(pinned, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
