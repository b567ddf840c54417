"""Medallion pipeline: bronze -> silver -> gold, rebuilt per sync.

This is the engine's execution model for the reference's whole data
lifecycle (SURVEY §7):

- **bronze**: raw scraped rows exactly as parsed (S1/S2), MERGE-upserted
  by id (S7). The reference's ``entries`` D1 table.
- **silver**: corrections applied once, agency canonicalized, dates/fee
  typed, search tokens derived (what the reference recomputes per read).
- **gold**: agency_stats and home_stats, the two cached query results
  that serving reads as tables. The reference's other cached queries
  (latest snapshot A3, resolution counts A5, timeline A10) are computed
  per request over the resident silver generation, so no gold holds them.

Rebuild-on-sync == the reference's flush-all-caches-on-write policy
(sync.ts:202, ST3): any sync that adds rows invalidates every cached
result, so recomputing gold after each sync is semantically identical
and removes cache-staleness reasoning entirely. ``meta.json`` carries
``last_updated_at`` (ST4) and the export watermark (ST5).

Serving reads silver and gold through one persisted DataFrame per
*generation*: one on-disk state of a table directory, keyed by the
directory's ``(st_ino, st_mtime_ns)``. Both ways a table is replaced
change that key: a rename swap puts another directory (inode) at the
path, and a Spark overwrite deletes and recreates the directory, which
moves its mtime even when the filesystem reuses the inode. (A writer
that only adds files inside an existing partition directory does not
change it.) So each ``silver()`` or ``gold(name)`` call costs one
``os.stat`` and returns the same object until a writer (this pipeline,
another one on the same root, or any other process) replaces the table;
the next call then unpersists the old generation and loads the new one,
so a pipeline holds one generation per table. This is the reference's
cache-until-sync policy (sync.ts:202, ST3) applied to the inputs rather
than to each query result. Caveat: a request that already holds the
previous generation's DataFrame when it is replaced fails exactly as it
would without the cache, because the files it planned over are gone.
``bronze()`` stays a plain read: only ``sync()`` and ``rebuild()`` scan
it, once each.

A generation whose data files total at most
``spark.sql.files.maxPartitionBytes`` (8 MB on a local master, see
``session.configure_session``; Spark's 128 MB elsewhere) fits one scan
split, so it is coalesced to one partition before it is persisted
(one ``os.walk`` per load). A one-partition cached relation reports
``SinglePartition``, so request-time counts, aggregates and global sorts
over it plan no Exchange and each action runs as one job with one task.
A larger generation keeps the scan's own split and its parallelism.

Scale notes: each gold table is one narrow aggregate over silver; at
100 TB you would (a) partition silver by request_year and z-order/sort by
(agency_slug, id) for pruning, (b) maintain agency_stats and home_stats
from the sync delta instead of full recompute: their lifetime counts and
sums are decomposable (``plans.incremental.merge_partial_stats``), while
the 30/90/365-day windowed columns move with ``today`` and would be
re-derived over the recent slice (not implemented: each sync that adds
rows rebuilds both golds), (c) store bronze/silver as Delta/Iceberg for
real MERGE + time travel.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import threading

from pyspark.sql import DataFrame, SparkSession

from ..foia import agencies as agencies_mod
from ..foia import queries as queries_mod
from ..foia import silver as silver_mod
from ..foia.sync import Fetcher, SyncResult, run_sync


def _data_bytes(path: str) -> int:
    """Bytes of the data files under ``path``; like Spark's file listing,
    it skips names starting with ``_`` or ``.`` (metadata, temp dirs)."""
    total = 0
    for d, dirs, files in os.walk(path):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        total += sum(
            os.path.getsize(os.path.join(d, f))
            for f in files
            if not f.startswith(("_", "."))
        )
    return total


class MedallionPipeline:
    """Filesystem-layout pipeline (parquet; swap writers for Delta at
    scale): ``root/{bronze,silver,gold/*,meta.json}``."""

    def __init__(self, spark: SparkSession, root: str, today: str | None = None):
        self.spark = spark
        self.root = root
        self.today = today or dt.date.today().isoformat()
        self.last_silver_quality: dict = {}
        # table dir relative to root -> (generation, persisted DataFrame)
        self._resident: dict[str, tuple[tuple[int, int], DataFrame]] = {}
        self._load_lock = threading.Lock()

    # ---------------------------------------------------------- paths ---
    def _p(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def bronze(self) -> DataFrame:
        return self.spark.read.parquet(self._p("bronze"))

    def silver(self) -> DataFrame:
        return self._resident_read("silver")

    def gold(self, name: str) -> DataFrame:
        return self._resident_read(os.path.join("gold", name))

    def _resident_read(self, rel: str) -> DataFrame:
        """The persisted DataFrame of ``rel``'s current generation; the
        first call of a generation loads it, once across threads."""
        path = self._p(rel)
        st = os.stat(path)
        gen = (st.st_ino, st.st_mtime_ns)
        held = self._resident.get(rel)
        if held is not None and held[0] == gen:
            return held[1]
        with self._load_lock:
            held = self._resident.get(rel)
            if held is not None and held[0] == gen:
                return held[1]
            if held is not None:
                held[1].unpersist()
            # Spark's cache manager matches plain reads of one path to one
            # entry, so an old DataFrame would silently serve the new
            # generation's cache; the option keeps each generation distinct
            df = self.spark.read.option(
                "medallion.generation", f"{gen[0]}.{gen[1]}"
            ).parquet(path)
            # fits one scan split: hold it in one partition
            split = self.spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
            if _data_bytes(path) <= split:
                df = df.coalesce(1)
            df = df.persist()
            df.count()
            self._resident[rel] = (gen, df)
            return df

    def _drop_resident(self) -> None:
        """Unpersist every held generation. Must run before this pipeline
        overwrites silver or gold: Spark's write path re-caches any cached
        plan that reads the written path."""
        with self._load_lock:
            for _, df in self._resident.values():
                df.unpersist()
            self._resident.clear()

    # ----------------------------------------------------------- build ---
    def init_bronze(self, entries: DataFrame) -> None:
        entries.write.mode("overwrite").parquet(self._p("bronze"))

    def sync(self, fetcher: Fetcher, window: int = 256) -> SyncResult:
        """One sync wave: probe + frontier cut + upsert, then rebuild
        silver and gold iff rows were added (ST3)."""
        merged, result = run_sync(self.spark, self.bronze(), fetcher, window)
        if result.added > 0:
            # write-then-swap via filesystem rename: ONE data write, and
            # the cutover is two near-atomic renames (the previous
            # write-tmp-then-rewrite paid a second full write and left a
            # window where bronze was deleted but not yet rewritten)
            import shutil

            tmp = self._p("bronze_next")
            old = self._p("bronze_prev")
            merged.write.mode("overwrite").parquet(tmp)
            shutil.rmtree(old, ignore_errors=True)
            os.rename(self._p("bronze"), old)
            os.rename(tmp, self._p("bronze"))
            shutil.rmtree(old, ignore_errors=True)
            self.rebuild(
                corrections=self._opt("corrections_entries"),
                aliases=self._opt("agency_aliases"),
                renames=self._opt("org_renames"),
            )
        self._stamp(result)
        return result

    def _opt(self, name: str) -> DataFrame | None:
        p = self._p("dims", f"{name}.parquet")
        return self.spark.read.parquet(p) if os.path.exists(p) else None

    def set_dimensions(
        self,
        corrections: DataFrame | None = None,
        aliases: DataFrame | None = None,
        renames: DataFrame | None = None,
    ) -> None:
        os.makedirs(self._p("dims"), exist_ok=True)
        for name, df in (
            ("corrections_entries", corrections),
            ("agency_aliases", aliases),
            ("org_renames", renames),
        ):
            if df is not None:
                df.toPandas().to_parquet(self._p("dims", f"{name}.parquet"))

    def rebuild(
        self,
        corrections: DataFrame | None = None,
        aliases: DataFrame | None = None,
        renames: DataFrame | None = None,
    ) -> None:
        """Silver + the gold tables serving reads (agency_stats,
        home_stats) from bronze: the reference's 'recompute everything the
        caches held' moment.

        Full recompute is always correct, and it is the only path:
        every sync that adds rows calls it (scale note (b) in the module
        docstring)."""
        from pyspark.sql import Observation
        import pyspark.sql.functions as F

        self._drop_resident()
        sdf = silver_mod.to_silver(self.bronze(), corrections, aliases, renames)
        # data-quality counters ride along with the silver write (observe
        # attaches accumulators to the SAME job — no second scan)
        obs = Observation("silver_quality")
        sdf = sdf.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.count(F.when(F.col("agency_slug").isNull(), 1)).alias("null_slug"),
            F.count(F.when(F.col("request_dt").isNull(), 1)).alias("null_request_dt"),
        )
        silver_mod.write_silver(sdf, self._p("silver"))
        self.last_silver_quality = dict(obs.get)
        sdf = self.silver()  # the new generation: both golds, one scan
        golds: dict[str, DataFrame] = {
            "agency_stats": agencies_mod.agency_stats(sdf, self.today),
            "home_stats": queries_mod.home_stats(sdf, self.today),
        }
        for name, df in golds.items():
            df.write.mode("overwrite").parquet(self._p("gold", name))

    # ------------------------------------------------------------ meta ---
    def _stamp(self, result: SyncResult) -> None:
        """ST4 last-updated metadata (meta:last_updated_at, sync.ts:203)."""
        meta = {
            "last_updated_at": self.today,
            "silver_quality": self.last_silver_quality,
            "last_sync": {
                "added": result.added,
                "checked": result.checked,
                "start_from": result.start_from,
                "last_checked_id": result.last_checked_id,
                "drift_tolerance": result.drift_tolerance,
            },
        }
        with open(self._p("meta.json"), "w") as f:
            json.dump(meta, f)

    def meta(self) -> dict:
        with open(self._p("meta.json")) as f:
            return json.load(f)
