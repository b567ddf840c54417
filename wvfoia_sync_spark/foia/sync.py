"""Incremental sync: parallel id-window probe with sequential-stop
semantics, HTML row parsing, and the upsert merge (reference
src/lib/sync.ts — ST1/S1/S2/S7 in SURVEY §2).

The reference probes ids strictly sequentially (one HTTP fetch + one
upsert per id, sync.ts:177-212) and stops after DRIFT_TOLERANCE=3
consecutive misses. A Spark port must parallelize the fetch *without*
changing the stopping rule: we fetch a candidate window in parallel,
sort the outcomes by id on the driver, cut at the first run of 3
consecutive misses, and discard everything beyond it (SURVEY §7 "what's
hard"). Ids past an uncrossable gap are never ingested, exactly like the
sequential loop.

The fetch itself is ``mapInPandas`` over an id-range DataFrame — each
Arrow batch of ids resolves against the source (HTTP in production, the
``sync_source`` mock table in tests), so a 1000-executor cluster probes
thousands of ids per wave.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Callable, Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .queries import latest_entry_id
from .schema import ENTRY_COLUMNS, ENTRIES_SCHEMA

DRIFT_TOLERANCE = 3  # consecutive missing ids before stopping (sync.ts:8)

# ------------------------------------------------------------ S2: parse ---

_PAIR_RE = re.compile(
    r'content-col-label.*?<strong>(?P<label>.*?)</strong>.*?'
    r'content-col-data.*?content-div-var">(?P<value>.*?)</div>',
    re.S,
)


def _normalize_key(label: str) -> str:
    """U2 normalizeKey (sync.ts:50-57)."""
    k = label.replace(":", "").strip().lower()
    k = re.sub(r"[^a-z0-9]+", "_", k)
    return k.strip("_")


def _clean_text(v: str) -> str:
    """U3 cleanText (sync.ts:78-81)."""
    return re.sub(r"\s+", " ", v).strip()


def _normalize_date(v: str | None) -> str | None:
    """U1 normalizeDate (sync.ts:59-76): M/D/YYYY -> ISO; ISO passthrough;
    else null."""
    if not v:
        return None
    v = v.strip()
    m = re.fullmatch(r"(\d{1,2})/(\d{1,2})/(\d{4})", v)
    if m:
        mm, dd, yyyy = m.groups()
        return f"{yyyy}-{int(mm):02d}-{int(dd):02d}"
    if re.fullmatch(r"\d{4}-\d{2}-\d{2}", v):
        return v
    return None


def parse_entry(html: str | None, entry_id: int) -> dict | None:
    """S2 parseEntry (sync.ts:83-130): label/value pairs -> entry dict;
    pages with no recognized keys -> None (counts as a miss)."""
    if not html:
        return None
    fields: dict[str, str] = {}
    for m in _PAIR_RE.finditer(html):
        key = _normalize_key(m.group("label"))
        val = _clean_text(re.sub(r"<[^>]+>", "", m.group("value")))
        if key:
            fields[key] = val
    known = {k: v for k, v in fields.items() if k in set(ENTRY_COLUMNS)}
    if not known:
        return None
    row = {c: None for c in ENTRY_COLUMNS}
    row.update(known)
    row["id"] = entry_id
    row["agency"] = row.get("agency") or "Unknown"  # scraper default, sync.ts:107
    for dc in ("request_date", "completion_date", "entry_date"):
        row[dc] = _normalize_date(row[dc])
    row["is_amended"] = 1 if re.search(r">\s*Amended\s*<", html) else 0
    return row


# ------------------------------------------------------- S1: fetch wave ---

Fetcher = Callable[[pd.Series], pd.DataFrame]
"""Batch fetcher: ids -> DataFrame(id, status, html). Production wires an
HTTP client here; tests pass the sync_source mock. Network failures /
timeouts surface as status=-1 (transient, retried by ``with_retries``)."""

# Reference fetchRemoteEntry (sync.ts:144-146): redirects and 404 are the
# "entry does not exist" sentinel — they COUNT toward the 3-miss frontier.
MISS_STATUSES = frozenset({301, 302, 404})


#: Default User-Agent, mirroring the reference's explicit header
#: (sync.ts:140 sends "wv-sync-worker/1.0 (+repo url)").
DEFAULT_USER_AGENT = "wvfoia-sync-spark/1.0"


def http_fetcher(
    base_url: str,
    timeout: float = 10.0,
    user_agent: str = DEFAULT_USER_AGENT,
) -> Fetcher:
    """Production Fetcher: one GET per probed id (reference
    fetchRemoteEntry, sync.ts:132-154).

    ``base_url`` is a URL TEMPLATE: if it contains ``{id}`` the probed
    id is substituted there — so the reference's real query-param shape
    (``ENTRY_URL + '?entryId=' + id``, sync.ts:133-134) is expressed as
    ``'https://host/FOIA_Entry/SearchedEntryDetails?entryId={id}'`` —
    otherwise the id is appended as a path segment (``{base_url}/{id}``,
    the shape the localhost e2e servers use). Every request carries a
    ``User-Agent`` like the reference does (sync.ts:140).

    Redirects are NOT followed — the reference treats 301/302 as the
    entry-absent sentinel, so the status must surface as-is, not as the
    redirect target's 200. HTTP errors map to their status (404 -> miss,
    5xx -> transient, retried by ``with_retries``); network-level
    failures map to -1 (transient). Runs inside mapInPandas tasks, one
    urllib call per id — each executor wave probes its batch
    concurrently with every other task's, which is the whole-cluster
    parallelism the reference's sequential loop lacks."""
    import urllib.error
    import urllib.request

    class _NoRedirect(urllib.request.HTTPRedirectHandler):
        def redirect_request(self, req, fp, code, msg, headers, newurl):
            return None  # surfaces the 3xx as HTTPError(code)

    if "{id}" in base_url:
        # literal token replace, NOT str.format: a URL carrying other
        # braces (percent-encoding edge cases, a stray '{0}') must not
        # raise KeyError/IndexError inside the executor task (ADVICE r6)
        def url_for(id):
            return base_url.replace("{id}", str(id))
    else:
        root = base_url.rstrip("/")

        def url_for(id):
            return f"{root}/{id}"

    def fetch(ids: pd.Series) -> pd.DataFrame:
        opener = urllib.request.build_opener(_NoRedirect)
        opener.addheaders = [("User-agent", user_agent)]
        rows = []
        for entry_id in ids.astype("int64"):
            try:
                with opener.open(url_for(id=entry_id), timeout=timeout) as resp:
                    rows.append(
                        {
                            "id": int(entry_id),
                            "status": int(resp.status),
                            "html": resp.read().decode("utf-8", "replace"),
                        }
                    )
            except urllib.error.HTTPError as exc:
                rows.append(
                    {"id": int(entry_id), "status": int(exc.code), "html": None}
                )
            except (urllib.error.URLError, OSError):
                rows.append({"id": int(entry_id), "status": -1, "html": None})
        return pd.DataFrame(rows)

    return fetch


def mock_fetcher(source: pd.DataFrame) -> Fetcher:
    def fetch(ids: pd.Series) -> pd.DataFrame:
        out = pd.DataFrame({"id": ids.astype("int64")})
        merged = out.merge(source, on="id", how="left")
        merged["status"] = merged["status"].fillna(404).astype("int64")
        return merged

    return fetch


@dataclass(frozen=True)
class RetryPolicy:
    """Transient-failure policy for the probe loop. The reference has
    none — any non-OK/non-miss status aborts the whole cron run
    (sync.ts:148-150) and the next day's run retries. At cluster scale a
    wave probes thousands of ids, so one 503 aborting everything is
    wasteful; instead transient statuses are retried in-task with
    backoff, and an id still failing after ``max_attempts`` becomes an
    ERROR outcome that the frontier cut treats as "unknown — stop
    BEFORE it" (never as a miss, which would fake progress across the
    drift gap; never as found)."""

    max_attempts: int = 3
    backoff_seconds: float = 0.0  # pacing between in-task retries
    transient_min_status: int = 500  # 5xx ∪ {429 rate-limit, -1 network}

    def is_transient(self, status: int) -> bool:
        return (
            status == -1
            or status == 429
            or self.transient_min_status <= status <= 599
        )


def with_retries(fetcher: Fetcher, policy: RetryPolicy) -> Fetcher:
    """Wrap a batch fetcher with in-task retry of transient statuses.
    Only the still-transient subset of ids is re-fetched per attempt, so
    a healthy wave costs exactly one upstream round trip."""
    import time

    def fetch(ids: pd.Series) -> pd.DataFrame:
        out = fetcher(ids)
        for _ in range(policy.max_attempts - 1):
            mask = out["status"].map(policy.is_transient)
            if not mask.any():
                break
            if policy.backoff_seconds > 0:
                time.sleep(policy.backoff_seconds)
            retried = fetcher(out.loc[mask, "id"])
            out = pd.concat([out.loc[~mask], retried], ignore_index=True)
        return out

    return fetch


def _ship_closures() -> None:
    """Serialize this module by value into UDF closures. Without this,
    cloudpickle pickles ``parse_entry`` by reference and Python workers
    must be able to ``import wvfoia_sync_spark`` — true only when the
    driver's CWD happens to contain the package. On a real cluster you
    would *additionally* ship the package via ``spark-submit --py-files``;
    by-value closures make local/driver-owned sessions work regardless."""
    import sys as _sys

    # NB: must be pyspark's VENDORED cloudpickle — the standalone
    # ``cloudpickle`` package is a different registry and pyspark's UDF
    # serializer never consults it.
    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(_sys.modules[__name__])


def fetch_window(
    spark: SparkSession, start_id: int, window: int, fetcher: Fetcher
) -> DataFrame:
    """Probe ids [start_id, start_id+window) in parallel via mapInPandas;
    returns (id, found, parsed-entry columns)."""
    _ship_closures()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            fetched = fetcher(b["id"])
            rows = []
            for _, r in fetched.iterrows():
                status = int(r["status"])
                parsed = (
                    parse_entry(r["html"], int(r["id"]))
                    if status == 200
                    else None
                )
                base = {c: None for c in ENTRY_COLUMNS}
                if parsed:
                    base.update(parsed)
                base["id"] = int(r["id"])
                base["_found"] = parsed is not None
                # neither found nor a known miss sentinel (200-unparseable
                # counts as a miss, like the reference's parseEntry null):
                # the id's existence is UNKNOWN — frontier must stop early
                base["_error"] = (
                    parsed is None and status != 200 and status not in MISS_STATUSES
                )
                rows.append(base)
            yield pd.DataFrame(rows)

    # all-nullable variant of the entries schema: miss rows carry nulls in
    # every column (incl. agency, NOT NULL in bronze) until the frontier
    # cut discards them
    from pyspark.sql import types as T

    schema = (
        T.StructType(
            [T.StructField(f.name, f.dataType, True) for f in ENTRIES_SCHEMA.fields]
        )
        .add("_found", "boolean")
        .add("_error", "boolean")
    )
    ids = spark.range(start_id, start_id + window).select(F.col("id"))
    return ids.repartition(max(2, window // 64)).mapInPandas(run, schema=schema)


# -------------------------------------------------- ST1: frontier + sync ---


@dataclass(frozen=True)
class SyncResult:
    """Reference SyncResult (types.ts:67-73), extended with the count of
    ids whose fetch still failed after retries (0 in a healthy wave)."""

    added: int
    checked: int
    start_from: int
    last_checked_id: int
    drift_tolerance: int = DRIFT_TOLERANCE
    fetch_errors: int = 0


def cut_at_frontier(
    outcomes: list[tuple],
    start_id: int,
    tolerance: int = DRIFT_TOLERANCE,
) -> tuple[list[int], int]:
    """Emulate the sequential stopping rule over parallel outcomes: walk
    ids in order from start_id, stop at ``tolerance`` consecutive misses.
    Returns (ids to ingest, last checked id).

    Outcomes are (id, found) or (id, found, is_error) tuples. An ERROR
    id (transient fetch failure that survived retries) stops the walk
    BEFORE that id: its existence is unknown, so treating it as a miss
    could fake a crossing of a real drift gap — and treating it as found
    would ingest nothing for it and advance the watermark past it,
    silently skipping the entry forever. Cutting before it keeps every
    reliably-determined prefix row and lets the next wave re-probe from
    the failed id (the reference instead aborts the whole run on any
    such status, sync.ts:148-150 — same safety, less progress)."""
    by_id = {o[0]: o for o in outcomes}
    keep: list[int] = []
    misses = 0
    i = start_id
    last = start_id - 1
    while i in by_id:
        o = by_id[i]
        found = o[1]
        is_error = bool(o[2]) if len(o) > 2 else False
        if is_error:
            break  # id NOT checked: unknown outcome, re-probe next wave
        last = i
        if found:
            keep.append(i)
            misses = 0
        else:
            misses += 1
            if misses >= tolerance:
                break
        i += 1
    return keep, last


def run_sync(
    spark: SparkSession,
    existing: DataFrame,
    fetcher: Fetcher,
    window: int = 256,
    retry_policy: RetryPolicy | None = RetryPolicy(),
) -> tuple[DataFrame, SyncResult]:
    """One sync wave (reference runSync, sync.ts:177-212): watermark ->
    parallel window fetch (with in-task transient retries) -> frontier
    cut -> upsert merge.

    Returns (merged entries DataFrame, SyncResult). A production loop
    repeats with the next window while the frontier reaches the window
    end (no uncrossed 3-gap seen yet). ``fetch_errors`` > 0 means the
    frontier stopped early at a still-failing id; the watermark then
    re-probes it next wave."""
    start_id = latest_entry_id(existing) + 1
    wrapped = with_retries(fetcher, retry_policy) if retry_policy else fetcher
    fetched = fetch_window(spark, start_id, window, wrapped).cache()
    try:
        outcomes = [
            (r["id"], r["_found"], r["_error"])
            for r in fetched.select("id", "_found", "_error").orderBy("id").collect()
        ]
        keep_ids, last_checked = cut_at_frontier(outcomes, start_id)
        # only the error AT the frontier stop matters (ids beyond it were
        # never "checked" under the sequential rule)
        n_errors = sum(1 for o in outcomes if o[2] and o[0] <= last_checked + 1)
        # window-sized (small): materialize so the fetch cache can be
        # released before the merge plan executes downstream
        new_rows = (
            fetched.where(F.col("id").isin(keep_ids) & F.col("_found"))
            .drop("_found", "_error")
            .localCheckpoint(eager=True)
        )
    finally:
        fetched.unpersist()
    merged = upsert(existing, new_rows)
    return merged, SyncResult(
        added=len(keep_ids),
        checked=last_checked - start_id + 1,
        start_from=start_id,
        last_checked_id=last_checked,
        fetch_errors=n_errors,
    )


# ---------------------------------------------------------- S7: upsert ---


def upsert(existing: DataFrame, updates: DataFrame, key: str = "id") -> DataFrame:
    """S7 upsert sink (UPSERT_SQL, sync.ts:30-48): update-by-key else
    insert. On plain parquet this is anti-join + union (SURVEY §2.1 S7);
    with Delta it would be ``MERGE INTO entries USING updates ON id``.
    Updates win on conflicting keys (ON CONFLICT DO UPDATE)."""
    cols = existing.columns
    kept = existing.join(updates.select(key), key, "left_anti")
    return kept.unionByName(updates.select(*cols))
