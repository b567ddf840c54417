"""Derived-state cache discipline shared by every materialized layout
(ANN index, hive-partitioned lineitem, sentinel-flushed events stream).

Two failure modes of the naive "fixed /tmp path + _SUCCESS check +
rmtree/rename" pattern, both fixed here:

- **Staleness**: a cache keyed only by source *path* + params silently
  serves an old artifact after the dataset at that path is regenerated.
  The cache key therefore folds in a CONTENT fingerprint — a hash of the
  source's file names, sizes, and mtimes — so new data gets a new cache
  directory and the stale one is simply never addressed again (and is
  garbage-collected lazily, see ``publish``).
- **Build races**: rmtree + rename of a *shared* final path lets one
  process delete the directory another just published. Builders instead
  write into a builder-unique temp dir and publish with rename-if-absent:
  the first rename wins, losers discard their own temp dir, nobody ever
  removes the shared path.

The same contract the reference applies to its FTS index (derived,
deterministic, rebuildable — src/lib/search.ts), generalized.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import uuid
from typing import Callable, Iterable

_PREFIX = "/tmp/spark_graft_"


def cache_tag(path: str) -> str:
    return re.sub(r"[^A-Za-z0-9_.-]+", "_", path.strip("/"))


def content_fingerprint(*paths: str) -> str:
    """Fingerprint of the *content identity* of the given files/dirs:
    (relative name, size, mtime_ns) per file, order-independent. Cheap —
    a metadata walk, never a data read — yet regenerating a dataset in
    place (new mtimes/sizes) always changes it."""
    h = hashlib.sha256()
    for p in sorted(paths):
        entries: list[tuple[str, os.stat_result]] = []
        if os.path.isdir(p):
            for root, _dirs, names in os.walk(p):
                for n in names:
                    fp = os.path.join(root, n)
                    try:
                        entries.append((os.path.relpath(fp, p), os.stat(fp)))
                    except FileNotFoundError:
                        pass  # removed mid-walk (a writer's temp file)
        elif os.path.exists(p):
            entries.append((os.path.basename(p), os.stat(p)))
        for rel, st in sorted(entries):
            h.update(f"{rel}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:12]


def derived_path(
    kind: str,
    source: str,
    *,
    params: str = "",
    fingerprint_of: Iterable[str] | None = None,
) -> str:
    """Cache location for a derived artifact: keyed by source path,
    build params, AND source-content fingerprint."""
    fp = content_fingerprint(*(fingerprint_of or [source]))
    suffix = f"_{params}" if params else ""
    return f"{_PREFIX}{kind}_{cache_tag(source)}{suffix}_{fp}"


def publish(build: Callable[[str], None], final: str) -> str:
    """Build-and-publish with rename-if-absent semantics.

    ``build(tmp_dir)`` materializes the artifact into a builder-unique
    temp dir; publication is a single ``os.rename`` that only succeeds
    if ``final`` does not exist yet. A concurrent builder that loses the
    race discards its own temp dir — the shared final path is never
    rmtree'd, so no process can yank a directory a reader just resolved.
    A ``final`` that exists without ``_SUCCESS`` (a crashed or hand-made
    directory) is not a lost race: ``publish`` raises ``FileExistsError``
    rather than return a path nothing was built at.
    Older fingerprint generations of the same artifact are pruned
    best-effort AFTER publication, and only once they are older than
    ``_PRUNE_TTL_SECONDS``: Spark and DuckDB list parquet part files
    lazily per action, so rmtree'ing a directory a concurrently-running
    query resolved moments ago yields FileNotFound mid-scan — the
    POSIX open-file-unlink guarantee covers open FDs, not directory
    listings (ADVICE r4). The TTL bounds that window; a generation old
    enough to exceed it has no in-flight readers from before its
    replacement was published."""
    if os.path.exists(os.path.join(final, "_SUCCESS")):
        return final
    tmp = f"{final}.build-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        build(tmp)
        try:
            os.rename(tmp, final)
        except OSError as e:
            # a lost race is fine: the winner's output is equivalent
            if not os.path.exists(os.path.join(final, "_SUCCESS")):
                raise FileExistsError(
                    f"cannot publish {final}: it exists and holds no _SUCCESS"
                ) from e
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    _prune_stale_generations(final)
    return final


_PRUNE_TTL_SECONDS = 30 * 60.0


def _prune_stale_generations(final: str, ttl: float = _PRUNE_TTL_SECONDS) -> None:
    """Drop older fingerprint generations: sibling dirs sharing the
    name up to the trailing _<fingerprint> segment. Best-effort only,
    and age-gated — a generation is only removed once its mtime is at
    least ``ttl`` seconds old, so queries that are still lazily listing
    its part files finish before the directory disappears."""
    import time

    base = os.path.basename(final)
    stem = base.rsplit("_", 1)[0]
    parent = os.path.dirname(final) or "/"
    try:
        siblings = os.listdir(parent)
    except OSError:
        return
    now = time.time()
    for name in siblings:
        if name == base or ".build-" in name:
            continue
        if name.rsplit("_", 1)[0] == stem and name.startswith(
            os.path.basename(_PREFIX)
        ):
            full = os.path.join(parent, name)
            try:
                if now - os.stat(full).st_mtime < ttl:
                    continue  # possible in-flight readers — next publish prunes
            except OSError:
                continue
            shutil.rmtree(full, ignore_errors=True)
