"""Noise-aware diff of bench artifacts: the one regression rule for
``bench.py`` runs.

Each query's OLD wall is its maximum over the OLD artifacts: the query's
own noise envelope, as wide as the committed runs have shown it to be.
Each query common to OLD and NEW is then classified:

- ``regressed``: new/old > RATIO_FLOOR and new wall > ABS_FLOOR_S (both
  walls matter: a 0.2 s -> 0.5 s swing is machine state, not a plan
  change);
- ``improved``: the same test in the other direction;
- ``noise``: everything else.

A `regressed` row is a prompt to re-time interleaved on an idle machine
(min-of-N, both shapes in one session), not a verdict by itself:
single-JVM bench runs swing 2-5x on sub-3 s queries with no plan change
(measured: pq_topk 1.15->2.59 s, semantic_dedup 1.44->2.81 s, both
noise). Passing several OLD runs widens the envelope to cover that
swing.

An artifact is either the bench's stdout line or a capture that wraps it
under ``"parsed"``. Artifacts of different scale factors (``sf``) or
layouts (``layout``) are not comparable: diffing them would report the
scale factor as improved or regressed rows, so the diff refuses.

Usage: python tools/bench_diff.py OLD.json [OLD.json ...] NEW.json
Prints one JSON line and exits 0 (informational); given fewer than two
files, prints this text and exits 1; given an OLD whose ``sf`` or
``layout`` differs from NEW's, names the key and both values and exits 1.
"""

from __future__ import annotations

import json
import sys

RATIO_FLOOR = 1.5
ABS_FLOOR_S = 1.0


def _queries(artifact: dict) -> dict[str, float]:
    return artifact.get("parsed", artifact)["queries"]


def diff(old: dict | list[dict], new: dict) -> dict:
    old = old if isinstance(old, list) else [old]
    line = new.get("parsed", new)
    for o in old:
        for key in ("sf", "layout"):
            a, b = o.get("parsed", o).get(key), line.get(key)
            if a != b:
                raise ValueError(
                    f"bench_diff: {key} differs (OLD {a!r}, NEW {b!r}); "
                    "only runs of one scale factor and layout compare"
                )
    olds = [_queries(o) for o in old]
    qn = _queries(new)
    qo: dict[str, float] = {}
    for q in olds:
        for name, sec in q.items():
            qo[name] = max(sec, qo.get(name, sec))
    common = sorted(set(qo) & set(qn))
    out = {"regressed": {}, "improved": {}, "noise_n": 0}
    for name in common:
        a, b = qo[name], qn[name]
        if b > ABS_FLOOR_S and a > 0 and b / a > RATIO_FLOOR:
            out["regressed"][name] = [a, b, round(b / a, 2)]
        elif a > ABS_FLOOR_S and b > 0 and a / b > RATIO_FLOOR:
            out["improved"][name] = [a, b, round(b / a, 2)]
        else:
            out["noise_n"] += 1
    out["common_n"] = len(common)
    out["only_old"] = sorted(set(qo) - set(qn))
    out["only_new"] = sorted(set(qn) - set(qo))
    out["total_old_s"] = round(sum(qo[n] for n in common), 1)
    out["total_new_s"] = round(sum(qn[n] for n in common), 1)
    return out


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    *olds, new = [json.load(open(p)) for p in sys.argv[1:]]
    try:
        print(json.dumps(diff(olds, new)))
    except ValueError as e:
        sys.exit(str(e))


if __name__ == "__main__":
    main()
