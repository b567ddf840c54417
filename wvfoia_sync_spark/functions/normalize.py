"""FOIA-domain normalization functions (SURVEY.md §2.8 U1-U18).

Design rule: everything that can be a native Column expression is one
(JVM-side, codegen). The two genuinely procedural functions — titlify and
agency canonicalization (U5/U6) — are plain Python applied ONLY to the
distinct-agency dimension (hundreds of values), never to fact rows; the
fact table gets them via a broadcast join on the dimension
(reference recomputes them per read: src/lib/corrections.ts:44-57).
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from pyspark.sql import Column

# ---------------------------------------------------------------- dates ---


def normalize_date(col: Column | str) -> Column:
    """U1 normalizeDate (reference src/lib/sync.ts:59-76): ``M/D/YYYY`` or
    ISO ``YYYY-MM-DD`` -> DateType; anything else -> null."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.trim(c)
    return F.coalesce(
        F.try_to_timestamp(c, F.lit("M/d/yyyy")).cast("date"),
        F.try_to_timestamp(c, F.lit("yyyy-MM-dd")).cast("date"),
    )


def diff_days(from_col: Column, to_col: Column) -> Column:
    """U11 diffDays (utils.ts:128-137): day difference; null (not the
    reference's -1 sentinel) when either side is null or the completion
    year is in the future — the API edge maps null back to -1."""
    valid = (
        from_col.isNotNull()
        & to_col.isNotNull()
        & (F.year(to_col) <= F.year(F.current_date()))
    )
    return F.when(valid, F.datediff(to_col, from_col))


# -------------------------------------------------------------- strings ---


def slugify_col(col: Column | str) -> Column:
    """U4 slugify (utils.ts:42-49) as a Column expression."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(c)
    c = F.regexp_replace(c, r"[\s+/]+", "-")
    c = F.regexp_replace(c, r"[^a-z0-9-]", "")
    c = F.regexp_replace(c, r"-{2,}", "-")
    return F.regexp_replace(c, r"^-+|-+$", "")


def parse_fee(col: Column | str) -> Column:
    """U14 fee parse (utils.ts:111-121): strip non [0-9.-], cast to
    decimal(12,2); unparseable/null -> null."""
    c = F.col(col) if isinstance(col, str) else col
    cleaned = F.regexp_replace(c, r"[^0-9.\-]", "")
    return F.when(cleaned != "", cleaned.try_cast("decimal(12,2)"))


# ---------------------------------------------------------- resolutions ---

RESOLUTION_BUCKETS = ("granted", "granted_in_part", "exempted", "rejected", "other")


def resolution_bucket(col: Column | str) -> Column:
    """U16 resolutionBucketKey (utils.ts:23-40): trim/lower, map the four
    known resolutions, everything else (incl. null/empty) -> 'other'."""
    c = F.col(col) if isinstance(col, str) else col
    v = F.lower(F.trim(c))
    return (
        F.when(v == "granted", "granted")
        .when(v == "granted in part", "granted_in_part")
        .when(v == "exempted", "exempted")
        .when(v == "rejected", "rejected")
        .otherwise("other")
    )


# ------------------------------------------- procedural (dimension-only) ---

_TITLE_SMALL_WORDS = {"'s", "and", "of", "the", "at", "dba", "for"}


def titlify(value: str | None) -> str | None:
    """U5 titlify (utils.ts:51-59), pure Python. Single-word inputs become
    ALL-CAPS acronyms; otherwise title-case each word except small words
    (non-initial), preserving letters after apostrophes."""
    if value is None:
        return None
    v = value.strip()
    if not v:
        return v
    if not re.search(r"[\s\-]", v):
        return v.upper()

    def fix_word(m: re.Match, first: bool) -> str:
        w = m.group(0)
        if not first and w.lower() in _TITLE_SMALL_WORDS:
            return w.lower()
        return w[0].upper() + w[1:].lower()

    words = []
    for i, tok in enumerate(re.split(r"(\s+|-)", v)):
        if i % 2 == 1 or not tok:  # separators pass through
            words.append(tok)
            continue
        low = tok.lower()
        if words and low in _TITLE_SMALL_WORDS:
            words.append(low)
        else:
            # capitalize first letter; keep letter after apostrophe lower
            words.append(tok[0].upper() + tok[1:].lower())
    return "".join(words)


def normalize_token(value: str) -> str:
    """U7 normalizeToken (corrections.ts:26-28): alias matching key."""
    t = titlify(value) or ""
    return re.sub(r"[^a-z0-9]", "", t.lower())


_MC_RE = re.compile(r"\b(Mc)([a-z])")


def normalize_agency_name(
    value: str | None,
    canonical_by_token: dict[str, str] | None = None,
) -> str | None:
    """U6 normalizeAgencyName (corrections.ts:44-57), pure Python, applied
    to the distinct-agency dimension only.

    1. typo fixes: Departm[ei]n?t -> Department, Tcity -> City
    2. exact / normalized-token match against the canonical map
    3. else whitespace-normalize + titlify, preserving Mc-names, Wv -> WV
    """
    if value is None:
        return None
    v = re.sub(r"\s+", " ", value.replace("''", "'")).strip()
    # reference: agency.replace(/Departm[ei]n?t/ig, ...).replace(/Tcity/ig, ...)
    # (corrections.ts:45 — optional n, required t, no word boundaries)
    v = re.sub(r"Departm[ei]n?t", "Department", v, flags=re.IGNORECASE)
    v = re.sub(r"Tcity", "City", v, flags=re.IGNORECASE)
    if canonical_by_token:
        hit = canonical_by_token.get(normalize_token(v))
        if hit is not None:
            return hit
    t = titlify(v) or v
    t = _MC_RE.sub(lambda m: m.group(1) + m.group(2).upper(), t)
    t = re.sub(r"\bWv\b", "WV", t)
    return t
