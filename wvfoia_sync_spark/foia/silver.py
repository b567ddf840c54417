"""Bronze -> silver: materialize what the reference recomputes per read.

The reference applies corrections lazily on every row it returns
(normalizeEntry at entries.ts:119, correctedDateExpr at shared.ts:55-66).
At 100 TB that per-read work is wrong twice over — it repeats the same
broadcast join on every query and blocks predicate pushdown on corrected
dates. This engine applies the overlay ONCE per sync into a silver table
(SURVEY §7) so every downstream query scans plain columns.

Silver adds, without dropping any bronze column:
- corrected ``request_date``/``completion_date`` (entry-patch overlay, J4/F6)
- ``agency_canonical`` / ``agency_slug`` via the agency_dim broadcast join
- typed ``request_dt``/``completion_dt``/``entry_dt`` (DateType)
- ``fee_amount`` DECIMAL(12,2) (U14)
- ``organization`` renamed per the org map (corrections.ts:83-85)
- ``search_tokens`` over the 8 FTS columns (U24)

Scale notes: agency_dim is built by applying the two procedural UDF-ish
functions (titlify/normalizeAgencyName) to DISTINCT agency spellings only
— hundreds of values collected to the driver, never fact rows — then
broadcast-joined back. All other derivations are codegen expressions.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.normalize import (
    normalize_agency_name,
    normalize_token,
    parse_fee,
    slugify_col,
)
from ..operators.fts import with_tokens
from ..operators.relational import apply_patches
from .schema import FTS_COLUMNS


def build_canonical_token_map(aliases: DataFrame) -> dict[str, str]:
    """normalizeToken(alias-or-canonical) -> canonical (corrections.ts:30-42).

    The alias table is tiny (reference corrections.json has ~70 alias rows)
    — collected once per sync, shipped inside the dimension build."""
    out: dict[str, str] = {}
    for row in aliases.collect():
        out[normalize_token(row["canonical"])] = row["canonical"]
        out[normalize_token(row["alias"])] = row["canonical"]
    return out


def build_agency_dim(
    entries: DataFrame, aliases: DataFrame | None
) -> DataFrame:
    """agency_dim(agency, agency_canonical, agency_slug) from DISTINCT raw
    spellings (U5/U6/U10 applied driver-side to hundreds of values)."""
    spark = entries.sparkSession
    token_map = build_canonical_token_map(aliases) if aliases is not None else {}
    distinct = [r["agency"] for r in entries.select("agency").distinct().collect()]
    rows = []
    for raw in distinct:
        if raw is None:
            continue
        canonical = normalize_agency_name(raw.replace("''", "'"), token_map)
        rows.append((raw, canonical))
    # explicit schema: inference raises on an empty rows list (empty or
    # all-null-agency bronze must yield an empty dim, not a crash)
    dim = spark.createDataFrame(rows, "agency string, agency_canonical string")
    return dim.withColumn("agency_slug", slugify_col("agency_canonical"))


def to_silver(
    entries: DataFrame,
    corrections_entries: DataFrame | None = None,
    agency_aliases: DataFrame | None = None,
    org_renames: DataFrame | None = None,
) -> DataFrame:
    """Full bronze->silver transform. Every join side except ``entries``
    is a broadcast dimension."""
    df = entries
    if corrections_entries is not None:
        df = apply_patches(
            df,
            corrections_entries,
            "id",
            ["request_date", "completion_date"],
        )
    dim = build_agency_dim(df, agency_aliases)
    df = df.join(F.broadcast(dim), "agency", "left")
    if org_renames is not None:
        ren = org_renames.select(
            F.col("from_org").alias("organization"),
            F.col("to_org").alias("_org_to"),
        )
        df = df.join(F.broadcast(ren), "organization", "left").withColumn(
            "organization", F.coalesce(F.col("_org_to"), F.col("organization"))
        ).drop("_org_to")
    df = (
        df.withColumn("request_dt", F.col("request_date").try_cast("date"))
        .withColumn("completion_dt", F.col("completion_date").try_cast("date"))
        .withColumn("entry_dt", F.col("entry_date").try_cast("date"))
        .withColumn("fee_amount", parse_fee("fee"))
    )
    return with_tokens(df, FTS_COLUMNS, "search_tokens")


def write_silver(df: DataFrame, path: str) -> None:
    """Persist silver partitioned by request year — replaces the reference's
    B-tree indexes (0001_init.sql:19-23) with partition pruning + parquet
    min/max stats; at 100 TB add a second sort-within-partition on
    (agency_slug, id) for data-skipping on the agency filter."""
    (
        df.withColumn("request_year", F.year("request_dt"))
        .repartition("request_year")
        .sortWithinPartitions("agency_slug", "id")
        .write.mode("overwrite")
        .partitionBy("request_year")
        .parquet(path)
    )
