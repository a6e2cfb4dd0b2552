"""Testdata catalog: register the driver-generated parquet tables as views.

The reference resolves tables through the live PostgreSQL catalog
(reference: psc/postgresql/driver/pq3.py TypeIO.resolve); here Catalyst infers
schemas from parquet footers — no hand-declared schemas anywhere, matching the
reference's dynamic-schema stance (SURVEY §1.2).
"""

from __future__ import annotations

from functools import lru_cache

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should always broadcast in joins.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})


@lru_cache(maxsize=None)
def _nanos_ts_columns(path: str) -> tuple[str, ...]:
    """Columns stored as parquet timestamp[ns] — Spark rejects NANOS outright
    (PARQUET_TYPE_ILLEGAL), so we read them as raw longs
    (``spark.sql.legacy.parquet.nanosAsLong``) and rebuild micros timestamps.
    Footer-driven, no hard-coded schemas (matches the reference's
    server-inferred-schema stance, SURVEY §1.2)."""
    import pyarrow.types as pat

    schema = pq.read_schema(path)
    return tuple(
        f.name
        for f in schema
        if pat.is_timestamp(f.type) and f.type.unit == "ns"
    )


@lru_cache(maxsize=None)
def _row_groups(path: str) -> int:
    return pq.ParquetFile(path).metadata.num_row_groups


def _ensure_nanos_readable(spark: SparkSession) -> None:
    """Make THIS session able to scan timestamp[ns] parquet.

    The conf is runtime-settable and must be set on whichever session actually
    reads — callers (the correctness driver, notebooks) supply vanilla
    sessions that our own session factory never touched. Without this, every
    read of the driver testdata dies with PARQUET_TYPE_ILLEGAL before any
    query logic runs."""
    try:
        if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        # Read-only conf entry on some builds; reads will fail loudly there.
        pass


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    _ensure_nanos_readable(spark)
    df = spark.read.parquet(path)
    for c in _nanos_ts_columns(path):
        # integer nanos → micros. Integral `div`, not `/1000`: epoch-nanos
        # (~1.7e18) exceeds double's 2^53 exact range, float division would
        # corrupt the low digits. Truncation matches DuckDB's ns→us cast.
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    # A parquet row group is Spark's minimum split unit: the driver-generated
    # testdata ships ONE row group per table, which would pin every scan —
    # and all downstream per-row compute (minhash, simhash, winnowing) — to
    # a single core. Spread under-split tables across the cluster once here;
    # Catalyst still pushes filters and column pruning below the repartition.
    # (A 100 TB deployment has thousands of files/row groups and skips this.)
    cores = spark.sparkContext.defaultParallelism
    if _row_groups(path) < max(2, cores // 4):
        df = df.repartition(cores)
    return df


def create_information_schema_views(spark: SparkSession, db: str | None = None) -> None:
    """Catalog-emulation views (SURVEY §4.3 item 2): the introspection
    surface conditional migrations need — the reference probes
    ``information_schema.columns`` before deciding to run
    (reference: packets/test_int4_to_int8/01_step.sql:5-7).

    Builds ``information_schema_columns`` (table_schema, table_name,
    column_name, data_type, ordinal_position) over the tables and views of
    ``db`` from one catalog snapshot (pg_catalog.CatalogSnapshot); the
    PG-dialect rewriter maps ``information_schema.columns`` onto it.
    Driver-side metadata — catalogs are metadata, not data."""
    from db_converter_spark.pg_catalog import CatalogSnapshot, build_views

    db = db or spark.catalog.currentDatabase()
    build_views(spark, CatalogSnapshot(spark, [db]), {"information_schema_columns"})


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (memoized per session).

    Views are cheap (no scan happens until an action); filters and column
    pruning push down through them to the parquet scan. The memo lives on the
    session object itself (not an id()-keyed dict: ids get reused after GC,
    which would silently skip registration on a fresh session).
    """
    if getattr(spark, "_dbc_registered_sf", None) == sf_dir:
        return
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    spark._dbc_registered_sf = sf_dir
