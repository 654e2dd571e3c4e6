"""Iceberg catalog bindings for the on-disk stores.

The engine's parquet-plus-manifest store (README "Iceberg note";
``index/incremental.py``, ``index/blocks.save_blocked_index``) is a
physical stand-in for the Iceberg tables BASELINE.json names. This
module is the actual binding for a deployment that has
``iceberg-spark-runtime`` on the classpath: pure DDL/DML generators for
every store operation the stand-in performs —

- table creation with the ``bucket(term)`` partition transform (the
  stand-in's ``term_bucket = pmod(xxhash64(term), B)`` column,
  written by packed.py ``save_blocked`` behind ``save_blocked_index``),
- ``MERGE INTO`` last-write-wins upsert on ``doc_key`` (the stand-in's
  tombstone + left_anti join, incremental.py ``ingest_batch``),
- snapshot time travel (the stand-in's ``as_of_batch`` manifest filter,
  incremental.py:243),
- ``rollback_to_snapshot`` + ``expire_snapshots`` (the stand-in's
  ``rollback()``, incremental.py:336),

plus thin DataFrameWriterV2 facades. The generators are pure functions
and are unit-tested in this sandbox (tests/test_iceberg_sql.py); the
runtime facades are gated on :func:`iceberg_available` because no
Iceberg jar ships in this container — they raise a clear error here and
work unchanged on a provisioned cluster. Nothing else in the engine
changes when the backing flips: every reader already goes through
DataFrames, so ``spark.read.parquet(store)`` becomes
``spark.table(name)`` at the one seam per store (``load_blocked_index``
/ ``open_store``).

Reference analog: the reference commits documents to Solr over HTTP
(tmx2solr.pl, solrconfig.xml autoCommit); here a commit is an Iceberg
snapshot, which is what makes builds resumable and time-travelable
without a serving daemon.
"""

from __future__ import annotations

import re
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from nexlt_spark.index.blocks import BLOCKS_SCHEMA, BLOCKS_SCHEMA_POS

_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _qualified(table: str) -> str:
    """Validate a (possibly dotted) table identifier — generators build
    SQL strings, so refuse anything that is not a plain identifier path
    rather than interpolating it."""
    parts = table.split(".")
    if not parts or not all(_IDENT_RE.match(p) for p in parts):
        raise ValueError(f"not a valid table identifier: {table!r}")
    return table


def iceberg_available(spark: SparkSession) -> bool:
    """True when the session is configured for Iceberg: the session
    extension is installed AND at least one Spark catalog is an Iceberg
    SparkCatalog/SparkSessionCatalog. Never raises, never runs a job
    (``SET`` is a driver-local command, not a Spark job). Catalogs are
    read from the session RuntimeConf via ``SET`` — NOT from
    ``sparkContext.getConf()``, which is the static SparkConf frozen at
    context creation and misses catalogs configured with
    ``spark.conf.set`` on a shared/notebook session."""
    try:
        ext = spark.conf.get("spark.sql.extensions", "") or ""
        if "IcebergSparkSessionExtensions" not in ext:
            return False
        conf_rows = [(r["key"], r["value"]) for r in spark.sql("SET").collect()]
    except Exception:  # pragma: no cover - defensive
        return False
    return any(
        k.startswith("spark.sql.catalog.") and "iceberg" in str(v).lower()
        for k, v in conf_rows
    )


def _ddl_columns(schema_str: str) -> str:
    """'a string, b long' -> 'a string,\n  b long' (readable DDL body).

    Splits on TOP-LEVEL commas only, so parameterized types
    (``decimal(10,2)``, ``map<string,int>``, ``array<struct<...>>``)
    stay intact if a store schema ever grows one."""
    cols, depth, start = [], 0, 0
    for i, ch in enumerate(schema_str):
        if ch in "(<":
            depth += 1
        elif ch in ")>":
            depth -= 1
        elif ch == "," and depth == 0:
            cols.append(schema_str[start:i].strip())
            start = i + 1
    cols.append(schema_str[start:].strip())
    return ",\n  ".join(c for c in cols if c)


# Single source of truth for the blocked-store table layout: the DDL
# generator and the DataFrameWriterV2 facade both consume these, so a
# tuning change cannot diverge the SQL-created and writer-created tables.
BLOCKS_TABLE_PROPERTIES = {
    "write.parquet.compression-codec": "zstd",
    "write.distribution-mode": "hash",
    "write.target-file-size-bytes": "134217728",
}


def create_postings_blocks_sql(
    table: str, n_buckets: int = 32, positions: bool = False
) -> str:
    """DDL for the blocked postings store — the Iceberg form of
    ``save_blocked_index``'s layout: ``bucket(n_buckets, term)`` is the
    catalog-native transform the stand-in emulates with its
    ``term_bucket`` column, so query-term lookups prune to one partition
    per term and range partitioning (``rsalt``) spreads files within it."""
    schema = BLOCKS_SCHEMA_POS if positions else BLOCKS_SCHEMA
    props = ",\n".join(
        f"  '{k}' = '{v}'" for k, v in BLOCKS_TABLE_PROPERTIES.items()
    )
    return (
        f"CREATE TABLE IF NOT EXISTS {_qualified(table)} (\n"
        f"  {_ddl_columns(schema)}\n"
        f") USING iceberg\n"
        f"PARTITIONED BY (bucket({int(n_buckets)}, term))\n"
        f"TBLPROPERTIES (\n{props}\n)"
    )


_DOCUMENTS_SCHEMA = (
    "doc_id bigint, doc_key string, conv_id string, turn_idx int, "
    "role string, text string, tool string, ts timestamp"
)


def create_documents_sql(table: str) -> str:
    """DDL for the flattened documents table (flatten.py output shape).

    Partitioned by ``days(ts)`` — the reference's daily export window
    (athena2nexlt.sh) becomes partition pruning, and incremental ingest
    appends only the day partitions a batch touches."""
    return (
        f"CREATE TABLE IF NOT EXISTS {_qualified(table)} (\n"
        f"  {_ddl_columns(_DOCUMENTS_SCHEMA)}\n"
        f") USING iceberg\n"
        f"PARTITIONED BY (days(ts))\n"
        f"TBLPROPERTIES ('write.parquet.compression-codec' = 'zstd')"
    )


def merge_upsert_documents_sql(table: str, source_view: str) -> str:
    """Last-write-wins upsert on the uniqueKey analog ``doc_key`` — the
    exact contract ``ingest_batch`` implements with tombstones + a
    left_anti read path (incremental.py), expressed as the catalog's
    atomic MERGE: re-ingested turns replace their prior row, new turns
    append, all in one snapshot commit."""
    t, s = _qualified(table), _qualified(source_view)
    return (
        f"MERGE INTO {t} t\n"
        f"USING {s} s\n"
        f"ON t.doc_key = s.doc_key\n"
        f"WHEN MATCHED THEN UPDATE SET *\n"
        f"WHEN NOT MATCHED THEN INSERT *"
    )


def time_travel_sql(table: str, snapshot_id: int) -> str:
    """Read the store as of a committed snapshot — ``as_of_batch``
    (incremental.py:243) without the manifest filter: the catalog keeps
    the snapshot log the stand-in keeps as batch-K.json files."""
    return f"SELECT * FROM {_qualified(table)} VERSION AS OF {int(snapshot_id)}"


def rollback_sql(catalog: str, table: str, snapshot_id: int) -> str:
    """``rollback(path, to_batch)`` (incremental.py:336) in catalog form.
    Readers see the old snapshot as soon as the procedure commits — same
    manifest-last atomicity the stand-in gets from os.replace."""
    return (
        f"CALL {_qualified(catalog)}.system.rollback_to_snapshot"
        f"('{_qualified(table)}', {int(snapshot_id)})"
    )


def expire_snapshots_sql(
    catalog: str, table: str, older_than: Optional[str] = None
) -> str:
    """Garbage-collect unreferenced data files after rollback/compaction
    (the stand-in deletes orphaned batch dirs inline)."""
    args = [f"table => '{_qualified(table)}'"]
    if older_than is not None:
        # timestamp literal, validated not interpolated raw
        from nexlt_spark.query.parser import normalize_ts

        args.append(f"older_than => TIMESTAMP '{normalize_ts(older_than)}'")
    return f"CALL {_qualified(catalog)}.system.expire_snapshots({', '.join(args)})"


def _require(spark: SparkSession) -> None:
    if not iceberg_available(spark):
        raise RuntimeError(
            "Iceberg runtime not configured on this session: add "
            "iceberg-spark-runtime to the classpath, set spark.sql.extensions="
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions "
            "and a spark.sql.catalog.<name> SparkCatalog. In this sandbox the "
            "parquet-plus-manifest store (README 'Iceberg note') is the "
            "supported backing."
        )


def write_blocks_iceberg(
    blocks: DataFrame, table: str, n_buckets: int = 32, positions: bool = False
) -> None:
    """Create-or-REPLACE the blocked postings store as an Iceberg table
    (the ``save_blocked_index`` seam, whose ``mode("overwrite")`` is a
    full truncate — packed.py ``save_blocked``). DataFrameWriterV2 ``createOrReplace``
    with the bucket transform on the writer: no ``term_bucket`` column,
    no manual ``partitionBy``, and — unlike ``overwritePartitions`` — no
    stale rows in bucket partitions the new blocks DataFrame doesn't
    touch (every rebuild reassigns doc_ids from 0, so leftover old-space
    postings would resolve to wrong documents). Replacing also re-applies
    the partition spec, so an ``n_buckets``/``positions`` change takes
    effect instead of silently writing into the old layout."""
    from pyspark.sql.functions import partitioning

    spark = blocks.sparkSession
    _require(spark)
    writer = blocks.writeTo(_qualified(table)).using("iceberg").partitionedBy(
        partitioning.bucket(int(n_buckets), "term")
    )
    for k, v in BLOCKS_TABLE_PROPERTIES.items():
        writer = writer.tableProperty(k, v)
    writer.createOrReplace()


def append_documents_iceberg(docs: DataFrame, table: str) -> None:
    """Append one ingest batch of flattened documents (the
    ``ingest_batch`` document-write seam); each append is one snapshot."""
    spark = docs.sparkSession
    _require(spark)
    spark.sql(create_documents_sql(table))
    docs.writeTo(_qualified(table)).append()


def upsert_documents_iceberg(docs: DataFrame, table: str) -> None:
    """MERGE one batch by ``doc_key`` (tombstone-free last-write-wins).

    The batch is first deduped within itself by ``doc_key`` —
    ``latest_by_key`` on (ts, doc_id), the same within-batch LWW
    ``ingest_batch`` applies (incremental.py) — because Iceberg MERGE
    requires the source to match each target row at most once: a
    re-delivered turn appearing twice in one batch would otherwise
    insert duplicate doc_keys on first ingest and abort later merges
    with a cardinality violation."""
    import uuid

    from nexlt_spark.ops.ingest import latest_by_key

    spark = docs.sparkSession
    _require(spark)
    spark.sql(create_documents_sql(table))
    if "doc_id" not in docs.columns:
        # the MERGE's INSERT * expands by name against the documents
        # table, which carries doc_id — a doc_id-less batch would fail
        # analysis inside the MERGE with a far less actionable error
        raise ValueError(
            "upsert_documents_iceberg: batch is missing doc_id; assign "
            "ids first (flatten.assign_stable_ids / flatten_transcripts)"
        )
    docs = latest_by_key(docs, ["doc_key"], "ts", "doc_id")
    # unique per call: never clobbers a caller's view, safe under
    # concurrent upserts on one shared session
    view = f"nexlt_merge_source_{uuid.uuid4().hex}"
    docs.createOrReplaceTempView(view)
    try:
        spark.sql(merge_upsert_documents_sql(table, view))
    finally:
        spark.catalog.dropTempView(view)
