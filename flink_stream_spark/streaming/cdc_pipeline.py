"""Streaming CDC apply: Debezium envelope stream → routed keyed MERGE.

The Spark rebuild of the reference's Connect sink pipeline
(kafka/config/connect-iceberg-sink.json): consume ``cdc.*`` envelope
records, flatten (DebeziumTransform SMT equivalent), route each
record to its target table by source table name (``_cdc.target``
pattern, :10-12), auto-create/evolve tables (:13-14), and apply
I/U/D with per-table upsert keys (:28-29), committing per trigger
(:15-16 commit interval/timeout ≙ trigger + checkpoint).

One trigger is one pass: the batch is routed and persisted, ONE
collect returns the tables that carry op-bearing envelopes together
with each table's distinct ``payload.after`` keys (the drift
candidates), and each touched table then gets one parse and one
``last_per_key`` reduce inside its ``apply_cdc_batch``. There are no
per-table emptiness probes, so the trigger's job count grows with the
tables touched, not with the tables declared. The touched tables are
applied concurrently from one thread pool; the trigger fails if any
table fails, and only after every table's apply has returned. A table
whose envelopes leave no change (every key null) gets no new version.
"""

from __future__ import annotations

import logging
import re
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.util import inheritable_thread_target

from flink_stream_spark.cdc.envelope import apply_cdc_batch, parse_envelopes
from flink_stream_spark.tables.managed import Warehouse


# names a drift column may never take: the envelope metadata columns
# parse_envelopes appends — a colliding drift column would make the
# very next F.col() reference ambiguous and crash the query
_RESERVED_DRIFT = {"_op", "_table", "_lsn", "_ts_ms", "__t"}

# name prefix of the threads that apply one trigger's tables
_APPLY_THREAD_PREFIX = "cdc-apply"

_LOG = logging.getLogger(__name__)


def _has_op(value_col: str):
    return F.get_json_object(F.col(value_col), "$.payload.op").isNotNull()


def _after_keys(value_col: str):
    # explode_outer: an envelope without an after-image (a delete)
    # still yields one row, with a null key
    return F.explode_outer(
        F.json_object_keys(F.get_json_object(F.col(value_col), "$.payload.after"))
    ).alias("k")


def _admit_drift(
    keys: set[str],
    declared: "T.StructType",
    existing: "T.StructType | None" = None,
    max_new_fields: int = 32,
) -> list[str]:
    """The drift admission rules over a batch's distinct payload keys
    (see :func:`_drift_fields`)."""
    taken = {f.name.lower() for f in declared.fields} | {
        n.lower() for n in _RESERVED_DRIFT
    }
    if existing is not None:
        taken |= {f.name.lower() for f in existing.fields}
    admitted: list[str] = []
    seen_ci: set[str] = set()
    for k in sorted(keys):
        lk = k.lower()
        if lk in taken or lk in seen_ci:
            continue
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", k):
            continue
        seen_ci.add(lk)
        admitted.append(k)
    if len(admitted) > max_new_fields:
        _LOG.warning(
            "drift overflow: %d new payload keys in one batch, admitting "
            "first %d (sorted); dropped: %s",
            len(admitted),
            max_new_fields,
            admitted[max_new_fields:],
        )
        admitted = admitted[:max_new_fields]
    return admitted


def _drift_fields(
    subset: DataFrame,
    declared: "T.StructType",
    value_col: str = "raw",
    existing: "T.StructType | None" = None,
    max_new_fields: int = 32,
) -> list[str]:
    """Schema drift: payload.after keys present in ``subset`` but
    absent from the declared row schema (the sink's
    ``evolve-schema-enabled`` behavior, connect-iceberg-sink.json:13).
    The pipeline gets the same keys for every table at once from its
    batch scan (:func:`_scan`) and applies the same admission rules;
    this form scans one table's envelopes by itself. One JVM-side
    distinct aggregate over json_object_keys — no sampling, no RDD;
    the driver receives only the distinct key NAMES (bounded by
    schema width).

    Excluded, because each would otherwise crash or pollute the query:
    non-identifier keys (cannot be columns), CDC metadata names and
    CASE-variants of declared columns OR of the target table's current
    manifest columns (``existing`` — a column evolved in an EARLIER
    batch; Spark resolution is case-insensitive, so a drift column
    ``Email`` next to an existing ``email`` is an
    AMBIGUOUS_REFERENCE), mutual case-variants inside ONE batch (only
    the sorted-first spelling is admitted — admitting both would
    commit a manifest with case-duplicate columns and poison every
    subsequent read), and keys appearing only in op-less envelopes
    (parse_envelopes drops those rows, so their keys must not evolve
    the table).

    ``max_new_fields`` bounds drift per batch: one buggy or hostile
    producer carrying thousands of distinct payload keys must not
    evolve thousands of irreversible columns into the managed table.
    Overflow keys are logged and dropped this batch (dead-letter-style
    visibility, no evolution)."""
    rows = (
        subset.filter(_has_op(value_col))
        .select(_after_keys(value_col))
        .filter(F.col("k").isNotNull())
        .distinct()
        .collect()
    )
    return _admit_drift({r["k"] for r in rows}, declared, existing, max_new_fields)


def _route(batch: DataFrame, value_col: str = "raw") -> DataFrame:
    """One cheap pass tags each envelope with its source table; the
    full typed parse then runs per table on ONLY that table's rows
    (the union-schema alternative would still be one from_json per
    row, but every per-table parse here touches a disjoint subset
    instead of re-parsing the whole batch N times)."""
    return batch.withColumn(
        "__t", F.get_json_object(F.col(value_col), "$.payload.source.table")
    )


def _scan(routed: DataFrame, tables: list[str]) -> dict[str, set[str]]:
    """One collect over the routed batch: {table: distinct
    payload.after keys} for every declared table with at least one
    op-bearing envelope (op-less envelopes are dropped by
    parse_envelopes, so they neither touch a table nor drift it)."""
    rows = (
        routed.filter(F.col("__t").isin(tables) & _has_op("raw"))
        .select("__t", _after_keys("raw"))
        .distinct()
        .collect()
    )
    touched: dict[str, set[str]] = {}
    for r in rows:
        ks = touched.setdefault(r["__t"], set())
        if r["k"] is not None:
            ks.add(r["k"])
    return touched


def _apply_envelopes(
    envelopes: DataFrame,
    warehouse: Warehouse,
    row_schemas: dict[str, T.StructType],
    table_keys: dict[str, list[str]],
    table_suffix: str,
    evolve_new_fields: bool,
) -> dict[str, int]:
    """Apply one batch of raw envelopes (column ``raw``) to the tables
    it touches; returns {source table: version after the apply}.

    Targets and drift are resolved here, on the calling thread:
    ``Warehouse.table`` rewrites the key-registry file, so it must not
    race. The applies then run concurrently, each worker inheriting
    the caller's Spark local properties (a streaming trigger's job
    group and batch id, so stopping the query cancels their jobs). The
    pool is drained before the batch is unpersisted, and the first
    failure is raised only after every apply has returned."""
    routed = _route(envelopes).persist()
    try:
        touched = _scan(routed, list(row_schemas))
        work = []
        for src_table, schema in row_schemas.items():
            if src_table not in touched:
                continue
            keys = table_keys[src_table]
            target = warehouse.table(f"{src_table}{table_suffix}", keys)
            # mid-stream schema drift: new payload fields surface as
            # STRING columns and the managed table evolves on merge
            # (old rows read NULL). The target's CURRENT manifest
            # schema joins the exclusion set so a case-variant of a
            # column evolved in an earlier batch can never re-enter as
            # a duplicate column.
            drift = (
                _admit_drift(touched[src_table], schema, target.current_schema())
                if evolve_new_fields
                else []
            )
            changes = parse_envelopes(
                routed.filter(F.col("__t") == src_table),
                schema,
                value_col="raw",
                extra_string_fields=drift,
            )
            work.append((src_table, target, changes, keys))
        if not work:
            return {}
        spark = envelopes.sparkSession
        # wrapped once per table: each wrap clones the local properties,
        # so concurrent applies never share one mutable property set
        with ThreadPoolExecutor(len(work), _APPLY_THREAD_PREFIX) as pool:
            futures = {
                src_table: pool.submit(
                    inheritable_thread_target(spark)(apply_cdc_batch),
                    target,
                    changes,
                    keys,
                )
                for src_table, target, changes, keys in work
            }
            return {t: f.result() for t, f in futures.items()}
    finally:
        routed.unpersist()


def start_cdc_pipeline(
    spark: SparkSession,
    source_dir: str,
    warehouse: Warehouse,
    row_schemas: dict[str, T.StructType],
    table_keys: dict[str, list[str]],
    checkpoint_dir: str,
    trigger_seconds: int = 10,
    table_suffix: str = "_postgres",
    evolve_new_fields: bool = True,
):
    """One streaming query fans envelopes out to N managed tables.

    ``row_schemas``/``table_keys`` mirror the sink's per-table config
    (``iceberg.tables.*.id-columns``). Target naming follows the
    reference's route pattern ``cdc.{table}_postgres``.
    ``evolve_new_fields``: mid-stream payload fields absent from the
    declared schema become string-typed evolved columns (the sink's
    ``evolve-schema-enabled``); pass False for strict declared-schema
    parsing.
    """
    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 16)
        .load(source_dir)
        .withColumnRenamed("value", "raw")
    )

    def _apply(batch: DataFrame, epoch_id: int) -> None:
        _apply_envelopes(
            batch, warehouse, row_schemas, table_keys, table_suffix, evolve_new_fields
        )

    return (
        raw.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def replay_cdc_batch(
    spark: SparkSession,
    envelopes: DataFrame,
    warehouse: Warehouse,
    row_schemas: dict[str, T.StructType],
    table_keys: dict[str, list[str]],
    table_suffix: str = "_postgres",
    evolve_new_fields: bool = True,
) -> dict[str, int]:
    """Batch-mode replay of an envelope log (the oracle-checkable path:
    FIXTURES A4 applies the same log as sequential DML in DuckDB).
    Runs the SAME per-trigger path as the streaming pipeline (drift
    evolution included), so a replay of a log yields the identical
    table schema and content as streaming it. Returns {source table:
    version} for the tables the log touches."""
    return _apply_envelopes(
        envelopes, warehouse, row_schemas, table_keys, table_suffix, evolve_new_fields
    )
