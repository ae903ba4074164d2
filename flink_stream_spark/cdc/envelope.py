"""Debezium CDC envelope handling.

The reference consumes Debezium-over-Kafka change events —
``{schema:{...}, payload:{before, after, source, op, ts_ms}}`` with
``op ∈ {c,u,d,r}`` (reference kafka/config/connect-postgres-source.json:4-13,
connect-standalone.properties:21-26) — and lets the Iceberg sink's
``DebeziumTransform`` SMT flatten and route them
(connect-iceberg-sink.json:8-12). Here the same semantics are a
``from_json`` parse + projection, and the flatten/route/upsert steps
are explicit DataFrame plans.
"""

from __future__ import annotations

import re

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

if TYPE_CHECKING:  # seam only — no runtime import cycle
    from flink_stream_spark.tables.format import TableHandle

OP_COL = "_op"

_SOURCE_SCHEMA = T.StructType(
    [
        T.StructField("table", T.StringType()),
        T.StructField("schema", T.StringType()),
        T.StructField("lsn", T.LongType()),
    ]
)


def debezium_envelope_schema(row_schema: T.StructType) -> T.StructType:
    """Envelope StructType for a given row schema (before/after are
    nullable structs — exactly Spark's nested-type representation of
    the Debezium JSON payload, SURVEY §1.3)."""
    payload = T.StructType(
        [
            T.StructField("before", row_schema, True),
            T.StructField("after", row_schema, True),
            T.StructField("source", _SOURCE_SCHEMA, True),
            T.StructField("op", T.StringType(), True),
            T.StructField("ts_ms", T.LongType(), True),
        ]
    )
    return T.StructType([T.StructField("payload", payload, True)])


def parse_envelopes(
    raw: DataFrame,
    row_schema: T.StructType,
    value_col: str = "value",
    extra_string_fields: list[str] | None = None,
) -> DataFrame:
    """raw JSON envelope strings → flattened change rows.

    Output: row columns (from after, falling back to before for
    deletes so the key survives), plus ``_op``, ``_table``, ``_lsn``,
    ``_ts_ms`` metadata — the engine's equivalent of the
    ``DebeziumTransform`` SMT's ``_cdc.*`` fields.
    Malformed JSON or envelopes without an op are dropped (the
    reference's null-filter discipline, flink_json_to_iceberg.py:117,144).

    ``extra_string_fields``: payload keys NOT in ``row_schema`` to
    surface as STRING columns (schema drift — from_json drops unknown
    keys, so these extract from the raw text; Debezium-without-registry
    lax typing). To promote a drifted column later, declare it in
    ``row_schema`` as StringType — the managed table's evolution rules
    correctly refuse a string→typed change (lossy); a typed view is a
    derived column (try_cast) or an explicit migration.
    """
    env = raw.select(
        F.col(value_col),
        F.from_json(F.col(value_col), debezium_envelope_schema(row_schema)).alias("e"),
    )
    p = F.col("e.payload")
    # before-image fallback ONLY for deletes (after is null there; the
    # key must survive for the MERGE delete). A blanket coalesce would
    # resurrect the pre-image for any field an UPDATE legitimately set
    # to NULL (Debezium REPLICA IDENTITY FULL sends both images).
    row_cols = [
        F.when(p["op"] == "d", p["before"][f.name])
        .otherwise(p["after"][f.name])
        .alias(f.name)
        for f in row_schema.fields
    ]
    for k in extra_string_fields or []:
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", k):
            raise ValueError(f"invalid drift field name: {k!r}")
        row_cols.append(
            F.when(
                p["op"] == "d",
                F.get_json_object(F.col(value_col), f"$.payload.before.{k}"),
            )
            .otherwise(
                F.get_json_object(F.col(value_col), f"$.payload.after.{k}")
            )
            .alias(k)
        )
    return (
        env.select(
            *row_cols,
            p["op"].alias(OP_COL),
            p["source"]["table"].alias("_table"),
            p["source"]["lsn"].alias("_lsn"),
            p["ts_ms"].alias("_ts_ms"),
        )
        .filter(F.col(OP_COL).isNotNull())
    )


def last_per_key(changes: DataFrame, keys: list[str], order_cols: list[str]) -> DataFrame:
    """Reduce a CDC batch to the LAST event per key.

    Debezium guarantees per-key order within a partition; a micro-batch
    MERGE must apply only the final state per key or u-then-d within
    one batch corrupts the table (SURVEY §7 'What's hard').

    Hot-key posture: this is a two-phase ``max_by`` AGGREGATE, not a
    window. A window (partitionBy key, row_number) funnels every event
    for a key into ONE task — a key receiving a whole batch (the CDC
    hot-key skew case) serializes on one core and can OOM it. The
    aggregate's map-side partial combine collapses a hot key to one
    candidate row per map task BEFORE the shuffle, so the exchange
    carries at most #map-tasks rows per key regardless of skew — the
    same effect as salted two-phase aggregation (plans/scale.py) with
    no explicit salt column. Asserted by plan + parity tests in
    tests/test_scale_plans.py (partial HashAggregate before the
    Exchange, no Window node).

    Ties on ``order_cols`` (two envelopes with equal ts_ms AND lsn for
    one key) are broken by a content-derived hash of the full row, so
    the winner is a pure function of the batch's data — identical
    across runs, retries, and partial-stage recomputes. (Truly
    identical duplicate envelopes tie harmlessly: every copy IS the
    same row.)
    """
    tie = F.xxhash64(*[F.col(c) for c in changes.columns])
    ord_struct = F.struct(
        *[F.col(c) for c in order_cols], tie.alias("__tie")
    )
    payload = F.struct(*[F.col(c) for c in changes.columns])
    return (
        changes.groupBy(*keys)
        .agg(F.max_by(payload, ord_struct).alias("__row"))
        .select(*[F.col("__row")[c].alias(c) for c in changes.columns])
    )


def apply_cdc_batch(
    table: "TableHandle",
    batch: DataFrame,
    keys: list[str],
    order_cols: list[str] | None = None,
    merge_mode: str = "cow",
) -> int:
    """Apply one envelope batch to any
    :class:`flink_stream_spark.tables.format.TableHandle` — the
    parquet-manifest ``ManagedTable`` or, with iceberg-spark jars, a
    real ``IcebergTable`` — reduce to last-per-key, then MERGE with
    op='d' rows deleting (Iceberg v2 equality-delete equivalent;
    reference exercises I/U/D via postgres/scripts/manual/001-003*.sql)."""
    order_cols = order_cols or ["_ts_ms", "_lsn"]
    # null-key envelopes (op set but both images null/missing —
    # truncated producer output) must not become null-key table rows:
    # the reference's key-not-null discipline
    # (flink_json_to_iceberg.py:117,144)
    for k in keys:
        batch = batch.filter(F.col(k).isNotNull())
    # upserts and deletes are two filters of ONE reduce: cache it so
    # the parse and the reduce run once, not once per consumer
    reduced = last_per_key(batch, keys, order_cols).persist()
    # exclude exactly the envelope metadata — a source column that
    # happens to start with '_' (legal in Postgres) is data
    meta = {OP_COL, "_table", "_lsn", "_ts_ms"}
    data_cols = [c for c in reduced.columns if c not in meta]
    upserts = reduced.filter(F.col(OP_COL) != "d").select(*data_cols)
    deletes = reduced.filter(F.col(OP_COL) == "d").select(*keys)
    # last_per_key already guarantees ≤1 row per key — skip merge's
    # duplicate-key probe
    kwargs = {}
    if merge_mode != "cow":
        # only ManagedTable takes a mode; IcebergTable's MERGE INTO is
        # already engine-side merge-on-read when the table is v2
        kwargs["mode"] = merge_mode
    try:
        return table.merge(
            upserts, keys=keys, deletes=deletes, validate_unique_keys=False, **kwargs
        )
    finally:
        reduced.unpersist()
