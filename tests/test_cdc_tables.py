"""ManagedTable + CDC apply: the reference's pipeline semantics.

Scenario coverage mirrors FIXTURES A3/A4 (which mirror the reference's
test_cdc.py and postgres/scripts/manual/00{1,2,3}_*.sql): snapshot
reads, inserts, non-key updates, full-table delete, multiple ops on
one key in a single batch (last wins), interleaved tables (dynamic
routing), schema evolution, malformed raw-JSON filtering, bulk churn,
and snapshot expiry.
"""

from __future__ import annotations

import json
import threading
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_stream_spark.cdc.envelope import apply_cdc_batch, parse_envelopes, last_per_key
from flink_stream_spark.streaming.cdc_pipeline import (
    _APPLY_THREAD_PREFIX,
    replay_cdc_batch,
    start_cdc_pipeline,
)
from flink_stream_spark.streaming.ingest import JsonField, raw_json_transform, start_raw_json_ingest
from flink_stream_spark.tables.managed import ManagedTable, Warehouse

ACCOUNT = T.StructType(
    [
        T.StructField("user_id", T.IntegerType()),
        T.StructField("email", T.StringType()),
        T.StructField("created_at", T.LongType()),
    ]
)
PRODUCT = T.StructType(
    [
        T.StructField("product_id", T.IntegerType()),
        T.StructField("product_name", T.StringType()),
    ]
)


def env(table, op, after=None, before=None, lsn=0, ts_ms=0):
    return json.dumps(
        {
            "payload": {
                "before": before,
                "after": after,
                "source": {"table": table, "schema": "commerce", "lsn": lsn},
                "op": op,
                "ts_ms": ts_ms,
            }
        }
    )


def rows(table, spark):
    return {
        r["user_id"]: r.asDict() for r in table.read(spark).collect()
    }


def test_merge_insert_update_delete(spark, tmp_path):
    t = ManagedTable(str(tmp_path), "account", ["user_id"])
    df = spark.createDataFrame(
        [(1, "alice@example.com", 10), (2, "bob@example.com", 20)], ACCOUNT
    )
    t.merge(df)
    assert rows(t, spark)[1]["email"] == "alice@example.com"

    # update non-key column (manual/002_update.sql flow)
    upd = spark.createDataFrame([(1, "alice2@example.com", 10)], ACCOUNT)
    t.merge(upd)
    got = rows(t, spark)
    assert got[1]["email"] == "alice2@example.com" and len(got) == 2

    # delete one key
    t.merge(
        upserts=spark.createDataFrame([], ACCOUNT),
        deletes=spark.createDataFrame([(2,)], "user_id int"),
    )
    assert set(rows(t, spark)) == {1}


def test_cdc_envelope_apply_last_per_key_wins(spark, tmp_path):
    """u-then-d on one key inside ONE batch must leave the key deleted;
    d-then-c must leave it present (SURVEY §7 CDC ordering)."""
    t = ManagedTable(str(tmp_path), "account", ["user_id"])
    lines = [
        env("account", "r", {"user_id": 1, "email": "a@x", "created_at": 1}, lsn=1, ts_ms=1),
        env("account", "c", {"user_id": 2, "email": "b@x", "created_at": 2}, lsn=2, ts_ms=2),
        env("account", "u", {"user_id": 2, "email": "b2@x", "created_at": 2}, lsn=3, ts_ms=3),
        env("account", "d", None, before={"user_id": 2, "email": "b2@x", "created_at": 2}, lsn=4, ts_ms=4),
        env("account", "d", None, before={"user_id": 1, "email": "a@x", "created_at": 1}, lsn=5, ts_ms=5),
        env("account", "c", {"user_id": 1, "email": "a2@x", "created_at": 9}, lsn=6, ts_ms=6),
    ]
    raw = spark.createDataFrame([(l,) for l in lines], "raw string")
    changes = parse_envelopes(raw, ACCOUNT, value_col="raw")
    apply_cdc_batch(t, changes, ["user_id"])
    got = rows(t, spark)
    assert set(got) == {1}, got  # key 2 deleted, key 1 re-created
    assert got[1]["email"] == "a2@x"


def test_cdc_full_table_delete(spark, tmp_path):
    """manual/003_delete.sql deletes ALL rows."""
    t = ManagedTable(str(tmp_path), "account", ["user_id"])
    t.merge(spark.createDataFrame([(i, f"u{i}@x", i) for i in range(5)], ACCOUNT))
    dels = [
        env("account", "d", None, before={"user_id": i, "email": f"u{i}@x", "created_at": i}, lsn=10 + i, ts_ms=10 + i)
        for i in range(5)
    ]
    raw = spark.createDataFrame([(l,) for l in dels], "raw string")
    apply_cdc_batch(t, parse_envelopes(raw, ACCOUNT, value_col="raw"), ["user_id"])
    assert t.read(spark).count() == 0


def test_dynamic_routing_interleaved_tables(spark, tmp_path):
    """Interleaved account/product envelopes route to separate tables
    with per-table keys (connect-iceberg-sink.json:10-12,28-29)."""
    wh = Warehouse(str(tmp_path / "wh"))
    lines = [
        env("account", "c", {"user_id": 1, "email": "a@x", "created_at": 1}, lsn=1),
        env("product", "c", {"product_id": 7, "product_name": "Chair"}, lsn=2),
        env("account", "u", {"user_id": 1, "email": "a2@x", "created_at": 1}, lsn=3),
        env("product", "c", {"product_id": 8, "product_name": "Table"}, lsn=4),
    ]
    raw = spark.createDataFrame([(l,) for l in lines], "raw string")
    replay_cdc_batch(
        spark,
        raw,
        wh,
        {"account": ACCOUNT, "product": PRODUCT},
        {"account": ["user_id"], "product": ["product_id"]},
    )
    assert sorted(wh.list_tables()) == ["account_postgres", "product_postgres"]
    acc = wh.table("account_postgres").read(spark).collect()
    assert len(acc) == 1 and acc[0]["email"] == "a2@x"
    assert wh.table("product_postgres").read(spark).count() == 2


def test_schema_evolution_on_merge(spark, tmp_path):
    """A later envelope adds a new field; table evolves, old rows NULL
    (connect-iceberg-sink.json:14)."""
    t = ManagedTable(str(tmp_path), "account", ["user_id"])
    t.merge(spark.createDataFrame([(1, "a@x", 1)], ACCOUNT))
    evolved = spark.createDataFrame(
        [(2, "b@x", 2, "gold")],
        "user_id int, email string, created_at bigint, tier string",
    )
    t.merge(evolved)
    got = {r["user_id"]: r.asDict() for r in t.read(spark).collect()}
    assert got[2]["tier"] == "gold" and got[1]["tier"] is None


def test_versions_time_travel_and_expiry(spark, tmp_path):
    t = ManagedTable(str(tmp_path), "account", ["user_id"])
    t.merge(spark.createDataFrame([(1, "a@x", 1)], ACCOUNT))
    t.merge(spark.createDataFrame([(1, "a2@x", 1)], ACCOUNT))
    t.merge(spark.createDataFrame([(2, "b@x", 2)], ACCOUNT))
    assert t.current_version() == 3
    # time travel
    assert t.read(spark, version=1).collect()[0]["email"] == "a@x"
    # expiry keeps newest N (snapshot_mgmt.py:17-19 equivalent)
    removed = t.expire_snapshots(retain_last=1)
    assert removed == 2
    assert t.read(spark).count() == 2
    with pytest.raises(Exception):
        t.read(spark, version=1).collect()


def test_raw_json_malformed_filtering(spark):
    """FIXTURES A3: missing key field, non-numeric id, empty object,
    non-JSON line — all dropped; duplicates upsert last-wins."""
    lines = [
        '{"user_id": 4821, "email": "t1@example.com"}',
        '{"email": "missing-key@example.com"}',
        '{"user_id": "abc", "email": "bad-type@example.com"}',
        "{}",
        "not json at all",
        '{"user_id": 4821, "email": "t2@example.com"}',
    ]
    raw = spark.createDataFrame([(l,) for l in lines], "raw_data string")
    typed = raw_json_transform(
        raw,
        [JsonField("user_id", "$.user_id", "int"), JsonField("email", "$.email", "string")],
        key="user_id",
        stamp_ts=False,
    ).withColumn("__seq", F.monotonically_increasing_id())
    final = last_per_key(typed, ["user_id"], ["__seq"]).drop("__seq")
    got = final.collect()
    assert len(got) == 1
    assert got[0]["user_id"] == 4821 and got[0]["email"] == "t2@example.com"


def test_streaming_raw_json_ingest_e2e(spark, tmp_path):
    """File-stream of JSONL batches → foreachBatch MERGE; the streaming
    twin of test_cdc.py's producer flow, incl. --bulk churn."""
    src = tmp_path / "topic"
    src.mkdir()
    t = ManagedTable(str(tmp_path / "wh"), "account_json", ["user_id"])
    # batch 1: 100 inserts (bulk), batch 2: 50 updates + malformed noise
    with open(src / "b1.jsonl", "w") as f:
        for i in range(100):
            f.write(json.dumps({"user_id": i, "email": f"u{i}@example.com"}) + "\n")
    q = start_raw_json_ingest(
        spark,
        str(src),
        t,
        [JsonField("user_id", "$.user_id", "int"), JsonField("email", "$.email", "string")],
        key="user_id",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
        assert t.read(spark).count() == 100
        with open(src / "b2.jsonl", "w") as f:
            for i in range(50):
                f.write(json.dumps({"user_id": i, "email": f"u{i}@new.com"}) + "\n")
            f.write("garbage\n")
            f.write(json.dumps({"email": "nokey@example.com"}) + "\n")
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["user_id"]: r["email"] for r in t.read(spark).collect()}
    assert len(got) == 100
    assert got[0] == "u0@new.com" and got[99] == "u99@example.com"
    # ingest-time stamp exists (A7) — excluded from content assertions
    assert "ts" in t.read(spark).columns


def test_streaming_restart_from_checkpoint(spark, tmp_path):
    """Stop the ingest query, append more data, restart with the SAME
    checkpoint: already-processed files are not re-read, new files are,
    and the final table state is exactly once per key (A14 semantics —
    the reference gets this from Flink checkpoint + Iceberg commits)."""
    src = tmp_path / "topic"
    src.mkdir()
    t = ManagedTable(str(tmp_path / "wh"), "acct", ["user_id"])
    ckpt = str(tmp_path / "ckpt")

    def start():
        return start_raw_json_ingest(
            spark,
            str(src),
            t,
            [JsonField("user_id", "$.user_id", "int"), JsonField("email", "$.email", "string")],
            key="user_id",
            checkpoint_dir=ckpt,
        )

    with open(src / "b1.jsonl", "w") as f:
        for i in range(10):
            f.write(json.dumps({"user_id": i, "email": f"a{i}@x"}) + "\n")
    q = start()
    q.processAllAvailable()
    q.stop()
    v_after_first = t.current_version()
    assert t.read(spark).count() == 10

    with open(src / "b2.jsonl", "w") as f:
        for i in range(5, 15):  # 5 updates + 5 new keys
            f.write(json.dumps({"user_id": i, "email": f"b{i}@x"}) + "\n")
    q = start()  # fresh query object, same checkpoint
    q.processAllAvailable()
    q.stop()
    got = {r["user_id"]: r["email"] for r in t.read(spark).collect()}
    assert len(got) == 15
    assert got[4] == "a4@x" and got[5] == "b5@x" and got[14] == "b14@x"
    # restart did not replay batch 1 (would show as an extra version)
    assert t.current_version() == v_after_first + 1


def test_streaming_cdc_pipeline_e2e(spark, tmp_path):
    """Envelope stream → routed MERGE across two tables, two epochs."""
    src = tmp_path / "cdc_topic"
    src.mkdir()
    wh = Warehouse(str(tmp_path / "wh"))
    with open(src / "e1.jsonl", "w") as f:
        f.write(env("account", "c", {"user_id": 1, "email": "a@x", "created_at": 1}, lsn=1, ts_ms=1) + "\n")
        f.write(env("product", "c", {"product_id": 5, "product_name": "Desk"}, lsn=2, ts_ms=2) + "\n")
    q = start_cdc_pipeline(
        spark,
        str(src),
        wh,
        {"account": ACCOUNT, "product": PRODUCT},
        {"account": ["user_id"], "product": ["product_id"]},
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
        assert wh.table("account_postgres").read(spark).count() == 1
        with open(src / "e2.jsonl", "w") as f:
            f.write(env("account", "d", None, before={"user_id": 1, "email": "a@x", "created_at": 1}, lsn=3, ts_ms=3) + "\n")
            f.write(env("product", "u", {"product_id": 5, "product_name": "Standing Desk"}, lsn=4, ts_ms=4) + "\n")
        q.processAllAvailable()
    finally:
        q.stop()
    assert wh.table("account_postgres").read(spark).count() == 0
    prod = wh.table("product_postgres").read(spark).collect()
    assert prod[0]["product_name"] == "Standing Desk"


def test_merge_rejects_duplicate_keys(spark, tmp_path):
    from flink_stream_spark.tables.managed import ManagedTable

    t = ManagedTable(str(tmp_path / "dupe"), "dupe", key_columns=["id"])
    base = spark.createDataFrame([(1, "a")], "id int, v string")
    t.merge(base)
    dup = spark.createDataFrame([(2, "x"), (2, "y")], "id int, v string")
    with pytest.raises(ValueError, match="upserts contain >1 row"):
        t.merge(dup)
    # table unchanged
    assert t.read(spark).count() == 1


def test_last_per_key_deterministic_on_order_ties(spark):
    from flink_stream_spark.cdc.envelope import last_per_key

    rows = [
        (1, "u", "new", 100, 5),
        (1, "d", None, 100, 5),  # same ts_ms AND lsn: tie
        (2, "u", "b", 50, 1),
    ]
    df = spark.createDataFrame(
        rows, "id int, _op string, v string, _ts_ms long, _lsn long"
    )
    winners = set()
    for _ in range(3):
        got = {
            r["id"]: r["_op"]
            for r in last_per_key(df, ["id"], ["_ts_ms", "_lsn"]).collect()
        }
        winners.add(got[1])
        assert got[2] == "u"
    assert len(winners) == 1  # same winner every evaluation


def test_short_doc_shingles_empty(spark):
    """Docs with <3 tokens must shingle to [] (matching the DuckDB
    oracle's generate_series(1, greatest(n-2, 0)) emptiness), not the
    degenerate sequence(0,-1) artifact."""
    from flink_stream_spark.operators.dedup import shingled_docs

    docs = spark.createDataFrame(
        [(1, "one"), (2, "only two"), (3, "exactly three tokens"), (4, "now four whole tokens")],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r["shingles"] for r in shingled_docs(docs).collect()}
    assert got[1] == []
    assert got[2] == []
    assert got[3] == ["exactly three tokens"]
    assert sorted(got[4]) == ["four whole tokens", "now four whole"]


def test_merge_rewrites_only_touched_buckets(spark, tmp_path):
    """The Iceberg-v2-style incremental-commit contract: a 1-key MERGE
    into an N-bucket table rewrites only the bucket containing that key
    (~1/N of the data files); every other bucket's files carry forward
    byte-identical in the new manifest (reference
    flink_json_to_iceberg.py:61-71 write.upsert.enabled equality-delete
    granularity)."""
    t = ManagedTable(str(tmp_path), "acct", ["user_id"], num_buckets=16)
    t.merge(spark.createDataFrame([(i, f"u{i}@x", i) for i in range(200)], ACCOUNT))
    v1_files = set(t.data_files())
    v1_dirs = {f.rsplit("/", 1)[0] for f in v1_files}
    assert len(v1_dirs) == 16  # 200 keys populate every bucket

    t.merge(spark.createDataFrame([(7, "new7@x", 7)], ACCOUNT))
    v2_files = set(t.data_files())
    carried = v2_files & v1_files
    fresh = v2_files - v1_files
    fresh_dirs = {f.rsplit("/", 1)[0] for f in fresh}
    # exactly ONE bucket was rewritten; 15/16 carried forward untouched
    assert len(fresh_dirs) == 1
    assert len({f.rsplit("/", 1)[0] for f in carried}) == 15
    # correctness unchanged
    got = {r["user_id"]: r["email"] for r in t.read(spark).collect()}
    assert len(got) == 200 and got[7] == "new7@x" and got[8] == "u8@x"

    # a delete-only merge also touches just the deleted key's bucket
    t.merge(
        upserts=spark.createDataFrame([], ACCOUNT),
        deletes=spark.createDataFrame([(7,)], "user_id int"),
    )
    v3_files = set(t.data_files())
    assert len(v3_files - v2_files) <= 1  # at most the one rewritten bucket
    assert t.read(spark).count() == 199


def test_append_adds_files_never_rewrites(spark, tmp_path):
    """APPEND is add-files-only: every pre-existing data file is still
    referenced by the new manifest, including under schema evolution
    (old files null-fill the new column on read)."""
    t = ManagedTable(str(tmp_path), "log", [], num_buckets=4)
    t.append(spark.createDataFrame([(1, "a")], "id int, v string"))
    v1_files = set(t.data_files())
    t.append(spark.createDataFrame([(2, "b", "extra")], "id int, v string, note string"))
    v2_files = set(t.data_files())
    assert v1_files <= v2_files  # nothing rewritten
    got = {r["id"]: r.asDict() for r in t.read(spark).collect()}
    assert got[1]["note"] is None and got[2]["note"] == "extra"


def test_merge_type_change_rejected(spark, tmp_path):
    t = ManagedTable(str(tmp_path), "acct", ["user_id"])
    t.merge(spark.createDataFrame([(1, "a@x", 1)], ACCOUNT))
    bad = spark.createDataFrame([(2, "b@x", "not-a-long")], "user_id int, email string, created_at string")
    with pytest.raises(ValueError, match="type change"):
        t.merge(bad)


def test_compact_collapses_append_files(spark, tmp_path):
    """Streaming appends accumulate one file set per bucket per commit;
    compact() rewrites multi-file buckets into one fresh set (Iceberg
    rewrite_data_files), leaves single-file buckets untouched, and
    changes no data."""
    t = ManagedTable(str(tmp_path), "log", ["user_id"], num_buckets=4)
    for i in range(5):
        t.append(spark.createDataFrame([(j, f"e{i}_{j}@x", i) for j in range(8)], ACCOUNT))
    before = t.read(spark).orderBy("user_id", "created_at").collect()
    manifest_files = len(t.data_files())
    assert manifest_files > 4  # several files per bucket
    v = t.compact(spark)
    assert v == t.current_version()
    after_files = t.data_files()
    assert len(after_files) <= 4  # one file set per bucket
    assert t.read(spark).orderBy("user_id", "created_at").collect() == before
    # idempotent: second compact is a no-op (no new version)
    assert t.compact(spark) == v


def test_schema_widening_evolution(spark, tmp_path):
    """int->long / float->double widening is accepted: the manifest
    schema adopts the wider type, old files up-cast on read, and a
    narrower later batch up-casts on write. Lossy changes still raise."""
    t = ManagedTable(str(tmp_path), "w", ["id"])
    t.merge(spark.createDataFrame([(1, 10, 1.5)], "id int, v int, x float"))
    # widen v to long, x to double
    t.merge(
        spark.createDataFrame([(2, 2**40, 2.5)], "id int, v long, x double")
    )
    got = {r["id"]: (r["v"], r["x"]) for r in t.read(spark).collect()}
    assert got[1] == (10, 1.5) and got[2] == (2**40, 2.5)
    assert dict(t.read(spark).dtypes)["v"] == "bigint"
    # a narrower int batch still merges (cast up on write)
    t.merge(spark.createDataFrame([(3, 7, 0.5)], "id int, v int, x float"))
    assert t.read(spark).count() == 3
    # lossy long->int on a long column: rejected
    t2 = ManagedTable(str(tmp_path / "t2"), "t2", ["id"])
    t2.merge(spark.createDataFrame([(1, "a")], "id int, s string"))
    with pytest.raises(ValueError, match="type change"):
        t2.merge(spark.createDataFrame([(2, 5)], "id int, s int"))


def test_zone_map_pruning_skips_disjoint_commits(spark, tmp_path):
    """Three appends with disjoint ts ranges -> a ts-range read lists
    only the intersecting commit's files (manifest zone maps), and the
    result equals the full-scan filter."""
    t = ManagedTable(str(tmp_path), "events_zm", ["event_id"], num_buckets=4)
    for lo in (0, 1000, 2000):
        df = spark.range(lo, lo + 100).select(
            F.col("id").alias("event_id"), (F.col("id") * 10).alias("ts_ms")
        )
        t.append(df)
    all_files = set(t.data_files())
    pruned = t.read(spark, where=[("ts_ms", "between", (10500, 10900))])
    assert {f.replace("file://", "") for f in pruned.inputFiles()} < all_files
    # only the middle commit (ts_ms 10000..10990) intersects
    got = sorted(r["event_id"] for r in pruned.collect())
    expect = sorted(
        r["event_id"]
        for r in t.read(spark).filter(F.col("ts_ms").between(10500, 10900)).collect()
    )
    assert got == expect and len(got) == 41
    # zone maps never over-prune: a predicate spanning everything reads all
    assert t.read(spark, where=[("ts_ms", ">=", 0)]).count() == 300


def test_zone_map_stats_carry_forward_across_merge(spark, tmp_path):
    """A merge touching one bucket must not lose the other buckets'
    zone maps (carried manifest entries keep their stats)."""
    t = ManagedTable(str(tmp_path), "zm_carry", ["k"], num_buckets=8)
    t.overwrite(
        spark.range(0, 200).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    )
    t.merge(spark.createDataFrame([(1, 999)], "k long, v long"))
    m = t._load_manifest(t.current_version())
    stated = set(m.get("stats", {}))
    referenced = {p for ps in m["buckets"].values() for p in ps}
    assert stated == referenced  # every live dir still has a zone map
    # pruning still works on the carried stats
    assert t.read(spark, where=[("v", "=", 999)]).count() == 1
    assert t.read(spark, where=[("v", ">", 100000)]).count() == 0


def test_lookup_reads_single_bucket(spark, tmp_path):
    t = ManagedTable(str(tmp_path), "acct_lookup", ["user_id"], num_buckets=16)
    df = spark.range(0, 500).select(
        F.col("id").cast("int").alias("user_id"),
        F.concat(F.lit("u"), F.col("id")).alias("email"),
    )
    t.overwrite(df)
    hit = t.lookup(spark, {"user_id": 123})
    rows_ = hit.collect()
    assert len(rows_) == 1 and rows_[0]["email"] == "u123"
    # the point read listed ~1/16 of the table's files
    assert len(hit.inputFiles()) < len(t.data_files())
    # missing key -> empty, still bucket-pruned
    assert t.lookup(spark, {"user_id": 10_000}).count() == 0


def test_metadata_tables_snapshots_and_files(spark, tmp_path):
    """$snapshots / $files metadata surface (reference snapshot_mgmt.py
    queries these through Trino to drive expiry)."""
    t = ManagedTable(str(tmp_path), "meta_t", ["k"], num_buckets=4)
    t.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    t.merge(spark.createDataFrame([(1, "a2")], "k int, v string"))
    snaps = t.snapshots(spark).orderBy("version").collect()
    assert [s["version"] for s in snaps] == [1, 2]
    assert snaps[0]["operation"] == "overwrite" and snaps[1]["operation"] == "merge"
    assert all(s["is_retained"] for s in snaps)
    files = t.files(spark).collect()
    assert len(files) == len(t.data_files())
    assert all(f["size_bytes"] > 0 for f in files)
    assert any('"k"' in f["zone_map"] for f in files)  # zone maps surfaced
    t.expire_snapshots(retain_last=1)
    snaps2 = {s["version"]: s["is_retained"] for s in t.snapshots(spark).collect()}
    assert snaps2 == {1: False, 2: True}


def test_change_data_feed_between_versions(spark, tmp_path):
    """changes(v1, v2) classifies insert/update/delete by key,
    including across a schema evolution (null-filled new columns are
    not spurious updates)."""
    t = ManagedTable(str(tmp_path), "cdf_t", ["k"], num_buckets=4)
    t.overwrite(
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string")
    )  # v1
    t.merge(spark.createDataFrame([(2, "b2"), (4, "d")], "k int, v string"))  # v2
    t.merge(
        upserts=spark.createDataFrame([], "k int, v string"),
        deletes=spark.createDataFrame([(3,)], "k int"),
    )  # v3
    ch = {
        r["k"]: (r["_change_type"], r["v"])
        for r in t.changes(spark, 1, 3).collect()
    }
    assert ch == {2: ("update", "b2"), 3: ("delete", None), 4: ("insert", "d")}
    # no changes between identical versions
    assert t.changes(spark, 3, 3).count() == 0
    # schema evolution: adding a column does not flag untouched rows
    t.merge(spark.createDataFrame([(5, "e", 9)], "k int, v string, extra int"))  # v4
    ch2 = {r["k"]: r["_change_type"] for r in t.changes(spark, 3, 4).collect()}
    assert ch2 == {5: "insert"}


def test_crash_orphan_staging_recovery(spark, tmp_path):
    """A commit that crashed after staging but before the pointer flip
    leaves an orphan version dir; the next commit must discard it and
    land cleanly, and reads never see uncommitted data."""
    import os

    t = ManagedTable(str(tmp_path), "crash_t", ["k"], num_buckets=4)
    t.overwrite(spark.createDataFrame([(1, "a")], "k int, v string"))
    # simulate the crash: v2 dir exists with garbage, pointer still at v1
    orphan = t._version_dir(2)
    os.makedirs(os.path.join(orphan, "b_00000"))
    with open(os.path.join(orphan, "b_00000", "junk.parquet"), "w") as f:
        f.write("not parquet")
    assert t.current_version() == 1
    assert {r["k"] for r in t.read(spark).collect()} == {1}
    # next commit takes version 2, replacing the orphan
    t.merge(spark.createDataFrame([(2, "b")], "k int, v string"))
    assert t.current_version() == 2
    assert {r["k"] for r in t.read(spark).collect()} == {1, 2}


def test_warehouse_sql_views(spark, tmp_path):
    """register_views exposes managed tables to spark.sql — the Trino
    query-layer stand-in over committed snapshots."""
    wh = Warehouse(str(tmp_path))
    a = wh.table("account", ["user_id"])
    a.merge(spark.createDataFrame([(1, "x@e.com"), (2, "y@e.com")],
                                  "user_id int, email string"))
    p = wh.table("product", ["product_id"])
    p.merge(spark.createDataFrame([(10, "widget")],
                                  "product_id int, product_name string"))
    views = wh.register_views(spark)
    assert set(views) == {"account", "product"}
    got = spark.sql(
        "SELECT a.user_id, p.product_name FROM account a "
        "CROSS JOIN product p ORDER BY a.user_id"
    ).collect()
    assert [(r["user_id"], r["product_name"]) for r in got] == [
        (1, "widget"), (2, "widget")]
    spark.catalog.dropTempView("account")
    spark.catalog.dropTempView("product")


def test_incremental_view_refresh_touches_only_changed_buckets(spark, tmp_path):
    """IVM: after a small merge, the view refresh reads only the
    changed buckets (manifest diff) yet equals a full recompute —
    including group deletion when its last rows disappear."""
    from flink_stream_spark.tables.ivm import changed_buckets, incremental_count_sum_refresh

    base = ManagedTable(str(tmp_path), "facts", ["k"], num_buckets=8)
    view = ManagedTable(str(tmp_path), "agg_view", ["grp"])
    base.overwrite(
        spark.range(0, 400).select(
            F.col("id").alias("k"),
            F.concat(F.lit("g"), (F.col("id") % 5)).alias("grp"),
            (F.col("id") * 2).alias("val"),
        )
    )
    v0 = base.current_version()
    # bootstrap the view with a full compute at v0
    full0 = (
        base.read(spark)
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("val").cast("long").alias("s"))
    )
    view.merge(upserts=full0, keys=["grp"])

    # one small merge: 2 upserts + 1 delete; also delete ALL rows of a
    # sentinel group to exercise group removal
    base.merge(
        upserts=spark.createDataFrame(
            [(1, "g1", 999), (400, "gnew", 7)], "k long, grp string, val long"
        ),
        deletes=spark.createDataFrame([(2,)], "k long"),
    )
    v1 = base.current_version()
    cb = changed_buckets(base, v0, v1)
    assert 0 < len(cb) < 8  # small commit -> strict subset of buckets

    incremental_count_sum_refresh(spark, base, view, "grp", "val", v0, v1)
    got = {
        r["grp"]: (r["n"], r["s"]) for r in view.read(spark).collect()
    }
    want = {
        r["grp"]: (r["n"], r["s"])
        for r in base.read(spark)
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("val").cast("long").alias("s"))
        .collect()
    }
    assert got == want
    # no-op refresh: same version twice changes nothing
    v_before = view.current_version()
    incremental_count_sum_refresh(spark, base, view, "grp", "val", v1, v1)
    assert view.current_version() == v_before


def test_delete_where_zone_scoped_rewrite(spark, tmp_path):
    """Predicate DELETE rewrites only buckets whose zone maps intersect
    the predicate; unmatched commits' files carry forward untouched,
    and NULL predicate values survive (SQL semantics)."""
    t = ManagedTable(str(tmp_path), "retention_t", ["k"], num_buckets=4)
    # two time-disjoint appends
    t.append(
        spark.range(0, 100).select(
            F.col("id").alias("k"), (F.col("id")).alias("age_days")
        )
    )
    t.append(
        spark.range(100, 200).select(
            F.col("id").alias("k"), (F.col("id") + 10_000).alias("age_days")
        )
    )
    t.merge(
        spark.createDataFrame([(500, None)], "k long, age_days long")
    )  # a NULL row
    files_before = set(t.data_files())
    v = t.delete_where(spark, [("age_days", ">=", 10_000)])
    assert v == t.current_version()
    got = sorted(r["k"] for r in t.read(spark).collect())
    assert got == list(range(0, 100)) + [500]  # old rows + NULL survive
    # provably-unmatched dirs (first append: age_days < 100) were not
    # all rewritten: some pre-delete files survive in the new manifest
    assert files_before & set(t.data_files())
    # a predicate matching nothing is a no-op commit
    v2 = t.delete_where(spark, [("age_days", ">", 10**9)])
    assert v2 == v


def test_reopen_with_different_keys_rejected(tmp_path, spark):
    """Persisted bucketing keys win; conflicting reopen keys are an
    error (xxhash64 is order-sensitive — wrong keys would make every
    bucket-pruned path read the wrong buckets)."""
    t = ManagedTable(str(tmp_path), "kguard", ["a", "b"])
    t.merge(spark.createDataFrame([(1, 2, "x")], "a int, b int, v string"))
    with pytest.raises(ValueError, match="bucketed on"):
        ManagedTable(str(tmp_path), "kguard", ["b", "a"])
    # same keys reopen fine
    t2 = ManagedTable(str(tmp_path), "kguard", ["a", "b"])
    assert t2.read(spark).count() == 1


def test_keyed_merge_into_nonempty_keyless_table_rebuckets(spark, tmp_path):
    """Adopting keys on a table that already holds keyless (bucket-0)
    data must re-bucket everything — no duplicate keys, and lookup
    finds rows written before the adoption."""
    t = ManagedTable(str(tmp_path), "adopt", num_buckets=8)
    t.append(spark.createDataFrame([(7, "old7"), (8, "old8")], "id int, v string"))
    t.merge(
        spark.createDataFrame([(7, "new7"), (9, "new9")], "id int, v string"),
        keys=["id"],
    )
    got = {r["id"]: r["v"] for r in t.read(spark).collect()}
    assert got == {7: "new7", 8: "old8", 9: "new9"}  # no duplicate id=7
    t2 = ManagedTable(str(tmp_path), "adopt")
    assert {r["v"] for r in t2.lookup(spark, {"id": 8}).collect()} == {"old8"}


def test_expire_retain_zero_clamps_to_current(spark, tmp_path):
    t = ManagedTable(str(tmp_path), "clamp", ["k"])
    t.merge(spark.createDataFrame([(1, "a")], "k int, v string"))
    t.merge(spark.createDataFrame([(2, "b")], "k int, v string"))
    t.expire_snapshots(retain_last=0)
    assert t.read(spark).count() == 2  # current snapshot survived


def test_tokens_survive_snapshot_expiry(spark, tmp_path):
    """A replayed micro-batch must no-op even after maintenance
    expired the snapshot that carried its token."""
    t = ManagedTable(str(tmp_path), "tok", ["k"])
    t.append(spark.createDataFrame([(1, "a")], "k int, v string"), token="epoch:1")
    t.append(spark.createDataFrame([(2, "b")], "k int, v string"), token="epoch:2")
    t.expire_snapshots(retain_last=1)
    assert "epoch:1" in t.committed_tokens()
    t.append(spark.createDataFrame([(1, "dup")], "k int, v string"), token="epoch:1")
    assert t.read(spark).count() == 2  # replay was a no-op


def test_changes_null_vs_null_string(spark, tmp_path):
    """CDF update detection is null-safe structural, not string render:
    'null' <-> NULL flips ARE updates; unchanged rows are not."""
    t = ManagedTable(str(tmp_path), "cdfnull", ["k"])
    t.overwrite(
        spark.createDataFrame([(1, "null"), (2, None), (3, "x")], "k int, v string")
    )
    t.merge(spark.createDataFrame([(1, None), (2, "null")], "k int, v string"))
    ch = {r["k"]: r["_change_type"] for r in t.changes(spark, 1, 2).collect()}
    assert ch == {1: "update", 2: "update"}  # 3 unchanged -> absent


def test_update_setting_field_null_not_resurrected(spark, tmp_path):
    """An UPDATE that sets a field to NULL must persist the NULL — the
    before-image fallback applies only to deletes (a blanket coalesce
    would resurrect the pre-image value)."""
    t = ManagedTable(str(tmp_path), "nullupd", ["user_id"])
    batch = [
        env("account", "c", after={"user_id": 1, "email": "x@y", "created_at": 5}),
        env(
            "account",
            "u",
            before={"user_id": 1, "email": "x@y", "created_at": 5},
            after={"user_id": 1, "email": None, "created_at": 5},
            lsn=2,
        ),
    ]
    changes = parse_envelopes(
        spark.createDataFrame([(b,) for b in batch], "value string"), ACCOUNT
    )
    apply_cdc_batch(t, changes, ["user_id"])
    got = t.read(spark).collect()
    assert len(got) == 1 and got[0]["email"] is None  # NULL persisted


def test_streaming_cdc_schema_drift_evolves_table(spark, tmp_path):
    """Mid-stream schema drift (the sink's evolve-schema-enabled):
    a later envelope carries a payload field absent from the declared
    row schema. The pipeline surfaces it as a string-typed column, the
    managed table evolves on merge, and earlier rows read NULL."""
    src = tmp_path / "drift_topic"
    src.mkdir()
    wh = Warehouse(str(tmp_path / "wh"))
    with open(src / "e1.jsonl", "w") as f:
        f.write(
            env("account", "c", {"user_id": 1, "email": "a@x", "created_at": 1},
                lsn=1, ts_ms=1) + "\n"
        )
    q = start_cdc_pipeline(
        spark,
        str(src),
        wh,
        {"account": ACCOUNT},
        {"account": ["user_id"]},
        checkpoint_dir=str(tmp_path / "ckpt_drift"),
    )
    try:
        q.processAllAvailable()
        with open(src / "e2.jsonl", "w") as f:
            f.write(
                env("account", "c",
                    {"user_id": 2, "email": "b@x", "created_at": 2,
                     "email_verified": "true"},
                    lsn=2, ts_ms=2) + "\n"
            )
        q.processAllAvailable()
    finally:
        q.stop()
    t = wh.table("account_postgres")
    got = {r["user_id"]: r.asDict() for r in t.read(spark).collect()}
    assert set(got) == {1, 2}
    assert "email_verified" in got[1]
    assert got[1]["email_verified"] is None  # pre-drift row null-fills
    assert got[2]["email_verified"] == "true"  # lax string typing


def test_drift_excludes_metadata_case_variants_and_opless(spark, tmp_path):
    """Poison-envelope robustness: payload keys that collide with CDC
    metadata names, case-variants of declared columns, and keys seen
    only in op-less (dropped) envelopes must NOT evolve the table or
    crash the query."""
    src = tmp_path / "poison_topic"
    src.mkdir()
    wh = Warehouse(str(tmp_path / "wh"))
    with open(src / "e1.jsonl", "w") as f:
        # valid row whose payload also carries reserved/case-variant keys
        f.write(
            env("account", "c",
                {"user_id": 1, "email": "a@x", "created_at": 1,
                 "_op": "evil", "Email": "A@X", "ok_extra": "yes"},
                lsn=1, ts_ms=1) + "\n"
        )
        # op-less garbage: its exclusive key must not evolve the schema
        f.write(
            json.dumps({"payload": {"source": {"table": "account"},
                                    "after": {"garbage_key": 1}}}) + "\n"
        )
    q = start_cdc_pipeline(
        spark,
        str(src),
        wh,
        {"account": ACCOUNT},
        {"account": ["user_id"]},
        checkpoint_dir=str(tmp_path / "ckpt_poison"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    t = wh.table("account_postgres")
    cols = set(t.read(spark).columns)
    assert "ok_extra" in cols          # legitimate drift evolved
    assert "_op" not in cols           # reserved name excluded
    assert "Email" not in cols         # case-variant of declared excluded
    assert "garbage_key" not in cols   # op-less-only key excluded
    row = t.read(spark).collect()[0]
    assert row["ok_extra"] == "yes"


def test_replay_matches_streaming_under_drift(spark, tmp_path):
    """Batch replay of a drifting envelope log must produce the same
    schema and content as streaming the same log."""
    envs = [
        env("account", "c", {"user_id": 1, "email": "a@x", "created_at": 1},
            lsn=1, ts_ms=1),
        env("account", "c",
            {"user_id": 2, "email": "b@x", "created_at": 2,
             "email_verified": "true"}, lsn=2, ts_ms=2),
    ]
    wh = Warehouse(str(tmp_path / "wh_replay"))
    df = spark.createDataFrame([(e,) for e in envs], "raw string")
    replay_cdc_batch(spark, df, wh, {"account": ACCOUNT}, {"account": ["user_id"]})
    got = {r["user_id"]: r.asDict() for r in
           wh.table("account_postgres").read(spark).collect()}
    assert got[1]["email_verified"] is None
    assert got[2]["email_verified"] == "true"


def test_drift_mutual_case_variants_admit_one(spark, tmp_path):
    """Two mutual case-variant NEW keys in one batch must admit only
    the sorted-first spelling; a later batch's case-variant of a
    column evolved EARLIER must be excluded via the target table's
    current manifest schema — otherwise the manifest commits
    case-duplicate columns and every subsequent read fails under
    Spark's case-insensitive resolution (poison-envelope class)."""
    wh = Warehouse(str(tmp_path / "wh_ci"))
    b1 = [
        env("account", "c",
            {"user_id": 1, "email": "a@x", "created_at": 1,
             "Nick": "n1", "nick": "n2"}, lsn=1, ts_ms=1),
    ]
    replay_cdc_batch(
        spark,
        spark.createDataFrame([(e,) for e in b1], "raw string"),
        wh, {"account": ACCOUNT}, {"account": ["user_id"]},
    )
    t = wh.table("account_postgres")
    cols1 = t.read(spark).columns
    assert [c for c in cols1 if c.lower() == "nick"] == ["Nick"]  # sorted-first only

    # batch 2: a case-variant of the ALREADY-evolved column
    b2 = [
        env("account", "c",
            {"user_id": 2, "email": "b@x", "created_at": 2,
             "NICK": "n3"}, lsn=2, ts_ms=2),
    ]
    replay_cdc_batch(
        spark,
        spark.createDataFrame([(e,) for e in b2], "raw string"),
        wh, {"account": ACCOUNT}, {"account": ["user_id"]},
    )
    got = t.read(spark)  # readable: no duplicate-column AnalysisException
    assert [c for c in got.columns if c.lower() == "nick"] == ["Nick"]
    assert got.count() == 2


def test_drift_overflow_capped(spark):
    """One envelope carrying many distinct payload keys must not evolve
    unbounded columns: only the first `max_new_fields` (sorted) are
    admitted; the overflow is dropped (and logged), not evolved."""
    from flink_stream_spark.streaming.cdc_pipeline import _drift_fields

    after = {"user_id": 9, "email": "x@y", "created_at": 1}
    after.update({f"junk_{i:03d}": i for i in range(40)})
    raw = env("account", "c", after, lsn=1, ts_ms=1)
    df = spark.createDataFrame([(raw,)], "raw string")
    drift = _drift_fields(df, ACCOUNT, max_new_fields=8)
    assert drift == [f"junk_{i:03d}" for i in range(8)]
    assert _drift_fields(df, ACCOUNT) == [f"junk_{i:03d}" for i in range(32)]


def test_replay_keyless_envelopes_commit_nothing(spark, tmp_path):
    """A table whose only envelopes in a batch carry an op but no key
    has no surviving change: it must keep its version, not gain an
    empty one."""
    wh = Warehouse(str(tmp_path / "wh"))
    schemas = {"account": ACCOUNT, "product": PRODUCT}
    keys = {"account": ["user_id"], "product": ["product_id"]}

    def replay(envs):
        df = spark.createDataFrame([(e,) for e in envs], "raw string")
        return replay_cdc_batch(spark, df, wh, schemas, keys)

    assert replay([
        env("account", "c", {"user_id": 1, "email": "a@x", "created_at": 1}, lsn=1, ts_ms=1),
        env("product", "c", {"product_id": 5, "product_name": "Desk"}, lsn=2, ts_ms=2),
    ]) == {"account": 1, "product": 1}
    got = replay([
        env("account", "u", {"user_id": 1, "email": "b@x", "created_at": 1}, lsn=3, ts_ms=3),
        env("product", "u", {"product_name": "no key"}, lsn=4, ts_ms=4),
    ])
    assert got == {"account": 2, "product": 1}
    product = wh.table("product_postgres")
    assert product.current_version() == 1
    assert [r.asDict() for r in product.read(spark).collect()] == [
        {"product_id": 5, "product_name": "Desk"}
    ]


def _two_table_log(src, n=50):
    """One file of ``n`` account and ``n`` product inserts."""
    src.mkdir(exist_ok=True)
    with open(src / "e1.jsonl", "w") as f:
        for i in range(n):
            f.write(env("account", "c", {"user_id": i, "email": f"a{i}@x", "created_at": i},
                        lsn=i, ts_ms=i) + "\n")
            f.write(env("product", "c", {"product_id": i, "product_name": f"p{i}"},
                        lsn=n + i, ts_ms=n + i) + "\n")


def _start_two_table(spark, src, wh, ckpt):
    return start_cdc_pipeline(
        spark,
        str(src),
        wh,
        {"account": ACCOUNT, "product": PRODUCT},
        {"account": ["user_id"], "product": ["product_id"]},
        checkpoint_dir=str(ckpt),
    )


def test_failing_table_fails_the_trigger(spark, tmp_path, monkeypatch):
    """One table's failed merge fails the trigger: the batch is not
    committed to the checkpoint, the other table's apply has finished
    before the failure surfaces, and a restart without the fault
    converges to the replay of the same log."""
    src, ckpt = tmp_path / "topic", tmp_path / "ckpt"
    _two_table_log(src)
    wh = Warehouse(str(tmp_path / "wh"))
    finished = []
    orig = ManagedTable.merge

    def faulty(self, *args, **kwargs):
        if self.name == "product_postgres":
            raise RuntimeError("injected merge fault")
        time.sleep(0.5)  # still running when the other table fails
        out = orig(self, *args, **kwargs)
        finished.append(self.name)
        return out

    monkeypatch.setattr(ManagedTable, "merge", faulty)
    q = _start_two_table(spark, src, wh, ckpt)
    try:
        with pytest.raises(Exception, match="injected merge fault"):
            q.processAllAvailable()
        assert finished == ["account_postgres"]
        assert not [
            t for t in threading.enumerate() if t.name.startswith(_APPLY_THREAD_PREFIX)
        ]
    finally:
        q.stop()
    assert (ckpt / "offsets" / "0").exists()
    assert not (ckpt / "commits" / "0").exists()

    monkeypatch.undo()
    q = _start_two_table(spark, src, wh, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    ref = Warehouse(str(tmp_path / "ref"))
    replay_cdc_batch(
        spark,
        spark.read.text(str(src)).withColumnRenamed("value", "raw"),
        ref,
        {"account": ACCOUNT, "product": PRODUCT},
        {"account": ["user_id"], "product": ["product_id"]},
    )
    for name in ("account_postgres", "product_postgres"):
        got = sorted(tuple(r) for r in wh.table(name).read(spark).collect())
        want = sorted(tuple(r) for r in ref.table(name).read(spark).collect())
        assert got == want and len(got) == 50


def test_apply_workers_keep_batch_local_properties(spark, tmp_path, monkeypatch):
    """The threads applying a trigger's tables carry the micro-batch's
    job group and batch id, so stopping the query cancels their jobs
    and their jobs are attributed to the trigger."""
    src = tmp_path / "topic"
    _two_table_log(src)
    seen = []
    orig = ManagedTable.merge

    def spy(self, *args, **kwargs):
        sc = spark.sparkContext
        seen.append((
            self.name,
            threading.current_thread().name,
            sc.getLocalProperty("spark.jobGroup.id"),
            sc.getLocalProperty("streaming.sql.batchId"),
        ))
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(ManagedTable, "merge", spy)
    q = _start_two_table(spark, src, Warehouse(str(tmp_path / "wh")), tmp_path / "ckpt")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(s[0] for s in seen) == ["account_postgres", "product_postgres"]
    for _, thread, group, batch_id in seen:
        assert thread.startswith(_APPLY_THREAD_PREFIX)
        assert group == str(q.runId)
        assert batch_id == "0"


def test_two_table_trigger_job_count_pinned(spark, tmp_path):
    """A two-table trigger runs one batch scan plus each table's apply
    — no per-table emptiness probes or drift scans. The first trigger
    of 50 + 50 envelopes into new tables ran 28 jobs with those probes
    and 19 without; the bound sits between."""
    src = tmp_path / "topic"
    _two_table_log(src)
    wh = Warehouse(str(tmp_path / "wh"))
    q = _start_two_table(spark, src, wh, tmp_path / "ckpt")
    try:
        q.processAllAvailable()
        assert q.lastProgress["batchId"] == 0
    finally:
        q.stop()
    tracker = spark.sparkContext.statusTracker()
    # the status listener runs asynchronously: wait until the count settles
    jobs, prev = None, -1
    for _ in range(50):
        jobs = len(tracker.getJobIdsForGroup(str(q.runId)))
        if jobs == prev:
            break
        prev = jobs
        time.sleep(0.1)
    assert wh.table("account_postgres").current_version() == 1
    assert wh.table("product_postgres").current_version() == 1
    assert 0 < jobs <= 23, jobs
