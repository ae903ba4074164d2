"""Self-tests of the benchmark: seeded inputs, reference state, event-log
parser, spans and metric names.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
from datetime import datetime, timezone

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import eventlog  # noqa: E402
import gen  # noqa: E402
import run as bench  # noqa: E402
import spans  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")
SMALL_LOG = os.path.join(HERE, "testdata", "eventlog_small.jsonl")


def _publish_all(log: gen.CdcLog, root) -> dict[str, bytes]:
    src, staging = root / "src", root / "staging"
    src.mkdir()
    staging.mkdir()
    for i, text in enumerate(log.files):
        gen.publish(text, str(staging), str(src), f"f{i:06d}.jsonl")
    assert not os.listdir(staging)  # every file was renamed into place
    return {p.name: p.read_bytes() for p in sorted(src.iterdir())}


def test_same_seed_gives_byte_identical_envelope_files(tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    first = _publish_all(gen.backlog_log(7, 40, 6, 50), tmp_path / "a")
    second = _publish_all(gen.backlog_log(7, 40, 6, 50), tmp_path / "b")
    assert first == second and len(first) == 6
    assert gen.backlog_log(8, 40, 6, 50).files != gen.backlog_log(7, 40, 6, 50).files


def test_generator_mixes_ops_in_lsn_order():
    log = gen.backlog_log(5, 30, 8, 60)
    ops = [json.loads(line)["payload"] for f in log.files for line in f.splitlines()]
    assert len(ops) == sum(log.events) == 8 * 60
    assert {p["op"] for p in ops} == {"r", "c", "u", "d"}
    lsns = [p["source"]["lsn"] for p in ops]
    assert lsns == sorted(lsns) and len(set(lsns)) == len(lsns)

    def key(p):
        table = p["source"]["table"]
        return table, (p["after"] or p["before"])[gen.TABLE_KEYS[table][0]]

    # the snapshot comes first and holds the reserved key of both tables;
    # churn never touches it, so the reader's expected row holds all along
    snapshot = 2 * 31
    assert [p["op"] for p in ops[:snapshot]] == ["r"] * snapshot
    reserved = {(t, gen.READ_KEY) for t in gen.TABLE_KEYS}
    assert reserved <= {key(p) for p in ops[:snapshot]}
    assert not reserved & {key(p) for p in ops[snapshot:]}


def test_query_tables_are_seeded(tmp_path):
    gen.write_query_tables(str(tmp_path / "a"), 1, 0.001, 50, 20, 100)
    gen.write_query_tables(str(tmp_path / "b"), 1, 0.001, 50, 20, 100)
    names = sorted(os.listdir(tmp_path / "a"))
    assert len(names) == 10
    import pyarrow.parquet as pq

    for n in names:
        assert pq.read_table(tmp_path / "a" / n).equals(pq.read_table(tmp_path / "b" / n))


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    from flink_stream_spark.session import get_spark

    s = get_spark("perfbench-selftest", cpus=2)
    yield s
    s.stop()


def test_reference_state_equals_replay(spark, tmp_path):
    from flink_stream_spark.streaming.cdc_pipeline import replay_cdc_batch
    from flink_stream_spark.tables.managed import Warehouse

    log = gen.backlog_log(11, 30, 5, 80)
    lines = [line for f in log.files for line in f.splitlines()]
    raw = spark.createDataFrame([(line,) for line in lines], "raw string")
    wh = Warehouse(str(tmp_path / "wh"))
    replay_cdc_batch(spark, raw, wh, gen.row_schemas(), gen.TABLE_KEYS)
    for table, keys in gen.TABLE_KEYS.items():
        got = {r[keys[0]]: r.asDict() for r in wh.table(f"{table}_postgres").read(spark).collect()}
        assert got == log.state[table]
    # the churn deleted some keys, so the check is not just the snapshot
    assert len(log.state["account"]) < 31 or len(log.state["product"]) < 31


def test_files_become_visible_at_the_trigger_that_consumed_them():
    def trigger(end_s: float, rows: int) -> dict:
        ts = datetime.fromtimestamp(end_s - 1.0, timezone.utc).isoformat()
        return {"timestamp": ts, "durationMs": {"triggerExecution": 1000}, "numInputRows": rows}

    # six files of 10 envelopes, read two per trigger
    progress = [trigger(10.0, 20), trigger(20.0, 20), trigger(30.0, 20)]
    assert bench._visible_at(progress, [10] * 6) == [10.0, 10.0, 20.0, 20.0, 30.0, 30.0]
    # three per trigger, whatever the pipeline's own setting is
    progress = [trigger(10.0, 30), trigger(20.0, 30)]
    assert bench._visible_at(progress, [10] * 6) == [10.0] * 3 + [20.0] * 3
    # files never consumed are left out
    assert bench._visible_at(progress[:1], [10] * 6) == [10.0] * 3


def test_parser_counts_on_recorded_log():
    # recorded from a local[2] session: a two-file parquet write, a point
    # read tagged as a lookup and a mapInPandas + groupBy tagged as a query
    with open(SMALL_LOG) as f:
        log = eventlog.parse_lines(f)
    assert len(log.jobs) == 6
    assert len(log.tasks) == 9
    assert sorted(j.span for j in log.jobs.values() if j.span) == ["lookup:1"] * 2 + ["q:codec:1"] * 3
    codec = {j.id for j in log.jobs.values() if j.span == "q:codec:1"}
    py = [t.python_bytes for t in log.tasks if log.job_of_task(t).id in codec]
    assert sum(py) == 2 * 2072  # two tasks, each bytes sent to plus returned from its worker
    assert sum(t.python_bytes for t in log.tasks) == sum(py)
    lookup_jobs = [j for j in log.jobs.values() if j.span == "lookup:1"]
    assert log.executions_of(lookup_jobs) == {1}
    assert log.driver_metrics[1][eventlog.FILES_READ] == 2
    assert sum(t.shuffle_write_bytes for t in log.tasks) == 354
    assert not any(t.failed for t in log.tasks)


def test_spans_nest_per_thread_and_wrappers_pass_through():
    tracer = spans.Tracer(enabled=True)

    class Owner:
        def call(self, x):
            return x + 1

    with spans.patched(tracer, [(Owner, "call", "call")]):
        with tracer.span("outer"):
            assert Owner().call(1) == 2
    assert Owner.call.__name__ == "call" and not hasattr(Owner.call, "__wrapped__")
    inner, outer = tracer.spans
    assert (inner.name, outer.name) == ("call", "outer")
    assert inner.parent == outer.id and outer.parent is None
    off = spans.Tracer(enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_emitted_names_are_declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    e2e = {m["name"]: m["unit"] for m in declared["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in declared["per_layer"]}
    assert e2e == bench.E2E_METRICS
    assert layers == bench.layer_metric_units()
    for name in [*e2e, *layers, *(w["name"] for w in declared["workloads"])]:
        assert NAME.fullmatch(name) and len(name) <= 64, name
    assert {w["name"] for w in declared["workloads"]} <= set(bench.WORKLOADS)


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120, env=env,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
