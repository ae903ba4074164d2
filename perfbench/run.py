#!/usr/bin/env python3
"""Benchmark for the streaming CDC pipeline and the registered query engine.

    python3 perfbench/run.py --workload <cdc_backlog|query_mix> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The benchmark generates its own
inputs from ``--seed`` under ``.bench_work/`` in the checkout, runs one
workload in one process with ``SPARK_GRAFT_CPUS=$(nproc)``, checks the
program's outputs and prints one JSON object as its last line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json; with ``--trace 1``
the Spark event log, a streaming progress listener and spans around the
program's public callables are turned on and the per-layer metrics are
reported instead.
"""

from __future__ import annotations

import argparse
import itertools
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
from datetime import datetime


def _process_start() -> float:
    """Wall-clock time at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


PROCESS_START = _process_start()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import spans  # noqa: E402
from eventlog import FILES_READ, SPAN_PROPERTY, parse_dir  # noqa: E402

WORKLOADS = ("cdc_backlog", "query_mix")
DRIVER_MEM = "3g"
TABLE_BUCKETS = "16"
SETUP_REPS = 3  # input generation repeated per run; setup_s takes its median

# cdc_backlog: each drain is BACKLOG_FILES files of BACKLOG_EVENTS_PER_FILE
# (the pipeline reads 16 files per trigger, so a drain is three triggers)
BACKLOG_KEYS = 4_000
BACKLOG_FILES = 48
BACKLOG_EVENTS_PER_FILE = 1_000
WARM_FILES = 4
WARM_KEYS = 500
READ_EVERY_S = 1.0  # one lookup round per second beside the drains

# query_mix: TPC-H-like tables at QUERY_SF, plus QUERY_DOCS documents over a
# QUERY_VOCAB-word Zipf vocabulary and QUERY_EMBEDDINGS vectors
QUERY_SF = 0.01
QUERY_DOCS = 500
QUERY_VOCAB = 5_000
QUERY_EMBEDDINGS = 1_000
FAMILIES = {
    "relational": [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q18_large_volume_customer",
        "events_sessionize",
        "cdc_apply_final_state",
        "ingest_raw_json_upsert",
    ],
    "text": ["text_tfidf_topk", "text_bpe_encode", "text_bigram_logppl"],
    "dedup": ["dedup_minhash_lsh_pairs", "dedup_jaccard_prefix_filter", "agg_kmv_distinct_sketch"],
    "vector": ["simsearch_ivf_topk", "embedding_kmeans_assign"],
    "codec": ["multimodal_image_dedup_dhash", "multimodal_jpeg_roundtrip_dhash", "text_html_extract"],
}
QUERIES = [q for qs in FAMILIES.values() for q in qs]
OPERATOR_MODULES = (
    "relational",
    "tpch_extra",
    "events",
    "cdc",
    "text_rank",
    "corpus_ops",
    "dedup",
    "misc",
    "similarity",
    "multimodal",
    "html_extract",
)

E2E_METRICS = {
    "setup_s": "s",
    "latency_s": "s",
    "throughput_per_s": "1/s",
    "cpu_ms_per_op": "ms",
}


def layer_metric_units() -> dict[str, str]:
    """Every per-layer metric the traced run emits, with its unit."""
    units = {
        "session.start_s": "s",
        "gen.files": "count",
        "gen.events": "count",
        "trigger.n": "count",
        "trigger.events_mean": "count",
        "trigger.exec_p50_s": "s",
        "trigger.exec_p90_s": "s",
        "trigger.addbatch_share": "ratio",
        "trigger.jobs_mean": "count",
        "trigger.sql_execs_mean": "count",
        "pipeline.outside_apply_s_mean": "s",
        "envelope.apply_p50_s": "s",
        "envelope.apply_calls": "count",
        "envelope.events_per_apply": "count",
        "managed.merge_p50_s": "s",
        "managed.bytes_written_per_event": "B",
        "managed.files_written_per_commit": "count",
        "managed.buckets_touched_mean": "count",
        "managed.versions": "count",
        "table.lookup_p50_s": "s",
        "table.lookup_p90_s": "s",
        "managed.lookup_calls": "count",
        "managed.lookup_jobs_mean": "count",
        "managed.lookup_files_read_mean": "count",
        "query.total_s": "s",
    }
    for fam in FAMILIES:
        units[f"query.{fam}_s"] = "s"
    for q in QUERIES:
        units[f"q.{q}.s"] = "s"
        units[f"q.{q}.build_s"] = "s"
        units[f"q.{q}.jobs"] = "count"
        units[f"q.{q}.shuffle_mb"] = "MB"
    units.update(
        {
            "spark.jobs": "count",
            "spark.task_s": "s",
            "spark.cpu_busy_share": "ratio",
            "spark.gc_s": "s",
            "spark.shuffle_write_mb": "MB",
            "spark.spill_mb": "MB",
            "spark.python_mb": "MB",
            "spark.task_failures": "count",
            "proc.mem_peak_mb": "MB",
            "traced.latency_s": "s",
            "traced.latency_p90_s": "s",
            "traced.throughput_per_s": "1/s",
            "traced.cpu_ms_per_op": "ms",
            "traced.ops": "count",
        }
    )
    return units


# -- small helpers -------------------------------------------------------------


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]); 0.0 for no values."""
    if not values:
        return 0.0
    v = sorted(values)
    pos = (len(v) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except FileNotFoundError:
        pass
    return 0


def _cpu_s() -> float:
    """CPU seconds (user + system, own and reaped children) used so far by
    this process and every process below it: the Spark JVM and its Python
    workers."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(d)] = int(fields[1])
        ticks[int(d)] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += [c for c, p in parent.items() if p == pid]
    return total / os.sysconf("SC_CLK_TCK")


def _iso_to_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class Run:
    """State shared by one workload run: session, directories, tracer and
    the counts of attempted and failed operations."""

    def __init__(self, args):
        self.args = args
        self.work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
        self.tracer = spans.Tracer(enabled=bool(args.trace))
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.progress: list[dict] = []
        self.window = (0.0, 0.0)  # wall-clock bounds of the timed part
        self.spark = None
        self.session_start_s = 0.0
        self.prep_s: list[float] = []
        self.query_samples: dict[str, int] = {}
        self.detail: list = []  # per-trigger or per-query timings for the log
        self.warm: list[float] = []  # warm-up step timings for the log

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)
        print(f"FAILED: {what}", file=sys.stderr)

    def set_span(self, name: str | None) -> None:
        if self.args.trace:
            self.spark.sparkContext.setLocalProperty(SPAN_PROPERTY, name)

    def start_session(self) -> None:
        cpus = str(self.args.cpus)
        tmp = self.path("tmp", "x")
        os.environ.update(
            {
                "SPARK_GRAFT_CPUS": cpus,
                "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
                "SPARK_GRAFT_TABLE_BUCKETS": TABLE_BUCKETS,
                "SPARK_LOCAL_DIRS": os.path.dirname(self.path("spark-local", "x")),
                "TMPDIR": os.path.dirname(tmp),
                "PYTHONPATH": os.pathsep.join(
                    p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
                ),
            }
        )
        submit = [
            # keep the JVM's temporary files, hsperfdata included, in the checkout
            f"--driver-java-options '-Djava.io.tmpdir={os.path.dirname(tmp)} -XX:-UsePerfData'",
            "--conf spark.ui.showConsoleProgress=false",
        ]
        if self.args.trace:
            logdir = os.path.dirname(self.path("eventlog", "x"))
            submit += [
                "--conf spark.eventLog.enabled=true",
                "--conf spark.eventLog.compress=false",
                f"--conf spark.eventLog.dir=file://{logdir}",
            ]
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
        from flink_stream_spark.session import get_spark

        t = time.time()
        with self.tracer.span("session"):
            self.spark = get_spark()
        self.session_start_s = time.time() - t
        if self.args.trace:
            self.spark.streams.addListener(spans.progress_listener(self.progress))

    def mem_peak_mb(self) -> float:
        jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        return (_vm_hwm_kb(os.getpid()) + _vm_hwm_kb(jvm_pid)) / 1024.0

    def setup_s(self) -> float:
        """Process start to ready-to-time, with the repeated set-up step
        counted once, at its median."""
        return (
            self.window[0]
            - PROCESS_START
            - sum(self.prep_s)
            + statistics.median(self.prep_s)
        )


# -- CDC workloads -------------------------------------------------------------


def _cdc_tables(wh):
    return {t: wh.table(f"{t}_postgres", keys) for t, keys in gen.TABLE_KEYS.items()}


def _check_tables(run: Run, wh, state: dict) -> None:
    """Each table's ``read()`` against the generator's reference state,
    compared by an order-insensitive hash."""
    import pandas as pd
    from flink_stream_spark.testing.oracle import canonical_hash

    for t, table in _cdc_tables(wh).items():
        run.attempted += 1
        got = table.read(run.spark).toPandas()
        want = pd.DataFrame(list(state[t].values()))
        same = sorted(got.columns) == sorted(want.columns) and len(got) == len(want)
        if not (same and canonical_hash(got) == canonical_hash(want)):
            run.fail(f"table {t}: final state differs from reference ({len(got)} vs {len(want)} rows)")


def _start_pipeline(run: Run, src: str, wh, ckpt: str):
    from flink_stream_spark.streaming.cdc_pipeline import start_cdc_pipeline

    return start_cdc_pipeline(
        run.spark, src, wh, gen.row_schemas(), gen.TABLE_KEYS, ckpt, trigger_seconds=0
    )


def _stop(q) -> None:
    q.stop()
    q.awaitTermination(60)


class Reader:
    """One client calling ``ManagedTable.lookup(...).collect()`` on the
    reserved key of each table of ``self.wh`` in turn while the pipeline
    commits to them, one round per ``READ_EVERY_S``, from the tables'
    first commit on. A lookup that raises or returns another row than
    the snapshot's is counted as a failure and the loop goes on."""

    def __init__(self, run: Run, expect: dict[str, dict]):
        self.run = run
        self.expect = expect  # table -> the reserved key's row
        self.wh = None  # the warehouse being drained into
        self.latencies: list[float] = []
        self.stop = threading.Event()
        self.thread = threading.Thread(target=self._loop, name="reader")

    def _tables(self) -> dict | None:
        wh = self.wh
        names = {f"{t}_postgres": t for t in gen.TABLE_KEYS}
        if wh is None or not set(names) <= set(wh.list_tables()):
            return None
        tables = {t: wh.table(name) for name, t in names.items()}
        return tables if all(t.exists() for t in tables.values()) else None

    def _loop(self) -> None:
        run, n = self.run, 0
        while not self.stop.is_set():
            tables = self._tables()
            if tables is None:
                self.stop.wait(0.05)  # nothing committed yet
                continue
            begun = time.time()
            for name, table in tables.items():
                run.attempted += 1
                n += 1
                run.set_span(f"lookup:{n}")
                start = time.time()
                try:
                    with run.tracer.span("lookup"):
                        rows = table.lookup(run.spark, {gen.TABLE_KEYS[name][0]: gen.READ_KEY}).collect()
                except Exception as e:  # noqa: BLE001 - counted, the loop goes on
                    run.fail(f"lookup {name}: {e!r:.200}")
                    continue
                else:
                    self.latencies.append(time.time() - start)
                finally:
                    run.set_span(None)
                if [r.asDict() for r in rows] != [self.expect[name]]:
                    run.fail(f"lookup {name}: got {rows!r:.200}")
            self.stop.wait(max(0.0, begun + READ_EVERY_S - time.time()))

    def __enter__(self):
        self.thread.start()
        return self

    def __exit__(self, *exc):
        self.stop.set()
        self.thread.join()
        self.run.layers.update(
            {
                "table.lookup_p50_s": quantile(self.latencies, 0.5),
                "table.lookup_p90_s": quantile(self.latencies, 0.9),
                "managed.lookup_calls": len(self.latencies),
            }
        )


def _backlog_dirs(run: Run, tag: str, log: gen.CdcLog) -> tuple[str, str]:
    """Write every file of ``log`` into a fresh source dir; mtimes are
    spaced one second apart so the file source reads them in order."""
    src = os.path.dirname(run.path(f"{tag}-source", "x"))
    staging = os.path.dirname(run.path(f"{tag}-staging", "x"))
    base = time.time() - len(log.files) - 10
    for i, text in enumerate(log.files):
        name = f"f{i:06d}.jsonl"
        gen.publish(text, staging, src, name)
        os.utime(os.path.join(src, name), (base + i, base + i))
    return src, os.path.dirname(run.path(f"{tag}-wh", "x"))


def _batch_end(p: dict) -> float:
    return _iso_to_epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000.0


def _visible_at(progress: list[dict], events: list[int]) -> list[float]:
    """When each file's commit became visible: the end of the first
    trigger by which the pipeline had consumed every envelope up to and
    including that file (files are read in order). Files never consumed
    are left out."""
    out, consumed, b = [], 0, -1
    for need in itertools.accumulate(events):
        while consumed < need and b + 1 < len(progress):
            b += 1
            consumed += progress[b]["numInputRows"]
        if consumed < need:
            break
        out.append(_batch_end(progress[b]))
    return out


def run_cdc_backlog(run: Run) -> None:
    from flink_stream_spark.tables.managed import Warehouse

    args = run.args
    for rep in range(SETUP_REPS):
        t = time.time()
        log = gen.backlog_log(args.seed, BACKLOG_KEYS, BACKLOG_FILES, BACKLOG_EVENTS_PER_FILE)
        _backlog_dirs(run, f"drain{rep}", log)
        run.prep_s.append(time.time() - t)
    # warm-up drain of a smaller backlog into tables of its own
    warm_log = gen.backlog_log(args.seed, WARM_KEYS, WARM_FILES, BACKLOG_EVENTS_PER_FILE)
    src, whdir = _backlog_dirs(run, "warm", warm_log)
    t = time.time()
    q = _start_pipeline(run, src, Warehouse(whdir), os.path.dirname(run.path("warm-ckpt", "x")))
    q.processAllAvailable()
    _stop(q)
    run.warm.append(round(time.time() - t, 2))

    run.window = (time.time(), 0.0)
    cpu0 = _cpu_s()
    rates, lat, warehouses = [], [], []
    total_events = sum(log.events)
    expect = {t: log.state[t][gen.READ_KEY] for t in gen.TABLE_KEYS}
    with Reader(run, expect) as reader:
        while not warehouses or time.time() - run.window[0] < args.seconds:
            tag = f"drain{len(warehouses)}"
            if len(warehouses) >= SETUP_REPS:
                _backlog_dirs(run, tag, log)
            wh = Warehouse(os.path.dirname(run.path(f"{tag}-wh", "x")))
            warehouses.append(wh)
            reader.wh = wh
            t0 = time.time()
            q = _start_pipeline(run, os.path.dirname(run.path(f"{tag}-source", "x")), wh,
                                os.path.dirname(run.path(f"{tag}-ckpt", "x")))
            q.processAllAvailable()
            t1 = time.time()
            progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
            exc = q.exception()
            _stop(q)
            if exc is not None:
                raise RuntimeError(f"pipeline failed: {exc}")
            run.attempted += 1
            consumed = sum(p["numInputRows"] for p in progress)
            if consumed != total_events:
                run.fail(f"drain {len(warehouses)}: {consumed} of {total_events} envelopes consumed")
            rates.append(total_events / (t1 - t0))
            lat += [v - t0 for v in _visible_at(progress, log.events)]
            run.detail.append([round(p["durationMs"]["triggerExecution"] / 1000.0, 2) for p in progress])
    cpu = _cpu_s() - cpu0
    run.window = (run.window[0], time.time())
    ops = total_events * len(warehouses)
    run.metrics.update(
        latency_s=quantile(lat, 0.5),
        latency_p90_s=quantile(lat, 0.9),
        throughput_per_s=statistics.median(rates),
        cpu_ms_per_op=1000.0 * cpu / ops,
        ops=ops,
    )
    run.layers.update({"gen.files": len(log.files) * len(warehouses), "gen.events": ops})
    for wh in warehouses:
        _check_tables(run, wh, log.state)
    if run.args.trace:
        _managed_layers(run, wh, events=total_events)


def _managed_layers(run: Run, wh, events: int) -> None:
    """Write-path metrics from a diff of ``files()`` between consecutive
    versions the pipeline committed (``events`` envelopes in all)."""
    commits = files = buckets = nbytes = 0
    for table in _cdc_tables(wh).values():
        prev: dict = {}
        for v in (int(c["version"]) for c in table.versions()):
            rows = table.files(run.spark, v).collect()
            cur = {r["file_path"]: (r["bucket"], r["size_bytes"]) for r in rows}
            new = {p: bs for p, bs in cur.items() if p not in prev}
            commits += 1
            files += len(new)
            buckets += len({b for b, _ in new.values()})
            nbytes += sum(s for _, s in new.values())
            prev = cur
    run.layers.update(
        {
            "managed.versions": commits,
            "managed.files_written_per_commit": files / commits if commits else 0.0,
            "managed.buckets_touched_mean": buckets / commits if commits else 0.0,
            "managed.bytes_written_per_event": nbytes / events if events else 0.0,
        }
    )


# -- query workload ------------------------------------------------------------


class _Collected:
    """A query result already collected to pandas, in the one form
    ``compare_query`` reads from a DataFrame."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def run_query_mix(run: Run) -> None:
    import importlib

    from flink_stream_spark.operators import REGISTRY
    from flink_stream_spark.testing.oracle import compare_query

    for m in OPERATOR_MODULES:
        importlib.import_module(f"flink_stream_spark.operators.{m}")
    args = run.args
    data = None
    for rep in range(SETUP_REPS):
        t = time.time()
        data = os.path.dirname(run.path(f"tables{rep}", "x"))
        gen.write_query_tables(data, args.seed, QUERY_SF, QUERY_DOCS, QUERY_EMBEDDINGS, QUERY_VOCAB)
        run.prep_s.append(time.time() - t)

    # untimed serial warm pass; its results are checked against the
    # DuckDB oracles after the timed part
    results: dict[str, object] = {}
    for name in QUERIES:
        run.attempted += 1
        t = time.time()
        try:
            results[name] = REGISTRY[name].build(run.spark, data).toPandas()
        except Exception as e:  # noqa: BLE001 - a failing query is counted and reported
            run.fail(f"{name}: raised {e!r:.300}")
        run.warm.append(round(time.time() - t, 2))

    run.window = (time.time(), 0.0)
    cpu0 = _cpu_s()
    samples: dict[str, list[float]] = {q: [] for q in QUERIES}
    builds: dict[str, list[float]] = {q: [] for q in QUERIES}
    for n, name in enumerate(itertools.cycle(QUERIES), 1):
        run.attempted += 1
        run.set_span(f"q:{name}:{n}")
        t = time.time()
        try:
            with run.tracer.span(f"q:{name}"):
                with run.tracer.span("build"):
                    df = REGISTRY[name].build(run.spark, data)
                tb = time.time()
                df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 - a failing query is counted and reported
            run.fail(f"{name}: raised {e!r:.300}")
        else:
            samples[name].append(time.time() - t)
            builds[name].append(tb - t)
        finally:
            run.set_span(None)
        if n >= len(QUERIES) and time.time() - run.window[0] >= args.seconds:
            break
    run.window = (run.window[0], time.time())
    cpu = _cpu_s() - cpu0

    for name, pdf in results.items():
        try:
            res = compare_query(name, _Collected(pdf), REGISTRY[name].oracle, data)
        except Exception as e:  # noqa: BLE001 - a failing check is counted and reported
            run.fail(f"{name}: oracle check raised {e!r:.300}")
            continue
        if not res.ok:
            run.fail(f"{name}: differs from its DuckDB oracle ({res.detail or res})")

    pooled = [s for v in samples.values() for s in v]
    medians = {q: statistics.median(v) if v else 0.0 for q, v in samples.items()}
    run.metrics.update(
        # the suite's typical query time: every query weighs the same
        latency_s=math.exp(statistics.fmean(math.log(m) for m in medians.values() if m > 0)),
        latency_p90_s=quantile(pooled, 0.9),
        throughput_per_s=len(pooled) / (run.window[1] - run.window[0]),
        cpu_ms_per_op=1000.0 * cpu / max(1, len(pooled)),
        ops=len(pooled),
    )
    run.layers["query.total_s"] = sum(medians.values())
    for fam, qs in FAMILIES.items():
        run.layers[f"query.{fam}_s"] = sum(medians[q] for q in qs)
    for q in QUERIES:
        run.layers[f"q.{q}.s"] = medians[q]
        run.layers[f"q.{q}.build_s"] = statistics.median(builds[q]) if builds[q] else 0.0
    run.query_samples = {q: len(v) for q, v in samples.items()}
    run.detail = [(q, round(m, 3)) for q, m in medians.items()]


# -- traced-run layer metrics ---------------------------------------------------


def _trigger_layers(run: Run, elog) -> None:
    """Per-trigger metrics from the progress listener, the apply/merge
    spans and the event log (jobs grouped by streaming batch id)."""
    lo = run.window[0]
    batches = [
        p for p in run.progress
        if p["numInputRows"] > 0 and _iso_to_epoch(p["timestamp"]) >= lo
    ]
    applies = run.tracer.named("apply_cdc_batch")
    merges = run.tracer.named("merge")
    if not batches:
        return
    execs, addb, outside, jobs, sqls = [], [], [], [], []
    by_batch: dict[tuple[str, int], list] = {}
    for j in elog.jobs.values():
        qid = j.props.get("sql.streaming.queryId")
        if j.batch is not None and qid is not None:
            by_batch.setdefault((qid, j.batch), []).append(j)
    timed_applies = []
    for p in batches:
        start = _iso_to_epoch(p["timestamp"])
        end = start + p["durationMs"]["triggerExecution"] / 1000.0
        execs.append(p["durationMs"]["triggerExecution"] / 1000.0)
        ab = p["durationMs"].get("addBatch", 0) / 1000.0
        addb.append(ab)
        inside = [s for s in applies if start <= s.start and s.end <= end + 0.001]
        timed_applies += inside
        outside.append(ab - sum(s.duration for s in inside))
        bj = by_batch.get((p["id"], p["batchId"]), [])
        jobs.append(len(bj))
        sqls.append(len(elog.executions_of(bj)))
    events = sum(p["numInputRows"] for p in batches)
    timed_merges = [s for s in merges if any(a.start <= s.start <= a.end for a in timed_applies)]
    run.layers.update(
        {
            "trigger.n": len(batches),
            "trigger.events_mean": events / len(batches),
            "trigger.exec_p50_s": quantile(execs, 0.5),
            "trigger.exec_p90_s": quantile(execs, 0.9),
            "trigger.addbatch_share": sum(addb) / sum(execs) if sum(execs) else 0.0,
            "trigger.jobs_mean": statistics.mean(jobs),
            "trigger.sql_execs_mean": statistics.mean(sqls),
            "pipeline.outside_apply_s_mean": statistics.mean(outside),
            "envelope.apply_p50_s": quantile([s.duration for s in timed_applies], 0.5),
            "envelope.apply_calls": len(timed_applies),
            "envelope.events_per_apply": events / len(timed_applies) if timed_applies else 0.0,
            "managed.merge_p50_s": quantile([s.duration for s in timed_merges], 0.5),
        }
    )


def _engine_layers(run: Run, elog) -> None:
    lo_ms, hi_ms = run.window[0] * 1000, run.window[1] * 1000
    tasks = elog.tasks_between(lo_ms, hi_ms)
    wall = max(run.window[1] - run.window[0], 1e-9)
    mb = 1024.0 * 1024.0
    task_s = sum(t.run_ms for t in tasks) / 1000.0
    run.layers.update(
        {
            "spark.jobs": len(elog.jobs_between(lo_ms, hi_ms)),
            "spark.task_s": task_s,
            "spark.cpu_busy_share": task_s / (wall * run.args.cpus),
            "spark.gc_s": sum(t.gc_ms for t in tasks) / 1000.0,
            "spark.shuffle_write_mb": sum(t.shuffle_write_bytes for t in tasks) / mb,
            "spark.spill_mb": sum(t.spill_bytes for t in tasks) / mb,
            "spark.python_mb": sum(t.python_bytes for t in tasks) / mb,
            "spark.task_failures": sum(1 for t in tasks if t.failed),
        }
    )
    # lookups: jobs and files read per call, from the jobs each lookup ran
    lookup_jobs = [j for j in elog.jobs.values() if (j.span or "").startswith("lookup:")]
    calls = len({j.span for j in lookup_jobs})
    if calls:
        files_read = sum(
            elog.driver_metrics.get(e, {}).get(FILES_READ, 0)
            for e in elog.executions_of(lookup_jobs)
        )
        run.layers["managed.lookup_jobs_mean"] = len(lookup_jobs) / calls
        run.layers["managed.lookup_files_read_mean"] = files_read / calls
    # queries: jobs and shuffle bytes per timed sample
    per_query: dict[str, dict] = {}
    job_span = {j.id: j.span for j in elog.jobs.values() if (j.span or "").startswith("q:")}
    for j in elog.jobs.values():
        if j.id in job_span:
            name = j.span.split(":")[1]
            d = per_query.setdefault(name, {"jobs": 0, "shuffle": 0})
            d["jobs"] += 1
    for t in elog.tasks:
        j = elog.job_of_task(t)
        if j is not None and j.id in job_span:
            per_query[j.span.split(":")[1]]["shuffle"] += t.shuffle_write_bytes
    for name, d in per_query.items():
        n = run.query_samples.get(name) or 1
        run.layers[f"q.{name}.jobs"] = d["jobs"] / n
        run.layers[f"q.{name}.shuffle_mb"] = d["shuffle"] / n / mb


def layer_report(run: Run) -> dict[str, float]:
    elog = parse_dir(os.path.dirname(run.path("eventlog", "x")))
    _trigger_layers(run, elog)
    _engine_layers(run, elog)
    out = {name: 0.0 for name in layer_metric_units()}
    out.update(run.layers)
    out["session.start_s"] = run.session_start_s
    out["proc.mem_peak_mb"] = run.metrics["mem_peak_mb"]
    for k in ("latency_s", "latency_p90_s", "throughput_per_s", "cpu_ms_per_op", "ops"):
        out[f"traced.{k}"] = run.metrics[k]
    return out


# -- entry point ---------------------------------------------------------------


def _shutdown(spark) -> None:
    """Stop the session, then end the JVM it launched and wait for it:
    the gateway JVM exits when its standard input closes."""
    if spark is None:
        return
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)),
                    help="SPARK_GRAFT_CPUS for the run (default: the CPUs this process may use)")
    ap.add_argument("--keep", action="store_true", help="keep .bench_work/ (spans, event log) after the run")
    args = ap.parse_args(argv)
    try:
        import flink_stream_spark  # noqa: F401
    except ImportError as e:
        print(f"program not found next to the benchmark: {e}", file=sys.stderr)
        return 2

    run = Run(args)
    try:
        run.start_session()
        wl = {"cdc_backlog": run_cdc_backlog, "query_mix": run_query_mix}
        targets = []
        if args.trace:
            from flink_stream_spark.streaming import cdc_pipeline
            from flink_stream_spark.tables.managed import ManagedTable

            targets = [
                (cdc_pipeline, "apply_cdc_batch", "apply_cdc_batch"),
                (ManagedTable, "merge", "merge"),
            ]
        with spans.patched(run.tracer, targets):
            wl[args.workload](run)
        run.metrics["setup_s"] = run.setup_s()
        run.metrics["mem_peak_mb"] = run.mem_peak_mb()
        if args.trace:
            run.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            run.spark.stop()
            metrics, units = layer_report(run), layer_metric_units()
            if args.keep:
                run.tracer.dump(run.path("spans.jsonl"))
        else:
            metrics = {k: run.metrics[k] for k in E2E_METRICS}
            units = E2E_METRICS
    finally:
        _shutdown(run.spark)
        if not args.keep:
            shutil.rmtree(run.work, ignore_errors=True)
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    print(
        f"{args.workload} seed={args.seed}: window {run.window[1] - run.window[0]:.1f}s, "
        f"set-up steps {[round(x, 2) for x in run.prep_s]}, session {run.session_start_s:.1f}s, warm-up {run.warm}, "
        f"detail {run.detail}, failures {run.failures}, "
        f"all measures {json.dumps(run.metrics)}",
        file=sys.stderr,
    )
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
