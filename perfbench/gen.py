"""Seeded inputs for the benchmark.

Everything here is a pure function of the seed: the Debezium envelope
files the CDC workloads publish, the reference state those envelopes
must leave in each table, and the parquet tables the query workload
reads. The program under test receives only the generated files.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np

# The reference's two CDC tables (account, product).
TABLE_KEYS = {"account": ["user_id"], "product": ["product_id"]}
READ_KEY = 0  # reserved key per table: in the snapshot, never changed by churn
TS_BASE_MS = 1_700_000_000_000  # envelope ts_ms


def row_schemas():
    from pyspark.sql import types as T

    return {
        "account": T.StructType(
            [
                T.StructField("user_id", T.IntegerType()),
                T.StructField("email", T.StringType()),
                T.StructField("created_at", T.LongType()),
            ]
        ),
        "product": T.StructType(
            [
                T.StructField("product_id", T.IntegerType()),
                T.StructField("product_name", T.StringType()),
            ]
        ),
    }


def _row(table: str, key: int, version: int) -> dict:
    if table == "account":
        return {"user_id": key, "email": f"u{key}.v{version}@example.com", "created_at": version}
    return {"product_id": key, "product_name": f"product {key} rev {version}"}


def _envelope(table: str, op: str, before, after, lsn: int, ts_ms: int) -> str:
    return json.dumps(
        {
            "payload": {
                "before": before,
                "after": after,
                "source": {"table": table, "schema": "commerce", "lsn": lsn},
                "op": op,
                "ts_ms": ts_ms,
            }
        },
        separators=(",", ":"),
    )


@dataclass
class CdcLog:
    """Envelope files in publish order plus the reference final state.

    ``files[i]`` is the newline-joined text of file ``i`` and
    ``events[i]`` its number of envelopes. ``state[table]`` maps key ->
    row dict: the last event per key in LSN order, deletes removing it.
    """

    files: list[str] = field(default_factory=list)
    events: list[int] = field(default_factory=list)
    state: dict[str, dict[int, dict]] = field(default_factory=dict)


class CdcGenerator:
    """Zipf-skewed c/u/d churn over two tables, LSN-ordered.

    Keys are drawn from a Zipf law over ``1..keys``; an event on a live
    key is an update (or, with ``p_delete``, a delete), an event on an
    absent key is a create. The generator tracks the live rows, so its
    ``state`` is the reference the tables must equal at the end.
    """

    def __init__(self, seed: int, keys: int, zipf_s: float = 1.1, p_delete: float = 0.15):
        self.rng = np.random.default_rng(seed)
        self.keys = keys
        self.p_delete = p_delete
        ranks = np.arange(1, keys + 1, dtype=np.float64)
        w = ranks ** -zipf_s
        self.cdf = np.cumsum(w / w.sum())
        # key rank -> key id, so the hot keys are spread over the key space
        self.perm = {t: self.rng.permutation(keys) + 1 for t in TABLE_KEYS}
        self.lsn = 0
        self.version = 0
        self.state: dict[str, dict[int, dict]] = {t: {} for t in TABLE_KEYS}

    def _next_lsn(self) -> int:
        self.lsn += 1
        return self.lsn

    def snapshot(self) -> list[str]:
        """op='r' rows for every key of both tables, the reserved key included."""
        out = []
        for t in TABLE_KEYS:
            for k in [READ_KEY, *range(1, self.keys + 1)]:
                row = _row(t, k, 0)
                self.state[t][k] = row
                out.append(_envelope(t, "r", None, row, self._next_lsn(), TS_BASE_MS))
        return out

    def churn(self, n: int) -> list[str]:
        """``n`` change events."""
        ts_ms = TS_BASE_MS + 1
        tables = self.rng.integers(0, len(TABLE_KEYS), size=n)
        ranks = np.searchsorted(self.cdf, self.rng.random(n))
        dels = self.rng.random(n) < self.p_delete
        names = list(TABLE_KEYS)
        out = []
        for ti, r, d in zip(tables.tolist(), ranks.tolist(), dels.tolist()):
            t = names[ti]
            k = int(self.perm[t][min(r, self.keys - 1)])
            live = self.state[t]
            self.version += 1
            if k not in live:
                row = _row(t, k, self.version)
                live[k] = row
                out.append(_envelope(t, "c", None, row, self._next_lsn(), ts_ms))
            elif d:
                before = live.pop(k)
                out.append(_envelope(t, "d", before, None, self._next_lsn(), ts_ms))
            else:
                row = _row(t, k, self.version)
                before, live[k] = live[k], row
                out.append(_envelope(t, "u", before, row, self._next_lsn(), ts_ms))
        return out


def backlog_log(seed: int, keys: int, n_files: int, events_per_file: int) -> CdcLog:
    """Snapshot of both tables followed by churn, cut into equal files."""
    g = CdcGenerator(seed, keys)
    lines = g.snapshot()
    lines += g.churn(max(0, n_files * events_per_file - len(lines)))
    log = CdcLog()
    per = -(-len(lines) // n_files)
    for i in range(n_files):
        chunk = lines[i * per : (i + 1) * per]
        log.files.append("\n".join(chunk) + "\n")
        log.events.append(len(chunk))
    log.state = g.state
    return log


def publish(text: str, staging_dir: str, source_dir: str, name: str) -> None:
    """Write outside the source directory, then rename into it, so the
    file source never lists a partial file."""
    tmp = os.path.join(staging_dir, name)
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, os.path.join(source_dir, name))


# -- query tables ------------------------------------------------------------

_LETTERS = np.array(list("etaoinshrdlcumwfgypbvkjxqz"))
_LETTER_P = np.linspace(2.0, 0.2, len(_LETTERS)) / np.linspace(2.0, 0.2, len(_LETTERS)).sum()


def _vocabulary(rng, n: int) -> np.ndarray:
    """``n`` distinct lowercase words of 2-10 letters, English-like letter
    frequencies, in Zipf rank order."""
    words: dict[str, None] = {}
    while len(words) < n:
        for length in rng.integers(2, 11, size=n):
            words.setdefault("".join(rng.choice(_LETTERS, size=int(length), p=_LETTER_P)), None)
    return np.array(list(words)[:n])


_LANGS = np.array(["en", "zh", "es", "de", "fr"])
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _ts_us(rng, n, start: str, end: str, sort: bool = False):
    lo = np.datetime64(start, "us").astype(np.int64)
    hi = np.datetime64(end, "us").astype(np.int64)
    v = rng.integers(lo, hi, size=n)
    return np.sort(v) if sort else v


def _dates_us(rng, n, start: str, end: str):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, size=n) * 86_400_000_000


def _documents(rng, n: int, vocab_size: int) -> dict:
    """``n`` documents of 10-99 words drawn from a Zipf law (s = 1) over a
    ``vocab_size``-word vocabulary; one in ten is a near-duplicate of an
    earlier document with a few words replaced."""
    vocab = _vocabulary(rng, vocab_size)
    w = 1.0 / np.arange(1, vocab_size + 1)
    cdf = np.cumsum(w / w.sum())

    def draw(k: int) -> list[str]:
        return vocab[np.minimum(np.searchsorted(cdf, rng.random(k)), vocab_size - 1)].tolist()

    texts = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            swap = rng.integers(0, len(words), size=max(1, len(words) // 20))
            for j, word in zip(swap.tolist(), draw(len(swap))):
                words[j] = word
        else:
            words = draw(int(rng.integers(10, 100)))
        texts.append(" ".join(words))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, size=n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def write_query_tables(out_dir: str, seed: int, sf: float, docs: int, embeddings: int, vocab: int) -> None:
    """The ten fixture tables, one parquet file each, with the column names
    and types the registered queries and their oracles read: a TPC-H-like
    star schema and ``events`` at scale ``sf``, ``docs`` documents over a
    ``vocab``-word vocabulary and ``embeddings`` 64-d unit vectors."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))
    ts = pa.timestamp("us")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, size=n), 2)

    def put(name: str, cols: dict, types: dict | None = None) -> None:
        types = types or {}
        arrays = {k: pa.array(v, type=types.get(k)) for k, v in cols.items()}
        pq.write_table(pa.table(arrays), os.path.join(out_dir, f"{name}.parquet"))

    i32 = pa.int32()
    put("region", {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": np.arange(25, dtype=np.int32) % 5})
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, size=n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"], size=n_cust),
    })
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, size=n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    adj = np.array(["large", "hot", "blue", "old", "cold", "red", "small", "new"])
    noun = np.array(["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"])
    put("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(rng.choice(adj, n_part), " "), rng.choice(noun, n_part)),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, size=n_part)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"], size=n_part),
        "p_size": rng.integers(1, 51, size=n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, size=n_ord),
        "o_orderstatus": rng.choice(["P", "O", "F"], size=n_ord),
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": _dates_us(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], size=n_ord),
    }, {"o_orderdate": ts})
    put("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, size=n_line),
        "l_partkey": rng.integers(0, n_part, size=n_line),
        "l_suppkey": rng.integers(0, n_supp, size=n_line),
        "l_linenumber": rng.integers(1, 8, size=n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, size=n_line).astype(np.float64),
        "l_extendedprice": money(900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, size=n_line) / 100.0,
        "l_tax": rng.integers(0, 9, size=n_line) / 100.0,
        "l_returnflag": rng.choice(["N", "R", "A"], size=n_line),
        "l_linestatus": rng.choice(["F", "O"], size=n_line),
        "l_shipdate": _dates_us(rng, n_line, "1995-01-02", "2001-11-04"),
    }, {"l_linenumber": i32, "l_shipdate": ts})
    put("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts_us(rng, n_ev, "2024-01-01", "2024-01-31", sort=True),
        "user_id": rng.integers(0, n_users, size=n_ev),
        "event_type": rng.choice(["signup", "error", "click", "view", "purchase"], size=n_ev),
        "value": np.round(rng.exponential(50.0, size=n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_ev)],
    }, {"ts": ts})
    put("documents", _documents(rng, docs, vocab))
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, size=embeddings)
    vecs = centers[labels] + rng.normal(scale=0.8, size=(embeddings, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {
        "vec_id": np.arange(embeddings, dtype=np.int64),
        "embedding": list(vecs),
        "label": labels.astype(np.int32),
    }, {"embedding": pa.list_(pa.float32())})
