"""Versioned parquet-backed managed tables with bucket-scoped MERGE.

The lakehouse layer of the engine: the Spark-first stand-in for the
reference's Iceberg v2 upsert tables (`format-version=2`,
`write.upsert.enabled=true`, PRIMARY KEY NOT ENFORCED — reference
flink/jobs/flink_json_to_iceberg.py:61-87) and its snapshot-retention
maintenance job (reference snapshot_mgmt.py:9-19).

Design (Iceberg-style metadata over immutable data files):

- data is hash-bucketed on the table key: every row lives in bucket
  ``pmod(xxhash64(keys), num_buckets)``. Data files are immutable and
  live under ``v_<version>/b_<bucket>/``;
- every commit writes a **manifest** (``_meta/manifest_<v>.json``)
  mapping bucket -> list of data directories. Untouched buckets carry
  the PREVIOUS manifest's entries forward — their files are **not**
  rewritten and not copied. This is the Iceberg-snapshot model: a
  commit is new data files + new metadata, never a table rewrite;
- MERGE therefore costs O(touched buckets), not O(table): the change
  batch's keys select ~``|touched keys| / num_buckets`` of the data
  files to read+rewrite; a 1-key merge into an N-bucket table reads
  and rewrites ~1/N of the table (asserted in
  tests/test_cdc_tables.py::test_merge_rewrites_only_touched_buckets).
  This mirrors Iceberg v2 equality-delete compaction granularity;
- APPEND only adds files (the new batch, bucketed) and extends the
  manifest — zero rewrite, including under schema evolution;
- the MERGE plan per touched bucket set is
  ``current LEFT ANTI JOIN touched_keys`` unioned with the upserts —
  one shuffle on the key (broadcast of a small change-set under AQE);
  nothing but bucket IDs (<= num_buckets ints) and the commit pointer
  ever reaches the driver, so the same plan runs on a 1000-executor
  cluster. On real deployments this class is swapped for
  Iceberg/Delta ``MERGE INTO`` (same call sites, foreachBatch);
- schema evolution on write: new columns in incoming data are added
  to the manifest schema (old files lack them; the parquet reader
  null-fills against the explicit manifest schema) — mirroring the
  sink's ``evolve-schema-enabled``
  (reference kafka/config/connect-iceberg-sink.json:13-14);
- every commit records **zone maps** (footer-derived column min/max
  per data dir) in its manifest; ``read(where=[...])`` skips whole
  directories whose range cannot match before Spark lists a single
  file, and ``lookup(key)`` additionally prunes to the key's hash
  bucket — Iceberg's manifest min/max pruning + bucket-partition
  pruning, the metadata paths that make point/range queries O(files
  touched) instead of O(table) at 100 TB;
- readers take the manifest's explicit schema (no footer-merge scan)
  and always see a complete committed version; old versions remain
  readable (time travel) until their manifest is expired. Expiry
  drops manifests and garbage-collects data files no retained
  manifest references (reference snapshot_mgmt.py:17-19).
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_NUM_BUCKETS = int(os.environ.get("SPARK_GRAFT_TABLE_BUCKETS", "16"))

_BUCKET_COL = "__bucket"

# serializes the session-global parquet-timestamp conf flip inside
# _stage_bucketed (see its docstring): concurrent writes on ONE
# session must not interleave set/restore
_STAGE_CONF_LOCK = threading.Lock()

# predicate ops understood by zone-map pruning (read(where=...))
_PRUNE_OPS = {"=", "<", "<=", ">", ">=", "between"}


def _canon_stat(v):
    """Canonicalize a footer statistic / predicate literal for zone-map
    comparison. Timestamps become exact UTC epoch-microsecond ints and
    dates become ordinal-day ints (JSON-storable, totally ordered —
    without this, timestamp columns would carry no zone maps at all and
    ``delete_where("ts < cutoff")``, the primary retention pattern,
    could never prune). Everything else passes through."""
    import calendar
    import datetime

    if isinstance(v, datetime.datetime):  # incl. pd.Timestamp
        if v.tzinfo is not None:
            # normalize aware literals to the UTC instant FIRST —
            # timegm over wall-clock components would otherwise shift
            # the cutoff by the offset and mis-prune
            v = v.astimezone(datetime.timezone.utc)
        return calendar.timegm(v.timetuple()) * 1_000_000 + v.microsecond
    if isinstance(v, datetime.date):
        return v.toordinal()
    return v


def _dir_column_stats(data_dir: str) -> tuple[dict, dict]:
    """Zone maps for one committed data directory, at two granularities
    from ONE footer pass: ``(dir_stats, file_stats)`` where dir_stats
    is {col: [min, max]} over the whole dir and file_stats is
    {fname: {col: [min, max]}} per parquet file — the same stats
    Iceberg stores per data file in its manifests. Footer reads only;
    no data pages are touched. Columns with any missing/unsupported
    stat are omitted at that granularity (→ never pruned on)."""
    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover - pyarrow is baked in
        return {}, {}
    stats: dict[str, list] = {}
    fstats: dict[str, dict] = {}
    dropped: set[str] = set()
    for fname in sorted(os.listdir(data_dir)):
        if not fname.endswith(".parquet"):
            continue
        try:
            md = pq.ParquetFile(os.path.join(data_dir, fname)).metadata
        except Exception:
            return {}, {}
        fs: dict[str, list] = {}
        fdropped: set[str] = set()
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                if "." in name:
                    continue  # nested leaves: not prunable at top level
                st = col.statistics
                mn = _canon_stat(st.min) if st is not None and st.has_min_max else None
                mx = _canon_stat(st.max) if st is not None and st.has_min_max else None
                if mn is None or not isinstance(mn, (int, float, str, bool)):
                    dropped.add(name)
                    stats.pop(name, None)
                    fdropped.add(name)
                    fs.pop(name, None)
                    continue
                if name not in fdropped:
                    fcur = fs.get(name)
                    if fcur is None:
                        fs[name] = [mn, mx]
                    else:
                        fcur[0] = min(fcur[0], mn)
                        fcur[1] = max(fcur[1], mx)
                if name in dropped:
                    continue
                cur = stats.get(name)
                if cur is None:
                    stats[name] = [mn, mx]
                else:
                    cur[0] = min(cur[0], mn)
                    cur[1] = max(cur[1], mx)
        if fs:
            fstats[fname] = fs
    return stats, fstats


def _zone_overlaps(lo, hi, op: str, value) -> bool:
    """Can a file whose column spans [lo, hi] contain rows matching
    ``col <op> value``? False → the file is skipped. Datetime/date
    literals canonicalize to the same epoch-int form the stats were
    stored in."""
    if isinstance(value, (tuple, list)):
        value = tuple(_canon_stat(v) for v in value)
    else:
        value = _canon_stat(value)
    try:
        if op == "=":
            return lo <= value <= hi
        if op == "<":
            return lo < value
        if op == "<=":
            return lo <= value
        if op == ">":
            return hi > value
        if op == ">=":
            return hi >= value
        if op == "between":
            vlo, vhi = value
            return not (hi < vlo or lo > vhi)
    except TypeError:
        return True  # incomparable literal/stat types: never mis-prune
    return True


def _zorder_numeric(c: str, dtype: T.DataType) -> "F.Column":
    """Per-type numeric view of a Z-order column, in the SAME units as
    the canonicalized zone-map stats (_canon_stat): timestamps → epoch
    micros, dates → ordinal days, numerics → double. A mismatch here
    (e.g. cast(ts AS double) = epoch SECONDS vs micros stats) would
    clamp every value to bucket 0 and silently destroy clustering on
    that column."""
    if isinstance(dtype, T.TimestampType):
        return F.unix_micros(F.col(c)).cast("double")
    if isinstance(dtype, T.TimestampNTZType):
        # NTZ → session-TZ timestamp; under the engine's UTC session
        # the wall clock IS the canonical instant, matching the naive
        # stats canonicalization
        return F.unix_micros(F.col(c).cast("timestamp")).cast("double")
    if isinstance(dtype, T.DateType):
        # days since 0001-01-01 plus 1 == datetime.date.toordinal()
        return (F.datediff(F.col(c), F.lit("0001-01-01")) + 1).cast("double")
    return F.expr(f"try_cast(`{c}` AS DOUBLE)")


def _morton_expr(cols: list[str], ranges: dict, types: dict) -> "F.Column":
    """Morton (Z-order) key over 2-4 columns as a single codegen'd
    bitwise expression: each column min/max-normalizes to 16 bits (15
    when k=4 — 16 would place the 4th column's top bit at position 63,
    the long sign bit, making high rows sort FIRST and inverting the
    most-significant bit's clustering) and its bits interleave
    k-apart. NULLs normalize to the column minimum (cluster first).
    The key only ORDERS rows — approximation in the double
    normalization affects clustering quality, never results."""
    k = len(cols)
    bits = 15 if k >= 4 else 16
    top = (1 << bits) - 1
    parts = []
    for i, c in enumerate(cols):
        mn, mx = ranges[c]
        if mn is None or mx is None or mx == mn:
            continue  # constant/empty column contributes no bits
        mn, mx = float(mn), float(mx)
        scale = float(top) / (mx - mn)
        num = _zorder_numeric(c, types[c])
        norm = F.floor(
            (F.coalesce(num, F.lit(mn)) - F.lit(mn)) * F.lit(scale)
        ).cast("long")
        norm = F.least(F.greatest(norm, F.lit(0)), F.lit(top))
        for b in range(bits):
            parts.append(
                F.shiftleft(
                    F.shiftright(norm, b).bitwiseAND(F.lit(1)), b * k + i
                )
            )
    if not parts:
        return F.lit(0).cast("long")
    z = parts[0]
    for p in parts[1:]:
        z = z.bitwiseOR(p)
    return z


class ManagedTable:
    """One keyed, versioned, hash-bucketed table under ``root/name``."""

    def __init__(
        self,
        root: str,
        name: str,
        key_columns: list[str] | None = None,
        num_buckets: int | None = None,
    ):
        self.root = root
        self.name = name
        self.dir = os.path.join(root, name)
        self.meta_dir = os.path.join(self.dir, "_meta")
        os.makedirs(self.meta_dir, exist_ok=True)
        persisted = self._load_table_meta()
        # persisted bucketing keys WIN: data already lives in buckets
        # hashed on them (xxhash64 is order-sensitive), so silently
        # adopting different caller keys would make every bucket-pruned
        # path (merge/lookup) read the wrong buckets
        stored_keys = persisted.get("key_columns")
        if stored_keys and key_columns and list(key_columns) != list(stored_keys):
            raise ValueError(
                f"table {name} is bucketed on {stored_keys}; cannot reopen "
                f"with key_columns={list(key_columns)}"
            )
        self.key_columns = stored_keys or key_columns or []
        # bucket count is fixed at table creation — rows must stay in
        # their bucket across commits for pruning to be sound
        self.num_buckets = int(
            persisted.get("num_buckets") or num_buckets or DEFAULT_NUM_BUCKETS
        )

    # -- table + version bookkeeping -----------------------------------------

    def _table_meta_path(self) -> str:
        return os.path.join(self.meta_dir, "table.json")

    def _load_table_meta(self) -> dict:
        try:
            with open(self._table_meta_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def _save_table_meta(self) -> None:
        tmp = self._table_meta_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {"key_columns": self.key_columns, "num_buckets": self.num_buckets}, f
            )
        os.replace(tmp, self._table_meta_path())

    def _current_pointer(self) -> str:
        return os.path.join(self.meta_dir, "CURRENT")

    def current_version(self) -> int:
        try:
            with open(self._current_pointer()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return 0

    def _version_dir(self, v: int) -> str:
        return os.path.join(self.dir, f"v_{v:08d}")

    def _manifest_path(self, v: int) -> str:
        return os.path.join(self.meta_dir, f"manifest_{v:08d}.json")

    def _load_manifest(self, v: int) -> dict:
        with open(self._manifest_path(v)) as f:
            return json.load(f)

    def _raw_commit_log(self) -> list[dict]:
        log = os.path.join(self.meta_dir, "commits.jsonl")
        if not os.path.exists(log):
            return []
        with open(log) as f:
            return [json.loads(line) for line in f if line.strip()]

    def versions(self) -> list[dict]:
        """Commit log (the `snapshots` metadata table equivalent).

        The log line is appended BEFORE the pointer flip (tokens must
        be durable before the commit becomes visible), so a crash in
        between can leave an entry for a version that never became
        visible and a retry re-appends the same version. Both are
        resolved at read time: entries above the pointer are hidden,
        and the LAST entry per version wins."""
        cur = self.current_version()
        by_version: dict[int, dict] = {}
        for c in self._raw_commit_log():
            v = int(c["version"])
            if v <= cur:
                by_version[v] = c
        return [by_version[v] for v in sorted(by_version)]

    # -- staging -------------------------------------------------------------

    def _bucket_expr(self):
        if self.key_columns:
            return F.pmod(
                F.xxhash64(*[F.col(k) for k in self.key_columns]),
                F.lit(self.num_buckets),
            )
        return F.lit(0)

    def _stage_bucketed(
        self,
        df: DataFrame,
        sort_exprs: list | None = None,
        max_records_per_file: int | None = None,
    ) -> tuple[str, dict[int, str]]:
        """Write ``df`` split by key-hash bucket into a staging dir.

        Returns (staged_dir, {bucket_id: relative_subdir}). One shuffle
        on the bucket column clusters each bucket's rows (AQE coalesces
        tiny buckets); dynamic partitionBy then emits one directory per
        bucket actually present in the batch.

        ``sort_exprs`` overrides the in-bucket clustering order (the
        Z-order path); ``max_records_per_file`` splits each bucket into
        multiple files so per-file zone maps have pruning granularity.

        The write holds a process-wide lock: the INT96 conf override
        below is session-GLOBAL, so two concurrent table writes on one
        session could otherwise race (one restores while the other is
        mid-write, briefly emitting INT96 files whose timestamp
        columns silently carry no zone maps). Concurrent writers in
        separate processes/sessions are unaffected (each has its own
        conf).
        """
        staged = os.path.join(self.dir, f"_staged_{uuid.uuid4().hex}")
        # scoped conf override (the external driver builds its own
        # session): legacy INT96 timestamps carry no parquet stats, so
        # ts zone maps would silently never exist. Restored afterwards
        # so a session that deliberately writes INT96 elsewhere (legacy
        # Hive compat) is not permanently mutated by a table write.
        _TS_KEY = "spark.sql.parquet.outputTimestampType"
        conf = df.sparkSession.conf
        out = df.withColumn(_BUCKET_COL, self._bucket_expr())
        out = out.repartition(_BUCKET_COL)
        if sort_exprs is not None:
            out = out.sortWithinPartitions(_BUCKET_COL, *sort_exprs)
        elif self.key_columns:
            # cluster rows by key inside each bucket: parquet row
            # groups then carry tight key ranges, so the residual
            # predicate of lookup()/read(where=) prunes at row-group
            # granularity inside the files zone maps couldn't skip
            out = out.sortWithinPartitions(_BUCKET_COL, *self.key_columns)
        writer = out.write.mode("overwrite")
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
        with _STAGE_CONF_LOCK:
            try:
                prior = conf.get(_TS_KEY)
            except Exception:
                prior = None
            try:
                conf.set(_TS_KEY, "TIMESTAMP_MICROS")
            except Exception:
                pass
            try:
                writer.partitionBy(_BUCKET_COL).parquet(staged)
            finally:
                try:
                    if prior is not None:
                        conf.set(_TS_KEY, prior)
                except Exception:
                    pass
        buckets: dict[int, str] = {}
        for d in os.listdir(staged):
            if d.startswith(f"{_BUCKET_COL}="):
                b = int(d.split("=", 1)[1])
                # rename to a neutral dir name so partition-column
                # inference can never resurrect __bucket on read
                neutral = f"b_{b:05d}"
                os.rename(os.path.join(staged, d), os.path.join(staged, neutral))
                buckets[b] = neutral
        return staged, buckets

    def committed_tokens(self) -> set[str]:
        """Idempotency tokens of all COMMITTED (pointer-visible)
        versions. A replayed at-least-once micro-batch checks its epoch
        token here and no-ops if the commit already landed — the same
        contract Iceberg gives Flink via checkpointed commit metadata.

        Tokens live in the append-only commit log (one sequential read
        regardless of version count) and SURVIVE snapshot expiry — a
        replay after maintenance must still no-op. Retained manifests
        are unioned in for tables written before the log carried
        tokens."""
        cur = self.current_version()
        out = {
            c["token"]
            for c in self._raw_commit_log()
            if c.get("token") and int(c["version"]) <= cur
        }
        for v in range(1, cur + 1):
            try:
                tok = self._load_manifest(v).get("token")
            except FileNotFoundError:
                continue  # expired snapshot: its token is in the log
            if tok:
                out.add(tok)
        return out

    def _commit(
        self,
        staged: str,
        staged_buckets: dict[int, str],
        operation: str,
        schema: T.StructType,
        mode: str,
        touched: set[int] | None = None,
        token: str | None = None,
        carry: dict[int, list[str]] | None = None,
        expected_version: int | None = None,
        staged_deletes: tuple[str, dict[int, str]] | None = None,
        drop_deletes: set[int] | None = None,
    ) -> int:
        """Publish staged bucket dirs as the next version.

        mode: 'replace_all' (overwrite / first commit), 'replace'
        (merge — ``touched`` buckets take the staged files, others carry
        forward), 'append' (staged files are added to their buckets).
        ``carry``: for 'replace', per-bucket dir lists to RETAIN next
        to the staged files (dir-granular rewrites: delete_where keeps
        a touched bucket's provably-clean dirs).
        ``expected_version``: optimistic-concurrency guard for
        long-window rewrites (zorder/compact/delete): the commit is
        REFUSED if another writer committed since the rewrite read its
        snapshot — replacing from a stale snapshot would silently drop
        the concurrent commit's rows (Iceberg's atomic swap makes the
        same check).
        ``staged_deletes``: merge-on-read key-tombstone dirs
        (staged_dir, {bucket: subdir}) published under this version as
        ``v_NNNNNNNN/del_b_NNNNN`` and recorded in the manifest's
        ``deletes`` map — the Iceberg v2 equality-delete-file
        equivalent; a tombstone suppresses rows of STRICTLY OLDER data
        dirs of its bucket (version order = Iceberg sequence numbers).
        ``drop_deletes``: buckets whose carried tombstones this commit
        FOLDS (compact/zorder/COW-merge read with tombstones applied
        and rewrite the whole bucket, so the tombstones are spent).
        """
        cur = self.current_version()
        if expected_version is not None and cur != expected_version:
            shutil.rmtree(staged, ignore_errors=True)
            if staged_deletes is not None:
                shutil.rmtree(staged_deletes[0], ignore_errors=True)
            raise RuntimeError(
                f"table {self.name}: concurrent commit detected "
                f"(rewrite read v{expected_version}, current is v{cur}); "
                "retry the maintenance op"
            )
        new_v = cur + 1
        vdir = self._version_dir(new_v)
        if os.path.exists(vdir):
            # orphan from a commit that crashed before the pointer flip
            # (never pointer-visible, so safe to discard)
            shutil.rmtree(vdir)
        os.rename(staged, vdir)
        new_del_paths: dict[int, str] = {}
        if staged_deletes is not None:
            del_dir, del_buckets = staged_deletes
            for b, sub in del_buckets.items():
                os.rename(
                    os.path.join(del_dir, sub), os.path.join(vdir, f"del_{sub}")
                )
                new_del_paths[b] = f"v_{new_v:08d}/del_{sub}"
            shutil.rmtree(del_dir, ignore_errors=True)
        new_paths = {
            b: f"v_{new_v:08d}/{sub}" for b, sub in staged_buckets.items()
        }
        prev_stats: dict = {}
        prev_deletes: dict = {}
        if mode == "replace_all" or cur == 0:
            buckets = {str(b): [p] for b, p in new_paths.items()}
        else:
            prev = self._load_manifest(cur)
            prev_stats = prev.get("stats", {})
            prev_deletes = prev.get("deletes", {})
            buckets = {b: list(ps) for b, ps in prev["buckets"].items()}
            if mode == "replace":
                for b in touched or set():
                    entries = list((carry or {}).get(b, []))
                    if b in new_paths:
                        entries.append(new_paths[b])
                    if entries:
                        buckets[str(b)] = entries
                    else:
                        buckets.pop(str(b), None)  # bucket fully deleted
            else:  # append
                for b, p in new_paths.items():
                    buckets.setdefault(str(b), []).append(p)
        deletes = {b: list(ps) for b, ps in prev_deletes.items()}
        for b in drop_deletes or set():
            deletes.pop(str(b), None)
        for b, p in new_del_paths.items():
            deletes.setdefault(str(b), []).append(p)
        # tombstones for buckets that no longer hold data are spent
        deletes = {b: ps for b, ps in deletes.items() if b in buckets}
        # zone maps: footer-derived column min/max per data dir AND per
        # data file (Iceberg's per-file manifest stats); carried paths
        # keep their previous stats (their files are immutable)
        referenced = {p for ps in buckets.values() for p in ps}
        stats = {p: s for p, s in prev_stats.items() if p in referenced}
        carried_prev = mode != "replace_all" and cur > 0
        prev_fstats = prev.get("fstats", {}) if carried_prev else {}
        prev_nfiles = prev.get("nfiles", {}) if carried_prev else {}
        fstats = {
            f: s
            for f, s in prev_fstats.items()
            if f.rsplit("/", 1)[0] in referenced
        }
        nfiles = {p: n for p, n in prev_nfiles.items() if p in referenced}
        for p in new_paths.values():
            if p in referenced:
                s, fs = _dir_column_stats(os.path.join(self.dir, p))
                if s:
                    stats[p] = s
                for fname, col_mm in fs.items():
                    fstats[f"{p}/{fname}"] = col_mm
                # parquet-file count per dir, recorded at commit so the
                # read path never has to list the directory to decide
                # whether per-file stats are complete
                nfiles[p] = sum(
                    1
                    for fn in os.listdir(os.path.join(self.dir, p))
                    if fn.endswith(".parquet")
                )
        manifest = {
            "version": new_v,
            "schema": schema.json(),
            "buckets": buckets,
            "stats": stats,
            "fstats": fstats,
            "nfiles": nfiles,
        }
        if deletes:
            manifest["deletes"] = deletes
        if token is not None:
            manifest["token"] = token
        tmp = self._manifest_path(new_v) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path(new_v))
        entry = {"version": new_v, "operation": operation, "committed_at": time.time()}
        if token is not None:
            entry["token"] = token  # durable pre-flip; survives expiry
        with open(os.path.join(self.meta_dir, "commits.jsonl"), "a") as f:
            f.write(json.dumps(entry) + "\n")
        self._save_table_meta()
        tmp = self._current_pointer() + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(new_v))
        os.replace(tmp, self._current_pointer())  # atomic pointer flip
        return new_v

    # -- reads ---------------------------------------------------------------

    def exists(self) -> bool:
        return self.current_version() > 0

    def current_schema(self) -> T.StructType | None:
        """Schema of the current committed version (None before the
        first commit) — the manifest schema readers/merges resolve
        against, including every column evolved by earlier batches."""
        v = self.current_version()
        if v <= 0:
            return None
        return T.StructType.fromJson(json.loads(self._load_manifest(v)["schema"]))

    def _read_manifest_buckets(
        self,
        spark: SparkSession,
        manifest: dict,
        bucket_ids: set[int] | None = None,
        where: list[tuple] | None = None,
    ) -> DataFrame:
        schema = T.StructType.fromJson(json.loads(manifest["schema"]))
        stats = manifest.get("stats", {})
        nfiles = manifest.get("nfiles", {})
        # group per-file stats by dir ONCE per read (not per candidate
        # dir): one pass over the fstats dict, O(total files)
        by_dir: dict[str, dict[str, dict]] = {}
        if where:
            for f, s in manifest.get("fstats", {}).items():
                d, fname = f.rsplit("/", 1)
                by_dir.setdefault(d, {})[fname] = s
        paths = []
        for b, ps in manifest["buckets"].items():
            if bucket_ids is not None and int(b) not in bucket_ids:
                continue
            for p in ps:
                if where and not self._zone_keep(stats.get(p), where):
                    continue
                # file-granular zone maps (Iceberg per-file manifest
                # stats): within a surviving dir, skip individual files
                # whose range cannot match — with Z-order clustering
                # this prunes on EVERY clustered column, not just the
                # sort prefix. Per-file pruning applies only when EVERY
                # parquet file in the dir has recorded stats (count
                # recorded at commit; legacy manifests list the dir) —
                # a file missing its entry must fall back to the
                # whole-dir read, never be silently dropped.
                per_file = by_dir.get(p, {})
                expected = nfiles.get(p)
                if expected is None and per_file:  # legacy manifest
                    expected = sum(
                        1
                        for fn in os.listdir(os.path.join(self.dir, p))
                        if fn.endswith(".parquet")
                    )
                if per_file and len(per_file) == expected:
                    for fname, s in sorted(per_file.items()):
                        if self._zone_keep(s, where):
                            paths.append(os.path.join(self.dir, p, fname))
                else:
                    paths.append(os.path.join(self.dir, p))
        if not paths:
            return spark.createDataFrame([], schema)
        # explicit manifest schema: no footer-merge scan, and files
        # predating a schema evolution null-fill the new columns
        df = spark.read.schema(schema).parquet(*paths)
        # merge-on-read tombstones: suppress rows whose key carries a
        # tombstone from a STRICTLY NEWER commit than the row's data
        # dir (version order = Iceberg sequence numbers, parsed from
        # the immutable v_NNNNNNNN path prefix both sides carry). A key
        # re-inserted after its delete survives: its new data dir's
        # version >= the tombstone's. One extra key join per read, only
        # when tombstones exist; per-bucket tombstone sets are CDC-batch
        # sized, so AQE broadcasts them.
        dels = manifest.get("deletes", {})
        del_paths = [
            os.path.join(self.dir, p)
            for b, ps in dels.items()
            if bucket_ids is None or int(b) in bucket_ids
            for p in ps
        ]
        if del_paths and self.key_columns:
            keys = list(self.key_columns)
            key_schema = T.StructType(
                [f for f in schema.fields if f.name in keys]
            )
            ver = F.regexp_extract(
                F.input_file_name(), r"v_(\d{8})/(?:del_)?b_\d{5}", 1
            ).cast("long")
            tomb = (
                spark.read.schema(key_schema)
                .parquet(*del_paths)
                .withColumn("__graft_tv", ver)
                .groupBy(*keys)
                .agg(F.max("__graft_tv").alias("__graft_tv"))
            )
            df = (
                df.withColumn("__graft_dv", ver)
                .join(tomb, on=keys, how="left")
                .filter(
                    F.col("__graft_tv").isNull()
                    | (F.col("__graft_tv") <= F.col("__graft_dv"))
                )
                .select(*[f.name for f in schema.fields])
            )
        return df

    @staticmethod
    def _zone_keep(dir_stats: dict | None, where: list[tuple]) -> bool:
        if not dir_stats:
            return True  # no stats recorded: never prune
        for col, op, value in where:
            mm = dir_stats.get(col)
            if mm is None:
                continue
            if not _zone_overlaps(mm[0], mm[1], op, value):
                return False
        return True

    @staticmethod
    def _residual_filter(df: DataFrame, where: list[tuple]) -> DataFrame:
        # zone maps only SKIP dirs; matching dirs still need the exact
        # row-level predicate (pushed into the parquet scan by Catalyst)
        for col, op, value in where:
            c = F.col(col)
            if op == "=":
                df = df.filter(c == value)
            elif op == "<":
                df = df.filter(c < value)
            elif op == "<=":
                df = df.filter(c <= value)
            elif op == ">":
                df = df.filter(c > value)
            elif op == ">=":
                df = df.filter(c >= value)
            elif op == "between":
                df = df.filter(c.between(value[0], value[1]))
        return df

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        where: list[tuple] | None = None,
    ) -> DataFrame:
        """Read a committed version. ``where`` is an optional list of
        ``(column, op, literal)`` conjuncts with op in ``= < <= > >=
        between`` — used twice: manifest zone maps (footer min/max per
        data dir, collected at commit) skip whole directories before
        Spark ever lists them, and the same predicate is applied
        row-level so results are exact. On a time-partitioned 100 TB
        table this turns ``ts BETWEEN`` queries into reads of only the
        commits whose range intersects — the Iceberg
        min/max-manifest-pruning behavior."""
        v = self.current_version() if version is None else version
        if v == 0:
            raise FileNotFoundError(f"table {self.name} has no committed version")
        if not os.path.exists(self._manifest_path(v)):
            raise FileNotFoundError(
                f"table {self.name} version {v} has been expired"
            )
        if where:
            bad = [w for w in where if len(w) != 3 or w[1] not in _PRUNE_OPS]
            if bad:
                raise ValueError(f"unsupported where conjuncts: {bad}")
        df = self._read_manifest_buckets(
            spark, self._load_manifest(v), where=where or None
        )
        return self._residual_filter(df, where) if where else df

    def lookup(self, spark: SparkSession, key: dict) -> DataFrame:
        """Point read by full primary key: computes the key's hash
        bucket driver-side and reads ONLY that bucket's file list (then
        zone-map + row filters within it) — O(1/num_buckets) of the
        table, the serving path for CDC state queries."""
        if set(key) != set(self.key_columns):
            raise ValueError(
                f"lookup requires the full key {self.key_columns}, got {list(key)}"
            )
        manifest = self._load_manifest(self.current_version())
        schema = T.StructType.fromJson(json.loads(manifest["schema"]))
        types = {f.name: f.dataType for f in schema.fields}
        row = spark.createDataFrame(
            [tuple(key[k] for k in self.key_columns)], list(self.key_columns)
        ).select(
            *[F.col(k).cast(types[k]).alias(k) for k in self.key_columns]
        )
        # integral widths hash identically under xxhash64 (all widened
        # to long); float/decimal keys do NOT, hence the cast above to
        # the table's exact stored type
        b = row.select(
            F.pmod(
                F.xxhash64(*[F.col(k) for k in self.key_columns]),
                F.lit(self.num_buckets),
            ).alias("b")
        ).collect()[0]["b"]
        where = [(k, "=", v) for k, v in key.items()]
        df = self._read_manifest_buckets(
            spark, manifest, bucket_ids={int(b)}, where=where
        )
        return self._residual_filter(df, where)

    def data_files(self, version: int | None = None) -> list[str]:
        """Parquet files of a committed version (metadata-table peek)."""
        v = self.current_version() if version is None else version
        manifest = self._load_manifest(v)
        files = []
        for ps in manifest["buckets"].values():
            for p in ps:
                d = os.path.join(self.dir, p)
                files.extend(
                    os.path.join(d, f)
                    for f in os.listdir(d)
                    if f.endswith(".parquet")
                )
        return sorted(files)

    # -- change data feed (Delta CDF / Iceberg changelog equivalent) ---------

    def changes(
        self, spark: SparkSession, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Row-level change feed between two committed versions:
        the current state of every key that was inserted/updated/
        deleted, tagged ``_change_type ∈ {insert, update, delete}``
        (update rows carry the NEW image). Computed as a full outer
        join of the two snapshots on the key — one shuffle on the key
        on each side; rows identical in both versions are dropped
        before anything wide is materialized. This is the read side of
        CDC: downstream consumers resync from a version instead of
        replaying the topic."""
        if not self.key_columns:
            raise ValueError(f"changes() on {self.name} requires key columns")
        to_version = self.current_version() if to_version is None else to_version
        keys = list(self.key_columns)
        new = self.read(spark, to_version)
        # align the old snapshot to the new schema so a null-filled
        # evolved column never reads as a spurious update
        old = self._align(self.read(spark, from_version), new.schema)
        value_cols = [c for c in new.columns if c not in keys]
        o = old.select(
            *keys, F.struct(*[F.col(c) for c in value_cols]).alias("__ov")
        )
        n = new.select(*keys, F.struct(*[F.col(c) for c in value_cols]).alias("__nv"))
        j = o.join(n, on=keys, how="full_outer")
        classified = j.select(
            *keys,
            F.when(F.col("__ov").isNull(), F.lit("insert"))
            .when(F.col("__nv").isNull(), F.lit("delete"))
            # native null-safe struct comparison: a string render would
            # collide NULL with 'null' and on separator-bearing values
            .when(~F.col("__ov").eqNullSafe(F.col("__nv")), "update")
            .otherwise(F.lit(None))
            .alias("_change_type"),
            "__nv",
        ).filter(F.col("_change_type").isNotNull())
        out_vals = [
            F.col(f"__nv.{c}").alias(c) for c in value_cols
        ]
        return classified.select(*keys, *out_vals, "_change_type")

    # -- metadata tables (Iceberg $snapshots / $files equivalents) -----------

    def snapshots(self, spark: SparkSession) -> DataFrame:
        """The ``<table>$snapshots`` metadata table (what the
        reference's snapshot_mgmt.py queries through Trino to pick
        expiry victims): one row per RETAINED commit with version,
        operation, commit time, and liveness of its manifest."""
        rows = [
            (
                int(c["version"]),
                str(c.get("operation", "")),
                float(c.get("committed_at", 0.0)),
                os.path.exists(self._manifest_path(int(c["version"]))),
            )
            for c in self.versions()
        ]
        schema = T.StructType(
            [
                T.StructField("version", T.LongType()),
                T.StructField("operation", T.StringType()),
                T.StructField("committed_at", T.DoubleType()),
                T.StructField("is_retained", T.BooleanType()),
            ]
        )
        return spark.createDataFrame(rows, schema)

    def files(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """The ``<table>$files`` metadata table: one row per live data
        file of a committed version — bucket, path, size, and the
        dir-level zone-map bounds serialized as JSON. Driver cost is
        one manifest read + directory listings (metadata only)."""
        v = self.current_version() if version is None else version
        manifest = self._load_manifest(v)
        stats = manifest.get("stats", {})
        rows = []
        # content mirrors Iceberg's $files: 0 = data, 2 = equality
        # deletes (merge-on-read key tombstones)
        listing = [(0, manifest["buckets"]), (2, manifest.get("deletes", {}))]
        for content, bucket_map in listing:
            for b, ps in bucket_map.items():
                for p in ps:
                    d = os.path.join(self.dir, p)
                    zone = json.dumps(
                        stats.get(p, {}), default=str, sort_keys=True
                    )
                    for fname in sorted(os.listdir(d)):
                        if fname.endswith(".parquet"):
                            fp = os.path.join(d, fname)
                            rows.append(
                                (
                                    int(b),
                                    content,
                                    f"{p}/{fname}",
                                    int(os.path.getsize(fp)),
                                    zone,
                                )
                            )
        schema = T.StructType(
            [
                T.StructField("bucket", T.IntegerType()),
                T.StructField("content", T.IntegerType()),
                T.StructField("file_path", T.StringType()),
                T.StructField("size_bytes", T.LongType()),
                T.StructField("zone_map", T.StringType()),
            ]
        )
        return spark.createDataFrame(rows, schema)

    # -- schema evolution ----------------------------------------------------

    # lossless widening chains the parquet reader supports reading OLD
    # files through the WIDER manifest schema (verified by probe +
    # test): Iceberg's permitted schema-evolution promotions
    _WIDEN_CHAINS = (
        (T.ByteType(), T.ShortType(), T.IntegerType(), T.LongType()),
        (T.FloatType(), T.DoubleType()),
    )

    @classmethod
    def _widens_to(cls, narrow: T.DataType, wide: T.DataType) -> bool:
        for chain in cls._WIDEN_CHAINS:
            if narrow in chain and wide in chain:
                return chain.index(narrow) < chain.index(wide)
        return False

    def _evolved_schema(self, old: T.StructType, incoming: T.StructType) -> T.StructType:
        by_name = {f.name: f for f in old.fields}
        fields = list(old.fields)
        for f in incoming.fields:
            have = by_name.get(f.name)
            if have is None:
                fields.append(T.StructField(f.name, f.dataType, True))
            elif have.dataType != f.dataType:
                if self._widens_to(have.dataType, f.dataType):
                    # adopt the wider type; old files up-cast on read
                    i = next(
                        j for j, g in enumerate(fields) if g.name == f.name
                    )
                    fields[i] = T.StructField(f.name, f.dataType, True)
                elif self._widens_to(f.dataType, have.dataType):
                    pass  # incoming narrower: _align casts it up losslessly
                else:
                    raise ValueError(
                        f"table {self.name}: column '{f.name}' type change "
                        f"{have.dataType.simpleString()} -> {f.dataType.simpleString()} "
                        "is not supported (only lossless widening, e.g. "
                        "int->long / float->double, or adding columns)"
                    )
        return T.StructType(fields)

    @staticmethod
    def _align(df: DataFrame, schema: T.StructType) -> DataFrame:
        have = {f.name: f.dataType for f in df.schema.fields}
        cols = []
        for f in schema.fields:
            if f.name not in have:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
            elif have[f.name] != f.dataType:
                cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
            else:
                cols.append(F.col(f.name))
        return df.select(*cols)

    # -- writes --------------------------------------------------------------

    def overwrite(self, df: DataFrame) -> int:
        staged, sb = self._stage_bucketed(df)
        return self._commit(staged, sb, "overwrite", df.schema, "replace_all")

    def append(self, df: DataFrame, token: str | None = None) -> int:
        """Add files only — never rewrites existing data, even when the
        incoming schema adds columns (the manifest schema evolves; old
        files null-fill on read).

        ``token``: idempotency key — if a committed version already
        carries it, the append is a no-op (at-least-once replay safety
        for foreachBatch sinks)."""
        if token is not None and token in self.committed_tokens():
            return self.current_version()
        if not self.exists():
            staged, sb = self._stage_bucketed(df)
            return self._commit(staged, sb, "append", df.schema, "replace_all", token=token)
        old_schema = T.StructType.fromJson(
            json.loads(self._load_manifest(self.current_version())["schema"])
        )
        schema = self._evolved_schema(old_schema, df.schema)
        staged, sb = self._stage_bucketed(self._align(df, schema))
        return self._commit(staged, sb, "append", schema, "append", token=token)

    def merge(
        self,
        upserts: DataFrame,
        keys: list[str] | None = None,
        deletes: DataFrame | None = None,
        validate_unique_keys: bool = True,
        token: str | None = None,
        mode: str = "cow",
    ) -> int:
        """Keyed upsert + optional delete — one bucket-scoped MERGE commit.

        ``upserts`` must contain at most one row per key (reduce a CDC
        batch with :func:`flink_stream_spark.cdc.last_per_key` first);
        each row replaces-or-inserts its key. ``deletes`` (key columns
        only) removes keys — Iceberg v2 equality-delete equivalent.

        ``mode='cow'`` (copy-on-write, default): cost is O(touched
        buckets) — only buckets containing a changed key are read and
        rewritten (``current LEFT ANTI touched_keys`` ∪ upserts, one
        shuffle on the key / broadcast under AQE); untouched buckets
        carry forward in the manifest untouched. The only driver
        materialization is one row per touched bucket (<= num_buckets
        rows — commit metadata, same as an Iceberg manifest rewrite),
        from ONE aggregate over upserts ∪ deletes. When that set is
        empty on an existing table the merge commits nothing and
        returns the current version. A wide CDC batch that touches every bucket
        costs a full-table rewrite (measured: tools/merge_probe.py).

        ``mode='mor'`` (merge-on-read — the reference's Iceberg v2
        ``write.upsert.enabled`` equality-delete path,
        flink_json_to_iceberg.py:61-71): the commit writes ONLY the new
        rows plus one compact key-tombstone file per touched bucket —
        cost O(|batch|), independent of table size. Reads anti-join the
        tombstones (version-sequenced, so same-commit rows survive
        their own tombstone and later re-inserts resurrect the key);
        ``compact()`` folds spent tombstones back into the data files.
        Falls back to COW when the merge keys are not the bucketing
        keys (tombstones are bucket-scoped) or when the merge adopts
        keys on a keyless table.

        The at-most-one-row-per-key contract is ENFORCED (a duplicate
        key would otherwise anti-join away every old row for the key
        and then union in every incoming copy, silently breaking the
        primary-key invariant); the check rides the upserts ∪ deletes
        aggregate that computes the touched-bucket set, so it costs no
        extra pass (only a failing check runs one more query, to name
        the key).
        Pass ``validate_unique_keys=False`` only for inputs already
        reduced by ``last_per_key``.
        """
        if mode not in ("cow", "mor"):
            raise ValueError(f"merge mode must be 'cow' or 'mor', got {mode!r}")
        keys = keys or self.key_columns
        if not keys:
            raise ValueError(f"merge into {self.name} requires key columns")
        if token is not None and token in self.committed_tokens():
            return self.current_version()
        rebucket = False
        if not self.key_columns:
            # first keyed write into a keyless table: adopt the merge
            # keys as the bucketing keys (persisted at commit). If the
            # table already HAS data, it all lives in bucket 0 under
            # the keyless layout — the whole table must be re-bucketed
            # in this commit, or old rows would survive in bucket 0
            # next to their hashed upserts (duplicate keys)
            self.key_columns = list(keys)
            rebucket = self.exists()
        # bucket pruning is sound only when merging on the bucketing
        # keys; merging on other columns falls back to all-buckets
        pruned = list(keys) == list(self.key_columns) and not rebucket
        spark = upserts.sparkSession
        # the upserts plan is consumed by 2-3 actions (touched-bucket
        # aggregate, optional dup probe, staging write): cache it so a
        # non-deterministic or expensive input cannot desync the
        # touched set from the staged data
        upserts = upserts.persist()
        if deletes is not None:
            deletes = deletes.persist()
        bucket_of_keys = F.pmod(
            F.xxhash64(*[F.col(k) for k in keys]), F.lit(self.num_buckets)
        )

        try:
            # ONE small aggregate over upserts ∪ deletes: the touched
            # buckets and, when validating, each bucket's max upsert
            # count of one key (a delete row counts 0: it touches
            # without duplicating)
            tagged = upserts.select(*keys, F.lit(1).alias("__u"))
            if deletes is not None:
                tagged = tagged.unionByName(deletes.select(*keys, F.lit(0).alias("__u")))
            tagged = tagged.withColumn("__b", bucket_of_keys)
            if validate_unique_keys:
                tagged = tagged.groupBy("__b", *keys).agg(F.sum("__u").alias("__u"))
            per_bucket = (
                tagged.groupBy("__b").agg(F.max("__u").alias("max_dup")).collect()
            )
            if validate_unique_keys and any(r["max_dup"] > 1 for r in per_bucket):
                dup = (
                    upserts.groupBy(*keys)
                    .count()
                    .filter(F.col("count") > 1)
                    .limit(1)
                    .collect()
                )
                kv = {k: dup[0][k] for k in keys}
                raise ValueError(
                    f"merge into {self.name}: upserts contain >1 row for key "
                    f"{kv}; reduce with cdc.last_per_key first"
                )
            touched = {int(r["__b"]) for r in per_bucket}
            if not touched and self.exists() and not rebucket:
                return self.current_version()  # nothing to change: no empty commit
            touched_keys = upserts.select(*keys)
            if deletes is not None:
                touched_keys = touched_keys.unionByName(deletes.select(*keys))

            if not self.exists():
                staged, sb = self._stage_bucketed(upserts)
                return self._commit(
                    staged, sb, "merge", upserts.schema, "replace_all", token=token
                )

            manifest = self._load_manifest(self.current_version())
            old_schema = T.StructType.fromJson(json.loads(manifest["schema"]))
            schema = self._evolved_schema(old_schema, upserts.schema)

            if mode == "mor" and pruned:
                # merge-on-read: never read or rewrite existing data —
                # stage the new rows as an append plus ONE key-tombstone
                # dir per touched bucket. The tombstone carries the
                # batch's key set (upserts ∪ deletes); the read path
                # suppresses matching rows of strictly-older commits.
                staged, sb = self._stage_bucketed(self._align(upserts, schema))
                staged_del = self._stage_bucketed(
                    touched_keys.select(*keys).distinct()
                )
                return self._commit(
                    staged,
                    sb,
                    "merge",
                    schema,
                    "append",
                    touched,
                    token=token,
                    staged_deletes=staged_del,
                )

            if not pruned:
                touched = {int(b) for b in manifest["buckets"]} | touched
            # read ONLY the touched buckets' current data
            cur = self._read_manifest_buckets(spark, manifest, touched)
            survivors = cur.join(touched_keys, on=keys, how="left_anti")
            merged = self._align(survivors, schema).unionByName(
                self._align(upserts, schema)
            )
            staged, sb = self._stage_bucketed(merged)
            if rebucket:
                # adopting keys on a non-empty keyless table: the whole
                # table was just re-bucketed; publish a fresh bucket map
                return self._commit(
                    staged, sb, "merge", schema, "replace_all", token=token
                )
            # a COW rewrite reads WITH tombstones applied and replaces
            # every dir of the touched buckets — their tombstones are
            # spent and folded here
            return self._commit(
                staged, sb, "merge", schema, "replace", touched, token=token,
                drop_deletes=touched,
            )
        finally:
            upserts.unpersist()
            if deletes is not None:
                deletes.unpersist()

    def delete_where(self, spark: SparkSession, where: list[tuple]) -> int:
        """Row-level predicate delete (Iceberg ``DELETE FROM ... WHERE``):
        only data dirs whose zone map INTERSECTS the predicate are read
        and rewritten; provably-unmatched dirs — even inside a touched
        bucket — carry forward verbatim. A retention delete
        (``ts < cutoff``) on a time-correlated table therefore rewrites
        only the old commits' files. Returns the new version (current
        version if nothing can match)."""
        bad = [w for w in where if len(w) != 3 or w[1] not in _PRUNE_OPS]
        if bad:
            raise ValueError(f"unsupported where conjuncts: {bad}")
        if not self.exists():
            return 0
        base_v = self.current_version()
        manifest = self._load_manifest(base_v)
        stats = manifest.get("stats", {})
        # DIR-granular scoping: only dirs whose zone map intersects the
        # predicate are read/rewritten; a touched bucket's clean dirs
        # are carried forward verbatim in the new manifest
        hit: dict[int, list[str]] = {}
        carry: dict[int, list[str]] = {}
        for b, ps in manifest["buckets"].items():
            hits = [p for p in ps if self._zone_keep(stats.get(p), where)]
            if hits:
                hit[int(b)] = hits
                carry[int(b)] = [p for p in ps if p not in hits]
        touched = set(hit)
        if not touched:
            return self.current_version()
        schema = T.StructType.fromJson(json.loads(manifest["schema"]))
        # tombstones for the hit buckets ride along so already-deleted
        # rows never enter the rewrite (the rewrite's new version would
        # otherwise outrank their tombstones and resurrect them);
        # entries are RETAINED in the new manifest — carried dirs still
        # need them, and rewritten dirs outrank them harmlessly
        hit_manifest = {
            "schema": manifest["schema"],
            "buckets": {str(b): ps for b, ps in hit.items()},
            "deletes": {
                b: ps
                for b, ps in manifest.get("deletes", {}).items()
                if int(b) in hit
            },
        }
        cur = self._read_manifest_buckets(spark, hit_manifest)
        cond = None
        for col, op, value in where:
            c = F.col(col)
            conj = {
                "=": lambda: c == value,
                "<": lambda: c < value,
                "<=": lambda: c <= value,
                ">": lambda: c > value,
                ">=": lambda: c >= value,
                "between": lambda: c.between(value[0], value[1]),
            }[op]()
            cond = conj if cond is None else (cond & conj)
        # survivors = rows NOT matching; NULL predicate values don't
        # match a comparison, so they survive (SQL DELETE semantics)
        survivors = cur.filter(~cond | cond.isNull())
        staged, sb = self._stage_bucketed(self._align(survivors, schema))
        return self._commit(
            staged, sb, "delete", schema, "replace", touched, carry=carry,
            expected_version=base_v,
        )

    def compact(self, spark: SparkSession, min_files: int = 2) -> int:
        """Rewrite buckets whose file-list has grown past ``min_files``
        appends into a single fresh file set — Iceberg's rewrite_data_files
        maintenance action. Buckets under the threshold carry forward
        untouched; a no-op returns the current version without a commit.
        Run this periodically on streaming-append tables (each
        micro-batch adds one file per touched bucket)."""
        if not self.exists():
            return 0
        base_v = self.current_version()
        manifest = self._load_manifest(base_v)
        schema = T.StructType.fromJson(json.loads(manifest["schema"]))
        # merge-on-read tombstone dirs count toward the threshold: each
        # MoR merge adds one data dir AND one delete dir per touched
        # bucket, and folding the tombstones is half of compaction's job
        dels = manifest.get("deletes", {})
        touched = {
            int(b)
            for b, ps in manifest["buckets"].items()
            if len(ps) + len(dels.get(b, [])) >= min_files
        }
        if not touched:
            return base_v
        merged = self._read_manifest_buckets(spark, manifest, touched)
        staged, sb = self._stage_bucketed(self._align(merged, schema))
        # the rewrite read with tombstones applied and replaces every
        # dir of the touched buckets — their tombstones are spent
        return self._commit(
            staged, sb, "compact", schema, "replace", touched,
            expected_version=base_v, drop_deletes=touched,
        )

    def maybe_compact(
        self, spark: SparkSession, max_files_per_bucket: int = 16
    ) -> int | None:
        """Threshold-triggered compaction for streaming-append tables —
        the small-files guard: every micro-batch append adds one file
        per touched bucket, so an always-on stream degrades reads
        O(epochs) without maintenance. One manifest read (driver
        metadata, no Spark job) decides; the rewrite runs only when
        some bucket's file list has passed the threshold. Call it from
        the foreachBatch tail — amortized cost is one bucket rewrite
        per ``max_files_per_bucket`` epochs. Returns the new version
        when compaction ran, else None."""
        if not self.exists():
            return None
        manifest = self._load_manifest(self.current_version())
        if not manifest["buckets"]:
            return None
        dels = manifest.get("deletes", {})
        worst = max(
            len(ps) + len(dels.get(b, []))
            for b, ps in manifest["buckets"].items()
        )
        if worst < max_files_per_bucket:
            return None
        # compact ONLY the over-threshold buckets (min_files = the
        # threshold): rewriting every >=2-dir bucket here would be a
        # near-full-table rewrite inside a foreachBatch tail, breaking
        # the one-bucket-per-N-epochs amortization this guard promises
        return self.compact(spark, min_files=max_files_per_bucket)

    def zorder(
        self,
        spark: SparkSession,
        cols: list[str],
        max_records_per_file: int | None = None,
    ) -> int:
        """Z-order-cluster the table on ``cols`` (Delta/Iceberg
        ``OPTIMIZE ... ZORDER BY`` equivalent): rewrites every bucket
        with rows ordered by the Morton interleaving of the clustered
        columns, so per-file zone maps become tight on EVERY clustered
        column simultaneously — a linear sort gives file-skipping only
        on its leading column; Z-order gives it on all of them. Combine
        with ``max_records_per_file`` so each bucket splits into enough
        files for the pruning to have granularity.

        Cost: one full-table rewrite (a maintenance action, like
        compact — run it off the ingest path). Column ranges for the
        normalization are one tiny aggregate (2×|cols| scalars to the
        driver, commit metadata scale). Numeric and timestamp columns
        only; 2–4 columns (16 bits of resolution each)."""
        if not (2 <= len(cols) <= 4):
            raise ValueError("zorder requires 2-4 columns")
        if not self.exists():
            return 0
        base_v = self.current_version()
        manifest = self._load_manifest(base_v)
        schema = T.StructType.fromJson(json.loads(manifest["schema"]))
        cur = self._read_manifest_buckets(spark, manifest)
        # normalization ranges come from the manifest's dir-level zone
        # maps (driver-side fold, zero Spark jobs) — the footers were
        # already read at commit time; only columns missing numeric
        # stats in some dir fall back to one aggregate scan
        dirs = [p for ps in manifest["buckets"].values() for p in ps]
        stats = manifest.get("stats", {})
        ranges: dict[str, tuple] = {}
        missing: list[str] = []
        for c in cols:
            mms = [stats.get(p, {}).get(c) for p in dirs]
            if mms and all(
                mm is not None
                and isinstance(mm[0], (int, float))
                and not isinstance(mm[0], bool)
                for mm in mms
            ):
                ranges[c] = (
                    float(min(mm[0] for mm in mms)),
                    float(max(mm[1] for mm in mms)),
                )
            else:
                missing.append(c)
        types = {f.name: f.dataType for f in schema.fields}
        bad = [c for c in cols if c not in types]
        if bad:
            raise ValueError(f"zorder columns not in table schema: {bad}")
        if missing:
            aggs = []
            for c in missing:
                # same per-type numeric view as the Morton key (and a
                # try_cast for plain columns: a non-numeric column
                # yields NULL range and contributes no Morton bits —
                # ANSI cast would throw)
                n = _zorder_numeric(c, types[c])
                aggs += [F.min(n).alias(f"mn_{c}"), F.max(n).alias(f"mx_{c}")]
            rng = cur.agg(*aggs).collect()[0]
            for c in missing:
                ranges[c] = (rng[f"mn_{c}"], rng[f"mx_{c}"])
        z = _morton_expr(cols, ranges, types)
        touched = {int(b) for b in manifest["buckets"]}
        staged, sb = self._stage_bucketed(
            self._align(cur, schema),
            sort_exprs=[z],
            max_records_per_file=max_records_per_file,
        )
        # full-table rewrite with tombstones applied: all spent
        return self._commit(
            staged, sb, "zorder", schema, "replace", touched,
            expected_version=base_v, drop_deletes=touched,
        )

    # -- maintenance (reference snapshot_mgmt.py equivalent) ------------------

    def expire_snapshots(self, retain_last: int = 1, older_than_s: float | None = None) -> int:
        """Expire old snapshots: drop their manifests (ending time
        travel to them) and garbage-collect data files no retained
        manifest references. Keeps the newest ``retain_last`` versions
        and anything newer than ``older_than_s`` seconds ago. Returns
        the number of snapshots expired.

        ``retain_last`` is clamped to >= 1: the CURRENT snapshot is
        never expirable (retain_last=0 would GC every live data file —
        Iceberg clamps identically)."""
        retain_last = max(1, retain_last)
        cur = self.current_version()
        removed = 0
        now = time.time()
        ages = {c["version"]: c.get("committed_at", now) for c in self.versions()}
        retained: list[int] = []
        for v in range(1, cur + 1):
            if not os.path.exists(self._manifest_path(v)):
                continue  # already expired
            expirable = v <= cur - retain_last and not (
                older_than_s is not None and now - ages.get(v, now) < older_than_s
            )
            if expirable:
                os.remove(self._manifest_path(v))
                removed += 1
            else:
                retained.append(v)
        # GC: any v_*/b_* dir not referenced by a retained manifest
        # (merge-on-read delete dirs are referenced paths too — a
        # carried tombstone must survive expiry of the commit that
        # wrote it, exactly like a carried data dir)
        referenced: set[str] = set()
        for v in retained:
            m = self._load_manifest(v)
            for ps in m["buckets"].values():
                referenced.update(ps)
            for ps in m.get("deletes", {}).values():
                referenced.update(ps)
        for d in os.listdir(self.dir):
            vdir = os.path.join(self.dir, d)
            if not (d.startswith("v_") and os.path.isdir(vdir)):
                continue
            for sub in os.listdir(vdir):
                p = os.path.join(vdir, sub)
                if os.path.isdir(p) and f"{d}/{sub}" not in referenced:
                    shutil.rmtree(p)
            # only write-marker files left (_SUCCESS etc.) -> drop the dir
            if not any(
                os.path.isdir(os.path.join(vdir, s)) for s in os.listdir(vdir)
            ):
                shutil.rmtree(vdir)
        return removed


class Warehouse:
    """A database of managed tables + catalog introspection.

    Mirrors the reference's catalog/database DDL surface
    (CREATE CATALOG / CREATE DATABASE / USE / SHOW TABLES —
    flink_json_to_iceberg.py:28-57, snapshot_mgmt.py:13-14)."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._keys_path = os.path.join(root, "_table_keys.json")

    def _load_keys(self) -> dict:
        if os.path.exists(self._keys_path):
            with open(self._keys_path) as f:
                return json.load(f)
        return {}

    def _save_keys(self, keys: dict) -> None:
        tmp = self._keys_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(keys, f)
        os.replace(tmp, self._keys_path)

    def table(
        self,
        name: str,
        key_columns: list[str] | None = None,
        num_buckets: int | None = None,
    ) -> ManagedTable:
        reg = self._load_keys()
        if key_columns is not None:
            reg[name] = key_columns
            self._save_keys(reg)
        return ManagedTable(self.root, name, reg.get(name), num_buckets=num_buckets)

    def list_tables(self) -> list[str]:
        out = []
        for d in sorted(os.listdir(self.root)):
            if os.path.isdir(os.path.join(self.root, d)) and not d.startswith("_"):
                out.append(d)
        return out

    def drop_table(self, name: str) -> None:
        d = os.path.join(self.root, name)
        if os.path.exists(d):
            shutil.rmtree(d)

    def register_views(self, spark: SparkSession, prefix: str = "") -> list[str]:
        """Expose every managed table's CURRENT version as a SQL temp
        view (`[prefix]<name>`) — the engine's stand-in for the
        reference's Trino query layer over the Iceberg catalog
        (snapshot_mgmt.py:13-14): after this, `spark.sql("SELECT ...
        FROM <name>")` works. Views are lazy plans over the committed
        manifest; re-register after new commits to see them."""
        names = []
        for t in self.list_tables():
            mt = self.table(t)
            if mt.exists():
                mt.read(spark).createOrReplaceTempView(f"{prefix}{t}")
                names.append(f"{prefix}{t}")
        return names

    def expire_all(self, retain_last: int = 1, older_than_s: float | None = None) -> dict:
        """Fleet-wide snapshot expiry (reference snapshot_mgmt.py:13-19
        loops information_schema tables the same way)."""
        return {
            t: self.table(t).expire_snapshots(retain_last, older_than_s)
            for t in self.list_tables()
        }
