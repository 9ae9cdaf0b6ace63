"""Snapshot-versioned parquet tables: Iceberg's table semantics re-expressed.

The reference's defining storage choice is Iceberg
(/root/reference/spark-data-pipeline/spark_job.py:47-64,126-145: catalog
config, snapshot commit on every write, CoW table properties). This container
ships no Iceberg runtime jar, so this module is the engine's table layer: it
gives plain parquet Iceberg's snapshot isolation, time travel, rollback and
compaction the same way Iceberg itself does: **immutable data files + a
metadata log that names which files each version sees**.

Layout (one table)::

    <root>/data/s<id>/part-*.parquet    immutable file set added by commit <id>
    <root>/metadata/snapshots.json      ordered commit log (the "metadata log")
    <root>/metadata/manifest-s<id>.json per-file column min/max stats for the
                                        files commit <id> added (the "manifest")

The log is an add/remove log: each entry records only what its commit
changed, in one of two shapes.

- A **delta** entry holds ``add`` (paths that become visible), ``remove``
  (paths that stop being visible) and ``add_deletes`` (new merge-on-read
  deletes), plus its op fields (``batch_id``, ``props``, ``spec``, ...).
  Appends, CoW rewrites, MOR deletes and metadata-only ops write deltas.
  A CoW rewrite removes each visible path it touched and adds back that
  path's untouched files, so replaying the log never lists a directory.
- A **full-state** entry holds ``dirs`` (the whole visible set) and
  optional ``deletes``. Only commits that replace the visible set write
  one: overwrite, compaction, full clustering, rollback.

One fold (``SnapshotTable._states``) replays the entries in commit order
and is the only code that turns them into a version's state: its visible
``dirs`` (data directories or, after a CoW rewrite split a directory,
individual files) and its pending ``deletes``. A new eq/pred delete is
scoped to the dirs visible at its parent, so no entry stores that list.
Reads resolve a version to its dirs and hand Spark a multi-path parquet
scan — partition pruning, pushdown and column pruning all still apply, and
executors never touch the metadata log (it is a driver-side pointer swap,
exactly Iceberg's commit model). This is the action-log shape of Delta
Lake's transaction log and of Structured Streaming's file-sink log.

Manifests make the two scale features possible without touching data bytes:

- **scan pruning** (`read_where`): drop whole files whose [min,max] cannot
  satisfy a range predicate — Iceberg's manifest-level file skipping. The
  stats come from parquet FOOTERS at commit time (metadata-only read, no
  data pages), cost O(files-per-commit) on the driver.
- **copy-on-write at file granularity** (`merge`/`delete_where`): only files
  whose key range intersects the change set are rewritten; every other file
  is carried forward by reference. At 100 TB a 1%-overlap upsert rewrites
  ~1% of the table instead of all of it.

Commits use Iceberg's optimistic-concurrency protocol: data files are
written outside any lock, then the metadata swap happens under a short
exclusive lock (O_CREAT|O_EXCL lock file). Delta entries commute with any
commit that lands first, so appends need no validation; rewrite-shaped
commits (merge/delete/compact/cluster) validate they still sit on the
version they read and raise :class:`SnapshotConflict` to be retried
otherwise. The streaming path (``append_batch``) remains
one-writer-per-checkpoint by construction, as a checkpointed stream is.

Feature map (each row test-gated; see COVERAGE.md's Iceberg-parity matrix):

- time travel / rollback / history / changelog / incremental (CDC) reads
  + checkpointed ``SnapshotFeed`` and additive-rollup maintenance
- manifests with per-file min/max → file-skipping scans (``read_where``,
  ``read_where_in``, ``read_where_all``), metadata-only ``fast_count`` /
  ``fast_min_max`` / ``partitions()``
- two-tier bloom filters: native parquet blooms at write + driver-side
  sidecar blooms pruning whole FILES on point lookups
- hidden partitioning (days/hours/months/bucket/truncate/identity) with
  PARTITION EVOLUTION (coexisting spec epochs, all pruned correctly)
- schema evolution: add (mergeSchema), RENAME and DROP metadata-only,
  epoch-mapped reads, stale-writer refusal
- row-level ops at file granularity: CoW MERGE / UPDATE / DELETE; the
  full merge-on-read v2 delete triple (predicate, equality incl.
  composite keys, positional via ``_metadata`` row positions)
- CHECK constraints enforced write-side, batch-atomic
- branches + tags + write-audit-publish, ``refs`` metadata table
- multi-table transactions (intent log + crash recovery), exactly-once
  streaming sinks keyed by batch id
- compaction, z-order clustering (full + incremental), snapshot
  expiration, orphan cleanup, policy-driven ``maintain_table``
- zero-copy metadata clones with root-scoped maintenance safety
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class SnapshotError(Exception):
    pass


class SnapshotConflict(SnapshotError):
    """A rewrite-shaped commit (merge/delete/compact/cluster) raced a
    concurrent commit: the table moved past the version the rewrite read.
    Re-read and retry — committing anyway would silently drop the rows the
    concurrent commit added to the rewritten files."""


def _json_stat(v):
    """Parquet footer min/max → JSON-storable, order-preserving value.

    Temporal values become ISO strings (lexicographic order == temporal
    order within one column, since every value of a column renders at the
    same precision); bytes are dropped (no meaningful range order for
    pruning)."""
    if isinstance(v, _dt.datetime):
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (bool, int, float, str)):
        return v
    return None


def _overlaps(fmin, fmax, lo, hi) -> bool:
    """Can a file with column range [fmin,fmax] contain a value in [lo,hi]?
    None bound = unbounded on that side. Conservative: incomparable types
    (mixed str/number) → True (never prune on uncertainty)."""
    try:
        if lo is not None and fmax is not None and fmax < lo:
            return False
        if hi is not None and fmin is not None and fmin > hi:
            return False
    except TypeError:
        return True
    return True


#: File-level bloom filters (the sidecar tier of the two-tier design —
#: Iceberg's `write.parquet.bloom-filter-enabled.column.<col>` property):
#: 7 probes ≈ the optimum for ~10 bits/value, giving ~1% false positives.
_BLOOM_K = 7
_BLOOM_MIN_BITS = 1 << 13  # 1 KiB floor per (file, column)
_BLOOM_MAX_BITS = 1 << 21  # 256 KiB cap — beyond ~200k distinct values per
#                            file the FPP degrades gracefully toward "keep"
#                            (never toward wrong pruning)


def _bloom_canon(v) -> str | None:
    """Canonical string a bloom value hashes as, or None if the type is not
    bloom-eligible. Integers (including numpy scalars) and strings only —
    floats/temporals have unstable renderings across engines, and a canon
    mismatch between build and probe would cause WRONG pruning, so they are
    excluded rather than risked. A None canon always means 'cannot prune'."""
    if v is None or isinstance(v, bool):
        return None
    if isinstance(v, str):
        return v
    import numbers

    if isinstance(v, numbers.Integral):
        return str(int(v))
    return None


def _bloom_positions(canon: str, m: int) -> list[int]:
    """k bit positions via double hashing over one sha1 digest — stable
    across processes (unlike Python's salted hash()) and identical on the
    executor (build) and driver (probe) sides by construction."""
    import hashlib

    d = hashlib.sha1(canon.encode("utf-8")).digest()
    h1 = int.from_bytes(d[:8], "little")
    h2 = int.from_bytes(d[8:16], "little") | 1
    return [(h1 + i * h2) % m for i in range(_BLOOM_K)]


def _bloom_hit(entry: dict, canon: str) -> bool:
    """May the file contain ``canon``? entry = {"m": bits, "bits": b64}."""
    import base64

    bits = base64.b64decode(entry["bits"])
    return all(
        bits[p >> 3] & (1 << (p & 7)) for p in _bloom_positions(canon, entry["m"])
    )


#: Hidden-partitioning transforms (Iceberg partition spec, table 28-1):
#: name → (derive_expr(col, arg), map_bound(value, arg) | None if not monotonic)
def _days_expr(c, _):
    return F.to_date(F.col(c))


def _hours_expr(c, _):
    return F.date_trunc("hour", F.col(c))


def _months_expr(c, _):
    return F.trunc(F.col(c), "month")


def _truncate_expr(c, w):
    return F.substring(F.col(c), 1, w)


def _truncate_num_expr(c, w):
    return (F.floor(F.col(c) / F.lit(w)) * F.lit(w)).cast("long")


def _bucket_expr(c, n):
    # hash the STRING rendering: xxhash64 is type-sensitive, and the point-
    # lookup side hashes a Python literal — casting both sides to string
    # guarantees the same bucket for the same logical value
    return F.pmod(F.xxhash64(F.col(c).cast("string")), F.lit(n))


class SnapshotTable:
    """One snapshot-versioned table rooted at ``root``.

    ``partition_spec`` (persisted in ``metadata/spec.json`` on first write)
    enables Iceberg-style HIDDEN partitioning: each entry is a transform
    over a source column —

    - ``("days"|"hours"|"months", col)`` — temporal bucketing
    - ``("truncate", col, width)`` — string prefix / numeric bin
    - ``("bucket", col, n)`` — hash bucket (xxhash64 mod n)
    - ``("identity", col)`` — the raw value

    Writers derive a ``__p_*`` column per transform, range-partition the
    batch on those columns and sort within partitions, so every data file
    covers a tight slice of partition-value space; the manifest then records
    exact per-file bounds for the derived columns. Readers never see the
    derived columns (``read`` drops ``__p_*``), and ``read_where`` maps a
    predicate on the SOURCE column into partition space to prune files —
    the user queries ``ts``, never ``days(ts)``, exactly Iceberg's contract.
    Unlike Hive-style dir trees this needs no directory explosion and keeps
    one multi-path scan."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        partition_spec: list[tuple] | None = None,
        ref: str = "main",
        bloom_cols: list[str] | None = None,
    ):
        self.spark = spark
        self.root = root
        self.ref = ref
        self._meta_path = os.path.join(
            root,
            "metadata",
            "snapshots.json" if ref == "main" else f"snapshots-{ref}.json",
        )
        self._refs_path = os.path.join(root, "metadata", "refs.json")
        self._spec_path = os.path.join(root, "metadata", "spec.json")
        self._dtype_cache: dict[tuple[str, int], str] = {}
        if os.path.exists(self._spec_path):
            with open(self._spec_path) as f:
                raw = json.load(f)
            if isinstance(raw, dict):
                self.partition_spec = [tuple(t) for t in raw.get("partitions", [])]
                self.bloom_cols = list(raw.get("bloom_cols", []))
            else:  # pre-bloom spec format: a bare partition-transform list
                self.partition_spec = [tuple(t) for t in raw]
                self.bloom_cols = list(bloom_cols or [])
        else:
            self.partition_spec = [tuple(t) for t in (partition_spec or [])]
            self.bloom_cols = list(bloom_cols or [])

    # -- hidden partitioning ----------------------------------------------
    def _persist_spec(self) -> None:
        if (self.partition_spec or self.bloom_cols) and not os.path.exists(
            self._spec_path
        ):
            os.makedirs(os.path.dirname(self._spec_path), exist_ok=True)
            tmp = self._spec_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(
                    {
                        "partitions": [list(t) for t in self.partition_spec],
                        "bloom_cols": self.bloom_cols,
                    },
                    f,
                )
            os.replace(tmp, self._spec_path)

    @staticmethod
    def _pname(t: tuple) -> str:
        return "__p_" + "_".join(str(x) for x in t)

    def _derive_expr(self, t: tuple, df: DataFrame):
        kind, col = t[0], t[1]
        if kind == "identity":
            return F.col(col)
        if kind == "days":
            return _days_expr(col, None)
        if kind == "hours":
            return _hours_expr(col, None)
        if kind == "months":
            return _months_expr(col, None)
        if kind == "truncate":
            is_str = dict(df.dtypes).get(col) == "string"
            return (_truncate_expr if is_str else _truncate_num_expr)(col, t[2])
        if kind == "bucket":
            return _bucket_expr(col, t[2])
        raise SnapshotError(f"unknown partition transform {t!r}")

    def _current_spec(self) -> list[tuple]:
        """The ACTIVE partition spec: the latest ``partition-spec`` commit
        if the table's spec ever evolved, else the construction-time spec.
        Writers derive layout from this; readers prune with every epoch's
        transforms (see _all_specs)."""
        for s in reversed(self._log()):
            if s["op"] == "partition-spec":
                return [tuple(t) for t in s["spec"]]
        return self.partition_spec

    def _all_specs(self) -> list[tuple]:
        """Union of every transform any spec epoch ever used (deduped).
        Pruning checks keyed on an epoch's ``__p_*`` name simply find no
        stats on files written under other epochs — absent stats never
        prune, so accumulating transforms is always safe and prunes each
        file exactly by the layout it was actually written with (Iceberg's
        partition-evolution read contract)."""
        seen: dict[str, tuple] = {self._pname(t): t for t in self.partition_spec}
        for s in self._log():
            if s["op"] == "partition-spec":
                for t in s["spec"]:
                    t = tuple(t)
                    seen.setdefault(self._pname(t), t)
        return list(seen.values())

    def evolve_partition_spec(self, new_spec: list[tuple]) -> int:
        """Metadata-only partition evolution (Iceberg's
        ``ALTER TABLE ... ADD/REPLACE PARTITION FIELD``): files already
        written keep their layout and keep pruning by it; every subsequent
        write lays out by ``new_spec``. No data moves — the two layouts
        coexist under one table, exactly Iceberg's model. Validated against
        unknown transform kinds before committing."""
        snap = self._snapshot(None)
        for t in new_spec:
            if t[0] not in ("identity", "days", "hours", "months", "truncate", "bucket"):
                raise SnapshotError(f"unknown partition transform {t!r}")
        entry = {"op": "partition-spec", "spec": [list(t) for t in new_spec]}
        return self._commit(entry, expected_parent=snap["id"])["id"]

    def _apply_layout(self, df: DataFrame, n_files: int | None = None) -> DataFrame:
        """Derive partition columns and lay the batch out so each output
        file covers a contiguous slice of partition-value space (range
        partition + in-file sort → tight manifest bounds)."""
        spec = self._current_spec()
        if not spec:
            return df
        self._persist_spec()
        pnames = []
        for t in spec:
            name = self._pname(t)
            df = df.withColumn(name, self._derive_expr(t, df))
            pnames.append(name)
        # explicit partition count: an implicit repartitionByRange is AQE-
        # coalescible, which at small batch sizes folds every partition value
        # into ONE file and defeats per-file pruning. Range partitioning
        # never splits one partition value, so empty slots cost nothing.
        n = n_files or int(self.spark.conf.get("spark.sql.shuffle.partitions", "200"))
        return df.repartitionByRange(n, *pnames).sortWithinPartitions(*pnames)

    @staticmethod
    def _strip_hidden(df: DataFrame) -> DataFrame:
        hidden = [c for c in df.columns if c.startswith("__p_")]
        return df.drop(*hidden) if hidden else df

    def _map_bound(self, t: tuple, v):
        """Source-column bound → partition-space bound, for MONOTONIC
        transforms only (bucket is handled separately, equality-only)."""
        kind = t[0]
        if v is None:
            return None
        if kind == "identity":
            return v
        if kind == "days":
            return v.date() if isinstance(v, _dt.datetime) else v
        if kind == "hours":
            return v.replace(minute=0, second=0, microsecond=0)
        if kind == "months":
            d = v.date() if isinstance(v, _dt.datetime) else v
            return d.replace(day=1)
        if kind == "truncate":
            return v[: t[2]] if isinstance(v, str) else (v // t[2]) * t[2]
        return None

    # -- metadata log ------------------------------------------------------
    def _log(self) -> list[dict]:
        if not os.path.exists(self._meta_path):
            return []
        with open(self._meta_path) as f:
            return json.load(f)

    @contextlib.contextmanager
    def _locked(self, timeout: float = 10.0, path: str | None = None):
        """Exclusive commit lock via O_CREAT|O_EXCL (atomic on POSIX and on
        the object-store gateways that emulate it). Held only for the
        metadata read-validate-swap — data writes happen OUTSIDE the lock,
        so contention cost is microseconds per commit regardless of batch
        size. A lock older than 60 s is presumed orphaned by a dead writer
        and broken (commits are metadata-only; no live holder keeps it
        that long). Breaking RENAMES the stale file to a unique tombstone
        rather than unlinking it: with unlink, two waiters could both pass
        the staleness check and the second would delete the lock the first
        had just re-created — rename is claimed by exactly one waiter and
        every loser re-enters the normal O_EXCL race.

        ``path`` overrides the guarded file (default: this ref's log) —
        used for state SHARED across refs (``refs.json``), which must not
        be guarded by a per-ref lock."""
        import uuid

        lock = (path or self._meta_path) + ".lock"
        os.makedirs(os.path.dirname(lock), exist_ok=True)
        deadline = time.time() + timeout
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                break
            except FileExistsError:
                try:
                    if time.time() - os.path.getmtime(lock) > 60:
                        os.rename(lock, f"{lock}.stale-{uuid.uuid4().hex[:8]}")
                except OSError:
                    pass  # holder released / another waiter claimed the break
                if time.time() > deadline:
                    raise SnapshotError(f"commit lock timeout at {lock}")
                time.sleep(0.05)
        try:
            yield
        finally:
            os.close(fd)
            os.remove(lock)

    def _commit(self, entry: dict, expected_parent: int | None = None) -> dict:
        """Optimistic-concurrency commit (Iceberg's protocol): the log is
        re-read UNDER an exclusive lock, validated, and swapped atomically
        (write-new + rename — a torn write can never corrupt published
        versions).

        A delta entry (see the module docstring) lands on whatever parent is
        current, so two concurrent appenders serialize and neither loses
        the other's files. ``expected_parent`` marks a REWRITE-shaped commit
        (merge/delete/compact/cluster): it must land on exactly the version
        it read, or it raises :class:`SnapshotConflict` for the caller to
        retry against fresh state — silently committing would drop rows a
        concurrent append added to the rewritten files."""
        with self._locked():
            log = self._log()
            if expected_parent is not None:
                current = log[-1]["id"] if log else 0
                if current != expected_parent:
                    raise SnapshotConflict(
                        f"commit based on version {expected_parent} but table "
                        f"is now at {current}; re-read and retry"
                    )
            entry["id"] = (log[-1]["id"] + 1) if log else 1
            entry["ts"] = time.time()
            os.makedirs(os.path.dirname(self._meta_path), exist_ok=True)
            tmp = self._meta_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(log + [entry], f, indent=1)
            os.replace(tmp, self._meta_path)
            return entry

    def _states(self, log: list[dict] | None = None):
        """The fold: yield ``(entry, dirs, deletes)`` for every entry of
        ``log`` (default: this ref's) in commit order, where ``dirs`` and
        ``deletes`` are the state at that version. The only code that turns
        entries into state; the yielded lists are never mutated.

        A full-state entry replaces the state. A delta entry drops the
        paths in ``remove``, appends ``add``, and appends ``add_deletes``:
        an eq/pred delete applies to the dirs visible at its parent
        (Iceberg v2 sequence-number scoping), a pos delete keeps its own
        matched-file ``applies_to``. A delete whose scope is empty can
        never match a row and is dropped."""
        dirs: list[str] = []
        deletes: list[dict] = []
        for e in self._log() if log is None else log:
            if "dirs" in e:
                dirs, deletes = e["dirs"], e.get("deletes", [])
            else:
                scoped = [
                    {**dl, "applies_to": dl.get("applies_to", dirs)}
                    for dl in e.get("add_deletes", [])
                ]
                deletes = deletes + [dl for dl in scoped if dl["applies_to"]]
                if e.get("remove"):
                    gone = set(e["remove"])
                    dirs = [p for p in dirs if p not in gone]
                if e.get("add"):
                    dirs = dirs + e["add"]
            yield e, dirs, deletes

    @staticmethod
    def _named(entry: dict) -> list[str]:
        """Data paths an entry names: a delta's ``add``, a full-state
        entry's ``dirs``. Every path any version sees is named by some
        entry."""
        return entry.get("dirs", entry.get("add", []))

    @staticmethod
    def _delete_paths(entry: dict) -> list[str]:
        """Delete-file paths an entry names (pred deletes have none)."""
        return [
            dl["path"]
            for dl in entry.get("deletes", []) + entry.get("add_deletes", [])
            if "path" in dl
        ]

    def _snapshot(self, version: int | None) -> dict:
        """Version ``version`` (default: the head) as one dict: the entry's
        ``id``, ``op`` and op fields plus its folded ``dirs`` and ``deletes``
        (each delete with its ``applies_to``)."""
        log = self._log()
        if not log:
            raise SnapshotError(f"no snapshots at {self.root}")
        found = None
        for state in self._states(log):
            if version is None or state[0]["id"] == version:
                found = state
                if version is not None:
                    break
        if found is None:
            raise SnapshotError(f"no snapshot {version} at {self.root}")
        e, dirs, deletes = found
        if version is not None and e.get("expired"):
            raise SnapshotError(f"snapshot {version} has been expired")
        snap = {k: v for k, v in e.items() if k not in ("add", "remove", "add_deletes")}
        return {**snap, "dirs": dirs, "deletes": deletes}

    def current_version(self) -> int | None:
        log = self._log()
        return log[-1]["id"] if log else None

    # -- manifests (per-file column stats from parquet footers) ------------
    def _write_manifest_for(self, data_dir: str) -> None:
        """Record per-file row count, byte size, and column min/max for the
        files a commit added — Iceberg's manifest, sourced from the parquet
        FOOTERS the write already produced (metadata-only read, no data
        pages; O(files-per-commit) driver work).

        parquet-cpp omits statistics it cannot represent exactly (e.g. very
        long strings), so any recorded bound is exact — absent stats simply
        disable pruning for that file, never corrupt it."""
        import pyarrow.parquet as pq

        entries: dict[str, dict] = {}
        for f in self._expand_files([data_dir]):
            md = pq.ParquetFile(f).metadata
            mins: dict[str, object] = {}
            maxs: dict[str, object] = {}
            for rg in range(md.num_row_groups):
                grp = md.row_group(rg)
                for ci in range(grp.num_columns):
                    col = grp.column(ci)
                    st = col.statistics
                    if st is None or not st.has_min_max:
                        # one statless row group poisons the whole file's
                        # bound for that column
                        mins[col.path_in_schema] = maxs[col.path_in_schema] = None
                        continue
                    name = col.path_in_schema
                    lo, hi = _json_stat(st.min), _json_stat(st.max)
                    if name not in mins:
                        mins[name], maxs[name] = lo, hi
                    elif mins[name] is not None:
                        if lo is None or hi is None:
                            mins[name] = maxs[name] = None
                        else:
                            mins[name] = min(mins[name], lo)
                            maxs[name] = max(maxs[name], hi)
            stats = {
                c: [mins[c], maxs[c]] for c in mins if mins[c] is not None
            }
            entries[f] = {
                "rows": md.num_rows,
                "bytes": os.path.getsize(f),
                "stats": stats,
            }
        path = os.path.join(
            self.root, "metadata", f"manifest-{os.path.basename(data_dir)}.json"
        )
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(entries, fh)
        os.replace(tmp, path)

    def _load_stats(self, snap: dict | None = None) -> dict[str, dict]:
        """Manifests merged: data-file path → {rows, bytes, stats}. With
        ``snap``, only the manifests covering that snapshot's entries are
        read — per-query metadata cost tracks the VERSION's file set, not
        every commit ever made (a long-lived streaming table accumulates
        unbounded history). Carried-forward files resolve to their origin
        dir's manifest."""
        meta_dir = os.path.join(self.root, "metadata")
        out: dict[str, dict] = {}
        if not os.path.isdir(meta_dir):
            return out
        wanted: set[str] | None = None
        if snap is not None:
            wanted = set()
            for p in snap["dirs"]:
                base = os.path.basename(
                    os.path.dirname(p) if p.endswith(".parquet") else p
                )
                wanted.add(f"manifest-{base}.json")
        for name in sorted(os.listdir(meta_dir)):
            if not (name.startswith("manifest-") and name.endswith(".json")):
                continue
            if wanted is not None and name not in wanted:
                continue
            with open(os.path.join(meta_dir, name)) as fh:
                out.update(json.load(fh))
        return out

    @staticmethod
    def _expand_files(paths: list[str]) -> list[str]:
        """Snapshot entries (dirs or carried-forward files) → data files."""
        files: list[str] = []
        for p in paths:
            if os.path.isfile(p):
                files.append(p)
            else:
                for base, _, names in os.walk(p):
                    files.extend(
                        os.path.join(base, n)
                        for n in sorted(names)
                        if n.endswith(".parquet")
                    )
        return files

    # -- writes (each one commit = one new snapshot) -----------------------
    def _write_data_dir(self, df: DataFrame, snap_id: int) -> str:
        """Deterministically-named write — the streaming path
        (``append_batch``), whose orphan-recovery logic depends on
        predicting the next dir name. Single-writer by construction."""
        return self._write_dir_at(df, os.path.join(self.root, "data", f"s{snap_id}"))

    def _write_dir_at(self, df: DataFrame, d: str) -> str:
        # force INT64-micros timestamps for this write even if the session
        # default differs: legacy INT96 has no parquet min/max stats, which
        # would silently blind manifest pruning for temporal columns
        conf = self.spark.conf
        key = "spark.sql.parquet.outputTimestampType"
        prev = conf.get(key, None)
        conf.set(key, "TIMESTAMP_MICROS")
        try:
            self._persist_spec()
            w = df.write.option("compression", "snappy")
            # tier-1 blooms: parquet-mr writes NATIVE per-column bloom
            # filters (Iceberg's write.parquet.bloom-filter-enabled.column.*
            # property) — the JVM parquet reader then row-group-skips
            # equality predicates inside surviving files with zero custom
            # read-side code
            for c in self.bloom_cols:
                w = w.option(f"parquet.bloom.filter.enabled#{c}", "true")
            w.mode("errorifexists").parquet(d)
        finally:
            if prev is not None:
                conf.set(key, prev)
        self._write_manifest_for(d)
        self._write_sidecar_blooms(d)
        return d

    def _write_sidecar_blooms(self, data_dir: str) -> None:
        """Tier-2 blooms: one driver-readable bloom per (file, bloom column),
        built distributed (one ``applyInPandas`` pass grouped by file) and
        stored in a sidecar JSON next to the dir's manifest. parquet-mr's
        native blooms live inside each file's footer, which plan-time
        Python cannot read — this sidecar is what lets ``read_where`` /
        ``read_where_in`` drop whole FILES from the scan for point lookups
        on high-cardinality unclustered keys, where min/max bounds span
        everything and prune nothing. Sized ~10 bits per distinct value
        (capped at _BLOOM_MAX_BITS); driver state is bounded at
        O(files-per-commit × 256 KiB). Only int/string columns build blooms
        (see _bloom_canon); unsupported types or all-null groups simply
        produce no entry — absence never prunes."""
        cols = list(self.bloom_cols)
        if not cols:
            return
        files = self._expand_files([data_dir])
        if not files:
            return
        df = self.spark.read.parquet(*files)
        cols = [c for c in cols if c in df.columns]
        if not cols:
            return
        sel = df.select(F.col("_metadata.file_path").alias("__file"), *cols)
        lo_bits, hi_bits = _BLOOM_MIN_BITS, _BLOOM_MAX_BITS

        def build(pdf):
            import base64

            import numpy as np
            import pandas as pd

            out = []
            fpath = pdf["__file"].iloc[0]
            for c in cols:
                ser = pdf[c].dropna()
                # Arrow→pandas turns nullable int64 into float64; restore
                # ints when lossless, else the column is not bloom-eligible
                if ser.dtype.kind == "f":
                    # float64 cannot represent ints ≥ 2^53 exactly, so the
                    # Arrow null-promotion already lost the true value; a
                    # bloom built on the rounded canon would WRONG-prune a
                    # probe of the exact value — skip the column instead
                    if (ser.abs() >= float(1 << 53)).any():
                        continue
                    try:
                        as_int = ser.astype("int64")
                        if (as_int == ser).all():
                            ser = as_int
                    except (ValueError, OverflowError, TypeError):
                        pass
                vals = ser.unique()
                canons = []
                ok = True
                for v in vals:
                    cv = _bloom_canon(v)
                    if cv is None:
                        ok = False
                        break
                    canons.append(cv)
                if not ok or not canons:
                    continue
                m = lo_bits
                while m < 10 * len(canons) and m < hi_bits:
                    m <<= 1
                bits = np.zeros(m // 8, dtype=np.uint8)
                for cv in canons:
                    for p in _bloom_positions(cv, m):
                        bits[p >> 3] |= np.uint8(1 << (p & 7))
                out.append(
                    (fpath, c, m, base64.b64encode(bits.tobytes()).decode())
                )
            return pd.DataFrame(out, columns=["file", "col", "m", "bits"])

        rows = sel.groupBy("__file").applyInPandas(
            build, "file string, col string, m long, bits string"
        ).collect()
        blooms: dict[str, dict] = {}
        for r in rows:
            path = r["file"]
            if path.startswith("file:"):
                from urllib.parse import unquote, urlparse

                path = unquote(urlparse(path).path)
            blooms.setdefault(path, {})[r["col"]] = {"m": r["m"], "bits": r["bits"]}
        out_path = os.path.join(
            self.root, "metadata", f"bloom-{os.path.basename(data_dir)}.json"
        )
        os.makedirs(os.path.dirname(out_path), exist_ok=True)
        tmp = out_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(blooms, fh)
        os.replace(tmp, out_path)

    def _load_blooms(self, snap: dict) -> dict[str, dict]:
        """Bloom sidecars for the snapshot's dirs, merged: data-file path →
        {col: {"m", "bits"}}. Loaded LAZILY — only point-lookup planning
        pays for bloom bytes, and only for the probed version's file set."""
        meta_dir = os.path.join(self.root, "metadata")
        out: dict[str, dict] = {}
        if not os.path.isdir(meta_dir):
            return out
        wanted = set()
        for p in snap["dirs"]:
            base = os.path.basename(
                os.path.dirname(p) if p.endswith(".parquet") else p
            )
            wanted.add(f"bloom-{base}.json")
        for name in sorted(os.listdir(meta_dir)):
            if name in wanted:
                with open(os.path.join(meta_dir, name)) as fh:
                    out.update(json.load(fh))
        return out

    def _write_new_dir(self, df: DataFrame) -> str:
        """Write one immutable data dir under a COLLISION-FREE unique name
        (sequence hint + random token). Dir names are opaque labels — the
        log, not the name, defines visibility — so concurrent writers can
        never interleave files into one directory (errorifexists alone
        cannot guarantee that: its existence check races). A writer that
        dies between data write and commit leaves an orphan dir, invisible
        to every reader — the same orphan-file story Iceberg has."""
        import uuid

        log = self._log()
        nxt = (log[-1]["id"] + 1) if log else 1
        d = os.path.join(self.root, "data", f"s{nxt}-{uuid.uuid4().hex[:8]}")
        return self._write_dir_at(df, d)

    def append(self, df: DataFrame, props: dict | None = None) -> int:
        """Append commit: new version sees parent's dirs + this batch's
        dir. Safe under concurrent appenders: the data dir is written
        outside the commit lock and the entry only ``add``s it, so it lands
        on whatever parent is current and no writer can drop another's
        files.

        ``props`` (JSON-able dict) is stored on the snapshot entry —
        Iceberg's snapshot summary properties; readers fetch it via
        :meth:`snapshot_props` to pin artifacts (e.g. a quantizer file) to
        the exact commit they describe."""
        self._check_stale_writer(df)
        self._enforce_constraints(df)
        d = self._write_new_dir(self._apply_layout(df))
        entry: dict = {"op": "append", "add": [d]}
        if props:
            entry["props"] = props
        return self._commit(entry)["id"]

    def snapshot_props(self, version: int | None = None) -> dict:
        """Summary properties stored with a snapshot commit (empty dict if
        none)."""
        return dict(self._snapshot(version).get("props") or {})

    def append_batch(
        self, df: DataFrame, batch_id: int, props: dict | None = None
    ) -> int | None:
        """Idempotent streaming append: one snapshot per micro-batch, keyed
        by ``batch_id``. Replayed batches (foreachBatch is at-least-once on
        restart) are detected in the commit log and skipped, so the table is
        exactly-once end-to-end — the gap the reference leaves open between
        its table write and its SQS commit (spark_job.py:61 vs :185) closes
        because here the commit IS the atomic metadata swap.

        A crash after the data write but before the commit leaves an orphan
        data dir; the replay detects it (present on disk, referenced by no
        snapshot) and rewrites it. Returns the committed version, or None if
        the batch was a replay."""
        log = self._log()
        if _batch_logged(log, batch_id):
            return None
        self._check_stale_writer(df)
        self._enforce_constraints(df)
        nxt = (log[-1]["id"] + 1) if log else 1
        d = os.path.join(self.root, "data", f"s{nxt}")
        if os.path.isdir(d) and not any(d in self._named(s) for s in log):
            shutil.rmtree(d)  # orphan of a crashed commit
        self._write_data_dir(self._apply_layout(df), nxt)
        # a delta entry: it lands on the CURRENT parent under the commit
        # lock, so an ad-hoc append()/compact() that landed since the log
        # read above is kept
        entry: dict = {"op": "append", "batch_id": batch_id, "add": [d]}
        if props:
            # snapshot summary props ride the batch commit (round 8) — the
            # streaming twin of append(props=): an index ingest restamps
            # its quantizer pointer on every micro-batch snapshot
            entry["props"] = props
        return self._commit(entry)["id"]

    def overwrite(self, df: DataFrame, batch_id=None, props: dict | None = None) -> int | None:
        """Overwrite commit: new version sees only this batch's dir. Old
        versions keep their files — time travel to them still works.

        ``batch_id`` (any JSON value) makes the overwrite REPLAY-SAFE the
        same way ``append_batch`` is: a commit whose batch_id already
        appears in the log is skipped (returns None) — the idempotence key
        an exactly-once consumer needs when it crashes between writing a
        derived table and advancing its cursor. ``props`` as in
        :meth:`append`."""
        if batch_id is not None and _batch_logged(self._log(), batch_id):
            return None
        self._check_stale_writer(df)
        self._enforce_constraints(df)
        d = self._write_new_dir(self._apply_layout(df))
        entry = {"op": "overwrite", "dirs": [d]}
        if batch_id is not None:
            entry["batch_id"] = batch_id
        if props:
            entry["props"] = props
        return self._commit(entry)["id"]

    # -- merge-on-read deletes --------------------------------------------
    @staticmethod
    def _delete_applies(path: str, dl: dict) -> bool:
        """A delete applies to the files VISIBLE when it committed
        (``applies_to``) — rows appended later are unaffected, Iceberg v2's
        sequence-number semantics. A carried-forward file inherits its
        origin dir's deletes by prefix; conversely a scanned DIR is covered
        when a FILE-scoped entry lies inside it — but only for POSITIONAL
        deletes, whose (file, pos)-keyed anti-join cannot touch the dir's
        other files. An eq/pred delete must never apply to a superset of
        its scope (it would erase rows appended after it, breaking
        sequence-number semantics); their applies_to stays dir/exact-file
        matched."""
        sep = os.sep
        reverse_ok = dl["type"] == "pos"
        return any(
            path == q
            or path.startswith(q + sep)
            or (reverse_ok and q.startswith(path + sep))
            for q in dl["applies_to"]
        )

    def _apply_one_delete(self, df: DataFrame, dl: dict) -> DataFrame:
        if dl["type"] == "pred":
            cond = F.lit(True)
            if dl["lo"] is not None:
                cond = cond & (F.col(dl["col"]) >= F.lit(dl["lo"]))
            if dl["hi"] is not None:
                cond = cond & (F.col(dl["col"]) <= F.lit(dl["hi"]))
            # SQL DELETE keeps a NULL-key row (its predicate is NULL, not
            # TRUE); an IsNull disjunct, unlike coalesce, stays pushed down
            return df.filter(~cond | F.col(dl["col"]).isNull())
        if dl["type"] == "pos":
            # positional delete: (file, row-position) pairs; the scan df
            # carries __file/__pos metadata columns (added by the caller)
            pos = self.spark.read.parquet(dl["path"]).select("__file", "__pos")
            return df.join(pos, ["__file", "__pos"], "left_anti")
        cols = dl["col"] if isinstance(dl["col"], list) else [dl["col"]]
        keys = self.spark.read.parquet(dl["path"]).select(*cols).distinct()
        return df.join(keys, cols, "left_anti")

    def _union_with_deletes(
        self,
        paths: list[str],
        deletes: list[dict],
        merge_schema: bool = False,
        pre_delete=None,
        bind_positions: bool = False,
    ) -> DataFrame:
        """Multi-path scan with merge-on-read deletes applied per scope:
        paths sharing the same applicable-delete subset scan together, the
        predicate deletes stay pushdown-able filters, equality deletes are
        one anti-join against a small delete file. Un-deleted paths scan
        with zero overhead.

        ``pre_delete`` (schema evolution) maps each scan to CURRENT column
        names BEFORE deletes apply — sound because the evolution guard
        refuses schema ops while deletes pend, so every pending delete
        postdates every schema op and references current names.

        ``bind_positions`` keeps ``__file``/``__pos`` metadata columns in
        the OUTPUT (the position-delete producer needs them); otherwise
        they are bound only where a positional delete applies and dropped
        after it."""

        def scan(ps):
            reader = self.spark.read
            if merge_schema:
                reader = reader.option("mergeSchema", "true")
            df = reader.parquet(*ps)
            if bind_positions:
                df = df.select(
                    "*",
                    F.col("_metadata.file_path").alias("__file"),
                    F.col("_metadata.row_index").alias("__pos"),
                )
            return df

        if not deletes:
            df = scan(paths)
            return pre_delete(df) if pre_delete else df
        from collections import defaultdict

        groups: dict[tuple, list[str]] = defaultdict(list)
        for pth in paths:
            key = tuple(
                i for i, dl in enumerate(deletes) if self._delete_applies(pth, dl)
            )
            groups[key].append(pth)
        parts = []
        for key, ps in groups.items():
            df = scan(ps)
            # positional deletes anti-join on (file, row-position): bind the
            # scan's metadata columns BEFORE any projection (pre_delete
            # renames never touch them; dropped after the deletes apply
            # unless the caller asked to keep them)
            needs_pos = any(deletes[i]["type"] == "pos" for i in key)
            if needs_pos and not bind_positions:
                df = df.select(
                    "*",
                    F.col("_metadata.file_path").alias("__file"),
                    F.col("_metadata.row_index").alias("__pos"),
                )
            if pre_delete:
                df = pre_delete(df)
            for i in key:
                df = self._apply_one_delete(df, deletes[i])
            if needs_pos and not bind_positions:
                df = df.drop("__file", "__pos")
            # strip hidden layout columns PER PART: after partition-spec
            # evolution, parts written under different epochs carry
            # different __p_* sets and a strict unionByName would refuse
            parts.append(self._strip_hidden(df))
        out = parts[0]
        for df in parts[1:]:
            out = out.unionByName(df, allowMissingColumns=merge_schema)
        return out

    # -- rename/drop schema evolution (Iceberg metadata-only evolution) ----
    def _schema_ops(self, snap: dict) -> list[dict]:
        """Rename/drop ops visible at this snapshot, in commit order. Ops
        live IN the commit log, so time travel reads pre-evolution versions
        with pre-evolution names and branches inherit exactly the ops their
        fork point saw — no separate schema-log to keep consistent."""
        return [
            s
            for s in self._log()
            if s["op"] in ("rename-column", "drop-column") and s["id"] <= snap["id"]
        ]

    def _path_epochs(self) -> dict[str, int]:
        """Data path → id of the commit that WROTE it (first log appearance,
        carried-forward files normalized to their origin dir). A file's
        epoch decides which schema ops post-date it and therefore apply when
        reading it."""
        epochs: dict[str, int] = {}
        for s in self._log():
            for p in self._named(s):
                d = os.path.dirname(p) if p.endswith(".parquet") else p
                if d not in epochs:
                    epochs[d] = s["id"]
        return epochs

    @staticmethod
    def _path_epoch(epochs: dict[str, int], path: str) -> int:
        d = os.path.dirname(path) if path.endswith(".parquet") else path
        return epochs.get(d, 0)

    def _local_name(self, col: str, ops: list[dict], epoch: int) -> str | None:
        """Map a CURRENT column name to the name a file written at ``epoch``
        used — the inverse rename chain. None = the current column's lineage
        did not exist yet in that file (it was dropped and re-introduced
        later), so its stats/blooms must not prune on it."""
        name = col
        for op in reversed([o for o in ops if o["id"] > epoch]):
            if op["op"] == "rename-column" and op["to"] == name:
                name = op["from"]
            elif op["op"] == "drop-column" and op["name"] == name:
                return None
        return name

    def _read_paths(
        self,
        snap: dict,
        paths: list[str],
        merge_schema: bool = False,
        bind_positions: bool = False,
        skip_deletes: bool = False,
    ) -> DataFrame:
        """Schema-aware scan of a snapshot's paths: files sharing the same
        applicable op set scan together (renames stay rare, so almost
        always ONE multi-path scan — the fast path is untouched); each
        group applies its renames/drops in commit order (both are safe
        no-ops on absent columns), then groups union by name with NULL
        backfill. The rename itself moved zero data bytes — Iceberg's
        metadata-only evolution contract.

        ``bind_positions``/``skip_deletes`` serve the position-delete
        PRODUCER: it needs the same epoch-grouped, NULL-backfilled view as
        every reader (sharing this code is what keeps the two op-application
        paths from drifting) plus ``__file``/``__pos`` columns and no
        delete application."""
        deletes = [] if skip_deletes else snap.get("deletes", [])
        ops = self._schema_ops(snap)
        if not ops:
            return self._union_with_deletes(
                paths, deletes, merge_schema, bind_positions=bind_positions
            )
        epochs = self._path_epochs()
        from collections import defaultdict

        groups: dict[tuple, list[str]] = defaultdict(list)
        for p in paths:
            e = self._path_epoch(epochs, p)
            key = tuple(o["id"] for o in ops if o["id"] > e)
            groups[key].append(p)

        def apply_ops(df: DataFrame, key: tuple) -> DataFrame:
            for op in ops:
                if op["id"] not in key:
                    continue
                if op["op"] == "rename-column":
                    df = df.withColumnRenamed(op["from"], op["to"])
                else:
                    df = df.drop(op["name"])
            return df

        parts = []
        for key in sorted(groups, key=len):  # newest epoch (fewest ops) first
            # the op chain applies BEFORE deletes (pre_delete): pending
            # deletes always postdate every schema op (the evolution guard),
            # so their predicates/keys are in current-name space
            parts.append(
                self._union_with_deletes(
                    groups[key],
                    deletes,
                    merge_schema,
                    pre_delete=lambda df, _k=key: apply_ops(df, _k),
                    bind_positions=bind_positions,
                )
            )
        out = parts[0]
        for df in parts[1:]:
            out = out.unionByName(df, allowMissingColumns=True)
        # current schema leads the column order (parts[0] is the newest
        # epoch); stragglers only exist under merge_schema
        lead = parts[0].columns
        return out.select(*lead, *[c for c in out.columns if c not in lead])

    def _guard_schema_change(self, snap: dict, col: str) -> None:
        if snap.get("deletes"):
            raise SnapshotError(
                "pending merge-on-read deletes reference columns by name; "
                "compact() to materialize them before schema evolution"
            )
        if col in {t[1] for t in self._all_specs()}:
            raise SnapshotError(
                f"{col!r} is (or was) a partition-spec source column; "
                "evolve the partition spec away from it and compact first"
            )

    def rename_column(self, old: str, new: str) -> int:
        """Metadata-only column rename (Iceberg schema evolution): no data
        file is touched; readers of every epoch see the new name, time
        travel to pre-rename versions sees the old one. The commit is CAS'd
        on the snapshot it read (a racing writer using the old schema fails
        the stale-writer guard in ``append``)."""
        snap = self._snapshot(None)
        self._guard_schema_change(snap, old)
        cols = self.read().columns
        if old not in cols:
            raise SnapshotError(f"no column {old!r} to rename")
        if new in cols:
            raise SnapshotError(f"column {new!r} already exists")
        v = self._commit(
            {"op": "rename-column", "from": old, "to": new},
            expected_parent=snap["id"],
        )["id"]
        if old in self.bloom_cols:
            # future commits must bloom the new name. Re-pointed only AFTER
            # the CAS succeeded (a conflicted rename must not mutate shared
            # metadata) and only for main — spec.json is root-shared across
            # refs, and a branch's rename must not re-point the source's
            # bloom builds (the branch handle keeps its in-memory update;
            # its blooms for the renamed column resume after fast_forward)
            self.bloom_cols = [new if c == old else c for c in self.bloom_cols]
            if self.ref == "main":
                if os.path.exists(self._spec_path):
                    os.remove(self._spec_path)
                self._persist_spec()
        return v

    def drop_column(self, name: str) -> int:
        """Metadata-only column drop: bytes stay on disk (old versions still
        read them) but every read at or after this commit excludes the
        column. Re-adding the same name later starts a NEW column lineage —
        old files' values never leak into it."""
        snap = self._snapshot(None)
        self._guard_schema_change(snap, name)
        if name not in self.read().columns:
            raise SnapshotError(f"no column {name!r} to drop")
        v = self._commit(
            {"op": "drop-column", "name": name},
            expected_parent=snap["id"],
        )["id"]
        if name in self.bloom_cols:
            # same post-CAS, main-only contract as rename_column
            self.bloom_cols = [c for c in self.bloom_cols if c != name]
            if self.ref == "main":
                if os.path.exists(self._spec_path):
                    os.remove(self._spec_path)
                self._persist_spec()
        return v

    def _local_resolver(self, snap: dict):
        """(file, current_col) → the column name that file's epoch used, or
        None when the current lineage post-dates the file (its rows read as
        NULL there, so a bounded predicate can safely prune it). The no-op
        fast path costs nothing when no schema op ever committed."""
        ops = self._schema_ops(snap)
        if not ops:
            return lambda f, c: c
        epochs = self._path_epochs()
        return lambda f, c: self._local_name(c, ops, self._path_epoch(epochs, f))

    def _check_stale_writer(self, df: DataFrame) -> None:
        """A writer holding a pre-rename schema would silently fork the
        column lineage (its old-named values would NULL out under the
        current schema). Refuse loudly instead — Iceberg validates writer
        schema ids at commit for the same reason.

        The check chains renames into a historical-name → CURRENT-name
        translation (so rename a→b→a makes 'a' valid again, and only the
        genuinely dead intermediate 'b' is refused); dropping a lineage
        frees its historical names for legitimate re-introduction."""
        snap_id = self.current_version()
        if snap_id is None:
            return
        translation: dict[str, str] = {}
        for op in self._schema_ops({"id": snap_id}):
            if op["op"] == "rename-column":
                for k, v in translation.items():
                    if v == op["from"]:
                        translation[k] = op["to"]
                translation.setdefault(op["from"], op["to"])
            else:  # drop-column: the lineage (and its old names) dies
                translation = {
                    k: v for k, v in translation.items() if v != op["name"]
                }
        for c in df.columns:
            cur = translation.get(c)
            if cur is not None and cur != c and cur not in df.columns:
                raise SnapshotError(
                    f"writer schema predates rename {c!r} -> {cur!r}; "
                    "rebuild the batch against read()"
                )

    # -- reads -------------------------------------------------------------
    def read(self, version: int | None = None, merge_schema: bool = False) -> DataFrame:
        """Current version, or time travel via ``version`` (Iceberg's
        ``VERSION AS OF``). Multi-path parquet scan — pushdown/pruning
        intact; no driver-side data movement.

        ``merge_schema=True`` enables add-column schema evolution (Iceberg
        evolves schemas metadata-only): commits written with extra columns
        union into one schema, pre-evolution rows read as NULL. Costs one
        distributed footer read per file, so it is opt-in. Rename/drop
        evolution (``rename_column``/``drop_column``) is always applied."""
        snap = self._snapshot(version)
        if not snap["dirs"]:
            raise SnapshotError(f"snapshot {snap['id']} is empty")
        return self._strip_hidden(
            self._read_paths(snap, snap["dirs"], merge_schema)
        )

    #: arrow type string → Spark DDL type, for the bucket-probe rendering
    _ARROW_DDL = {
        "int64": "bigint",
        "int32": "int",
        "int16": "smallint",
        "int8": "tinyint",
        "double": "double",
        "float": "float",
        "string": "string",
        "large_string": "string",
        "bool": "boolean",
        "date32[day]": "date",
    }

    def _col_dtype(self, snap: dict, col: str, version: int | None) -> str:
        """Spark DDL type of ``col`` from ONE parquet footer (metadata-only;
        a full reader construction would pay schema resolution over the
        whole snapshot's file set on every point lookup). Falls back to the
        reader's schema for types outside the map."""
        key = (col, snap["id"])
        cached = self._dtype_cache.get(key)
        if cached is not None:
            return cached
        dtype = None
        try:
            import pyarrow.parquet as pq

            files = self._expand_files(snap["dirs"])
            if files:
                s = str(pq.ParquetFile(files[0]).schema_arrow.field(col).type)
                dtype = "timestamp" if s.startswith("timestamp") else self._ARROW_DDL.get(s)
        except Exception:
            dtype = None
        if dtype is None:
            dtype = dict(self.read(version).dtypes).get(col, "string")
        self._dtype_cache[key] = dtype
        return dtype

    def read_where(
        self, col: str, lo=None, hi=None, version: int | None = None
    ) -> DataFrame:
        """Range-predicate scan with manifest-level FILE pruning — Iceberg's
        data-skipping. Files whose footer [min,max] for ``col`` cannot
        intersect [lo,hi] are dropped from the scan plan on the driver
        (metadata only); survivors still get the residual row filter, which
        Spark pushes into the parquet reader (row-group skipping). At 100 TB
        a narrow time-range query opens only the files that can match
        instead of listing-and-filtering the whole table.

        Temporal bounds: pass ``datetime``/``date`` objects (canonicalized
        to the same ISO form the manifest stores). Absent/incomparable stats
        never prune — correctness does not depend on the manifest."""
        snap = self._snapshot(version)
        stats = self._load_stats(snap)
        # prune in source-column space, then (hidden partitioning) also in
        # partition space: a days(ts) spec maps a ts range predicate onto the
        # derived-day bounds each file's manifest carries; a bucket(col,n)
        # spec prunes point lookups to the one matching hash bucket. Every
        # spec EPOCH contributes checks — each file only carries stats for
        # the layout it was written under, and absent stats never prune
        checks = [(col, _json_stat(lo), _json_stat(hi))]
        for t in self._all_specs():
            if t[1] != col:
                continue
            if t[0] == "bucket":
                if lo is not None and lo == hi:
                    # route the probe literal THROUGH the column's type
                    # before the string rendering the writer hashed: a
                    # Python int 5 probing a DOUBLE column must render
                    # '5.0' (the stored form), not '5' — else the matching
                    # bucket's files are silently pruned
                    dtype = self._col_dtype(snap, col, version)
                    b = self.spark.range(1).select(
                        F.pmod(
                            F.xxhash64(F.lit(lo).cast(dtype).cast("string")),
                            F.lit(t[2]),
                        )
                    ).first()[0]
                    checks.append((self._pname(t), b, b))
            else:
                plo, phi = self._map_bound(t, lo), self._map_bound(t, hi)
                if plo is not None or phi is not None:
                    checks.append((self._pname(t), _json_stat(plo), _json_stat(phi)))
        local = self._local_resolver(snap)
        bounded = lo is not None or hi is not None
        kept = []
        for f in self._expand_files(snap["dirs"]):
            lname = local(f, col)
            if lname is None and bounded:
                continue  # current lineage absent → all-NULL → cannot match
            fstats = stats.get(f, {}).get("stats", {})
            fchecks = [(lname, checks[0][1], checks[0][2])] + checks[1:]
            if all(
                (b := fstats.get(c)) is None or _overlaps(b[0], b[1], clo, chi)
                for c, clo, chi in fchecks
            ):
                kept.append(f)
        # point lookup → bloom tier: min/max bounds on a high-cardinality
        # unclustered key usually span every file and prune nothing; the
        # per-file sidecar bloom drops files whose value set provably
        # excludes the probe (~1% false-keep, never false-prune)
        if kept and lo is not None and hi is not None and lo == hi:
            probe = _bloom_canon(lo)
            if probe is not None:
                blooms = self._load_blooms(snap)
                kept = [
                    f
                    for f in kept
                    if (e := blooms.get(f, {}).get(local(f, col))) is None
                    or _bloom_hit(e, probe)
                ]
        if not kept:
            # every file pruned → empty frame with the table's schema
            return self.read(version).limit(0)
        df = self._read_paths(snap, kept)
        if lo is not None:
            df = df.filter(F.col(col) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(col) <= F.lit(hi))
        return self._strip_hidden(df)

    def read_where_in(
        self, col: str, values: list, version: int | None = None
    ) -> DataFrame:
        """IN-set scan with manifest file pruning: keep a file only if SOME
        requested value falls inside its [min,max] for ``col`` — the
        multi-point cousin of ``read_where``'s range pruning (Iceberg prunes
        IN predicates the same way). One multi-path scan over the survivors,
        with the row-level IN filter pushed into the parquet reader. The
        serving pattern behind partition-keyed indexes (e.g. probing a set
        of IVF cells) and multi-tenant point reads."""
        snap = self._snapshot(version)
        if not values:
            return self.read(version).limit(0)
        stats = self._load_stats(snap)
        # a plain set: membership pruning is order-independent, and sorting
        # would TypeError on mixed-type value lists
        canon = {_json_stat(v) for v in values}
        local = self._local_resolver(snap)
        kept = []
        for f in self._expand_files(snap["dirs"]):
            lname = local(f, col)
            if lname is None:
                continue  # all-NULL for this lineage; IN (non-null set) can't hit
            b = stats.get(f, {}).get("stats", {}).get(lname)
            if b is None or any(_overlaps(b[0], b[1], v, v) for v in canon):
                kept.append(f)
        # bloom tier: keep a file only if SOME requested value may be in it.
        # Any non-bloom-eligible probe value disables bloom pruning for the
        # whole set (that value alone could live anywhere).
        if kept:
            probes = [_bloom_canon(v) for v in values]
            if all(p is not None for p in probes):
                blooms = self._load_blooms(snap)
                kept = [
                    f
                    for f in kept
                    if (e := blooms.get(f, {}).get(local(f, col))) is None
                    or any(_bloom_hit(e, p) for p in probes)
                ]
        if not kept:
            return self.read(version).limit(0)
        df = self._read_paths(snap, kept)
        return self._strip_hidden(df.filter(F.col(col).isin(list(values))))

    def read_where_all(
        self, filters: list[tuple], version: int | None = None
    ) -> DataFrame:
        """Conjunction of range predicates with file skipping on EVERY
        clause — the read path z-order clustering exists for: after
        ``cluster_by(["x","y"])`` a query constraining both x and y
        intersects each clause's surviving file set, multiplying the
        skip rates. ``filters`` is ``[(col, lo, hi), ...]`` (None = open
        bound); row-level residuals still push into the parquet reader."""
        snap = self._snapshot(version)
        stats = self._load_stats(snap)
        canon = [(c, _json_stat(lo), _json_stat(hi)) for c, lo, hi in filters]
        local = self._local_resolver(snap)
        kept = []
        for f in self._expand_files(snap["dirs"]):
            fstats = stats.get(f, {}).get("stats", {})
            lnames = {c: local(f, c) for c, _, _ in canon}
            if any(
                lnames[c] is None and (clo is not None or chi is not None)
                for c, clo, chi in canon
            ):
                continue  # a bounded clause on an all-NULL lineage
            if all(
                (b := fstats.get(lnames[c])) is None
                or _overlaps(b[0], b[1], clo, chi)
                for c, clo, chi in canon
            ):
                kept.append(f)
        if not kept:
            return self.read(version).limit(0)
        df = self._read_paths(snap, kept)
        for c, lo, hi in filters:
            if lo is not None:
                df = df.filter(F.col(c) >= F.lit(lo))
            if hi is not None:
                df = df.filter(F.col(c) <= F.lit(hi))
        return self._strip_hidden(df)

    def fast_count(self, version: int | None = None) -> int | None:
        """COUNT(*) served from manifests alone — no file opened, no Spark
        job (Iceberg's stats-based count pushdown). Returns None when the
        metadata cannot answer exactly: pending merge-on-read deletes, or a
        file missing from every manifest."""
        snap = self._snapshot(version)
        if snap.get("deletes"):
            return None
        stats = self._load_stats(snap)
        total = 0
        for f in self._expand_files(snap["dirs"]):
            rows = stats.get(f, {}).get("rows")
            if rows is None:
                return None
            total += rows
        return total

    def fast_min_max(self, col: str, version: int | None = None) -> tuple | None:
        """MIN/MAX of a column from manifests alone (no scan). None when
        any visible file lacks exact bounds for the column or merge-on-read
        deletes are pending (a deleted row could hold the extremum)."""
        snap = self._snapshot(version)
        if snap.get("deletes"):
            return None
        stats = self._load_stats(snap)
        local = self._local_resolver(snap)
        lo = hi = None
        for f in self._expand_files(snap["dirs"]):
            lname = local(f, col)
            if lname is None:
                continue  # all-NULL lineage contributes no extremum
            b = stats.get(f, {}).get("stats", {}).get(lname)
            if b is None:
                return None
            lo = b[0] if lo is None else min(lo, b[0])
            hi = b[1] if hi is None else max(hi, b[1])
        return None if lo is None else (lo, hi)

    def read_incremental(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Rows added AFTER ``from_version`` up to ``to_version`` (Iceberg's
        incremental append scan — the CDC feed for a downstream consumer).
        Scans only the data files the in-range append commits introduced;
        cost is proportional to the CHANGE, not the table. Raises if the
        range contains a non-append commit (overwrite/compact/merge rewrite
        history, so \"what changed\" is no longer just new files — same
        restriction Iceberg imposes)."""
        log = self._log()
        self._snapshot(from_version)  # validates existence / expiry
        to_version = to_version if to_version is not None else log[-1]["id"]
        seen: set[str] = set()
        for s in log:
            if s["id"] <= from_version:
                seen.update(self._named(s))
        added: list[str] = []
        for s in log:
            if from_version < s["id"] <= to_version:
                # metadata-only commits (schema / partition-spec evolution)
                # add no rows; appends add exactly their new dirs
                if s["op"] not in (
                    "append",
                    "rename-column",
                    "drop-column",
                    "partition-spec",
                    "add-constraint",
                    "drop-constraint",
                ):
                    raise SnapshotError(
                        f"incremental read crosses non-append commit "
                        f"{s['id']} ({s['op']})"
                    )
                added.extend(d for d in self._named(s) if d not in seen)
                seen.update(self._named(s))
        if not added:
            return self.read(to_version).limit(0)
        # schema-aware read of just the added files, in TO-version names
        # (pre-rename appends in the range surface under current names);
        # deletes are intentionally not applied — this is the append feed
        synth = {"id": to_version, "dirs": added, "deletes": []}
        return self._strip_hidden(self._read_paths(synth, added))

    def changelog(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Row-level diff between two versions (Iceberg's
        ``create_changelog_view``): each output row carries ``_change_type``
        ``'insert'`` or ``'delete'`` (an update surfaces as its
        delete+insert pair). Unlike :meth:`read_incremental` this works
        across REWRITE commits (overwrite/merge/delete/compact) too.

        Cost model, stated honestly: when every commit in the range is an
        append, this delegates to the incremental file diff — cost
        proportional to the CHANGE. Across rewrites there is no per-file
        delta to exploit (that is why Iceberg restricts its streaming reads
        to appends), so the general path is two EXCEPT ALL set differences
        over the two versions — cost proportional to both snapshots, the
        same as the CDC backfill job a user would otherwise hand-write.
        Multiset semantics: duplicate rows diff by count."""
        log = self._log()
        self._snapshot(from_version)
        if to_version is not None:
            self._snapshot(to_version)  # nonexistent targets raise, both paths
        to_version = to_version if to_version is not None else log[-1]["id"]
        in_range = [s for s in log if from_version < s["id"] <= to_version]
        meta_only = (
            "rename-column",
            "drop-column",
            "partition-spec",
            "add-constraint",
            "drop-constraint",
        )
        if all(s["op"] == "append" or s["op"] in meta_only for s in in_range):
            return self.read_incremental(from_version, to_version).withColumn(
                "_change_type", F.lit("insert")
            )
        old = self.read(from_version)
        # align the old frame to TO-version names before the set diff: a
        # rename in range changes no row, and with both sides in to-schema
        # it correctly produces no change rows (a drop likewise vanishes
        # from the diff instead of flagging every pre-existing row)
        for op in in_range:
            if op["op"] == "rename-column":
                old = old.withColumnRenamed(op["from"], op["to"])
            elif op["op"] == "drop-column":
                old = old.drop(op["name"])
        new = self.read(to_version)
        # a column dropped then re-introduced in range exists in `new` but
        # not in the aligned `old` — EXCEPT ALL needs identical shapes, and
        # NULL is exactly what the old version held for the new lineage
        new_types = dict(new.dtypes)
        for c in new.columns:
            if c not in old.columns:
                old = old.withColumn(c, F.lit(None).cast(new_types[c]))
        old = old.select(*new.columns)
        inserts = new.exceptAll(old).withColumn("_change_type", F.lit("insert"))
        deletes = old.exceptAll(new).withColumn("_change_type", F.lit("delete"))
        return inserts.unionByName(deletes)

    def files(self, version: int | None = None) -> DataFrame:
        """Per-file metadata of a version (Iceberg's ``<table>.files``
        table): path, rows, bytes — the input to compaction policy and
        skew diagnosis, served entirely from manifests."""
        snap = self._snapshot(version)
        stats = self._load_stats(snap)
        rows = [
            (
                f,
                int(stats.get(f, {}).get("rows", -1)),
                int(stats.get(f, {}).get("bytes", os.path.getsize(f))),
            )
            for f in self._expand_files(snap["dirs"])
        ]
        return self.spark.createDataFrame(
            rows, "file_path string, row_count long, file_bytes long"
        )

    def read_as_of(self, ts: float) -> DataFrame:
        """Time travel by wall-clock time (``TIMESTAMP AS OF``): the latest
        snapshot committed at or before ``ts``."""
        eligible = [s for s in self._log() if s["ts"] <= ts and not s.get("expired")]
        if not eligible:
            raise SnapshotError(f"no snapshot at or before {ts}")
        return self.read(eligible[-1]["id"])

    def history(self) -> DataFrame:
        """The commit log as a DataFrame (Iceberg's ``<table>.history``
        metadata table): one row per snapshot with op, file count, liveness."""
        rows = [
            (s["id"], s["op"], len(dirs), float(s["ts"]), bool(s.get("expired")))
            for s, dirs, _ in self._states()
        ]
        return self.spark.createDataFrame(
            rows, "version long, op string, n_dirs int, committed_at double, expired boolean"
        )

    # -- copy-on-write mutations (file-granularity, manifest-pruned) -------
    def _split_files(self, snap: dict, col: str, lo, hi) -> tuple[list, list, list]:
        """The version's files split by manifest range on ``col``, for a
        CoW rewrite: ``(candidates, remove, carry)``. Candidates are the
        files whose [min,max] may meet [lo,hi] (a file without stats is
        one; a file whose epoch predates the column's lineage holds only
        NULLs there, which no range matches, so it is not). ``remove``
        names each visible path holding a candidate and ``carry`` that
        path's other files, which the rewrite's entry adds back by
        reference — so the entry alone says which files stay visible."""
        stats = self._load_stats(snap)
        clo, chi = _json_stat(lo), _json_stat(hi)
        local = self._local_resolver(snap)
        candidates, untouched = [], []
        for p in snap["dirs"]:
            for f in self._expand_files([p]):
                lname = local(f, col)
                b = stats.get(f, {}).get("stats", {}).get(lname)
                hit = lname is not None and (b is None or _overlaps(b[0], b[1], clo, chi))
                (candidates if hit else untouched).append((p, f))
        split = {p for p, _ in candidates}
        return (
            [f for _, f in candidates],
            [p for p in snap["dirs"] if p in split],
            [f for p, f in untouched if p in split],
        )

    def merge(self, source: DataFrame, key: str) -> int:
        """MERGE (upsert) with copy-on-write at FILE granularity — the table
        semantics the reference configures Iceberg for
        (spark-data-pipeline/spark_job.py:49-57, write.merge.mode=copy-on-
        write), on the parquet fallback. Matched rows are replaced by the
        source row, unmatched source rows are inserted.

        Scale shape: the manifest key-range test splits the current files
        into CANDIDATES (key range intersects the source's [min,max]) and
        UNTOUCHED (provably no matching key — carried forward by reference,
        zero bytes moved). Only candidates are scanned and rewritten, anti-
        joined against the source key set; AQE picks broadcast when the
        change set is small (the common case). A 1%-overlap upsert on a
        100 TB table rewrites ~1 TB, not 100 TB."""
        snap = self._snapshot(None)
        self._enforce_constraints(source)
        lo, hi = source.agg(F.min(key), F.max(key)).first()
        if lo is None:
            raise SnapshotError("merge source is empty")
        candidates, remove, carry = self._split_files(snap, key, lo, hi)
        if candidates:
            current = self._strip_hidden(self._read_paths(snap, candidates))
            kept = current.join(source.select(key).distinct(), key, "left_anti")
            new_data = kept.unionByName(source)
        else:
            new_data = source
        d = self._write_new_dir(self._apply_layout(new_data))
        entry = {"op": "merge", "remove": remove, "add": carry + [d]}
        return self._commit(entry, expected_parent=snap["id"])["id"]

    def delete_where(self, col: str, lo=None, hi=None, mode: str = "cow") -> int:
        """Range DELETE (Iceberg's ``DELETE FROM t WHERE col BETWEEN lo AND
        hi``), in either of the format's two modes:

        - ``mode="cow"`` (copy-on-write): files whose manifest range
          overlaps [lo,hi] are rewritten with the survivors; disjoint files
          carry forward untouched. Reads stay delete-free; the common
          100 TB retention trim rewrites only boundary files.
        - ``mode="mor"`` (merge-on-read): a METADATA-ONLY commit records
          the predicate, scoped to the files visible now; readers apply it
          as a pushdown-able filter and later appends are unaffected
          (Iceberg v2 sequence-number semantics). The delete is O(1)
          regardless of table size; the next compaction materializes it.
        """
        snap = self._snapshot(None)
        if mode == "mor":
            pred = {"type": "pred", "col": col, "lo": _json_stat(lo), "hi": _json_stat(hi)}
            return self._commit(
                {"op": "delete-mor", "add_deletes": [pred]},
                expected_parent=snap["id"],
            )["id"]
        if mode != "cow":
            raise SnapshotError(f"unknown delete mode {mode!r}")
        candidates, remove, carry = self._split_files(snap, col, lo, hi)
        entry = {"op": "delete", "remove": remove, "add": carry}
        if candidates:
            cond = F.lit(True)
            if lo is not None:
                cond = cond & (F.col(col) >= F.lit(lo))
            if hi is not None:
                cond = cond & (F.col(col) <= F.lit(hi))
            survivors = self._strip_hidden(
                self._read_paths(snap, candidates).filter(
                    ~cond | F.col(col).isNull()
                )
            )
            entry["add"].append(self._write_new_dir(self._apply_layout(survivors)))
        return self._commit(entry, expected_parent=snap["id"])["id"]

    def update_where(
        self, col: str, lo, hi, set_exprs: dict[str, str]
    ) -> int:
        """Copy-on-write UPDATE (Iceberg's ``UPDATE t SET ... WHERE col
        BETWEEN lo AND hi``): files whose manifest range intersects the
        predicate are rewritten with ``set_exprs`` (column → SQL expression)
        applied to matching rows; disjoint files carry forward by reference
        — the same file-granularity cost model as :meth:`delete_where`, so
        a narrow update on a 100 TB table rewrites only the files that can
        contain a match."""
        snap = self._snapshot(None)
        candidates, remove, carry = self._split_files(snap, col, lo, hi)
        entry = {"op": "update", "remove": remove, "add": carry}
        if candidates:
            cond = F.lit(True)
            if lo is not None:
                cond = cond & (F.col(col) >= F.lit(lo))
            if hi is not None:
                cond = cond & (F.col(col) <= F.lit(hi))
            cur = self._strip_hidden(self._read_paths(snap, candidates))
            updated = cur.select(
                *[
                    F.when(cond, F.expr(set_exprs[c])).otherwise(F.col(c)).alias(c)
                    if c in set_exprs
                    else F.col(c)
                    for c in cur.columns
                ]
            )
            # SET expressions can violate constraints a plain append would
            # reject; enforce on the rewrite before it becomes visible
            self._enforce_constraints(updated)
            entry["add"].append(self._write_new_dir(self._apply_layout(updated)))
        return self._commit(entry, expected_parent=snap["id"])["id"]

    def delete_keys(self, keys: DataFrame, col: str | list[str]) -> int:
        """Equality-delete file (Iceberg v2 merge-on-read equality deletes):
        the keys to drop are written as a SMALL delete file and recorded in
        metadata; readers anti-join it against the files that were visible
        at delete time, so the delete costs O(|keys|) no matter how large
        the table is and later appends of the same keys are unaffected.
        The next compaction materializes and clears it. This is the GDPR /
        per-record-erasure shape: deleting a thousand user ids from a
        100 TB table writes kilobytes.

        ``col`` may be a list for COMPOSITE equality deletes (Iceberg's
        multi-column equality-delete schema): a row is dropped only when
        every named column matches a delete-file row."""
        snap = self._snapshot(None)
        import uuid

        cols = col if isinstance(col, list) else [col]
        d = os.path.join(self.root, "data", f"del{snap['id']}-{uuid.uuid4().hex[:8]}")
        keys.select(*cols).distinct().write.parquet(d)
        eq = {"type": "eq", "col": cols if len(cols) > 1 else cols[0], "path": d}
        return self._commit(
            {"op": "delete-keys", "add_deletes": [eq]}, expected_parent=snap["id"]
        )["id"]

    def delete_where_positional(self, predicate: str) -> int:
        """Positional merge-on-read delete (Iceberg v2 position-delete
        files — completing the delete triple with `delete_where(mode=mor)`
        predicate deletes and `delete_keys` equality deletes): rows matching
        an arbitrary SQL ``predicate`` are recorded as (file, row-position)
        pairs in a small delete file; readers anti-join positions only for
        the files that actually contain matches. This is the MOR shape for
        predicates that don't map onto a range or key column — cost is one
        scan now (to locate positions) plus O(matched rows) metadata, with
        no data rewritten; the next compaction materializes it."""
        snap = self._snapshot(None)
        if not snap["dirs"]:
            return snap["id"]  # nothing to delete from — clean no-op
        # the SAME epoch-grouped, NULL-backfilled view every reader gets
        # (a dropped-then-re-added column reads as NULL on old epochs here
        # too), plus the scan's (file, position) metadata, minus delete
        # application
        scan = self._read_paths(
            snap, snap["dirs"], bind_positions=True, skip_deletes=True
        )
        pos = scan.filter(F.expr(predicate)).select("__file", "__pos").persist()
        try:
            from urllib.parse import unquote, urlparse

            matched = sorted(
                unquote(urlparse(r["__file"]).path) or r["__file"]
                for r in pos.select("__file").distinct().collect()
            )
            if not matched:
                return snap["id"]  # predicate matched nothing — no commit
            import uuid

            d = os.path.join(
                self.root, "data", f"del{snap['id']}-{uuid.uuid4().hex[:8]}"
            )
            pos.write.parquet(d)
        finally:
            pos.unpersist()
        # scope to the FILES that contain matches (the matched-file list is
        # already driver-side): readers of every other file never bind
        # metadata columns or pay the anti-join — the documented cost model
        pos_delete = {"type": "pos", "path": d, "applies_to": matched}
        return self._commit(
            {"op": "delete-pos", "add_deletes": [pos_delete]},
            expected_parent=snap["id"],
        )["id"]

    # -- CHECK constraints (Delta's table constraints) ---------------------
    def _constraints(self) -> dict[str, str]:
        """name → SQL predicate, from the latest constraint commits."""
        out: dict[str, str] = {}
        for s in self._log():
            if s["op"] == "add-constraint":
                out[s["name"]] = s["expr"]
            elif s["op"] == "drop-constraint":
                out.pop(s["name"], None)
        return out

    def add_constraint(self, name: str, expr: str) -> int:
        """ALTER TABLE ADD CONSTRAINT name CHECK (expr) — from this commit
        on, every append/overwrite batch is validated BEFORE its data
        becomes visible; violating batches are rejected whole with the
        violation count (write-side enforcement, Delta's model — readers
        never pay). Existing rows are validated once here: a constraint the
        current data already violates is refused, so the invariant "every
        visible row satisfies every active constraint" holds from the
        moment the commit lands."""
        snap = self._snapshot(None) if self._log() else None
        if snap is not None and snap["dirs"]:
            bad = self.read().filter(~F.expr(expr)).count()
            if bad:
                raise SnapshotError(
                    f"existing data violates {name!r} ({expr}): {bad} rows"
                )
        # CAS on the validated snapshot: the validation scan is a long job,
        # and a concurrent append could land rows that violate the new
        # constraint (SnapshotConflict → re-validate instead)
        return self._commit(
            {"op": "add-constraint", "name": name, "expr": expr},
            expected_parent=snap["id"] if snap else 0,
        )["id"]

    def drop_constraint(self, name: str) -> int:
        snap = self._snapshot(None)
        if name not in self._constraints():
            raise SnapshotError(f"no constraint {name!r}")
        return self._commit(
            {"op": "drop-constraint", "name": name}, expected_parent=snap["id"]
        )["id"]

    def _enforce_constraints(self, df: DataFrame) -> None:
        """One pass over the BATCH (never the table) counting violations of
        every active constraint; all-or-nothing rejection keeps the commit
        atomic. Cost: one extra aggregation on data that is about to be
        written anyway."""
        cons = self._constraints()
        if not cons:
            return
        counts = df.agg(
            *[
                F.sum(F.when(~F.expr(e), 1).otherwise(0)).alias(n)
                for n, e in cons.items()
            ]
        ).first()
        bad = {n: counts[n] for n in cons if counts[n]}
        if bad:
            raise SnapshotError(
                "constraint violation(s), batch rejected: "
                + ", ".join(f"{n}={c} rows ({cons[n]})" for n, c in bad.items())
            )

    # -- zero-copy clone ---------------------------------------------------
    def clone_to(self, new_root: str, version: int | None = None) -> "SnapshotTable":
        """Zero-copy METADATA clone (Delta's shallow CLONE TABLE): the new
        table starts from one commit referencing this table's data files
        by absolute path — no byte moves, however large the source. The
        clone then evolves independently (appends land under its own root;
        CoW rewrites copy only what they touch). The dev/experimentation
        workflow this exists for: fork a 100 TB table in milliseconds, try
        a migration, throw the clone away.

        Safety contract with maintenance: expire/orphan cleanup NEVER
        deletes files outside the maintaining table's own root, so a
        clone's expire cannot reach into its source (and vice versa — the
        source CAN still delete dirs the clone references, the same
        documented caveat Delta shallow clones have; tag or snapshot the
        source if the clone must outlive its retention)."""
        snap = self._snapshot(version)
        if os.path.exists(os.path.join(new_root, "metadata")):
            raise SnapshotError(f"clone target {new_root!r} already exists")
        dst_meta = os.path.join(new_root, "metadata")
        os.makedirs(dst_meta, exist_ok=True)
        # the clone IS the source's log prefix: commit ids, dir epochs,
        # schema/partition ops, pending deletes and time travel all carry
        # over intact (replaying ops into fresh commits would instead
        # re-key every shared dir to epoch 1 and mis-apply drop+re-add
        # chains). Branch refs and tags stay with the source.
        prefix = [s for s in self._log() if s["id"] <= snap["id"]]
        tmp = os.path.join(dst_meta, "snapshots.json.tmp")
        with open(tmp, "w") as f:
            json.dump(prefix, f, indent=1)
        os.replace(tmp, os.path.join(dst_meta, "snapshots.json"))
        # sidecar metadata is keyed by data-file path, which the clone
        # references verbatim — copy it so pruning/blooms keep working
        src_meta = os.path.join(self.root, "metadata")
        for n in os.listdir(src_meta):
            if n.startswith(("manifest-", "bloom-")):
                shutil.copy2(os.path.join(src_meta, n), os.path.join(dst_meta, n))
        if os.path.exists(self._spec_path):
            shutil.copy2(self._spec_path, os.path.join(dst_meta, "spec.json"))
        return SnapshotTable(self.spark, new_root)

    # -- table maintenance -------------------------------------------------
    def rollback(self, version: int) -> int:
        """Roll back by COMMITTING a new snapshot that sees ``version``'s
        files (Iceberg's rollback model: history is append-only, so the bad
        version stays inspectable and the rollback itself is auditable).

        The rollback commit restores the target's full DATA state: its file
        set and its pending merge-on-read delete set (omitting the latter
        would resurrect MOR-deleted rows). Schema and constraints are table
        metadata, not snapshot state, and are deliberately NOT rolled back —
        Iceberg's ``rollback_to_snapshot`` semantics."""
        snap = self._snapshot(version)
        return self._commit(
            {"op": f"rollback({version})", "dirs": snap["dirs"], "deletes": snap["deletes"]}
        )["id"]

    def compact(self, target_file_bytes: int = 128 * 1024 * 1024) -> int:
        """Small-file compaction (Iceberg's ``rewrite_data_files``): rewrite
        the current version's data as ~``target_file_bytes`` files and commit
        the rewrite as a new snapshot. Streaming ingest's defining pathology
        is one small file per trigger per partition; at 100 TB an uncompacted
        table turns every scan into millions of file opens. Data is byte-for-
        byte equivalent — only the file layout changes, so old versions stay
        readable and the compaction is itself roll-back-able.

        File count is sized from the current version's on-disk bytes (driver
        walks file sizes in metadata only — no data read)."""
        snap = self._snapshot(None)
        total = sum(os.path.getsize(f) for f in self._expand_files(snap["dirs"]))
        n_files = max(1, -(-total // target_file_bytes))  # ceil
        df = (
            self._apply_layout(self.read(), n_files=n_files)
            if self.partition_spec
            else self.read().repartition(n_files)
        )
        d = self._write_new_dir(df)
        return self._commit(
            {"op": "compact", "dirs": [d]}, expected_parent=snap["id"]
        )["id"]

    def cluster_by(
        self,
        cols: list[str],
        target_file_bytes: int = 128 * 1024 * 1024,
        bits: int | None = None,
        incremental: bool = False,
    ) -> int:
        """Z-order clustering rewrite (Iceberg's ``rewrite_data_files``
        with a zorder sort strategy): range-partition + sort by an
        interleaved-bit space-filling curve over ``cols`` so each output
        file covers a compact hyper-rectangle of the multi-column space.
        After clustering, manifest min/max on EVERY clustered column is
        tight, so ``read_where``/``read_where_all`` prune files for
        predicates on any of them — a plain sort can only do this for its
        leading column. This is the layout lever for the 100 TB case of
        "query by time AND by key".

        ``incremental=True`` rewrites ONLY the files added since the last
        clustering on the same columns (the liquid-clustering /
        incremental-OPTIMIZE model): already-clustered output is carried
        forward by reference, so maintenance cost tracks ingest rate, not
        table size. Each increment's files are individually tight, so
        pruning still works across generations — a range just intersects a
        few files per generation instead of one.

        The z-value is built from JVM-side bit arithmetic (shift/and/or —
        whole-stage codegen, no UDF): each column is min/max-scaled to a
        ``bits``-wide integer rank, then ranks are bit-interleaved. Columns
        must be numeric or timestamp (cast to double for scaling — scaling
        only affects layout, never values). One 1-row bounds agg + one range
        shuffle; rewritten bytes are read once, as compaction would."""
        snap = self._snapshot(None)
        if not cols:
            raise SnapshotError("cluster_by needs at least one column")
        k = len(cols)
        bits = bits or min(16, 63 // k)
        if incremental:
            done = {
                e["new_dir"]
                for e in self._log()
                if e.get("cluster_cols") == list(cols) and e.get("new_dir")
            }
            todo = [d for d in snap["dirs"] if d not in done]
            if not todo:
                return snap["id"]
            # schema-aware: an old-epoch dir must not smuggle pre-rename
            # column names into the rewrite (whose new dir postdates every
            # schema op and would never be mapped again)
            df = self._strip_hidden(
                self._read_paths(snap, self._expand_files(todo))
            )
            total = sum(os.path.getsize(f) for f in self._expand_files(todo))
        else:
            df = self.read()
            total = sum(os.path.getsize(f) for f in self._expand_files(snap["dirs"]))
        n_files = max(1, -(-total // target_file_bytes))  # ceil
        bounds = df.agg(
            *[F.min(F.col(c).cast("double")).alias(f"lo{i}") for i, c in enumerate(cols)],
            *[F.max(F.col(c).cast("double")).alias(f"hi{i}") for i, c in enumerate(cols)],
        ).first()
        top = (1 << bits) - 1
        z = F.lit(0).cast("long")
        for j, c in enumerate(cols):
            lo, hi = bounds[f"lo{j}"], bounds[f"hi{j}"]
            span = (hi - lo) if (lo is not None and hi is not None and hi > lo) else 1.0
            rank = ((F.col(c).cast("double") - F.lit(lo or 0.0)) / F.lit(span) * top).cast(
                "long"
            )
            rank = F.coalesce(F.least(F.lit(top), F.greatest(F.lit(0), rank)), F.lit(0))
            for i in range(bits):
                bit = F.shiftright(rank, i).bitwiseAND(F.lit(1))
                z = z.bitwiseOR(F.shiftleft(bit, i * k + j))
        clustered = (
            df.withColumn("__z", z)
            .repartitionByRange(n_files, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
        )
        d = self._write_new_dir(clustered)
        entry = {"op": f"cluster({','.join(cols)})", "cluster_cols": list(cols), "new_dir": d}
        # incremental: a delta, so pending MOR deletes (materialized for the
        # rewritten files) still cover the carried-forward generations; a
        # full rewrite replaces the visible set and clears them
        entry.update({"remove": todo, "add": [d]} if incremental else {"dirs": [d]})
        return self._commit(entry, expected_parent=snap["id"])["id"]

    def register_view(self, name: str, version: int | None = None) -> None:
        """Expose a version as a temp view for ad-hoc SQL — the
        reference's SQL-over-temp-view entry point
        (spark-data-pipeline/spark_job.py:31-37) extended with time travel:
        ``t.register_view("events_v3", version=3)`` then
        ``spark.sql("SELECT ... FROM events_v3")``."""
        self.read(version).createOrReplaceTempView(name)

    # -- refs: branches, tags, write-audit-publish -------------------------
    @staticmethod
    def _check_ref_name(name: str) -> None:
        import re

        if name == "main" or not re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_-]{0,63}", name):
            raise SnapshotError(f"invalid ref name {name!r}")

    def _load_refs(self) -> dict[str, int]:
        if not os.path.exists(self._refs_path):
            return {}
        with open(self._refs_path) as f:
            return json.load(f)

    def _branch_logs(self) -> list[list[dict]]:
        """Every branch's commit log (for liveness accounting in
        expire/orphan cleanup: a branch references data dirs main does not)."""
        meta_dir = os.path.join(self.root, "metadata")
        out = []
        if not os.path.isdir(meta_dir):
            return out
        for name in sorted(os.listdir(meta_dir)):
            if name.startswith("snapshots-") and name.endswith(".json"):
                with open(os.path.join(meta_dir, name)) as f:
                    out.append(json.load(f))
        return out

    def create_branch(self, name: str, version: int | None = None) -> "SnapshotTable":
        """Fork a BRANCH at ``version`` (default: current head) — Iceberg's
        snapshot refs. The branch gets its own commit log seeded with this
        ref's lineage up to the fork point; data dirs are immutable and
        SHARED, so forking moves zero bytes. Branch commits use the branch
        log's own lock — staging writes never contend with main ingest.
        This is the write half of WAP (write-audit-publish): write to the
        branch, audit it with any read/query, then :meth:`fast_forward`."""
        self._check_ref_name(name)
        head = self._snapshot(version)  # validates existence / expiry
        target = SnapshotTable(self.spark, self.root, ref=name)
        if os.path.exists(target._meta_path):
            raise SnapshotError(f"branch {name!r} already exists")
        lineage = [s for s in self._log() if s["id"] <= head["id"]]
        os.makedirs(os.path.dirname(target._meta_path), exist_ok=True)
        tmp = target._meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(lineage, f, indent=1)
        os.replace(tmp, target._meta_path)
        return target

    def branch(self, name: str) -> "SnapshotTable":
        """Open an existing branch of this table."""
        self._check_ref_name(name)
        t = SnapshotTable(self.spark, self.root, ref=name)
        if not os.path.exists(t._meta_path):
            raise SnapshotError(f"no branch {name!r} at {self.root}")
        return t

    def fast_forward(self, name: str) -> int:
        """Publish a branch: fast-forward THIS ref to the branch head —
        the atomic publish half of WAP (Iceberg's
        ``fast_forward(table, 'main', branch)``). Requires this ref's log to
        be a strict prefix of the branch's (the branch saw every commit we
        have); otherwise the table moved under the audit and the caller gets
        :class:`SnapshotConflict` to re-stage against fresh state. The swap
        is one metadata rename under this ref's commit lock — audited data
        files become visible without being rewritten or even touched."""
        branch_log = self.branch(name)._log()
        with self._locked():
            log = self._log()
            # ids alone cannot detect divergence (divergent histories share
            # id numbers) — the branch must carry the SAME commits we have;
            # expiry marks entries in place on either side, so it is ignored
            def commits(entries):
                return [{k: v for k, v in s.items() if k != "expired"} for s in entries]

            if commits(branch_log[: len(log)]) != commits(log):
                raise SnapshotConflict(
                    f"{self.ref} diverged from branch {name!r}; "
                    f"re-stage the branch from the current head and retry"
                )
            if len(branch_log) == len(log):
                return log[-1]["id"] if log else 0  # nothing to publish
            tmp = self._meta_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(branch_log, f, indent=1)
            os.replace(tmp, self._meta_path)
            return branch_log[-1]["id"]

    def drop_branch(self, name: str) -> None:
        """Delete a branch POINTER (its log). Data dirs only it referenced
        become orphans once past the grace window — reclaimed by
        :func:`remove_orphans`, exactly Iceberg's dropped-ref story."""
        self._check_ref_name(name)
        t = SnapshotTable(self.spark, self.root, ref=name)
        if os.path.exists(t._meta_path):
            os.remove(t._meta_path)

    def create_tag(self, name: str, version: int | None = None) -> int:
        """Pin an immutable, named TAG to ``version`` (default: current
        head) ON THIS REF. Tags are retention roots: :meth:`expire_snapshots`
        keeps a tagged snapshot readable no matter how old — the audit/repro
        handle ("the exact table the model trained on") Iceberg tags exist
        for. The tag records which ref it was created on: snapshot ids are
        per-lineage numbers, so a branch's id 4 and main's id 4 are
        DIFFERENT commits — resolution always goes through the recorded
        ref's own log."""
        self._check_ref_name(name)
        # two locks, fixed order (commit lock → refs lock):
        # - the per-ref COMMIT lock excludes a concurrent expire_snapshots,
        #   which would otherwise reclaim the snapshot between our
        #   validation and the tag write (a retention root pointing at
        #   deleted data);
        # - the shared REFS lock serializes refs.json writers across refs
        #   (tag ops from two refs hold different commit locks).
        with self._locked():
            snap = self._snapshot(version)  # validate UNDER the lock
            with self._locked(path=self._refs_path):
                refs = self._load_refs()
                if name in refs:
                    raise SnapshotError(f"tag {name!r} already exists")
                refs[name] = {"version": snap["id"], "ref": self.ref}
                tmp = self._refs_path + ".tmp"
                with open(tmp, "w") as f:
                    json.dump(refs, f, indent=1)
                os.replace(tmp, self._refs_path)
        return snap["id"]

    @staticmethod
    def _tag_entry(raw) -> dict:
        # pre-ref-qualified tags stored a bare version int (main-lineage)
        return raw if isinstance(raw, dict) else {"version": raw, "ref": "main"}

    def read_tag(self, name: str) -> DataFrame:
        refs = self._load_refs()
        if name not in refs:
            raise SnapshotError(f"no tag {name!r} at {self.root}")
        ent = self._tag_entry(refs[name])
        src = self if ent["ref"] == self.ref else SnapshotTable(
            self.spark, self.root, ref=ent["ref"]
        )
        if not os.path.exists(src._meta_path):
            raise SnapshotError(
                f"tag {name!r} points into dropped ref {ent['ref']!r}"
            )
        return src.read(version=ent["version"])

    def drop_tag(self, name: str) -> None:
        with self._locked(path=self._refs_path):
            refs = self._load_refs()
            refs.pop(name, None)
            tmp = self._refs_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(refs, f, indent=1)
            os.replace(tmp, self._refs_path)

    def refs(self) -> DataFrame:
        """Named refs as a DataFrame (Iceberg's ``<table>.refs`` metadata
        table): every tag plus every branch with its head version."""
        main_path = os.path.join(self.root, "metadata", "snapshots.json")
        main_head = 0
        if os.path.exists(main_path):
            with open(main_path) as f:
                mlog = json.load(f)
            main_head = mlog[-1]["id"] if mlog else 0
        rows = [("main", "branch", main_head)] + [
            (n, "tag", self._tag_entry(v)["version"])
            for n, v in sorted(self._load_refs().items())
        ]
        meta_dir = os.path.join(self.root, "metadata")
        if os.path.isdir(meta_dir):
            for fn in sorted(os.listdir(meta_dir)):
                if fn.startswith("snapshots-") and fn.endswith(".json"):
                    bname = fn[len("snapshots-") : -len(".json")]
                    with open(os.path.join(meta_dir, fn)) as f:
                        blog = json.load(f)
                    rows.append((bname, "branch", blog[-1]["id"] if blog else 0))
        return self.spark.createDataFrame(
            rows, "ref_name string, ref_type string, version long"
        )

    def partitions(self, version: int | None = None) -> DataFrame:
        """Per-partition file/row/byte counts (Iceberg's ``<table>.
        partitions`` metadata table), served from MANIFESTS alone — the
        skew/compaction diagnostic that needs no data scan. A file whose
        manifest bounds pin every partition column to one value (min==max —
        the normal case after the range-partition+sort write layout) is
        attributed exactly; a file spanning partition values is reported
        under partition NULL with exact=false rather than guessed."""
        spec = self._current_spec() or self.partition_spec
        if not spec:
            raise SnapshotError("partitions() needs a partition_spec")
        snap = self._snapshot(version)
        stats = self._load_stats(snap)
        # report in the ACTIVE spec's space; files written under earlier
        # epochs lack its stats and honestly land in the NULL/inexact row
        pnames = [self._pname(t) for t in spec]
        agg: dict[tuple | None, list[int]] = {}
        for f in self._expand_files(snap["dirs"]):
            ent = stats.get(f, {})
            fstats = ent.get("stats", {})
            if not fstats and int(ent.get("rows", 0)) == 0:
                continue  # empty partition slot — no rows, nothing to report
            vals = []
            for c in pnames:
                b = fstats.get(c)
                if b is None or b[0] != b[1]:
                    vals = None
                    break
                vals.append(str(b[0]))
            key = tuple(vals) if vals is not None else None
            cur = agg.setdefault(key, [0, 0, 0])
            cur[0] += 1
            cur[1] += int(ent.get("rows", 0))
            cur[2] += int(ent.get("bytes", 0))
        rows = [
            (
                None if k is None else list(k),
                k is not None,
                c[0],
                c[1],
                c[2],
            )
            for k, c in sorted(agg.items(), key=lambda kv: (kv[0] is None, kv[0]))
        ]
        return self.spark.createDataFrame(
            rows,
            "partition array<string>, exact boolean, file_count long, "
            "row_count long, total_bytes long",
        )

    def incremental_feed(
        self, checkpoint: str, start_version: int | None = None
    ) -> "SnapshotFeed":
        """A checkpointed incremental consumer over this table — Iceberg's
        stream-from-table. See :class:`SnapshotFeed`."""
        return SnapshotFeed(self, checkpoint, start_version)

    def expire_snapshots(self, keep_last: int = 2) -> list[int]:
        """Expire all but the last ``keep_last`` snapshots and DELETE data
        dirs no live snapshot references (Iceberg's ``expire_snapshots`` —
        the storage-reclaim half of the snapshot model). Returns expired ids.
        Expired versions refuse time travel with a clear error.

        The LOG REWRITE runs under the commit lock like every other log
        writer (an unlocked read-mutate-replace would silently erase any
        commit that landed in between), but file DELETION happens after the
        lock releases: deleting terabytes can exceed the 60 s staleness
        window the lock-break heuristic assumes for metadata-only holders,
        and once the swapped log no longer references a path, deleting it
        outside the lock races nothing (expired versions already refuse
        reads). Dead dirs' manifests are deleted with them, so metadata
        cost tracks LIVE history."""
        with self._locked():
            expired_ids, doomed = self._expire_metadata(keep_last)
        # zero-copy clones reference files under ANOTHER table's root;
        # maintenance must never reach outside its own table (a clone
        # expiring "its" history would otherwise delete the source's data)
        own = self.root + os.sep
        doomed = [d for d in doomed if d.startswith(own)]
        for d in doomed:
            if os.path.isdir(d):
                shutil.rmtree(d)
                # its manifest is now pure debris — metadata reads must
                # not pay for expired history forever
                for prefix in ("manifest", "bloom"):
                    m = os.path.join(
                        self.root,
                        "metadata",
                        f"{prefix}-{os.path.basename(d)}.json",
                    )
                    if os.path.exists(m):
                        os.remove(m)
            elif os.path.isfile(d):
                os.remove(d)
        return expired_ids

    def _expire_metadata(self, keep_last: int) -> tuple[list[int], list[str]]:
        """Lock-held half: mark + swap the log, return (expired ids, paths
        safe to delete once the swap is visible)."""
        log = self._log()
        if len(log) <= keep_last:
            return [], []
        # retention roots: the trailing keep_last snapshots, every snapshot
        # TAGGED on this ref (tags pin history; a tag on another ref
        # protects its dirs through that ref's own log below), and every
        # dir a BRANCH still sees
        tagged = {
            self._tag_entry(v)["version"]
            for v in self._load_refs().values()
            if self._tag_entry(v)["ref"] == self.ref
        }
        live_ids = {s["id"] for s in log[-keep_last:]} | tagged
        dead = [s for s in log if s["id"] not in live_ids]
        keep_paths: set[str] = set()
        for s, dirs, deletes in self._states(log):
            if s["id"] in live_ids:
                keep_paths.update(dirs)
                keep_paths.update(dl["path"] for dl in deletes if "path" in dl)
        for blog in self._branch_logs():
            for s in blog:
                keep_paths.update(self._named(s), self._delete_paths(s))

        def referenced(p: str) -> bool:
            # CoW commits carry individual FILES forward: a dead dir stays if
            # any live entry lives inside it, and a dead file entry stays if
            # a live dir contains it.
            sep = os.sep
            return any(
                q == p or q.startswith(p + sep) or p.startswith(q + sep)
                for q in keep_paths
            )

        expired_ids: list[int] = []
        doomed: list[str] = []
        for s in dead:
            if not s.get("expired"):
                s["expired"] = True
                expired_ids.append(s["id"])
            dead_paths = self._named(s) + self._delete_paths(s)
            doomed.extend(d for d in dead_paths if not referenced(d))
        # ``dead`` holds the entries of ``log`` themselves; the expired
        # flags were set in place, so dumping ``log`` preserves commit order
        tmp = self._meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(log, f, indent=1)
        os.replace(tmp, self._meta_path)
        return expired_ids, doomed


class SnapshotFeed:
    """Checkpointed incremental consumer over a :class:`SnapshotTable` —
    the downstream half of the CDC story (Iceberg's Spark streaming read of
    a table). Each ``poll()`` hands back exactly the rows appended since the
    consumer's cursor; ``commit()`` durably advances the cursor AFTER the
    consumer has processed the batch, so a crash between poll and commit
    replays the same delta on restart (at-least-once; the consumer makes it
    exactly-once by keying its own sink on the version, the same discipline
    ``append_batch`` applies upstream).

    Per-poll cost is proportional to the CHANGE (only the new commits'
    files are scanned), never the table. A non-append commit in the gap
    (overwrite/compact/merge) raises — the consumer must re-bootstrap from
    a full ``read()``, exactly Iceberg's streaming-read contract."""

    def __init__(self, table: SnapshotTable, checkpoint: str, start_version: int | None = None):
        self.table = table
        self.checkpoint = checkpoint
        if os.path.exists(checkpoint):
            with open(checkpoint) as f:
                self.cursor = json.load(f)["version"]
        else:
            self.cursor = (
                start_version
                if start_version is not None
                else (table.current_version() or 0)
            )
            self._persist()

    def _persist(self) -> None:
        os.makedirs(os.path.dirname(self.checkpoint) or ".", exist_ok=True)
        tmp = self.checkpoint + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"version": self.cursor}, f)
        os.replace(tmp, self.checkpoint)

    def poll(self) -> tuple[DataFrame, int] | None:
        """(delta rows, target version) since the cursor, or None if the
        table has not advanced. Does NOT move the cursor — call
        ``commit(version)`` once the batch is durably processed."""
        cur = self.table.current_version()
        if cur is None or cur <= self.cursor:
            return None
        if self.cursor == 0:
            # bootstrap: first poll of a from-the-beginning feed is the
            # whole table at the current version
            return self.table.read(cur), cur
        return self.table.read_incremental(self.cursor, cur), cur

    def commit(self, version: int) -> None:
        self.cursor = version
        self._persist()


class SnapshotWarehouse:
    """Catalog over snapshot tables in one warehouse root — the namespace
    layer the reference gets from its Glue/Iceberg catalog
    (spark-data-pipeline/spark_job.py:47-58: catalog config + namespace +
    `create table if not exists`), re-expressed on the filesystem: each
    table lives at ``<root>/<name>``, multi-table transactions share
    ``<root>/_txns``, and opening the warehouse completes any transaction a
    crashed writer left behind (the recovery a catalog service would run).

    The catalog is intentionally thin: a table IS its directory (a dir with
    a ``metadata/snapshots.json`` is a table), so listing needs no separate
    registry that could drift from reality."""

    _TXN_DIR = "_txns"

    def __init__(self, spark: SparkSession, root: str, recover: bool = True):
        self.spark = spark
        self.root = root
        self.txn_dir = os.path.join(root, self._TXN_DIR)
        os.makedirs(root, exist_ok=True)
        if recover:
            recover_transactions(spark, self.txn_dir)

    @staticmethod
    def _check_table_name(name: str) -> None:
        import re

        if name == SnapshotWarehouse._TXN_DIR or not re.fullmatch(
            r"[A-Za-z0-9][A-Za-z0-9_.-]{0,127}", name
        ):
            raise SnapshotError(f"invalid table name {name!r}")

    def create_table(
        self, name: str, partition_spec: list[tuple] | None = None
    ) -> SnapshotTable:
        """CREATE TABLE IF NOT EXISTS semantics (the reference's DDL shape):
        opening an existing table ignores a differing ``partition_spec`` the
        same way its persisted spec always wins."""
        self._check_table_name(name)
        return SnapshotTable(
            self.spark, os.path.join(self.root, name), partition_spec=partition_spec
        )

    def table(self, name: str) -> SnapshotTable:
        self._check_table_name(name)
        root = os.path.join(self.root, name)
        if not os.path.exists(os.path.join(root, "metadata", "snapshots.json")):
            raise SnapshotError(f"no table {name!r} in warehouse {self.root}")
        return SnapshotTable(self.spark, root)

    def table_exists(self, name: str) -> bool:
        self._check_table_name(name)
        return os.path.exists(
            os.path.join(self.root, name, "metadata", "snapshots.json")
        )

    def list_tables(self) -> list[str]:
        if not os.path.isdir(self.root):
            return []
        return sorted(
            n
            for n in os.listdir(self.root)
            if os.path.exists(os.path.join(self.root, n, "metadata", "snapshots.json"))
        )

    def drop_table(self, name: str) -> None:
        """DROP TABLE: removes data AND history (Iceberg's drop with purge)."""
        self._check_table_name(name)
        root = os.path.join(self.root, name)
        if os.path.isdir(root):
            shutil.rmtree(root)

    def transaction(self, names: list[str]) -> MultiTableTransaction:
        """Open a multi-table transaction over named catalog tables, homed
        in the warehouse's shared transaction dir (so warehouse open can
        recover it after a crash)."""
        return MultiTableTransaction(
            [self.table(n) if self.table_exists(n) else self.create_table(n) for n in names],
            self.txn_dir,
        )

    def register_views(self, version_suffix: bool = False) -> None:
        """Expose every table as a temp view for ad-hoc SQL (the reference's
        SQL-over-temp-view entry point, spark_job.py:31-37, across a whole
        namespace). ``version_suffix=True`` additionally registers
        ``<name>_v<current>`` — pinned views a long-running notebook can
        keep querying while ingest advances the table."""
        for name in self.list_tables():
            t = self.table(name)
            t.register_view(name)
            if version_suffix:
                v = t.current_version()
                if v is not None:
                    t.register_view(f"{name}_v{v}", version=v)


class MultiTableTransaction:
    """Atomic commit across several :class:`SnapshotTable`s — the multi-table
    transaction a REST catalog gives Iceberg, re-expressed with a write-ahead
    intent log. The ETL fan-out shape ("write the fact table AND its N
    derived tables, all-or-nothing") needs this; per-table commits alone can
    leave a reader seeing the fact rows without the rollup rows.

    Protocol:

    1. ``stage_append``/``stage_overwrite``/``stage_upsert_keys`` write
       each table's data dirs immediately, OUTSIDE any lock (the expensive
       distributed work; dir names are collision-free and invisible until
       committed).
    2. ``commit`` atomically renames an INTENT file listing every staged
       (table, op, dirs) into the transaction dir — **this rename is the
       commit point** — then applies each table's metadata commit through
       the table's own lock-validate-swap, then deletes the intent. A
       staged overwrite commits a full-state entry (``dirs``); a staged
       append or upsert commits a delta (``add``, plus the upsert's
       ``add_deletes``), which the table's fold applies on top of whatever
       parent is current.
    3. A crash after the intent rename leaves a recoverable transaction:
       :func:`recover_transactions` re-applies any table whose staged dirs
       no snapshot references yet (dir uuids make the check exact), so the
       transaction completes instead of tearing. A crash BEFORE the rename
       leaves only orphan dirs — invisible, reclaimed by
       :func:`remove_orphans` (run recovery before orphan cleanup).

    Readers between the intent rename and the last per-table apply can see
    a table the transaction has not reached yet — the same read-committed
    window a catalog-side multi-table commit closes with a single CAS; with
    only a filesystem underneath, the intent log bounds it to
    "every committed transaction completes".

    Staged ops are append/overwrite/keyed upsert (fan-out writes);
    rewrite-shaped ops (merge/delete) keep their single-table CAS semantics
    on purpose — a rewrite's conflict window must stay tied to the version
    it read."""

    def __init__(self, tables: list[SnapshotTable], txn_dir: str):
        roots = [(t.root, t.ref) for t in tables]
        if len(set(roots)) != len(roots):
            raise SnapshotError("duplicate table in transaction")
        self.tables = {(t.root, t.ref): t for t in tables}
        self.txn_dir = txn_dir
        self.staged: list[dict] = []
        self._committed = False

    def _table(self, root_ref: tuple[str, str]) -> SnapshotTable:
        try:
            return self.tables[root_ref]
        except KeyError:
            raise SnapshotError(f"table {root_ref} not part of this transaction")

    def _stage(self, table: SnapshotTable, df: DataFrame, op: str, batch_id) -> None:
        key = (table.root, table.ref)
        self._table(key)
        # transactional writes honor the same write-side contracts as
        # direct append/overwrite — without this, a staged batch could
        # commit constraint-violating rows a plain append would reject
        table._check_stale_writer(df)
        table._enforce_constraints(df)
        d = table._write_new_dir(table._apply_layout(df))
        self.staged.append(
            {
                "root": table.root,
                "ref": table.ref,
                "op": op,
                "new_dirs": [d],
                "batch_id": batch_id,
                # the version this stage was computed against — recovery
                # uses it to detect that a non-transactional writer raced a
                # crashed OVERWRITE (applying anyway would revert their
                # commit); appends commute and carry no parent pin
                "parent": table.current_version(),
            }
        )

    def stage_append(self, table: SnapshotTable, df: DataFrame, batch_id=None) -> None:
        self._stage(table, df, "append", batch_id)

    def stage_overwrite(self, table: SnapshotTable, df: DataFrame, batch_id=None) -> None:
        self._stage(table, df, "overwrite", batch_id)

    def stage_upsert_keys(
        self, table: SnapshotTable, df: DataFrame, key: str, batch_id=None
    ) -> None:
        """Keyed MERGE-ON-READ upsert inside the transaction: stage ``df``
        as a new data dir plus an equality-delete file on ``key`` covering
        the dirs visible at stage time (the :meth:`SnapshotTable.delete_keys`
        v2 shape), so matched rows are superseded and unmatched rows
        insert — at O(|df|) write cost per batch regardless of table size.

        This is the per-batch shape for hot keyed state (the sessions
        open-boundary table): a copy-on-write merge rewrites every file
        whose key range intersects the batch's, which for a uniformly
        spread key set is the WHOLE table every batch; the delete file
        costs O(batch keys) and periodic compaction materializes the
        pending deletes. The commit is a delta (``add`` the dir plus
        ``add_deletes`` the eq-delete), and the fold scopes the eq-delete to
        the dirs visible at the commit's parent, so an append that lands
        between staging and commit is kept and superseded on matching keys.
        Crash recovery does the same: only a racing commit that is not a
        pure append (a rewrite) aborts the intent. On an empty table the
        eq-delete's scope is empty and it is dropped: a plain staged
        append."""
        tkey = (table.root, table.ref)
        self._table(tkey)
        table._check_stale_writer(df)
        table._enforce_constraints(df)
        d = table._write_new_dir(table._apply_layout(df))
        self.staged.append(
            {
                "root": table.root,
                "ref": table.ref,
                "op": "upsert-keys",
                "new_dirs": [d],
                # the delete-key set IS the staged dir's key column, so the
                # eq-delete points at the data dir itself (the reader
                # selects only `col` and distincts): zero extra write jobs,
                # and the upsert's two halves can never disagree about
                # which keys it covers. Its scope excludes the new dir, so
                # its own rows are never anti-joined away.
                "deletes": [{"type": "eq", "col": key, "path": d}],
                "batch_id": batch_id,
                "parent": table.current_version(),
            }
        )

    def commit(self) -> dict[tuple[str, str], int]:
        """Publish every staged write. Returns {(root, ref): version}."""
        import uuid

        if self._committed:
            raise SnapshotError("transaction already committed")
        if not self.staged:
            raise SnapshotError("nothing staged")
        os.makedirs(self.txn_dir, exist_ok=True)
        intent = os.path.join(self.txn_dir, f"txn-{uuid.uuid4().hex}.json")
        tmp = intent + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.staged, f, indent=1)
        os.replace(tmp, intent)  # ← the commit point
        versions = _apply_staged(self.tables, self.staged)
        os.remove(intent)
        self._committed = True
        return versions


def _apply_staged(
    tables: dict[tuple[str, str], SnapshotTable],
    staged: list[dict],
    recovery: bool = False,
) -> dict[tuple[str, str], int]:
    """Apply staged (op, new_dirs) commits, SKIPPING any whose dirs a
    snapshot already references — the idempotence that makes transaction
    recovery safe to run any number of times (dir names are uuid-unique, so
    the reference check is exact).

    ``recovery=True`` additionally enforces the staleness pin: if the table
    moved past the version a staged OVERWRITE was computed against,
    applying it would silently revert the racing writer's commit — raise
    :class:`SnapshotConflict` instead (the live ``commit()`` path applies
    immediately after the intent rename, so only crash recovery can observe
    this). A staged UPSERT-KEYS is pinned only against commits that are not
    pure appends: its eq-delete is scoped at fold time, so a racing append
    is kept and superseded on matching keys exactly as in the live path,
    while a racing rewrite (overwrite, compact, merge, delete, ...) aborts
    it. Every pin is validated BEFORE anything applies — a mid-list
    conflict must abort the whole intent, not leave it half-applied (the
    torn state transactions exist to prevent). Appends apply regardless:
    their delta entry commutes with any interleaved commit."""

    # one log read per TABLE, one applied-flag per entry — recovery must
    # not re-parse every table's full log once per validation AND once per
    # apply (entries' dir uuids are disjoint, so flags stay valid as
    # earlier entries commit)
    logs = {key: t._log() for key, t in tables.items()}
    refd = {
        key: {d for snap in log for d in SnapshotTable._named(snap)}
        for key, log in logs.items()
    }
    applied = [
        any(d in refd[(s["root"], s["ref"])] for d in s["new_dirs"]) for s in staged
    ]

    if recovery:
        for s, done in zip(staged, applied):
            if done or s["op"] not in ("overwrite", "upsert-keys"):
                continue
            key = (s["root"], s["ref"])
            since = [e for e in logs[key] if e["id"] > (s.get("parent") or 0)]
            if s["op"] == "upsert-keys":
                since = [e for e in since if not _pure_append(e)]
            if since:
                raise SnapshotConflict(
                    f"crashed {s['op']} for {tables[key].root} was staged at "
                    f"version {s.get('parent')} but version {since[0]['id']} "
                    f"({since[0]['op']}) has since landed"
                )
    versions: dict[tuple[str, str], int] = {}
    for s, done in zip(staged, applied):
        t = tables[(s["root"], s["ref"])]
        if done:
            versions[(t.root, t.ref)] = t.current_version()
            continue
        base = {"op": s["op"]}
        if s.get("batch_id") is not None:
            # stamp the idempotence key into the commit so a replayed
            # micro-batch can detect the whole transaction as applied
            base["batch_id"] = s["batch_id"]
        if s["op"] == "overwrite":
            base["dirs"] = s["new_dirs"]
        else:
            base["add"] = s["new_dirs"]
        if s["op"] == "upsert-keys":
            # an intent staged before the add/remove log listed the table's
            # whole pending-delete set; the staged eq-delete is the one
            # whose path is the staged dir
            base["add_deletes"] = [
                dl for dl in s.get("deletes", []) if dl.get("path") in s["new_dirs"]
            ]
        entry = t._commit(base)
        versions[(t.root, t.ref)] = entry["id"]
    return versions


def _pure_append(entry: dict) -> bool:
    """Does log ``entry`` only add data paths (no full-state replace, no
    removed path, no new delete)? Such a commit commutes with a staged
    upsert's delta."""
    return bool(entry.get("add")) and not (
        "dirs" in entry or entry.get("remove") or entry.get("add_deletes")
    )


def transaction_batch_seen(tables: list[SnapshotTable], batch_id) -> bool:
    """Has a multi-table transaction keyed by ``batch_id`` already committed
    to ANY of these tables? (After :func:`recover_transactions` has run,
    any-committed implies all-committed — the replay-skip test a streaming
    fan-out sink needs.)"""
    return any(_batch_logged(t._log(), batch_id) for t in tables)


def _batch_logged(log: list[dict], batch_id) -> bool:
    """Does any entry of ``log`` carry ``batch_id``?"""
    return any(s.get("batch_id") == batch_id for s in log)


def max_batch_seen(tables: list[SnapshotTable], prefix: str) -> int:
    """Highest ``n`` of any batch id ``"<prefix><n>"`` committed to any of
    ``tables`` (-1 if none)."""
    mx = -1
    for t in tables:
        for s in t._log():
            b = s.get("batch_id")
            if isinstance(b, str) and b.startswith(prefix):
                with contextlib.suppress(ValueError):
                    mx = max(mx, int(b[len(prefix) :]))
    return mx


def recover_transactions(spark: SparkSession, txn_dir: str) -> list[str]:
    """Complete every interrupted multi-table transaction whose intent file
    survived a crash (run at warehouse startup, BEFORE orphan cleanup).
    Idempotent: already-applied tables are detected by dir reference and
    skipped; intents replay in COMMIT order (file mtime — each intent's
    rename is its commit point). An intent whose overwrite was raced by a
    non-transactional writer, or whose keyed upsert was raced by a
    rewrite, is NOT applied (applying would revert that writer's commit):
    it is renamed to ``*.aborted.json`` for inspection —
    routing all writers to transaction-managed tables through their
    :class:`SnapshotWarehouse` (which recovers on open) prevents the race,
    the same discipline a catalog service enforces. Returns the recovered
    intent paths."""
    if not os.path.isdir(txn_dir):
        return []
    recovered = []
    names = [
        n
        for n in os.listdir(txn_dir)
        if n.startswith("txn-") and n.endswith(".json") and not n.endswith(".aborted.json")
    ]
    names.sort(key=lambda n: os.path.getmtime(os.path.join(txn_dir, n)))
    for name in names:
        intent = os.path.join(txn_dir, name)
        with open(intent) as f:
            staged = json.load(f)
        tables = {
            (s["root"], s["ref"]): SnapshotTable(spark, s["root"], ref=s["ref"])
            for s in staged
        }
        try:
            _apply_staged(tables, staged, recovery=True)
        except SnapshotConflict:
            os.replace(intent, intent[: -len(".json")] + ".aborted.json")
            continue
        os.remove(intent)
        recovered.append(intent)
    return recovered


def remove_orphans(table: SnapshotTable, grace_seconds: float = 3600.0) -> list[str]:
    """Delete data dirs referenced by NO snapshot in the log — the debris of
    writers that died between data write and commit (Iceberg's
    ``remove_orphan_files``). A grace period protects dirs an IN-FLIGHT
    writer has written but not yet committed: only dirs older than
    ``grace_seconds`` are eligible, so cleanup can run concurrently with
    writers. Metadata-only: reads the log and stats dirs, never data."""
    meta_dir = os.path.join(table.root, "metadata")
    if os.path.isdir(meta_dir):
        for n in os.listdir(meta_dir):
            if ".lock.stale-" in n:  # tombstones of broken stale locks
                with contextlib.suppress(OSError):
                    os.remove(os.path.join(meta_dir, n))
    data_root = os.path.join(table.root, "data")
    if not os.path.isdir(data_root):
        return []
    referenced: set[str] = set()
    for log in [table._log()] + table._branch_logs():
        for s in log:
            for p in table._named(s):
                referenced.add(p)
                # a carried-forward FILE keeps its containing commit dir alive
                if p.endswith(".parquet"):
                    referenced.add(os.path.dirname(p))
            referenced.update(table._delete_paths(s))
    removed = []
    now = time.time()
    for name in sorted(os.listdir(data_root)):
        d = os.path.join(data_root, name)
        if not os.path.isdir(d):
            continue
        if any(q == d or q.startswith(d + os.sep) for q in referenced):
            continue
        if now - os.path.getmtime(d) < grace_seconds:
            continue
        shutil.rmtree(d)
        # the crashed writer also wrote the dir's manifest + bloom sidecar
        # before it died; without this they accumulate as metadata debris
        for prefix in ("manifest", "bloom"):
            m = os.path.join(meta_dir, f"{prefix}-{name}.json")
            if os.path.exists(m):
                os.remove(m)
        removed.append(d)
    return removed


def maintain_table(
    table: SnapshotTable,
    max_files: int = 64,
    target_file_bytes: int = 128 * 1024 * 1024,
    keep_last: int | None = None,
    orphan_grace_seconds: float = 3600.0,
) -> dict:
    """One policy-driven maintenance cycle — the scheduled job every
    streaming table needs (Iceberg deployments run the same trio as Spark
    procedures): compact WHEN the current version's file count exceeds
    ``max_files`` (streaming ingest's one-file-per-trigger pathology,
    checked from metadata only — no scan), then optionally expire old
    snapshots (``keep_last``), then reclaim orphan dirs past the grace
    window. Decisions are metadata-driven, so an idle cycle costs
    microseconds regardless of table size. Returns what it did:
    ``{"compacted": bool, "expired": [...], "orphans_removed": [...]}``."""
    out: dict = {"compacted": False, "expired": [], "orphans_removed": []}
    if table.current_version() is None:
        return out
    snap = table._snapshot(None)
    n_files = len(table._expand_files(snap["dirs"]))
    if n_files > max_files:
        try:
            table.compact(target_file_bytes=target_file_bytes)
            out["compacted"] = True
        except SnapshotConflict:
            # live ingest committed mid-rewrite — routine in the exact
            # deployment this runs in; skip this cycle's compaction (the
            # next cycle retries against fresh state) but still expire and
            # sweep orphans below
            out["compact_conflict"] = True
    if keep_last is not None:
        out["expired"] = table.expire_snapshots(keep_last=keep_last)
    out["orphans_removed"] = remove_orphans(
        table, grace_seconds=orphan_grace_seconds
    )
    return out


def maintain_additive_rollup(
    feed: "SnapshotFeed",
    target: SnapshotTable,
    keys: list[str],
    sums: list[str],
) -> int | None:
    """One maintenance cycle of a table-to-table incremental aggregate:
    poll the source feed for appended rows, fold their PARTIAL sums into
    the rollup, commit the new rollup version keyed by the source version,
    then advance the feed cursor. Returns the source version processed, or
    None if the source has not advanced.

    Exactly-once without distributed transactions: the rollup commit's
    ``batch_id`` is the source version, so a crash between the rollup
    commit and the cursor advance replays the same delta, the replay's
    commit is skipped as a duplicate, and only the cursor moves — the same
    idempotence discipline the streaming ingest applies, now spanning two
    snapshot tables. Each cycle aggregates ONLY the delta (grouped sums are
    additive), then folds it into the current rollup — at scale the fold
    re-aggregates rollup+partial, whose size is bounded by group
    cardinality, never by source row count.

    Cursor reconciliation: a crash between the rollup commit and the
    cursor advance leaves the cursor BEHIND the rollup. If the source
    advances before the retry, the retry's batch_id (``src-v{v'}``) would
    not match the committed ``src-v{v}`` and the already-folded range
    would re-fold — so each cycle first fast-forwards the cursor to the
    highest ``src-v*`` the TARGET has committed (the rollup log is the
    durable record of what was folded)."""
    folded_to = max_batch_seen([target], "src-v")
    if folded_to > feed.cursor:
        feed.commit(folded_to)
    polled = feed.poll()
    if polled is None:
        return None
    delta, v = polled
    partial = delta.groupBy(*keys).agg(*[F.sum(c).alias(c) for c in sums])
    if target.current_version() is None:
        new_rollup = partial
    else:
        new_rollup = (
            target.read()
            .unionByName(partial)
            .groupBy(*keys)
            .agg(*[F.sum(c).alias(c) for c in sums])
        )
    target.overwrite(new_rollup, batch_id=f"src-v{v}")
    feed.commit(v)
    return v
