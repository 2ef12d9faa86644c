"""Transactional commit-log table ("Delta-class") — the mutation path that
survives 100 TB.

The reference gets per-document update/upsert/delete from its stores
natively (ElasticsearchCrudService.java:388-590,869-914,1016-1143 routes
mutations to the documents' shards; nothing else is touched). Plain
parquet has no such path: the naive implementation rewrites the whole
table for a 1-row update. This module supplies the missing commit
protocol as a minimal transactional table format, so mutations become
*partition-scoped file replacement + one atomic metadata commit* — the
same architecture as Delta Lake / Iceberg, reduced to what the engine
needs:

Layout::

    root/
      _txlog/00000000000000000001.json   # one JSON doc per commit
      _data/<hex>/part-*.parquet          # immutable data files

A commit file holds ``{"v", "op", "schema", "add": [{path, partition}],
"remove": [path, ...]}``. The active snapshot is the replay of all
commits in order (files added minus files removed); readers load the
snapshot's file list directly — **no directory listing of data**, which
on an object store is the difference between one small GET and a
million-object LIST.

Why this is object-store-safe where directory swaps are not:

- Data files are immutable and write-once; a mutation writes NEW files
  into a fresh ``_data/<hex>/`` staging dir and publishes them only via
  the log. A crashed writer leaves unreferenced garbage, never a
  half-visible table.
- The commit itself is a single exclusive-create (``open(..., "x")``) of
  the next sequential log file — the filesystem rendering of S3
  conditional PUT / If-None-Match. Two racing writers cannot both create
  ``0007.json``; the loser re-reads the snapshot, checks its removal set
  is still active (optimistic concurrency), and retries or raises.
- Readers resolve a snapshot once and keep reading those immutable files
  regardless of later commits (snapshot isolation); ``vacuum`` deletes
  files unreferenced by the last N snapshots only.

Scale notes (the point of the module):

- ``update_by_spec``/``delete_by_spec`` rewrite ONLY the files of
  partitions the query spec can touch. With a spec that pins the
  partition column (the common time-series case via
  ``extract_date_range``-style constraints) the untouched partitions are
  never read, never written, byte-identical after the commit.
- Partition values are recorded per-file in the log, so partition
  pruning for reads and mutations is a pure metadata operation (no
  probe scan) whenever the spec constrains the partition columns.
- At 1000 executors the data-file writes are ordinary parallel parquet
  jobs; only the O(KB) commit file is serialized through the log.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import urllib.parse
import uuid
from dataclasses import dataclass
from typing import Any, Iterable, Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aleph2_contrib_spark.functions.query import (
    MultiQuery,
    SingleQuery,
    compile_query,
)
from aleph2_contrib_spark.functions.update import (
    UpdateComponent,
    apply_update,
    seed_row_df,
)

_LOG_DIR = "_txlog"
_DATA_DIR = "_data"
_PPREFIX = "__p_"  # duplicated partition columns in the physical layout
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
_CKPT_SUFFIX = ".checkpoint.json"
_LAST_CKPT = "_last_checkpoint"


class ConcurrentModificationError(RuntimeError):
    """A concurrent commit removed files this transaction also rewrites."""


# Bloom filters whose log entry records no m/k predate per-file sizing:
# a standard filter of m=1024 bits probed at k=4 positions, the low 32
# bits of md5("j:value") mod m for j < k.
_LEGACY_BLOOM_M = 1024
_LEGACY_BLOOM_K = 4
# Every newer filter is blocked: a value sets k=6 bits inside ONE 64-bit
# word, so the stats job ORs one word per row and value instead of k
# scattered bits. From x = the first 60 bits of md5(value): word
# ((x mod 2^16) · m/64) >> 16, bits (x >> 24+6j) & 63 for j < k. m is
# sized to the file's row count, 12 bits per row (a ~1% false-positive
# rate for this layout at k=6) in whole words, clamped to [64, 2^20]
# bits; files past ~87k rows get the capped size and a higher rate.
# The word depends on x only through x mod 2^16, so the job can OR the
# words at that resolution before it knows any file's m.
_BLOOM_K = 6
_BLOOM_BITS_PER_ROW = 12
_BLOOM_M_MIN = 64
_BLOOM_M_MAX = 1 << 20
_BLOOM_WORD_BITS = 16


def _entry_dict(e: "FileEntry") -> dict:
    """JSON form of a FileEntry, shared by commit and checkpoint files."""
    return (
        {"path": e.path, "partition": e.partition}
        | ({"stats": e.stats} if e.stats else {})
        | ({"bloom": e.bloom} if e.bloom else {})
        | ({"bloom_m": e.bloom_m, "bloom_k": e.bloom_k} if e.bloom and e.bloom_m else {})
        | ({"rows": e.rows} if e.rows is not None else {})
    )


def _entry_from_dict(a: dict) -> "FileEntry":
    """Inverse of ``_entry_dict``."""
    return FileEntry(
        a["path"], a.get("partition", {}), a.get("stats"), a.get("bloom"), a.get("rows"),
        a.get("bloom_m"), a.get("bloom_k"),
    )


@dataclass(frozen=True)
class FileEntry:
    path: str  # root-relative
    partition: dict[str, str | None]
    # per-column [min, max] over the file's non-null values (zone map);
    # None/missing column = no stats recorded → file is never skipped
    stats: dict[str, list] | None = None
    # per-column Bloom filter (hex of an m-bit integer) for equality
    # skipping; None/missing column = never skipped
    bloom: dict[str, str] | None = None
    # row count (recorded when the write-time stats job runs) — lets an
    # unfiltered COUNT answer from log metadata alone
    rows: int | None = None
    # the blocked Blooms' size in bits and bits set per value; None = a
    # legacy 1024-bit, k=4 standard filter
    bloom_m: int | None = None
    bloom_k: int | None = None


def _bloom_may_contain(e: FileEntry, col: str, v: Any) -> bool:
    """May file ``e`` hold ``v`` in ``col``, by its Bloom filter? True
    (→ keep the file) for value types whose Python str() can diverge
    from Spark's cast-to-string used at build time (floats render
    1.23E8 vs 123456789.0; timestamps differ in fractional-second
    padding): Bloom skipping is restricted to int / str / bool keys,
    where the renderings provably agree."""
    import hashlib

    if v is None or not isinstance(v, (int, str, bool)):
        return True
    bits = int(e.bloom[col], 16)
    s = _pstr(v)
    if e.bloom_m is None:
        return all(
            bits >> (int(hashlib.md5(f"{j}:{s}".encode()).hexdigest()[:8], 16) % _LEGACY_BLOOM_M) & 1
            for j in range(_LEGACY_BLOOM_K)
        )
    x = int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
    word = bits >> (64 * _bloom_word(x % (1 << _BLOOM_WORD_BITS), e.bloom_m))
    return all((word >> ((x >> (24 + 6 * j)) & 63)) & 1 for j in range(e.bloom_k))


def _bloom_bits(rows: int) -> int:
    """Blocked-Bloom size m for a file of ``rows`` rows (see _BLOOM_K)."""
    m = 64 * -(-rows * _BLOOM_BITS_PER_ROW // 64)
    return min(max(m, _BLOOM_M_MIN), _BLOOM_M_MAX)


def _bloom_word(w: int | np.ndarray, m: int) -> int | np.ndarray:
    """Word of an m-bit blocked Bloom for word index ``w`` at the
    2^_BLOOM_WORD_BITS resolution the stats job groups on."""
    return (w * (m // 64)) >> _BLOOM_WORD_BITS


def _uri_path(uri: str) -> str:
    """Local path of a file URI as Spark reports it (input_file_name)."""
    return urllib.parse.unquote(urllib.parse.urlparse(uri).path)


def _pval_matches(dir_val: str | None, lit: Any) -> bool:
    """Does a hive directory value match a spec literal? Renderings are
    compared string-wise AND numerically (an int literal must match a
    float-typed partition's '2020.0' directory and vice versa); literal
    types whose rendering is engine-dependent (datetime/date/Decimal)
    return True — "might match", never wrongly pruned (the probe or the
    row-level predicate decides)."""
    import datetime as _dt
    import decimal as _decimal

    if lit is None or dir_val is None:
        return lit is None and dir_val is None
    if isinstance(lit, (_dt.datetime, _dt.date, _decimal.Decimal)):
        return True
    if dir_val == _pstr(lit):
        return True
    try:
        return float(dir_val) == float(lit)
    except (TypeError, ValueError):
        return False


def _pstr(v: Any) -> str | None:
    """Canonical string form of a partition value, matching how Spark's
    partitionBy renders it in a directory name (post URL-decode)."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _stat_json(v: Any) -> Any:
    """JSON-storable, order-preserving form of a stats value."""
    import datetime as _dt
    import decimal as _decimal

    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, _decimal.Decimal):
        return float(v)
    return v


def _stat_cmp_key(v: Any) -> Any:
    """Comparable form: spec literals and stored stats must land in the
    same ordering domain. Numbers → float; dates/datetimes → ISO strings
    (lexicographic == chronological); everything else unchanged."""
    import datetime as _dt
    import decimal as _decimal

    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float, _decimal.Decimal)):
        return float(v)
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    return v


def _overlaps(stats: list, lo, lo_incl: bool, hi, hi_incl: bool) -> bool:
    """Interval-overlap test between a file's [min, max] and a spec range.
    Any comparison failure (mixed types) → True (never skip unsafely)."""
    try:
        mn, mx = _stat_cmp_key(stats[0]), _stat_cmp_key(stats[1])
        if lo is not None:
            lo = _stat_cmp_key(lo)
            if (mx < lo) or (mx == lo and not lo_incl):
                return False
        if hi is not None:
            hi = _stat_cmp_key(hi)
            if (mn > hi) or (mn == hi and not hi_incl):
                return False
        return True
    except TypeError:
        return True


class TransactionalTable:
    """One table root with an append-only commit log.

    ``partition_cols`` fixes the physical partitioning for the table's
    lifetime (like a table format's partition spec); the columns stay
    ordinary data columns in the files — the log, not a hive directory
    scheme, is the source of partition metadata, so readers never depend
    on directory-name type inference.

    ``stats_cols`` names columns whose per-file [min, max] are recorded in
    the log at write time (zone maps, the file-level analogue of parquet
    row-group stats / a table format's data skipping). Reads and
    mutations whose spec constrains a stats column skip non-overlapping
    files from log metadata alone — e.g. a table appended in id order
    gets O(1)-file by-id updates without any partition on id. One extra
    scan of the JUST-WRITTEN files per write pays for it.

    ``bloom_cols`` adds a per-file Bloom filter for EQUALITY skipping on
    columns with no useful ordering — the zone map of an unordered id
    column spans everything, but its Bloom answers "definitely not in
    this file" for point lookups/deletes. Each filter is sized to its
    file's row count (12 bits per row, ~1% false positives; a false
    positive only costs reading one extra file) and blocked: a value's
    k=6 bits share one 64-bit word, one md5 per value. The log records
    m and k per file, 3 hex chars per row per column (18.8 KB for a
    6,250-row file); entries without them are the older fixed 1,024-bit,
    k=4 filters and are probed as such.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        partition_cols: Sequence[str] = (),
        stats_cols: Sequence[str] = (),
        bloom_cols: Sequence[str] = (),
        checkpoint_interval: int = 20,
    ):
        self.spark = spark
        # absolute: stats collection keys files by the absolute URI Spark
        # reports in input_file_name(); a relative root would never match
        self.root = os.path.abspath(root)
        self.partition_cols = tuple(partition_cols)
        self.stats_cols = tuple(stats_cols)
        self.bloom_cols = tuple(bloom_cols)
        # every N commits, the full replay state is checkpointed so a cold
        # reader does O(commits mod N) log reads, not O(commits) — the
        # difference between 1 GET and 10⁴ after a day of streaming
        # commits. 0 disables.
        self.checkpoint_interval = int(checkpoint_interval)
        # incremental commit-log replay cache (see _replay)
        self._cache: dict | None = None

    # -- log plumbing ------------------------------------------------------
    def _log_dir(self) -> str:
        return os.path.join(self.root, _LOG_DIR)

    def _commits(self) -> list[tuple[int, str]]:
        d = self._log_dir()
        if not os.path.isdir(d):
            return []
        out = []
        for name in os.listdir(d):
            if name.endswith(".json") and not name.endswith(_CKPT_SUFFIX):
                try:
                    out.append((int(name[:-5]), os.path.join(d, name)))
                except ValueError:
                    continue
        return sorted(out)

    # -- checkpoints -------------------------------------------------------
    def _checkpoints(self) -> list[tuple[int, str]]:
        d = self._log_dir()
        if not os.path.isdir(d):
            return []
        out = []
        for name in os.listdir(d):
            if name.endswith(_CKPT_SUFFIX):
                try:
                    out.append((int(name[: -len(_CKPT_SUFFIX)]), os.path.join(d, name)))
                except ValueError:
                    continue
        return sorted(out)

    def _load_checkpoint(self, path: str) -> dict:
        with open(path) as f:
            rec = json.load(f)
        return {
            "v": rec["v"],
            "schema": T.StructType.fromJson(json.loads(rec["schema"])) if rec.get("schema") else None,
            "active": {a["path"]: _entry_from_dict(a) for a in rec.get("active", [])},
            "txn": {k: int(v) for k, v in rec.get("txn", {}).items()},
        }

    def _maybe_checkpoint(self, v: int) -> None:
        """Best-effort full-state checkpoint after commit ``v`` (every
        ``checkpoint_interval`` commits). Exclusive-create, so concurrent
        committers of the same version write it once; failure is harmless
        (the next eligible commit retries). ``_last_checkpoint`` is an
        O(1) discovery hint (Delta's `_last_checkpoint` file) — stale or
        missing hints only cost a directory listing, never correctness.

        The whole body is exception-guarded: by the time this runs the commit
        has already durably succeeded, so NO checkpointing failure (disk
        full, permission, race) may propagate to the committer. The
        checkpoint JSON itself is written tmp-file + atomic os.replace so a
        crash mid-dump can never leave a truncated ``*.checkpoint.json``
        for readers to trip over."""
        if self.checkpoint_interval <= 0 or v % self.checkpoint_interval != 0:
            return
        try:
            self._write_checkpoint(v)
        except Exception:  # noqa: BLE001 — best-effort by contract
            return

    def _write_checkpoint(self, v: int) -> None:
        state = self._replay_latest(self._commits())
        if state["v"] != v:
            # the log advanced underneath us (or replay fell short):
            # checkpoint exactly version v via a bounded rebuild
            state = self._seed_state(v) or {"v": 0, "schema": None, "active": {}, "txn": {}}
            for cv, p in self._commits():
                if cv > v:
                    break
                if cv > state["v"]:
                    self._apply_commit(state, cv, p)
            if state["v"] != v:
                return
        rec = {
            "v": v,
            "schema": state["schema"].json() if state["schema"] is not None else None,
            "active": [_entry_dict(e) for e in state["active"].values()],
            "txn": state["txn"],
        }
        path = os.path.join(self._log_dir(), f"{v:020d}{_CKPT_SUFFIX}")
        if os.path.exists(path):
            return  # a concurrent committer of the same version beat us
        # tmp + atomic rename: readers either see the complete checkpoint or
        # none at all — never a truncated JSON (open(path,'x') + dump could
        # leave one after a mid-dump crash).
        ckpt_tmp = path + f".tmp.{os.getpid()}"
        with open(ckpt_tmp, "w") as f:
            json.dump(rec, f)
        os.replace(ckpt_tmp, path)
        tmp = os.path.join(self._log_dir(), _LAST_CKPT + ".tmp")
        with open(tmp, "w") as f:
            json.dump({"version": v}, f)
        os.replace(tmp, os.path.join(self._log_dir(), _LAST_CKPT))

    def _seed_state(self, version: int | None) -> dict | None:
        """Freshest checkpoint state usable as a replay base for
        ``version`` (None = latest). Prefers the ``_last_checkpoint``
        hint; falls back to listing."""
        ckpts = self._checkpoints()
        if not ckpts:
            return None
        usable = [c for c in ckpts if version is None or c[0] <= version]
        # A corrupt/unreadable checkpoint (partial write from a pre-atomic
        # version, disk fault) must never brick reads: fall back to the next
        # older checkpoint, and ultimately to full log replay (None).
        for _, path in reversed(usable):
            try:
                return self._load_checkpoint(path)
            except (OSError, ValueError, KeyError):
                continue
        return None

    def latest_version(self) -> int:
        c = self._commits()
        return c[-1][0] if c else 0

    def history(self) -> list[dict]:
        """Commit metadata, oldest first (schema omitted for brevity)."""
        out = []
        for v, p in self._commits():
            with open(p) as f:
                rec = json.load(f)
            out.append(
                {
                    "v": v,
                    "op": rec.get("op"),
                    "ts": rec.get("ts"),
                    "n_add": len(rec.get("add", [])),
                    "n_remove": len(rec.get("remove", [])),
                }
            )
        return out

    @staticmethod
    def _apply_commit(state: dict, v: int, path: str) -> None:
        with open(path) as f:
            rec = json.load(f)
        if rec.get("schema"):
            state["schema"] = T.StructType.fromJson(json.loads(rec["schema"]))
        for p in rec.get("remove", []):
            state["active"].pop(p, None)
        for a in rec.get("add", []):
            state["active"][a["path"]] = _entry_from_dict(a)
        t = rec.get("txn")
        if t and t.get("app"):
            state["txn"][t["app"]] = max(
                state["txn"].get(t["app"], -1), int(t.get("version", -1))
            )
        state["v"] = v

    def _replay_latest(self, commits: list[tuple[int, str]]) -> dict:
        """Incrementally replay NEW commits on the per-instance cache —
        every operation would otherwise re-parse the whole log
        (O(commits²) lifetime cost for a streaming sink; on an object
        store, thousands of redundant GETs per batch). Commits from other
        writers are picked up because the replay always advances to the
        listed tail; a truncated/rewritten log (tests, manual surgery)
        resets the cache."""
        latest = commits[-1][0] if commits else 0
        c = self._cache
        if c is None or c["v"] > latest:
            # cold instance (or truncated log): seed from the newest
            # checkpoint instead of replaying the whole log
            c = self._seed_state(latest if latest else None) or {
                "v": 0, "schema": None, "active": {}, "txn": {}
            }
            if c["v"] > latest:  # checkpoint newer than a truncated log
                c = {"v": 0, "schema": None, "active": {}, "txn": {}}
        for v, p in commits:
            if v > c["v"]:
                self._apply_commit(c, v, p)
        self._cache = c
        return c

    def snapshot(self, version: int | None = None) -> tuple[T.StructType | None, list[FileEntry]]:
        """Replay the log up to ``version`` (inclusive; None = latest).
        Returns (schema, active files). Schema None means the table has
        never been written. The latest snapshot is served from the
        incremental cache; historical versions (time travel) replay
        bounded from scratch."""
        commits = self._commits()
        latest = commits[-1][0] if commits else 0
        if version is None or version >= latest:
            c = self._replay_latest(commits)
            return c["schema"], list(c["active"].values())
        state = self._seed_state(version) or {"v": 0, "schema": None, "active": {}, "txn": {}}
        for v, p in commits:
            if v > version:
                break
            if v > state["v"]:
                self._apply_commit(state, v, p)
        return state["schema"], list(state["active"].values())

    def _commit(
        self,
        op: str,
        add: list[FileEntry],
        remove: list[str],
        schema: T.StructType,
        expect_active: Iterable[str] = (),
        read_version: int | None = None,
        txn: dict | None = None,
    ) -> int:
        """Exclusive-create log file ``read_version + 1`` (the version this
        transaction's snapshot was based on — so a log that advanced
        underneath us ALWAYS collides and goes through conflict
        validation); optimistic-retry on loss. ``expect_active``: files
        this transaction rewrites — if a racing commit already removed any
        of them, raise instead of double-committing a stale rewrite."""
        os.makedirs(self._log_dir(), exist_ok=True)
        rec = {
            "op": op,
            "ts": time.time(),
            "schema": schema.json(),
            "add": [_entry_dict(e) for e in add],
            "remove": list(remove),
        }
        if txn is not None:
            rec["txn"] = txn
        expect = set(expect_active)
        v = (read_version if read_version is not None else self.latest_version()) + 1
        while True:
            rec["v"] = v
            # Two-step atomic claim: dump the full record to a tmp name
            # (skipped by the log listing — non-integer stem), then claim
            # the version slot with os.link, which both fails atomically
            # if a racer won (the optimistic-concurrency contract "x" gave
            # us) AND only ever exposes a COMPLETE file under the commit
            # name — a reader can never observe a half-dumped commit JSON.
            tmp = os.path.join(self._log_dir(), f"inflight-{uuid.uuid4().hex}.json")
            with open(tmp, "w") as f:
                json.dump(rec, f)
            try:
                os.link(tmp, os.path.join(self._log_dir(), f"{v:020d}.json"))
                os.unlink(tmp)
                self._maybe_checkpoint(v)
                return v
            except FileExistsError:
                os.unlink(tmp)
                # lost the race — validate against the new snapshot and retry
                _, files = self.snapshot()
                still = {e.path for e in files}
                missing = expect - still
                if missing:
                    raise ConcurrentModificationError(
                        f"{len(missing)} file(s) this transaction rewrites were "
                        f"removed by a concurrent commit; re-run the mutation"
                    )
                v = self.latest_version() + 1

    # -- data-file writes --------------------------------------------------
    def _write_files(self, df: DataFrame) -> list[FileEntry]:
        """Write ``df`` into a fresh immutable staging dir; return entries.
        Partition columns are DUPLICATED into ``__p_*`` for the physical
        partitionBy (which strips its input columns from the files), so the
        data files keep the original columns and explicit-schema reads need
        no hive-name inference."""
        staging_rel = os.path.join(_DATA_DIR, uuid.uuid4().hex[:12])
        staging = os.path.join(self.root, staging_rel)
        out = df
        writer_cols = []
        for c in self.partition_cols:
            out = out.withColumn(_PPREFIX + c, F.col(c))
            writer_cols.append(_PPREFIX + c)
        w = out.write.mode("overwrite")
        if writer_cols:
            w = w.partitionBy(*writer_cols)
        w.parquet(staging)
        entries: list[FileEntry] = []
        paths: list[str] = []
        for f in glob.glob(os.path.join(glob.escape(staging), "**", "*.parquet"), recursive=True):
            rel = os.path.relpath(f, self.root)
            part: dict[str, str | None] = {}
            for seg in os.path.relpath(f, staging).split(os.sep)[:-1]:
                if "=" not in seg:
                    continue
                k, _, raw = seg.partition("=")
                if k.startswith(_PPREFIX):
                    k = k[len(_PPREFIX):]
                val = urllib.parse.unquote(raw)
                part[k] = None if val == _HIVE_NULL else val
            entries.append(FileEntry(rel, part))
            paths.append(f)
        stats, blooms, rows = self._collect_stats(df.schema, paths)
        if rows is not None:  # the stats job actually ran over these files
            with_stats = []
            for e in entries:
                key = os.path.join(self.root, e.path)
                m, bl = blooms.get(key, (None, None))
                # a file absent from the grouped stats job is EMPTY (0 rows
                # groups nothing) — record 0, not unknown
                with_stats.append(
                    FileEntry(
                        e.path, e.partition, stats.get(key), bl, rows.get(key, 0),
                        m, _BLOOM_K if m else None,
                    )
                )
            entries = with_stats
        return entries

    def _collect_stats(
        self, schema: T.StructType, paths: list[str]
    ) -> tuple[
        dict[str, dict[str, list]], dict[str, tuple[int, dict[str, str]]], dict[str, int] | None
    ]:
        """Per-file [min, max] of every stats column, per-file Bloom bits
        of every bloom column, and per-file row counts, in ONE Spark job
        over the just-written files only. Returns ({abs path: {col: [min,
        max]}}, {abs path: (m, {col: hex_bits})}, {abs path: rows});
        columns entirely null in a file are omitted (no metadata → never
        skipped).

        One aggregation over grouping sets yields both a row per file (row
        count, zone maps) and a row per (file, bloom column, word index
        mod 2^16) holding the OR of that index's bits. The word rows come
        back through Arrow — per file at most min(rows, 2^16), never a
        per-row list — and the driver folds each file's words into the m
        its row count gives."""
        from pyspark.sql.conversion import ArrowTableToRowsConversion

        names = {f.name for f in schema.fields}
        cols = [c for c in self.stats_cols if c in names]
        bcols = [c for c in self.bloom_cols if c in names]
        if (not cols and not bcols) or not paths:
            return {}, {}, None  # job did not run (no configured column present)
        sel = [F.input_file_name().alias("__f"), *cols]
        for ci, c in enumerate(bcols):
            # x = the first 60 bits of md5(value); a NULL value gives a
            # NULL word and sets no bits — a NULL can never satisfy an
            # equality term anyway. One SQL expression per column keeps
            # the plan build to a single gateway call.
            q = "`" + c.replace("`", "``") + "`"
            x = f"cast(conv(substring(md5(cast({q} as string)), 1, 15), 16, 10) as bigint)"
            bit = " | ".join(
                f"shiftleft(1L, cast(shiftright({x}, {24 + 6 * j}) & 63 as int))" for j in range(_BLOOM_K)
            )
            sel += [
                F.expr(f"{x} & {(1 << _BLOOM_WORD_BITS) - 1}").alias(f"__w{ci}"),
                F.expr(bit).alias(f"__b{ci}"),
            ]
        wcols = [f"__w{ci}" for ci in range(len(bcols))]
        grouped = (
            self.spark.read.schema(schema)
            .parquet(*paths)
            .select(*sel)
            .groupingSets([["__f"]] + [["__f", w] for w in wcols], "__f", *wcols)
            .agg(
                F.count(F.lit(1)).alias("__n"),
                *[F.min(c).alias(f"__mn_{c}") for c in cols],
                *[F.max(c).alias(f"__mx_{c}") for c in cols],
                *[F.bit_or(f"__b{ci}").alias(f"__b{ci}") for ci in range(len(bcols))],
                *[F.grouping(w).alias(f"__g{ci}") for ci, w in enumerate(wcols)],
            )
        )
        tbl = grouped.toArrow()
        grouping = [tbl[f"__g{ci}"].to_numpy(zero_copy_only=False) for ci in range(len(bcols))]
        is_file = np.ones(tbl.num_rows, dtype=bool)
        for g in grouping:
            is_file &= g == 1
        # the per-file rows through Spark's own Arrow → Row conversion, so
        # zone-map values have the same Python types as a collect()
        keep = ["__f", "__n", *[f"__{n}_{c}" for n in ("mn", "mx") for c in cols]]
        file_rows = ArrowTableToRowsConversion.convert(
            tbl.filter(is_file).select(keep), T.StructType([grouped.schema[k] for k in keep])
        )
        stats_out: dict[str, dict[str, list]] = {}
        bloom_out: dict[str, tuple[int, dict[str, str]]] = {}
        rows_out: dict[str, int] = {}
        for r in file_rows:
            key = _uri_path(r["__f"])
            rows_out[key] = int(r["__n"])
            st = {
                c: [_stat_json(r[f"__mn_{c}"]), _stat_json(r[f"__mx_{c}"])]
                for c in cols
                if r[f"__mn_{c}"] is not None
            }
            if st:
                stats_out[key] = st
        for ci, c in enumerate(bcols):
            words = tbl.filter(grouping[ci] == 0).select(["__f", f"__w{ci}", f"__b{ci}"])
            for uri, grp in words.drop_null().to_pandas().groupby("__f"):
                key = _uri_path(uri)
                m = _bloom_bits(rows_out[key])
                filt = np.zeros(m // 64, dtype="<u8")
                w, bit = grp[f"__w{ci}"].to_numpy(), grp[f"__b{ci}"].to_numpy()
                np.bitwise_or.at(filt, _bloom_word(w, m), bit.view(np.uint64))
                bits = int.from_bytes(filt.tobytes(), "little")
                bloom_out.setdefault(key, (m, {}))[1][c] = f"{bits:x}"
        return stats_out, bloom_out, rows_out

    def count_rows(self) -> int | None:
        """Metadata-only COUNT(*): the sum of per-file row counts, when
        every active file has one recorded (tables with stats/bloom
        columns); None → caller falls back to a scan. The commit-log
        answer to the classic 'count the table' warehouse query — zero
        data read."""
        _, active = self.snapshot()
        if not active or any(e.rows is None for e in active):
            return None
        return sum(e.rows for e in active)

    def _aligned(self, df: DataFrame, schema: T.StructType | None) -> tuple[DataFrame, T.StructType]:
        """Align ``df`` to the table schema with add-column evolution:
        new columns append to the schema; existing columns cast to their
        declared type; columns absent from ``df`` become nulls."""
        if schema is None:
            return df, df.schema
        merged = list(schema.fields)
        known = {f.name for f in schema.fields}
        for f in df.schema.fields:
            if f.name not in known:
                merged.append(f)
        new_schema = T.StructType(merged)
        cols = [
            (F.col(f.name).cast(f.dataType) if f.name in df.columns else F.lit(None).cast(f.dataType)).alias(f.name)
            for f in new_schema.fields
        ]
        return df.select(*cols), new_schema

    # -- public write surface ---------------------------------------------
    def append(
        self, df: DataFrame, txn_app: str | None = None, txn_version: int | None = None
    ) -> int:
        """Append new files. With ``txn_app``/``txn_version`` the append is
        IDEMPOTENT per app: a commit records the (app, version) marker,
        and a replay of an already-committed version is a no-op — the
        contract a Structured Streaming ``foreachBatch`` sink needs to
        turn checkpointed at-least-once batch delivery into exactly-once
        table contents (same design as a table format's transactional
        writer identifiers). One writer per app at a time; concurrent
        DIFFERENT apps interleave safely through the commit log."""
        if (txn_app is None) != (txn_version is None):
            raise ValueError("pass BOTH txn_app and txn_version, or neither")
        if txn_app is not None and self.last_txn_version(txn_app) >= txn_version:
            return self.latest_version()  # replayed batch — already in
        rv = self.latest_version()
        schema, _ = self.snapshot(rv if rv else None)
        aligned, new_schema = self._aligned(df, schema)
        txn = {"app": txn_app, "version": txn_version} if txn_app is not None else None
        return self._commit(
            "append", self._write_files(aligned), [], new_schema, read_version=rv, txn=txn
        )

    def merge_by_key(
        self,
        df: DataFrame,
        key_cols: Sequence[str],
        txn_app: str | None = None,
        txn_version: int | None = None,
    ) -> int:
        """MERGE INTO by key: rows of ``df`` REPLACE existing rows with
        the same ``key_cols`` tuple and insert otherwise — one atomic
        commit. The upsert primitive a streaming update-mode aggregate
        needs (each micro-batch emits changed groups; merging them keeps
        the table equal to the current aggregate state), and the
        reference's storeObjects(replace_if_present) semantics
        (ElasticsearchCrudService.java:388-454) at file granularity.

        Only candidate files are rewritten: files are pruned by zone-map
        overlap with the incoming keys' [min, max] (per key column) —
        configure ``stats_cols`` on the merge keys (plus ``optimize`` for
        clustering) to keep the rewrite O(touched), not O(table). Files
        without stats are conservatively rewritten. Supports the same
        idempotent (txn_app, txn_version) markers as append."""
        if (txn_app is None) != (txn_version is None):
            raise ValueError("pass BOTH txn_app and txn_version, or neither")
        if txn_app is not None and self.last_txn_version(txn_app) >= txn_version:
            return self.latest_version()
        rv = self.latest_version()
        schema, active = self.snapshot(rv if rv else None)
        txn = {"app": txn_app, "version": txn_version} if txn_app is not None else None
        if schema is None:
            return self._commit(
                "merge_by_key", self._write_files(df), [], df.schema, read_version=rv, txn=txn
            )
        aligned, merged_schema = self._aligned(df, schema)
        # zone-map candidate pruning from the incoming keys' bounds; the
        # same aggregate tells whether the batch is empty. Empty micro-
        # batches are common under foreachBatch — without the guard the
        # all-NULL key bounds would overlap every file and the whole table
        # would be rewritten per empty batch
        stat_keys = [c for c in key_cols if c in self.stats_cols]
        touched = active
        if stat_keys:
            probe = aligned.agg(F.count(F.lit(1)).alias("__n"), *_bounds_aggs(stat_keys)).first()
            if probe["__n"] == 0:
                return rv
            touched = _overlapping(active, stat_keys, probe)
        elif df.isEmpty():
            return rv
        keys = aligned.select(*key_cols).dropDuplicates(list(key_cols))
        survivors = self.read(files=touched).join(keys, list(key_cols), "left_anti")
        out = survivors.unionByName(aligned, allowMissingColumns=True)
        adds = self._write_files(out)
        return self._commit(
            "merge_by_key", adds, [e.path for e in touched], merged_schema,
            expect_active=[e.path for e in touched], read_version=rv, txn=txn,
        )

    def apply_cdc(
        self,
        df: DataFrame,
        key_cols: Sequence[str],
        op_col: str = "op",
        seq_cols: Sequence[str] = ("seq",),
        delete_value: str = "d",
        txn_app: str | None = None,
        txn_version: int | None = None,
    ) -> int:
        """Apply a change-data-capture batch in ONE atomic commit: rows
        carry an ``op_col`` ('u'psert vs ``delete_value``) and ordering
        columns ``seq_cols``; per key the LAST change wins (ties broken
        by the later seq tuple), upserts replace/insert and deletes
        remove. The streaming CDC-apply primitive (foreachBatch sink over
        an ordered change stream): batch-wise application of reduced
        batches equals global last-writer-wins as long as batches
        partition the stream in seq order, so replaying a change feed
        reconstructs the table exactly.

        vs ``merge_by_key`` + ``delete_by_spec``: one commit instead of
        two (a reader can never observe the half-applied state between
        them), one candidate-file rewrite instead of two, and the
        delete keys never round-trip through the driver as a query spec.

        ``op_col`` is stripped from the stored payload; ``seq_cols``
        remain ordinary payload columns (the version/timestamp column of
        a CDC feed is normally part of the row). Same zone-map candidate
        pruning and idempotent (txn_app, txn_version) markers as
        ``merge_by_key`` — pass the foreachBatch batch_id as the version
        for exactly-once under micro-batch retries."""
        from pyspark.sql import Window

        if (txn_app is None) != (txn_version is None):
            raise ValueError("pass BOTH txn_app and txn_version, or neither")
        if txn_app is not None and self.last_txn_version(txn_app) >= txn_version:
            return self.latest_version()
        rv = self.latest_version()
        schema, active = self.snapshot(rv if rv else None)
        txn = {"app": txn_app, "version": txn_version} if txn_app is not None else None
        # one aggregate answers every pre-write probe: is the batch empty,
        # does it hold a NULL op, and the keys' bounds for zone-map
        # candidate pruning (every key of df survives into `last` below)
        stat_keys = [c for c in key_cols if c in self.stats_cols]
        probe = df.agg(
            F.count(F.lit(1)).alias("__n"),
            F.count(F.when(F.col(op_col).isNull(), 1)).alias("__null_ops"),
            *_bounds_aggs(stat_keys),
        ).first()
        if probe["__n"] == 0:
            return rv
        # A NULL op must ERROR, not silently act as a delete: the upsert
        # filter below is three-valued (NULL != delete_value is NULL →
        # dropped from upserts while its key still evicts the old row).
        if probe["__null_ops"]:
            raise ValueError(
                f"apply_cdc: NULL value in op column {op_col!r} — every CDC "
                f"row must carry an explicit op (delete rows use "
                f"{delete_value!r}); refusing to guess"
            )
        w = Window.partitionBy(*key_cols).orderBy(
            *[F.col(c).desc() for c in seq_cols]
        )
        last = (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        upserts = last.filter(F.col(op_col) != F.lit(delete_value)).drop(op_col)
        if schema is None:
            return self._commit(
                "apply_cdc", self._write_files(upserts), [], upserts.schema,
                read_version=rv, txn=txn,
            )
        aligned, merged_schema = self._aligned(upserts, schema)
        # EVERY changed key evicts its old row (upserts replace, deletes
        # just don't come back) — one anti-join covers both op kinds
        keys = last.select(*key_cols).dropDuplicates(list(key_cols))
        touched = _overlapping(active, stat_keys, probe) if stat_keys else active
        survivors = self.read(files=touched).join(keys, list(key_cols), "left_anti")
        out = survivors.unionByName(aligned, allowMissingColumns=True)
        adds = self._write_files(out)
        return self._commit(
            "apply_cdc", adds, [e.path for e in touched], merged_schema,
            expect_active=[e.path for e in touched], read_version=rv, txn=txn,
        )

    def last_txn_version(self, app: str) -> int:
        """Highest committed txn version for ``app`` (-1 if none) — from
        the incremental replay cache, not a fresh log scan."""
        return self._replay_latest(self._commits())["txn"].get(app, -1)

    def overwrite(self, df: DataFrame) -> int:
        rv = self.latest_version()
        _, files = self.snapshot(rv if rv else None)
        return self._commit(
            "overwrite", self._write_files(df), [e.path for e in files], df.schema,
            expect_active=[e.path for e in files], read_version=rv,
        )

    def restore(self, version: int) -> int:
        """RESTORE to a historical snapshot as a METADATA-ONLY commit: the
        new commit re-adds the target snapshot's files and retires the
        current ones — zero data read or written, any table size. The
        rollback a training pipeline needs when a bad batch lands ("the
        7am crawl poisoned the corpus — put yesterday's table back") and
        the reference's point-in-time recovery analogue done the table-
        format way (Delta RESTORE). History is preserved: the restore is
        itself a commit, so it can in turn be restored away.

        Raises if any target file was already vacuumed (the snapshot is
        unrecoverable past the vacuum grace window)."""
        rv = self.latest_version()
        if version >= rv:
            return rv
        schema, target = self.snapshot(version)
        if schema is None:
            raise FileNotFoundError(f"no commits at {self.root} as of v{version}")
        missing = [e.path for e in target if not os.path.exists(os.path.join(self.root, e.path))]
        if missing:
            raise FileNotFoundError(
                f"cannot restore to v{version}: {len(missing)} file(s) vacuumed, "
                f"e.g. {missing[0]!r} — increase vacuum retain_snapshots"
            )
        _, cur = self.snapshot(rv)
        cur_paths = {e.path for e in cur}
        target_paths = {e.path for e in target}
        return self._commit(
            "restore",
            [e for e in target if e.path not in cur_paths],
            sorted(cur_paths - target_paths),
            schema,
            expect_active=cur_paths & target_paths,
            read_version=rv,
        )

    def read_changes(
        self, from_version: int, to_version: int | None = None, include_rewrites: bool = False
    ) -> DataFrame:
        """Change-data-feed over the commit log: the rows ADDED by commits
        in ``(from_version, to_version]``, stamped ``_commit_version`` and
        ``_change_op`` — the incremental-consumption half of the txn-marker
        contract (a downstream job persists its last-consumed version and
        asks only for what's new, instead of re-scanning 100 TB per run).

        Append-only commits (``append``/``upsert_insert``) are EXACT
        inserts. Rewrite commits (update/delete/merge/optimize/...) add
        files that also contain unchanged survivor rows; without per-row
        change tracking those cannot be split into before/after images, so
        by default a rewrite commit in range raises — pass
        ``include_rewrites=True`` to get every added-file row anyway
        (documented as "the post-image of the touched files", which is the
        right feed for a full-refresh-of-touched-partitions consumer).
        Maintenance commits (``optimize``/``compact``/``restore``) move
        rows between files without changing table contents and are always
        SKIPPED rather than re-emitted."""
        commits = self._commits()
        schema, _ = self.snapshot()
        if schema is None:
            raise FileNotFoundError(f"no commits at {self.root}")
        out_schema = T.StructType(
            list(schema.fields)
            + [
                T.StructField("_commit_version", T.LongType(), False),
                T.StructField("_change_op", T.StringType(), False),
            ]
        )
        parts: list[DataFrame] = []
        for v, p in commits:
            if v <= from_version or (to_version is not None and v > to_version):
                continue
            with open(p) as f:
                rec = json.load(f)
            op = rec.get("op")
            if op in ("optimize", "compact", "restore"):
                continue  # layout-only: no logical change to emit
            if op not in ("append", "upsert_insert") and not include_rewrites:
                raise ValueError(
                    f"commit v{v} is {op!r} (a rewrite); rows added by it include "
                    f"unchanged survivors — pass include_rewrites=True to consume "
                    f"touched-file post-images, or restrict the version range"
                )
            paths = [os.path.join(self.root, a["path"]) for a in rec.get("add", [])]
            missing = [p for p in paths if not os.path.exists(p)]
            if missing:
                # A later rewrite retired these files and vacuum removed them.
                # Silently dropping them would violate the "EXACT inserts"
                # contract (and run_incremental's exactly-once guarantee) for
                # a lagging consumer — fail loudly, like restore() does.
                raise FileNotFoundError(
                    f"commit v{v}: {len(missing)} data file(s) vacuumed (e.g. "
                    f"{os.path.basename(missing[0])!r}); the change feed for this "
                    f"range is no longer reconstructable — narrow the version "
                    f"range or increase vacuum retain_snapshots"
                )
            if not paths:
                continue
            file_schema = (
                T.StructType.fromJson(json.loads(rec["schema"])) if rec.get("schema") else schema
            )
            d = self.spark.read.schema(file_schema).parquet(*paths)
            # align historical commits to the CURRENT schema (add-column
            # evolution means later columns are null for earlier commits)
            d, _ = self._aligned(d, schema)
            parts.append(
                d.withColumn("_commit_version", F.lit(v).cast("long")).withColumn(
                    "_change_op", F.lit(op)
                )
            )
        if not parts:
            return self.spark.createDataFrame([], out_schema)
        out = parts[0]
        for d in parts[1:]:
            out = out.unionByName(d)
        return out

    # -- read surface ------------------------------------------------------
    def read(self, version: int | None = None, files: list[FileEntry] | None = None) -> DataFrame:
        schema, active = self.snapshot(version)
        if files is not None:
            active = files
        if schema is None:
            raise FileNotFoundError(f"no commits at {self.root}")
        if not active:
            return self.spark.createDataFrame([], schema)
        paths = [os.path.join(self.root, e.path) for e in active]
        return self.spark.read.schema(schema).parquet(*paths)

    def read_pruned(self, spec: SingleQuery | MultiQuery) -> DataFrame:
        """The snapshot restricted to files the spec could possibly match
        (partition values + zone maps + Blooms, pure log metadata — no
        scan of excluded files). The spec's predicate is NOT applied —
        callers compose their own filter/count/projection on top."""
        schema, active = self.snapshot()
        if schema is None:
            raise FileNotFoundError(f"no commits at {self.root}")
        return self.read(files=self._prune_files(active, spec))

    def read_with_query(self, spec: SingleQuery | MultiQuery) -> DataFrame:
        """Pruned read + the full query semantics (predicate, projection,
        ordering, limit) on the survivors."""
        from aleph2_contrib_spark.functions.query import apply_query

        return apply_query(self.read_pruned(spec), spec)

    # -- partition-scoped mutations ---------------------------------------
    def _static_constraints(self, spec) -> dict[str, list[tuple]]:
        """Per-column constraints implied by the spec in top-level AND
        context (the conservative subset, same philosophy as
        interpretObviousDateRange, ElasticsearchUtils.java:261-305) for
        the prunable columns (partition + stats). Constraint forms:
        ("in", [raw values...]) from equals/any_of, and
        ("range", lo, lo_incl, hi, hi_incl). Empty dict = nothing static
        (mutations fall back to a probe)."""
        prunable = set(self.partition_cols) | set(self.stats_cols) | set(self.bloom_cols)
        out: dict[str, list[tuple]] = {}

        def visit(node):
            if isinstance(node, MultiQuery):
                if node.op != "and":
                    return
                for c in node.components:
                    visit(c)
                return
            if node.op != "and":
                return
            for c in node.clauses:
                if c.fld not in prunable:
                    continue
                if c.op == "equals":
                    out.setdefault(c.fld, []).append(("in", [c.args[0]]))
                elif c.op == "any_of":
                    out.setdefault(c.fld, []).append(("in", list(c.args[0])))
                elif c.op == "range":
                    lo, lo_incl, hi, hi_incl = c.args
                    out.setdefault(c.fld, []).append(("range", lo, lo_incl, hi, hi_incl))

        visit(spec)
        return out

    def _static_partition_sets(self, spec) -> dict[str, set]:
        """Partition-column allowed-value sets — RAW spec literals
        (equality/any_of only; range constraints prune via stats, not
        here). Matching against directory strings goes through
        ``_pval_matches``, which is numeric-coercion-aware and declines
        engine-dependent renderings rather than wrongly pruning."""
        out: dict[str, set] = {}
        for col, cons in self._static_constraints(spec).items():
            if col not in self.partition_cols:
                continue
            for kind, *payload in cons:
                if kind != "in":
                    continue
                vals = set(payload[0])
                out[col] = out[col] & vals if col in out else vals
        return out

    def _prune_files(self, active: list[FileEntry], spec) -> list[FileEntry]:
        """Log-metadata pruning: partition-value match + zone-map overlap +
        Bloom membership for equality terms. Files lacking metadata for a
        constrained column are conservatively kept."""
        sets = self._static_partition_sets(spec)
        if sets:
            active = [e for e in active if _partition_matches(e, sets)]
        cons = self._static_constraints(spec)
        stat_cons = {c: v for c, v in cons.items() if c in self.stats_cols}
        bloom_cons = {
            c: [con for con in v if con[0] == "in"]
            for c, v in cons.items()
            if c in self.bloom_cols
        }
        bloom_cons = {c: v for c, v in bloom_cons.items() if v}
        if not stat_cons and not bloom_cons:
            return active

        def keep(e: FileEntry) -> bool:
            for col, clist in stat_cons.items():
                st = (e.stats or {}).get(col)
                if st is None:
                    continue  # no stats → cannot skip
                for con in clist:
                    if con[0] == "in":
                        if not any(_overlaps(st, v, True, v, True) for v in con[1]):
                            return False
                    else:
                        _, lo, lo_incl, hi, hi_incl = con
                        if not _overlaps(st, lo, lo_incl, hi, hi_incl):
                            return False
            for col, clist in bloom_cons.items():
                if col not in (e.bloom or {}):
                    continue
                for con in clist:
                    # the file can match only if SOME candidate value may
                    # be present ("definitely absent" for all → skip)
                    if not any(_bloom_may_contain(e, col, v) for v in con[1]):
                        return False
            return True

        return [e for e in active if keep(e)]

    def _touched(self, spec) -> tuple[list[FileEntry], list[FileEntry]]:
        """(touched, untouched) file split for a mutation spec. Static
        partition constraints prune from log metadata alone; otherwise a
        probe scan (partition columns only, benefiting from parquet column
        pruning) computes the exact touched partition set."""
        schema, active = self.snapshot()
        if schema is None:
            raise FileNotFoundError(f"no commits at {self.root}")
        # metadata-only narrowing first: partition-value match + zone-map
        # overlap — excluded files are PROVABLY match-free, so skipping
        # them from the rewrite is exact
        pruned = self._prune_files(active, spec)
        if self._static_partition_sets(spec) or not self.partition_cols:
            # partitions pinned statically (or no partitioning to probe):
            # the metadata answer is final
            touched = pruned
        else:
            # partitioned but not statically pinned: probe the (possibly
            # stats-narrowed) candidates for the exact touched partitions
            pred = compile_query(spec, schema)
            rows = (
                self.read(files=pruned)
                .filter(pred)
                .select(*self.partition_cols)
                .distinct()
                .collect()  # bounded by the partition count, not the data
            )
            allowed = {tuple(_pstr(r[c]) for c in self.partition_cols) for r in rows}
            touched = [
                e
                for e in pruned
                if tuple(e.partition.get(c) for c in self.partition_cols) in allowed
            ]
        touched_set = {e.path for e in touched}
        return touched, [e for e in active if e.path not in touched_set]

    def _mutate(self, op: str, spec, transform) -> int:
        """Core partition-scoped rewrite: read ONLY touched files, apply
        ``transform``, publish new files + retire old ones in one commit.
        Untouched partitions' files are never read (beyond an optional
        partition-column probe) and stay byte-identical."""
        rv = self.latest_version()
        schema, _ = self.snapshot(rv if rv else None)
        touched, _untouched = self._touched(spec)
        if not touched:
            return rv
        out = transform(self.read(files=touched))
        adds = self._write_files(out)
        # commit the MERGED schema: an update that sets a brand-new column
        # must evolve the table schema, or reads (which project the
        # committed schema) would silently drop the new column
        _, merged = self._aligned(out.limit(0), schema)
        return self._commit(
            op, adds, [e.path for e in touched], merged,
            expect_active=[e.path for e in touched], read_version=rv,
        )

    def update_by_spec(self, spec, update: UpdateComponent) -> int:
        """C6-C12 by spec, partition-scoped. A row whose update would MOVE
        it across partitions (an update clause targeting a partition
        column) is still correct: the rewritten files' partition values are
        re-derived from the post-update rows, and the commit retires the
        source files — the move is just files in one partition being
        replaced by files in another within the same atomic commit."""
        return self._mutate("update_by_spec", spec, lambda df: apply_update(df, spec, update))

    def delete_by_spec(self, spec) -> int:
        """C13/C14, partition-scoped. A partition whose rows are all
        deleted simply contributes no new files — the log removal makes it
        vanish (no empty-directory residue)."""
        # NULL-safe negation: a row whose predicate evaluates to NULL (e.g.
        # a NULL field in an equality term) is NOT matched and must SURVIVE
        # the delete — filter(~NULL) would silently drop it (three-valued
        # logic), diverging from the delete-by-query semantics matched here.
        return self._mutate(
            "delete_by_spec",
            spec,
            lambda df: df.filter(~F.coalesce(compile_query(spec, df.schema), F.lit(False))),
        )

    def upsert_by_spec(self, spec, update: UpdateComponent) -> int:
        """C6 upsert: update matched partitions if any row matches, else
        append one seeded row (Mongo upsert seeding) — an append commit,
        no rewrite at all."""
        rv = self.latest_version()
        schema, active = self.snapshot(rv if rv else None)
        if schema is None:
            raise FileNotFoundError(f"no commits at {self.root}")
        touched, _ = self._touched(spec)
        pred = compile_query(spec, schema)
        if touched and self.read(files=touched).filter(pred).limit(1).count() > 0:
            return self.update_by_spec(spec, update)
        seed = seed_row_df(self.spark, schema, spec, update)
        return self._commit(
            "upsert_insert", self._write_files(seed), [], schema, read_version=rv
        )

    # -- maintenance -------------------------------------------------------
    def optimize(
        self,
        sort_cols: Sequence[str],
        files_per_range: int = 1,
        zorder: bool = False,
        zorder_bits: int = 6,
    ) -> int:
        """C16 optimizeQuery as a log commit: rewrite the table clustered
        on ``sort_cols`` (range-partitioned THEN sorted within files), so
        each data file covers a narrow [min, max] slice and the zone maps
        recorded at write time become sharply selective — point lookups
        and range scans on those columns then touch O(1) files. The old
        files retire in the same atomic commit; in-flight readers keep
        their snapshot (vacuum grace), unlike an in-place rewrite.

        Lexicographic sort is the single-dimension case the reference's
        optimizeQuery models (MongoDbCrudService.java:297-322 creates a
        secondary index on the field list; here the LAYOUT is the index
        and the commit log holds its statistics). It makes only the FIRST
        sort column's zone maps selective; with ``zorder=True`` the rows
        are instead clustered on a Morton (Z-) curve over ALL the columns
        — every column's per-file [min, max] narrows to ~domain/2^(bits
        shared per dim), so multi-dimension point/range queries each skip
        most files (the table-format Z-ORDER). Implementation: per-column
        equi-depth bucket ids from one bounded ``approxQuantile`` pass
        (equi-depth, so skewed columns still spread across buckets),
        bit-interleaved into a single long, then range-partition + sort on
        that z-value. The z column is derived transiently and not stored.
        Z-order columns must cast to double (numeric/timestamp/date/bool);
        raises on strings — lexicographic sort is the right tool there."""
        rv = self.latest_version()
        schema, active = self.snapshot(rv if rv else None)
        if schema is None:
            raise FileNotFoundError(f"no commits at {self.root}")
        if not active:
            return rv
        nparts = max(1, len(active) // max(1, files_per_range)) or 1
        df = self.read(files=active)
        if zorder and len(sort_cols) > 1:
            z = self._zvalue(df, sort_cols, zorder_bits)
            df = (
                df.withColumn("__z", z)
                .repartitionByRange(nparts, "__z")
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        else:
            df = df.repartitionByRange(nparts, *sort_cols).sortWithinPartitions(*sort_cols)
        adds = self._write_files(df)
        return self._commit(
            "optimize", adds, [e.path for e in active], schema,
            expect_active=[e.path for e in active], read_version=rv,
        )

    def _zvalue(self, df: DataFrame, cols: Sequence[str], bits: int) -> "F.Column":
        """Morton z-value Column over ``cols``: equi-depth bucket per
        column (boundaries from ONE approxQuantile pass — driver holds
        2^bits floats per column, bounded regardless of table size), bits
        interleaved lowest-first so all dimensions share locality at every
        scale of the curve. NULLs sort to bucket 0 (the curve's origin),
        matching NULLS FIRST."""
        if bits * len(cols) > 62:
            raise ValueError(f"zorder_bits={bits} × {len(cols)} cols exceeds 62 bits")
        dcols = []
        tmp = df
        for ci, c in enumerate(cols):
            f = next((f for f in df.schema.fields if f.name == c), None)
            if f is None:
                raise KeyError(f"zorder column {c!r} not in table schema")
            if isinstance(f.dataType, (T.StringType, T.BinaryType)):
                raise ValueError(
                    f"zorder column {c!r} is {f.dataType.simpleString()}: z-order "
                    f"needs a numeric ordering — use lexicographic optimize() for strings"
                )
            d = f"__zq_{ci}"
            tmp = tmp.withColumn(d, F.col(c).cast("double"))
            dcols.append(d)
        probs = [i / float(1 << bits) for i in range(1, 1 << bits)]
        quantiles = tmp.stat.approxQuantile(dcols, probs, 0.001)
        z = F.lit(0).cast("long")
        for ci, (c, d, qs) in enumerate(zip(cols, dcols, quantiles)):
            bounds = sorted({q for q in qs if q is not None})
            if not bounds:  # all-null or constant column: contributes bucket 0
                continue
            arr = F.array(*[F.lit(b) for b in bounds])
            dc = F.col(c).cast("double")
            bucket = F.when(dc.isNull(), F.lit(0)).otherwise(
                F.size(F.filter(arr, lambda b: dc >= b))
            ).cast("long")
            for i in range(bits):
                z = z.bitwiseOR(
                    F.shiftleft(
                        F.shiftright(bucket, i).bitwiseAND(F.lit(1)),
                        i * len(cols) + ci,
                    )
                )
        return z

    def compact(self, target_files_per_partition: int = 1) -> int | None:
        """Small-file compaction as a log commit: per partition value,
        coalesce that partition's files when it has more than the target.
        Readers racing the compaction keep their snapshot's files (vacuum
        grace), so this is safe on live tables — unlike an in-place
        directory rewrite."""
        rv = self.latest_version()
        schema, active = self.snapshot(rv if rv else None)
        if schema is None:
            return None
        by_part: dict[tuple, list[FileEntry]] = {}
        for e in active:
            by_part.setdefault(tuple(sorted(e.partition.items())), []).append(e)
        victims = [es for es in by_part.values() if len(es) > target_files_per_partition]
        if not victims:
            return None
        flat = [e for es in victims for e in es]
        merged = self.read(files=flat).coalesce(
            max(1, len(victims) * target_files_per_partition)
        )
        adds = self._write_files(merged)
        return self._commit(
            "compact", adds, [e.path for e in flat], schema,
            expect_active=[e.path for e in flat], read_version=rv,
        )

    def vacuum(self, retain_snapshots: int = 2, min_age_seconds: float = 3600.0) -> list[str]:
        """Delete data files unreferenced by the last ``retain_snapshots``
        snapshots (the grace window for in-flight READERS). Files younger
        than ``min_age_seconds`` are always kept — they may be a
        concurrent WRITER's staged-but-uncommitted output, which is
        referenced by no snapshot yet; deleting it would corrupt that
        writer's eventual commit (the same reason Delta's VACUUM has a
        retention floor). Also trims checkpoint files down to the two
        newest (cold readers only ever load the latest; one older is kept
        so historical replays near the tail stay cheap — earlier versions
        replay from the full log, which vacuum never deletes).
        Returns the root-relative files removed."""
        commits = self._commits()
        if not commits:
            return []
        for _v, p in self._checkpoints()[:-2]:
            try:
                os.remove(p)
            except FileNotFoundError:
                pass
        keep: set[str] = set()
        versions = [v for v, _ in commits][-retain_snapshots:]
        for v in versions:
            _, files = self.snapshot(v)
            keep.update(e.path for e in files)
        cutoff = time.time() - min_age_seconds
        removed = []
        for f in glob.glob(os.path.join(glob.escape(os.path.join(self.root, _DATA_DIR)), "**", "*.parquet"), recursive=True):
            rel = os.path.relpath(f, self.root)
            if rel not in keep and os.path.getmtime(f) < cutoff:
                os.remove(f)
                removed.append(rel)
        # prune now-empty staging dirs
        for d in sorted(
            glob.glob(os.path.join(glob.escape(os.path.join(self.root, _DATA_DIR)), "*")), reverse=True
        ):
            for sub in sorted(
                (p for p, dn, fn in os.walk(d) if not dn and not fn), key=len, reverse=True
            ):
                os.rmdir(sub)
            if os.path.isdir(d) and not any(os.scandir(d)):
                shutil.rmtree(d, ignore_errors=True)
        return removed


def _bounds_aggs(cols: Sequence[str]) -> list:
    """[min, max] aggregates of incoming key columns, read by
    ``_overlapping``."""
    return [F.min(c).alias(f"__lo_{c}") for c in cols] + [F.max(c).alias(f"__hi_{c}") for c in cols]


def _overlapping(active: list[FileEntry], cols: Sequence[str], bounds) -> list[FileEntry]:
    """The files whose zone maps overlap the incoming keys' bounds on every
    column of ``cols`` (files without stats for a column are kept)."""
    return [
        e
        for e in active
        if all(
            (e.stats or {}).get(c) is None
            or _overlaps(e.stats[c], bounds[f"__lo_{c}"], True, bounds[f"__hi_{c}"], True)
            for c in cols
        )
    ]


def _partition_matches(e: FileEntry, sets: dict[str, set]) -> bool:
    return all(
        any(_pval_matches(e.partition.get(c), lit) for lit in vals)
        for c, vals in sets.items()
    )


def run_incremental(
    src: TransactionalTable,
    dst: TransactionalTable,
    app: str,
    transform=None,
    merge_keys: Sequence[str] | None = None,
    include_rewrites: bool = False,
) -> int | None:
    """One exactly-once incremental step from ``src``'s change feed into
    ``dst``: read the commits ``app`` has not yet consumed, apply
    ``transform`` (a DataFrame → DataFrame function; identity when None),
    and commit the result to ``dst`` stamped with the consumed source
    version as an idempotent (app, version) transaction marker.

    The combination closes the incremental-ETL loop at 100 TB scale: a
    scheduler reruns this function as often as it likes — each run
    processes only the NEW source commits (O(batch), never O(table)), a
    rerun after a crash-between-write-and-ack is a marker-detected no-op,
    and two racing runs serialize through ``dst``'s commit log. This is
    the change-feed half of the contract ``append(txn_app=...)`` provides
    for streaming sinks, so a downstream table needs no external offset
    store — its own log records how far it has read.

    ``merge_keys`` switches the commit from append to MERGE-by-key
    (rows REPLACE same-key rows — note: replace, not aggregate-combine;
    an incremental aggregate should ``transform`` the feed into per-key
    deltas joined against ``dst.read()`` before returning).

    Returns the source version consumed, or None if there was nothing new
    (the marker is only advanced by a real commit, so an empty run stays
    cheap and repeatable rather than committing empty versions)."""
    since = dst.last_txn_version(app)
    frm = since if since >= 0 else 0
    upto = src.latest_version()
    if upto <= frm:
        return None
    ch = src.read_changes(frm, upto, include_rewrites=include_rewrites)
    out = transform(ch) if transform is not None else ch
    out = out.drop("_commit_version", "_change_op")
    if out.isEmpty():
        return None  # only maintenance commits in range — nothing to apply
    if merge_keys:
        dst.merge_by_key(out, list(merge_keys), txn_app=app, txn_version=upto)
    else:
        dst.append(out, txn_app=app, txn_version=upto)
    return upto
