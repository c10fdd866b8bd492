"""SnapStore — a snapshot-logged parquet table.

The engine targets Iceberg per BASELINE.json, but this environment has
no Iceberg runtime jar (decision recorded per SURVEY.md §7 hard-part
4). SnapStore emulates the Iceberg semantics the reference's
mutation/replication surface needs, over plain parquet + a JSON
snapshot log, behind an API shaped so the physical layer swaps to
Iceberg calls (``writeTo().append()``, ``MERGE INTO``,
``start-snapshot-id`` reads) on a real cluster:

- **append** (reference A9, bulk insert changesetmd.py:160-188)
- **merge upsert by key** (A10, ``INSERT ... ON CONFLICT DO UPDATE``
  changesetmd.py:164-182) — merge-on-read: each snapshot appends delta
  files; readers resolve latest-row-per-key. ``compact()`` is the
  ``rewrite_data_files`` analog that re-materializes current state.
- **delete by key** (A11, delete-then-reinsert comments
  changesetmd.py:198-201) — tombstones.
- **time travel / incremental reads** (A13/A14 bounded replay):
  ``read(as_of=...)``, ``incremental(start, end)``.
- **state row** (osm_changeset_state, queries.py:28-35): watermark +
  ``update_in_progress`` mutex with crash-safe release.
- **lineage + metrics** (A15 + north_rule): every snapshot records
  parent id, operation, row/file counts, wall ms, per-partition row
  counts and its schema → queryable as DataFrames.

Reads scan a set of snapshots in ONE parquet scan (``_scan``): the
schema comes from the log (no footer reads), each row is tagged with
its snapshot id from its file's directory, and merge-on-read
resolution runs over that one relation. A column whose type changes
between snapshots raises instead of being coerced.

Concurrency: single-writer per table (the reference's LOCK TABLE ...
NOWAIT, changesetmd.py:309-313) via the mutex in state; Iceberg's
optimistic retry replaces this on a real cluster.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

LOG = "snapshots.json"
STATE = "state.json"

OP_APPEND = "append"
OP_MERGE = "merge"
OP_DELETE = "delete"
OP_COMPACT = "compact"


def _nullable(t: DataType) -> DataType:
    """``t`` with every nested field, array element and map value
    nullable: the form two snapshots' types are compared in."""
    if isinstance(t, StructType):
        return StructType([StructField(f.name, _nullable(f.dataType)) for f in t.fields])
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType))
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType))
    return t


class ConcurrentWriteError(RuntimeError):
    """Raised when the update_in_progress mutex is already held
    (reference: LOCK ... NOWAIT failure path changesetmd.py:309-313)."""


class SnapStore:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        key: str,
        auto_compact_every: int = 16,
    ):
        """``auto_compact_every``: after this many keyed deltas
        (merge/delete) accumulate past the last compact snapshot, the
        store compacts itself — bounding the per-read resolution cost
        (Iceberg's commit.manifest-merge / maintenance analog). Set 0
        to disable."""
        self.spark = spark
        self.root = root
        self.key = key
        self.auto_compact_every = auto_compact_every
        os.makedirs(root, exist_ok=True)

    # -- snapshot log -------------------------------------------------

    def _log_path(self) -> str:
        return os.path.join(self.root, LOG)

    def snapshots(self) -> list[dict]:
        if not os.path.exists(self._log_path()):
            return []
        with open(self._log_path()) as f:
            return json.load(f)

    def current_snapshot_id(self) -> int:
        snaps = self.snapshots()
        return snaps[-1]["id"] if snaps else -1

    # a log-lock holder only does an in-memory list edit + one file
    # rename — milliseconds. A lockfile older than STALE whose holder
    # cannot be proven alive is a crashed holder, not a slow one; one
    # older than HARD_STALE is crashed even if its recorded pid LOOKS
    # alive (pid reuse / foreign host — see _log_lock docstring).
    _LOG_LOCK_STALE_S = 10.0
    _LOG_LOCK_HARD_STALE_S = 120.0
    _LOG_LOCK_TIMEOUT_S = 30.0

    def _log_lock(self):
        """Short critical section around log read-modify-write.
        Ordinary ``merge()``/``append()`` never take the state mutex
        (only orchestrators like replicate() do), so a bare writer's
        ``_commit`` can race maintenance's whole-log rewrite
        (``expire_snapshots``) — without this lock one of the two
        os.replace()s would silently drop the other's entry.
        O_CREAT|O_EXCL lockfile: atomic on any local/NFS filesystem;
        Iceberg's optimistic swap replaces this on a real catalog.

        Crash recovery: the acquirer records ``host:pid`` inside the
        lockfile. A waiter breaks the lock when (a) the holder is
        provably dead — SAME host and the pid no longer exists (a
        foreign host's process table says nothing about the holder, so
        cross-host locks are never liveness-broken; review finding:
        checking a foreign pid locally would misjudge a live remote
        holder as dead) — or (b) no host:pid is readable (legacy /
        crashed mid-create) and mtime is older than _LOG_LOCK_STALE_S,
        or (c) regardless of apparent liveness, mtime is older than
        _LOG_LOCK_HARD_STALE_S — the pid-reuse/foreign-host backstop:
        the critical section is milliseconds, so a minutes-old lock is
        a crashed holder whose pid was recycled (or a dead foreign
        holder), and without this bound the store would wedge forever
        (review finding). Clock skew can therefore delay but never
        promptly break a live holder (the hard bound is minutes, the
        section is ms); a live-but-stuck holder makes waiters time out
        loudly until the hard bound passes. The break itself is an
        atomic rename to a waiter-unique name — two waiters can both
        decide to break, but os.rename of the same source succeeds for
        exactly one of them, so the second can never delete the lock
        the first just re-acquired.

        Break-after-reacquire TOCTOU (review finding): between a
        waiter READING the holder record and its os.rename, another
        waiter can break the same dead lock and a NEW holder can
        acquire — the rename would then move the new live holder's
        lockfile. Closed by verifying after the rename: the breaker
        passes the record it based its decision on, re-reads the
        renamed (doomed) file — the very inode it moved — and, on
        mismatch, restores it via os.link (atomic, refuses to clobber
        an even newer lock) instead of deleting it. Release is
        similarly guarded: each acquisition writes a unique
        host:pid:nonce record and only removes the lockfile if it
        still carries its own nonce, so a holder whose lock was
        (wrongly or rightly) broken mid-section can never reap a
        successor's lock. A real Iceberg catalog replaces all of this
        with a compare-and-swap commit."""
        import contextlib
        import socket
        import time as _t

        @contextlib.contextmanager
        def _lock():
            lock_path = self._log_path() + ".lock"
            my_rec = f"{socket.gethostname()}:{os.getpid()}:{uuid.uuid4().hex[:8]}"
            deadline = _t.time() + self._LOG_LOCK_TIMEOUT_S
            while True:
                try:
                    fd = os.open(lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                    try:
                        os.write(fd, my_rec.encode())
                    finally:
                        os.close(fd)
                    break
                except FileExistsError:
                    rec = self._read_lock_record(lock_path)
                    state = self._lock_holder_state(rec)
                    if state == "dead":
                        # same-host holder provably dead
                        self._break_lock(lock_path, rec)
                        continue
                    try:
                        age = _t.time() - os.path.getmtime(lock_path)
                    except FileNotFoundError:
                        continue  # released between open and stat
                    if age > self._LOG_LOCK_HARD_STALE_S or (
                        state == "unknown" and age > self._LOG_LOCK_STALE_S
                    ):
                        self._break_lock(lock_path, rec)
                        continue
                    if _t.time() > deadline:
                        raise ConcurrentWriteError(f"log lock stuck: {lock_path}")
                    _t.sleep(0.02)
            try:
                yield
            finally:
                # nonce-guarded release: only remove the lock if it is
                # still OURS — if it was broken and re-acquired while we
                # ran, removing by path would reap the new holder's lock
                cur = self._read_lock_record(lock_path)
                if cur is None or cur == my_rec:
                    try:
                        os.remove(lock_path)
                    except FileNotFoundError:
                        pass

        return _lock()

    @staticmethod
    def _read_lock_record(lock_path: str) -> str | None:
        try:
            with open(lock_path) as f:
                return f.read().strip()
        except OSError:
            return None

    @staticmethod
    def _lock_holder_state(rec: str | None) -> str:
        """'dead' / 'alive' (same-host pid check), 'foreign' (holder on
        another host — only the HARD mtime bound may break it), or
        'unknown' (no readable record — legacy or crashed mid-create;
        ordinary STALE mtime bound applies). Records are
        host:pid:nonce (nonce optional for legacy host:pid)."""
        import socket

        if not rec:
            return "unknown"
        parts = rec.split(":")
        try:
            if len(parts) >= 3:
                host, pid_s = ":".join(parts[:-2]), parts[-2]
            else:
                host, _, pid_s = rec.rpartition(":")
            pid = int(pid_s or "0")
        except ValueError:
            return "unknown"
        if pid <= 0 or not host:
            return "unknown"
        if host != socket.gethostname():
            return "foreign"
        try:
            os.kill(pid, 0)
            return "alive"
        except ProcessLookupError:
            return "dead"
        except PermissionError:
            return "alive"  # exists, owned by another user

    @staticmethod
    def _break_lock(lock_path: str, expected_rec: str | None) -> None:
        """Break a judged-dead lock: atomic rename (exactly one waiter
        wins), then VERIFY the moved inode still carries the record
        the break decision was based on. On mismatch — the
        break-after-reacquire race — restore the innocent holder's
        lock via os.link, which atomically refuses to clobber an even
        newer lockfile; the new-holder critical section is
        milliseconds, so a colliding restore retries briefly."""
        import time as _t

        doomed = lock_path + f".break-{uuid.uuid4().hex}"
        try:
            os.rename(lock_path, doomed)
        except FileNotFoundError:
            return  # another waiter won (or holder released)
        actual = SnapStore._read_lock_record(doomed)
        if actual is None or actual == expected_rec:
            try:
                os.remove(doomed)
            except FileNotFoundError:
                pass
            return
        # innocent holder: restore its lockfile without clobbering
        restored = False
        for _ in range(50):
            try:
                os.link(doomed, lock_path)
                restored = True
                break
            except FileExistsError:
                _t.sleep(0.01)  # newer acquirer present; it releases in ms
            except FileNotFoundError:
                restored = True  # doomed vanished; nothing left to restore
                break
        if not restored:
            # (r6, ADVICE fix) restore kept failing: do NOT silently
            # discard the displaced holder's record — quarantine it and
            # surface a warning so the loss is visible and recoverable.
            import warnings

            quarantine = lock_path + f".quarantine-{uuid.uuid4().hex[:8]}"
            try:
                os.rename(doomed, quarantine)
            except FileNotFoundError:
                return
            warnings.warn(
                f"snapstore lock-break could not restore an innocent "
                f"holder's lockfile after 50 retries; its record is "
                f"preserved at {quarantine}",
                RuntimeWarning,
                stacklevel=2,
            )
            return
        try:
            os.remove(doomed)
        except FileNotFoundError:
            pass

    def _rewrite_log(self, snaps: list[dict]) -> None:
        tmp = self._log_path() + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(snaps, f, indent=1)
        os.replace(tmp, self._log_path())

    def _commit(self, entry: dict) -> int:
        """Append to the log atomically (read-modify-write under the
        log lock + write-temp + rename; Iceberg's atomic swap analog)."""
        with self._log_lock():
            snaps = self.snapshots()
            entry["id"] = len(snaps)
            entry["parent"] = snaps[-1]["id"] if snaps else None
            snaps.append(entry)
            self._rewrite_log(snaps)
        return entry["id"]

    # -- writes -------------------------------------------------------

    def _write_delta(self, df: DataFrame, op: str, meta: dict | None = None) -> int:
        t0 = time.time()
        # uuid-named data dir: the snapshot id is assigned by _commit
        # INSIDE the log lock, so concurrent writers can neither race
        # to the same directory nor return an id that diverges from
        # the committed entry (the entry records the path)
        path = os.path.join(self.root, "data", f"snap-{uuid.uuid4().hex[:12]}")
        df.write.mode("errorifexists").parquet(path)
        wall_ms = int((time.time() - t0) * 1000)
        # lineage metrics from parquet FOOTERS (pyarrow metadata read,
        # no data scan) — writing used to be followed by a full Spark
        # re-read of the snapshot purely for row counts, doubling write
        # I/O per commit. One parquet file == one write partition.
        import pyarrow.parquet as pq

        files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
        part_rows = [
            {"partition_id": i, "rows": pq.ParquetFile(os.path.join(path, f)).metadata.num_rows}
            for i, f in enumerate(files)
        ]
        rows = sum(p["rows"] for p in part_rows)
        return self._commit(
            {
                "op": op,
                "path": path,
                "rows": rows,
                "n_files": len(files),
                "wall_ms": wall_ms,
                "rows_per_s": round(rows / max(wall_ms, 1) * 1000, 2),
                "partitions": part_rows,
                "schema": df.schema.json(),
                **(meta or {}),
            }
        )

    def _keyed_deltas_since_compact(self) -> int:
        return len([s for s in self._deltas() if s["op"] in (OP_MERGE, OP_DELETE)])

    def _maybe_auto_compact(self) -> None:
        if (
            self.auto_compact_every
            and self._keyed_deltas_since_compact() >= self.auto_compact_every
        ):
            self.compact(auto=True)

    def create(
        self, df: DataFrame, zorder_by: tuple[str, str] | None = None, **meta
    ) -> int:
        """``zorder_by=(lat_col, lon_col)`` lays the initial snapshot
        out in Morton order (plans/zorder.py) so bbox scans prune files
        by parquet min/max stats — the lake analog of the reference's
        GiST index, applied at write time."""
        assert not self.snapshots(), "table already exists"
        if zorder_by is not None:
            from ..plans.zorder import cluster_by_z

            df = cluster_by_z(df, *zorder_by)
        return self._write_delta(df.withColumn("_deleted", F.lit(False)), OP_APPEND, meta)

    def append(self, df: DataFrame, **meta) -> int:
        """A9: bulk append (no key resolution — duplicates allowed,
        exactly like INSERT)."""
        return self._write_delta(df.withColumn("_deleted", F.lit(False)), OP_APPEND, meta)

    def merge(self, updates: DataFrame, **meta) -> int:
        """A10: upsert by key — MERGE INTO ... WHEN MATCHED UPDATE SET *
        WHEN NOT MATCHED INSERT *. Merge-on-read: later snapshots win."""
        sid = self._write_delta(updates.withColumn("_deleted", F.lit(False)), OP_MERGE, meta)
        self._maybe_auto_compact()
        return sid

    def delete_keys(self, keys: DataFrame, **meta) -> int:
        """A11: delete by key (tombstone rows)."""
        cur = self.read()
        doomed = cur.join(keys.select(self.key).distinct(), self.key, "left_semi")
        sid = self._write_delta(doomed.withColumn("_deleted", F.lit(True)), OP_DELETE, meta)
        self._maybe_auto_compact()
        return sid

    def compact(self, **meta) -> int:
        """rewrite_data_files analog: materialize current state as one
        snapshot; readers of later snapshots only scan from here."""
        cur = self.read().withColumn("_deleted", F.lit(False))
        return self._write_delta(cur, OP_COMPACT, meta)

    def expire_snapshots(self, keep_last: int = 0) -> dict:
        """Iceberg ``expire_snapshots`` analog (table maintenance):
        delete the data files of snapshots that no CURRENT read can
        reach — everything strictly older than the newest compact
        snapshot (reads always resolve from the latest compact, see
        ``_deltas``). ``keep_last`` retains that many of the newest
        otherwise-expirable snapshots as an INCREMENTAL-read grace
        window (``incremental()`` into recent deltas keeps working —
        audit/replay); note it cannot grant ``read(as_of=...)`` into
        the expirable range, because an as-of read needs every delta
        back to the previous compact and the older ones are gone.

        Log entries are kept (lineage/metrics stay queryable forever);
        each expired entry is flagged so a time-travel or incremental
        read into the expired range fails LOUDLY instead of silently
        returning partial state.

        Crash-safe ordering: flags are committed to the log FIRST,
        data directories deleted after — a crash mid-way leaves
        flagged-but-present snapshots (reads fail loudly, correct) and
        the next expire() call reaps any such orphaned directories.
        Reader race: a reader that built its snapshot list before the
        flag-commit re-validates path existence at DataFrame-build
        time (_check_live), converting the race into the same loud
        expired error. Remaining window — a LAZY DataFrame obtained
        before expire and acted on after the deletes fails at action
        time with Spark's file-not-found; documented limitation (an
        action-time hook would need a custom data source; Iceberg's
        snapshot pinning solves this on a real catalog).
        Takes the writer mutex; the log rewrite itself additionally
        holds the log lock so a concurrent _commit can never be
        dropped. Returns {'expired': n, 'bytes_freed': bytes}."""
        import shutil

        self.acquire()
        try:
            with self._log_lock():
                snaps = self.snapshots()
                newest_compact = max(
                    (s["id"] for s in snaps if s["op"] == OP_COMPACT), default=None
                )
                if newest_compact is None:
                    return {"expired": 0, "bytes_freed": 0}
                doomed = [
                    s for s in snaps if s["id"] < newest_compact and not s.get("expired")
                ]
                doomed = doomed[: max(len(doomed) - keep_last, 0)]
                for s in doomed:
                    s["expired"] = True
                self._rewrite_log(snaps)
            # delete AFTER the flags are durable; also reap directories
            # orphaned by a crash between a previous flag-commit and
            # its deletes
            freed = 0
            reap = [s["path"] for s in snaps if s.get("expired")]
            for p in reap:
                if os.path.isdir(p):
                    freed += sum(
                        os.path.getsize(os.path.join(dp, f))
                        for dp, _, fs in os.walk(p)
                        for f in fs
                    )
                    shutil.rmtree(p)
            return {"expired": len(doomed), "bytes_freed": freed}
        finally:
            self.release()

    @staticmethod
    def _check_live(snaps: list[dict]) -> None:
        dead = sorted(s["id"] for s in snaps if s.get("expired"))
        if dead:
            raise ValueError(
                f"snapshot(s) {dead} expired — data removed by expire_snapshots()"
            )
        # a reader that loaded the log BEFORE a concurrent expire's
        # flag-commit can reach here with unflagged-but-deleted paths;
        # re-validate existence so it gets the loud expired error, not
        # an opaque parquet PATH_NOT_FOUND
        gone = sorted(s["id"] for s in snaps if not os.path.isdir(s["path"]))
        if gone:
            raise ValueError(
                f"snapshot(s) {gone} expired — data removed by a concurrent "
                "expire_snapshots()"
            )

    # -- reads --------------------------------------------------------

    def _deltas(self, upto: int | None = None, since: int | None = None) -> list[dict]:
        snaps = self.snapshots()
        if upto is not None:
            snaps = [s for s in snaps if s["id"] <= upto]
        # reads start from the newest compact snapshot (log-structured)
        base = 0
        for s in snaps:
            if s["op"] == OP_COMPACT:
                base = s["id"]
        snaps = [s for s in snaps if s["id"] >= base]
        if since is not None:
            snaps = [s for s in snaps if s["id"] > since]
        return snaps

    def read(self, as_of: int | None = None) -> DataFrame:
        """Current (or time-travel) state. Resolution contract:

        - A key's *current version* is owned by its latest keyed
          snapshot (merge/delete): ALL rows of that snapshot for the
          key survive (merges may legitimately carry >1 row per key,
          e.g. child tables keyed by parent id); rows of the same key
          from any EARLIER snapshot — keyed or appended — are dropped.
        - Append rows NEWER than the key's last keyed snapshot pass
          through (INSERT is multi-set, duplicates allowed).
        - Keys never touched by a keyed snapshot pass through whole.
        - Tombstones (_deleted) drop out at the end, so a delete
          snapshot erases the key until a later append/merge.

        Determinism: snapshot ids are unique, so "latest keyed
        snapshot" needs no tie-break; within one snapshot every row is
        kept (multi-set), so there is no nondeterministic survivor.
        Scale: every snapshot from the newest compact on is read by ONE
        parquet scan (``_scan``), so the plan does not grow with the
        log. Resolution is one aggregation over keyed-delta rows only
        (small — bounded by auto-compaction; the ``_keyed`` filter
        prunes the scan to the keyed snapshots' files) + one equi-join
        on the key; AQE broadcasts the aggregate when it is small.

        Schema evolution (Iceberg ADD COLUMN analog, the reference's
        ``ADD COLUMN IF NOT EXISTS geom`` queries.py:54): snapshots may
        carry columns earlier snapshots lack. The schema comes from the
        log (``_schema``): the widest one as of ``as_of``, and the scan
        reads the missing columns as NULL. A column whose type differs
        between snapshots raises ValueError."""
        snaps = self._deltas(upto=as_of)
        if not snaps:
            raise ValueError("empty table")
        self._check_live(snaps)
        keyed_ops = [s["id"] for s in snaps if s["op"] in (OP_MERGE, OP_DELETE)]
        all_rows = self._scan(snaps)
        if not keyed_ops:
            return all_rows.filter(~F.col("_deleted")).drop("_deleted", "_snap")
        all_rows = all_rows.withColumn("_keyed", F.col("_snap").isin(keyed_ops))
        latest_keyed = (
            all_rows.filter(F.col("_keyed"))
            .groupBy(self.key)
            .agg(F.max("_snap").alias("_kmax"))
        )
        resolved = all_rows.join(latest_keyed, self.key, "left").filter(
            F.col("_kmax").isNull()
            | (F.col("_keyed") & (F.col("_snap") == F.col("_kmax")))
            | (~F.col("_keyed") & (F.col("_snap") > F.col("_kmax")))
        )
        return resolved.filter(~F.col("_deleted")).drop(
            "_deleted", "_snap", "_keyed", "_kmax"
        )

    def incremental(self, start_exclusive: int, end_inclusive: int | None = None) -> DataFrame:
        """A13/A14: rows written in (start, end] — Iceberg
        start-snapshot-id/end-snapshot-id incremental read, tagged with
        ``_snap``. Total API: an empty range returns an empty DataFrame
        with the current table schema, the one a non-empty range up to
        the head gets (never None), so callers can chain count()/union
        unguarded."""
        all_snaps = self.snapshots()
        if not all_snaps:
            raise ValueError("empty table")
        snaps = [
            s
            for s in all_snaps
            if s["id"] > start_exclusive
            and (end_inclusive is None or s["id"] <= end_inclusive)
            and s["op"] != OP_COMPACT
        ]
        if not snaps:
            return self._scan(self._deltas()).limit(0)
        self._check_live(snaps)
        return self._scan(snaps)

    def _scan(self, snaps: list[dict]) -> DataFrame:
        """One parquet scan over the data directories of ``snaps``, read
        with the table's schema as of the newest of them (``_schema``),
        each row tagged with its snapshot id as ``_snap``. The tag comes
        from the row's file: its directory name maps to the snapshot id
        through a literal map. A file whose directory is in no log entry
        fails the query instead of getting a null ``_snap``."""
        ids = F.create_map(
            *[F.lit(x) for s in snaps for x in (os.path.basename(s["path"]), s["id"])]
        )
        file_path = F.col("_metadata.file_path")
        snap = F.element_at(ids, F.regexp_extract(file_path, r"([^/]+)/[^/]+$", 1))
        orphan = F.raise_error(F.concat(F.lit("file in no snapshot of the log: "), file_path))
        return (
            self.spark.read.schema(self._schema(max(s["id"] for s in snaps)))
            .parquet(*[s["path"] for s in snaps])
            .withColumn("_snap", F.when(snap.isNull(), orphan).otherwise(snap).cast("long"))
        )

    def _schema(self, as_of: int) -> StructType:
        """The table's schema as of snapshot ``as_of``: a fold over the
        log in log order. Columns keep the order of their first
        appearance, as ``unionByName(allowMissingColumns=True)`` orders
        them, and every field is nullable, so rows of a snapshot that
        lacks a column read it as NULL. A column whose type changes
        raises; a difference in nullability alone is not a change.

        Entries written before the log recorded ``schema`` fall back to
        their snapshot's parquet footer. Two kinds are skipped instead:
        an expired one, whose footer is gone, and one older than the
        newest compact, which carries its columns (so a read never pays
        for the footers of snapshots it does not scan)."""
        log = [s for s in self.snapshots() if s["id"] <= as_of]
        base = max((s["id"] for s in log if s["op"] == OP_COMPACT), default=0)
        fields: dict[str, tuple[DataType, int]] = {}
        for s in log:
            if "schema" in s:
                schema = StructType.fromJson(json.loads(s["schema"]))
            elif s.get("expired") or s["id"] < base:
                continue
            else:
                schema = self.spark.read.parquet(s["path"]).schema
            for f in schema.fields:
                t = _nullable(f.dataType)
                first_t, first_id = fields.setdefault(f.name, (t, s["id"]))
                if t != first_t:
                    raise ValueError(
                        f"column {f.name!r} changes type: {first_t.simpleString()} in "
                        f"snapshot {first_id}, {t.simpleString()} in snapshot {s['id']}"
                    )
        return StructType([StructField(n, t) for n, (t, _) in fields.items()])

    # -- lineage / metrics tables (A15 + north_rule) -------------------

    def lineage(self) -> DataFrame:
        rows = [
            (s["id"], s["parent"], s["op"], s["rows"], s["n_files"], s["wall_ms"], s["rows_per_s"])
            for s in self.snapshots()
        ]
        return self.spark.createDataFrame(
            rows, "snapshot_id long, parent long, op string, rows long, n_files int, wall_ms long, rows_per_s double"
        )

    def metrics(self) -> DataFrame:
        rows = [
            (s["id"], p["partition_id"], p["rows"])
            for s in self.snapshots()
            for p in s["partitions"]
        ]
        return self.spark.createDataFrame(
            rows, "snapshot_id long, partition_id int, rows long"
        )

    # -- state / watermark (queries.py:28-35) ---------------------------

    def _state_path(self) -> str:
        return os.path.join(self.root, STATE)

    def read_state(self) -> dict:
        if not os.path.exists(self._state_path()):
            return {"last_sequence": -1, "last_timestamp": None, "update_in_progress": 0}
        with open(self._state_path()) as f:
            return json.load(f)

    def write_state(self, state: dict) -> None:
        tmp = self._state_path() + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(tmp, self._state_path())

    def acquire(self) -> dict:
        """Set the update_in_progress mutex (LOCK ... NOWAIT analog)."""
        st = self.read_state()
        if st["update_in_progress"]:
            raise ConcurrentWriteError("update already in progress")
        st["update_in_progress"] = 1
        self.write_state(st)
        return st

    def release(self) -> None:
        st = self.read_state()
        st["update_in_progress"] = 0
        self.write_state(st)
