"""Versioned (lakehouse) tables: Delta-style semantics on parquet + a
JSON commit log.

Reference parity (SURVEY §2.11, all of
``data_lake_into_lakehouse/``): D1 CONVERT (``delta_lake.py:17-30``),
D2 OPTIMIZE/ZORDER (``delta_lake.py:54-67``), D3 DESCRIBE HISTORY
(``update_versioning.py:17-19``), D4 UPDATE (``update_versioning.py:
40-44``), D5 time travel (``update_versioning.py:58-67``), D6 RESTORE
(``update_versioning.py:76-79``), D7 schema enforcement + mergeSchema
(``lakehouse_data_igestion.py:126-128,202-212``), D8 DESCRIBE
(``lakehouse_data_igestion.py:136-138``).

Why not delta-spark: not installed in this environment. The engine
gates on it (``try_delta``) and falls back to this implementation,
which keeps the *semantics* (versioned snapshots, enforcement,
time travel, restore) with an explicitly simpler physical design:

- data files are immutable parquet directories, one per commit
  (``data/v{N}_{uuid8}/`` — unique per write attempt so concurrent
  writers never share a staging dir), hive-partitioned when the table
  declares
  ``partition_by`` (Delta's partitionColumns); a commit's snapshot is
  the file-list in its log entry, so appends reference prior
  directories without copying;
- the log is one JSON file per version (``_log/{N:020d}.json``),
  published put-if-absent — ``link(2)``, or an O_EXCL create where
  the filesystem cannot hardlink — so concurrent writers race for a
  version slot and the loser gets ``CommitConflict``; crash-safe;
- DML is file-granular like Delta's matched-file rewrite: UPDATE /
  DELETE intersect the predicate with hive path values + parquet
  footer min/max stats and rewrite only the intersecting files,
  carrying the rest of the snapshot into the new commit by reference
  (see ``_dml_target_files``; predicates too rich to lift into
  (col, op, value) tuples fall back to a full rewrite — correct,
  just coarser — as does a SET that widens the schema);
- OPTIMIZE compacts to one directory and applies Z-order-lite:
  ``repartitionByRange`` + ``sortWithinPartitions`` on the cluster
  columns — lexicographic clustering, which (like Z-order) lets
  parquet row-group min/max stats skip files on those columns.

Transactions follow Delta's optimistic rule: an operation reads ONE
snapshot (``_latest()``, or ``_resolve_commit(v)`` for time travel),
derives everything it needs from that ``Commit`` — files, schema,
mapping, deletion vectors, properties, constraints — and commits on it
at version + 1, or raises ``CommitConflict`` if another writer got there
first. Every data rewrite (UPDATE, DELETE, MERGE, OPTIMIZE, REORG, the
row-tracking backfill) ends in one step, ``_rewrite``: write the new
files, record the change feed, commit carried files + the new dir.

At 100 TB the metadata design (full file list per commit) caps at
O(files) JSON per commit — the known Delta-log scaling answer
(checkpoint compaction) applies unchanged if needed.
"""

from __future__ import annotations

import errno
import json
import os
import re
import shutil
import tempfile
import threading
import time
import uuid
from dataclasses import dataclass, replace
from functools import reduce
from operator import and_, or_
from pathlib import Path

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_SKIP_OPS = frozenset({"=", ">", ">=", "<", "<=", "in"})

_SKIP_TERM_RE = re.compile(
    r"^\s*`?(?P<col>\w+)`?\s*(?P<op>=|>=|<=|>|<)\s*(?P<val>'[^']*'|[-\w.]+)\s*$"
)


def lift_skip_predicates(where: str) -> list[tuple[str, str, object]] | None:
    """Best-effort lift of a SQL predicate into ``plan_files``
    ``(col, op, value)`` tuples: an AND-conjunction of simple
    col-op-literal comparisons maps term by term; anything richer
    (OR, functions, column-to-column) returns None, meaning "can't
    prune, touch every file". Used by UPDATE/DELETE for file-granular
    rewrites and by the SQL router's OPTIMIZE … WHERE."""
    preds: list[tuple[str, str, object]] = []
    for term in re.split(r"\s+AND\s+", where, flags=re.IGNORECASE):
        m = _SKIP_TERM_RE.match(term)
        if not m:
            return None
        raw = m.group("val")
        val: object
        if raw.startswith("'"):
            val = raw[1:-1]
        else:
            try:
                val = int(raw)
            except ValueError:
                try:
                    val = float(raw)
                except ValueError:
                    return None  # bare identifier (column ref / keyword)
            if isinstance(val, float) and raw.lower() in ("nan", "inf", "-inf"):
                return None
        preds.append((m.group("col"), m.group("op"), val))
    return preds or None


def _predicate_column(col: str, op: str, val: object) -> Column:
    c = F.col(col)
    if op == "in":
        vals = list(val)
        return c.isin(*vals) if vals else F.lit(False)
    return {
        "=": c == F.lit(val),
        ">": c > F.lit(val),
        ">=": c >= F.lit(val),
        "<": c < F.lit(val),
        "<=": c <= F.lit(val),
    }[op]


def try_delta(spark: SparkSession) -> bool:
    """True if the real delta-spark extension is importable."""
    try:
        import delta  # noqa: F401

        return True
    except ImportError:
        return False


def _hive_values(path: str) -> dict[str, str]:
    """Partition column values encoded in a file path's ``k=v`` segments."""
    out: dict[str, str] = {}
    for seg in Path(path).parts[:-1]:
        if "=" in seg:
            k, _, v = seg.partition("=")
            out[k] = v
    return out


def _typed_partition_value(ftype: str | None, raw: str) -> object:
    """Hive path partition values are strings; compare them in the
    declared column type."""
    if ftype in ("tinyint", "smallint", "int", "bigint"):
        return int(raw)
    if ftype in ("float", "double"):
        return float(raw)
    if ftype == "boolean":
        return raw == "true"
    return raw


def _hive_base(path: str) -> str:
    """Ancestor directory above the first ``k=v`` segment — the
    ``basePath`` Spark needs to re-derive partition columns when reading
    loose files out of a hive tree."""
    parts = Path(path).parts
    for i, seg in enumerate(parts[:-1]):
        if "=" in seg:
            return str(Path(*parts[:i]))
    return str(Path(path).parent)


class SchemaEnforcementError(ValueError):
    pass


class CommitConflict(RuntimeError):
    """Another writer won the put-if-absent race for a commit slot
    (Delta's ConcurrentModificationException analogue). The losing
    attempt applied NOTHING — its staged data dirs are unreferenced
    orphans vacuum reclaims — so re-reading the snapshot and retrying
    the whole operation is always safe; ``retry_on_conflict`` packages
    that loop."""


def retry_on_conflict(fn, attempts: int = 5, base_sleep: float = 0.05):
    """Run ``fn()`` retrying on :class:`CommitConflict` with exponential
    backoff. Each retry must RE-DERIVE from the table (call ``fn`` that
    re-reads state internally — every VersionedTable op reads its base
    snapshot once per call, and a conflicted attempt may leave a stale
    slot pin that the FIRST retry consumes by raising one more
    conflict, which this loop also absorbs). Raises the last conflict
    after ``attempts`` tries."""
    for i in range(attempts):
        try:
            return fn()
        except CommitConflict:
            if i == attempts - 1:
                raise
            time.sleep(base_sleep * (2**i))


class ConstraintViolationError(ValueError):
    """A write contained rows failing a table CHECK constraint (Delta
    raises the same; NULL evaluations pass, per SQL CHECK semantics)."""


class MergeCardinalityError(ValueError):
    """A target row was matched by more than one source row (Delta raises
    the same error: the merge result would be nondeterministic)."""


@dataclass
class WhenMatched:
    """MERGE clause for key-matched rows. ``update=None, delete=False``
    means ``UPDATE SET *`` (every column from the source row). ``update``
    maps target column → SQL expression over ``t.<col>`` / ``s.<col>``.
    ``condition`` is an extra predicate (same ``t.``/``s.`` scope) beyond
    the key equality — Delta's ``WHEN MATCHED AND <cond>``."""

    update: dict[str, str] | None = None
    delete: bool = False
    condition: str | None = None


@dataclass
class WhenNotMatched:
    """MERGE clause for source rows with no key match. ``insert=None``
    means ``INSERT *``; otherwise maps target column → SQL expression
    over ``s.<col>`` (unlisted columns insert NULL). ``condition`` is
    Delta's ``WHEN NOT MATCHED AND <cond>`` (source-scope only)."""

    insert: dict[str, str] | None = None
    condition: str | None = None


@dataclass
class Commit:
    version: int
    timestamp: float
    operation: str
    params: dict
    data_dirs: list[str]
    schema_json: str
    # Hive partition columns of the table (Delta's partitionColumns
    # metadata); default keeps pre-feature logs readable.
    partition_by: list[str] | None = None
    # CHECK constraints (Delta table feature): name -> SQL expression,
    # enforced on every write, carried forward commit to commit.
    constraints: dict | None = None
    # Generated columns (Delta GENERATED ALWAYS AS): column -> SQL
    # expression, computed when an append omits the column.
    generated: dict | None = None
    # Column mapping (Delta columnMapping feature): logical column name
    # -> physical name in the parquet files. Lets RENAME COLUMN be a
    # metadata-only commit — data files keep their original (physical)
    # names forever; reads alias physical -> logical. None = identity.
    column_mapping: dict | None = None
    # Deletion vectors (Delta DV feature): parquet directories of
    # (file_path, row_index) tombstones. A DV DELETE writes O(matched
    # rows) of tombstones instead of rewriting files; reads anti-join
    # them away. Rows referencing files no longer in the snapshot are
    # dangling and harmless (file paths are never reused).
    dv_paths: list | None = None
    # Table properties (Delta TBLPROPERTIES): free-form string map,
    # carried commit to commit. 'delta.enableDeletionVectors' = 'true'
    # switches DELETE to tombstone mode, matching Delta's opt-in shape.
    properties: dict | None = None
    # Log-resident file statistics (Delta's per-file stats in the
    # transaction log): data_dir -> stats-file name under _log/_stats/.
    # Each stats file holds {file: {"rows": n, "cols": {col: [lo, hi]}}}
    # for ONE data directory, written once when the directory is first
    # committed (footers are page-cache-hot right after the write) and
    # immutable forever after — directories never change, so commits
    # carry O(dirs) pointers instead of re-serializing O(files × cols)
    # stats into every log entry. Planning (plan_files, clustering
    # health) resolves the refs through a per-instance cache and is
    # metadata-only; files absent from the refs fall back to footer
    # reads, so correctness never depends on the stats existing.
    stats_refs: dict | None = None
    # Recorded change feed (Delta's CDC files, written at commit time):
    #   {"mode": "empty"}                       content-preserving commit
    #   {"mode": "insert_dirs", "dirs": [...]}  append: the new dirs ARE
    #                                           the feed (zero extra I/O)
    #   {"mode": "parquet", "path": ...}        explicit feed parquet with
    #                                           a _change_type column
    #   None                                    unknown -> changes() falls
    #                                           back to the snapshot diff
    # With a recorded feed for every version in the window, changes()
    # READS only O(changed rows) instead of scanning both endpoint
    # snapshots — the file-log CDF cost model Delta has, closing the
    # honest-cost caveat in lake/matview.py.
    cdf: dict | None = None

    # Everything an operation needs to know about its snapshot derives
    # from the ONE commit it read — never from a second log read.
    @classmethod
    def seed(cls) -> "Commit":
        """The state before a table exists: what version 0 builds on,
        and what the metadata getters read on a missing table."""
        return cls(
            version=-1, timestamp=0.0, operation="", params={}, data_dirs=[], schema_json=""
        )

    def schema(self) -> T.StructType:
        return T.StructType.fromJson(json.loads(self.schema_json))

    def mapping(self) -> dict[str, str]:
        """Logical -> physical column names, identity-filled."""
        cm = self.column_mapping or {}
        return {f.name: cm.get(f.name, f.name) for f in self.schema().fields}

    def files(self) -> list[str]:
        """The snapshot's parquet files, in data_dirs order."""
        files: list[str] = []
        for d in self.data_dirs:
            p = Path(d)
            if p.is_file():  # partial compaction commits reference loose files
                files.append(str(p))
            else:  # recursive: hive-partitioned commits nest k=v dirs
                files.extend(str(x) for x in sorted(p.glob("**/*.parquet")))
        return files

    def flag(self, prop: str) -> bool:
        return (self.properties or {}).get(prop, "").lower() == "true"

    def row_tracking(self) -> bool:
        return self.flag("delta.enableRowTracking")

    def identity_columns(self) -> dict[str, dict]:
        pre = VersionedTable._IDENTITY_PROP
        return {
            k[len(pre) :]: json.loads(v)
            for k, v in (self.properties or {}).items()
            if k.startswith(pre)
        }

    def not_null_columns(self) -> list[str]:
        return list(
            json.loads((self.properties or {}).get(VersionedTable._NOT_NULL_PROP, "[]"))
        )

    def clustering_columns(self) -> list[str]:
        raw = (self.properties or {}).get("spark_graft.clusterBy", "")
        return [c for c in raw.split(",") if c]


class VersionedTable:
    """A versioned parquet table with Delta-style DML and time travel."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.root = Path(path)
        self.log_dir = self.root / "_log"
        self.data_dir = self.root / "data"
        # Optimistic-concurrency tokens live in THREAD-LOCAL storage:
        # each thread using this handle is an independent optimistic
        # writer whose conflicts are arbitrated by the shared commit
        # log (slot arithmetic + the O_EXCL publish), exactly as two
        # separate handles would be. Instance-level tokens were the r9
        # lost-update bug: a concurrent thread's successful publish
        # cleared THIS thread's pin and re-armed its base token, so a
        # stale write sailed past the conflict check and erased the
        # other thread's commit (caught by
        # tests/test_streaming.py::test_maintenance_beside_active_folds).
        self._txn = threading.local()

    # Thread-local accessors keep every existing call site unchanged.
    @property
    def _snapshot_version(self) -> int | None:
        """Last table version THIS THREAD read a snapshot at (recorded
        by _latest, reset to the committed version after each successful
        publish). _next_version refuses a slot that is not token+1, so
        a write whose base snapshot predates a concurrently-landed
        commit aborts with a conflict instead of silently excluding
        that commit from later snapshots (the r5-flagged lost-update
        window)."""
        return getattr(self._txn, "snapshot_version", None)

    @_snapshot_version.setter
    def _snapshot_version(self, v: int | None) -> None:
        self._txn.snapshot_version = v

    @property
    def _pinned_slot(self) -> int | None:
        """THIS THREAD's pinned commit slot: the FIRST _next_version()
        call of an operation fixes the slot; every later call in the
        same operation (data-dir naming, DV-dir naming, the commit
        itself) returns the SAME slot while it is still the log tail +
        1. If a concurrent writer takes the pinned slot meanwhile, the
        put-if-absent publish fails LOUDLY with a conflict instead of
        silently committing past it. Cleared after every publish
        attempt."""
        return getattr(self._txn, "pinned_slot", None)

    @_pinned_slot.setter
    def _pinned_slot(self, v: int | None) -> None:
        self._txn.pinned_slot = v

    # ---------------------------------------------------------------- log
    # Every commit record is SELF-CONTAINED (full snapshot state, not a
    # delta), so the hot metadata paths — latest snapshot, next version,
    # one time-travel target — parse exactly ONE log file. Full-history
    # replay (_commits) is reserved for history()/vacuum()/txn scans.
    # This is the log-scaling answer a long-lived table needs: commit
    # #10,000 costs the same driver-side work as commit #1.
    def _log_files(self) -> list[Path]:
        if not self.log_dir.exists():
            return []
        return sorted(self.log_dir.glob("*.json"))

    # An unparsable newest commit younger than this is presumed to be a
    # LIVE O_EXCL-fallback publish still copying — readers wait/skip
    # instead of quarantining it out from under the writer's open fd.
    QUARANTINE_AGE_S = 30.0

    def _read_commit_file(self, f: Path, newest: bool) -> Commit | None:
        """Parse one commit file. A truncated/corrupt NEWEST entry (the
        exposure of the no-hardlink O_EXCL publish path: crash between
        slot claim and fsync) is quarantined to ``*.corrupt`` — outside
        the ``*.json`` glob, so the table stays readable at the prior
        version and the version slot frees for the next commit.
        Corruption anywhere else in the log is real damage and raises.

        Liveness guard: the O_EXCL path claims the slot and THEN copies
        content in, so a concurrent reader can see a healthy in-flight
        commit as empty/partial. Quarantining it would rename the file
        out from under the writer's still-open fd and silently lose an
        acknowledged write — so an unparsable newest entry is only
        quarantined once it is older than ``QUARANTINE_AGE_S`` (no live
        publish takes that long to fsync a few KB of JSON); younger
        ones are treated as not-yet-visible and merely skipped. If a
        writer commits PAST a still-in-flight slot that then never
        completes, the mid-log entry raises here like any other damage;
        commits are self-contained snapshots, so deleting the truncated
        file by hand fully recovers the table."""
        try:
            return Commit(**json.loads(f.read_text()))
        except (ValueError, TypeError) as e:
            if not newest:
                raise RuntimeError(f"corrupt commit log entry {f}: {e}") from e
            try:
                age = time.time() - f.stat().st_mtime
            except OSError:
                return None  # vanished: publisher or another reader won
            if age < self.QUARANTINE_AGE_S:
                return None  # likely a live in-flight publish
            try:
                os.replace(f, f.with_suffix(".corrupt"))
            except OSError:
                pass  # quarantine is best-effort; skipping still works
            return None

    def _commits(self) -> list[Commit]:
        files = self._log_files()
        out = []
        for i, f in enumerate(files):
            c = self._read_commit_file(f, newest=(i == len(files) - 1))
            if c is not None:
                out.append(c)
        return out

    # History checkpoints: every N commits the (version, timestamp,
    # operation, params) summaries of all versions so far are rolled
    # into one file under _log/_checkpoints/ (outside the *.json commit
    # glob). history() then parses one checkpoint + at most N commit
    # files instead of the whole log — Delta's checkpoint-compaction
    # answer, applied to the history walk, so DESCRIBE HISTORY on
    # commit #10,000 costs the same as on commit #20.
    CHECKPOINT_INTERVAL = 10

    @staticmethod
    def _write_json(directory: Path, obj: object, place) -> None:
        """Serialize ``obj`` to a temp file in ``directory`` and hand its
        path to ``place`` (a rename, or the put-if-absent publish). The
        temp file is removed on every exit path — serialization
        failure, publish conflict, or success (link leaves it behind)."""
        directory.mkdir(parents=True, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=directory, suffix=".tmp")
        try:
            with os.fdopen(fd, "w") as fh:
                json.dump(obj, fh)
            place(tmp)
        finally:
            try:
                os.unlink(tmp)
            except FileNotFoundError:
                pass

    def _write_commit(self, commit: Commit) -> None:
        target = self.log_dir / f"{commit.version:020d}.json"
        try:
            self._write_json(
                self.log_dir,
                commit.__dict__,
                lambda tmp: self._publish_commit(tmp, target, commit.version),
            )
            # published: later commits by this instance (multi-commit
            # ops) build on the state just written
            self._snapshot_version = commit.version
        finally:
            # the pinned slot is spent whether the publish won or lost
            self._pinned_slot = None
        if commit.version and commit.version % self.CHECKPOINT_INTERVAL == 0:
            try:
                self._write_history_checkpoint(commit.version)
            except OSError:
                pass  # checkpoints are an optimization, never fail a commit

    @staticmethod
    def _history_entry(c: Commit) -> dict:
        return {
            "version": c.version,
            "timestamp": c.timestamp,
            "operation": c.operation,
            "params": c.params,
        }

    def _checkpoint_dir(self) -> Path:
        return self.log_dir / "_checkpoints"

    def _latest_checkpoint(self) -> tuple[list[dict], int]:
        """(history entries ascending, highest version covered); (-1)
        when no checkpoint exists yet."""
        cpd = self._checkpoint_dir()
        files = sorted(cpd.glob("*.json")) if cpd.exists() else []
        if not files:
            return [], -1
        data = json.loads(files[-1].read_text())
        return data["entries"], data["version"]

    def _write_history_checkpoint(self, version: int) -> None:
        # Incremental roll-up: previous checkpoint + the ≤N commits
        # since it — building a checkpoint never replays the full log.
        entries = [h for h in reversed(self.history()) if h["version"] <= version]
        cpd = self._checkpoint_dir()
        # checkpoints are derived data: last-writer-wins replace is
        # fine (unlike commit publish, which must be put-if-absent)
        self._write_json(
            cpd,
            {"version": version, "entries": entries},
            lambda tmp: os.replace(tmp, cpd / f"{version:020d}.json"),
        )

    # errnos that actually mean "this filesystem cannot hardlink" —
    # anything else (ENOSPC, EIO, EACCES…) is a real failure and must
    # surface, not silently degrade the publish protocol.
    _NO_HARDLINK_ERRNOS = frozenset(
        e
        for e in (
            errno.EPERM,
            errno.EXDEV,
            getattr(errno, "EOPNOTSUPP", None),
            getattr(errno, "ENOTSUP", None),
        )
        if e is not None
    )

    @classmethod
    def _publish_commit(cls, tmp: str, target: Path, version: int) -> None:
        # Publish via link(2), not rename(2): rename silently overwrites,
        # so two writers racing to the same version could clobber a
        # commit (TOCTOU); link fails atomically with EEXIST, making the
        # publish step itself the conflict check — the same
        # put-if-absent contract Delta requires of its log store.
        try:
            os.link(tmp, target)
            return
        except FileExistsError:
            raise CommitConflict(f"concurrent commit conflict at v{version}") from None
        except OSError as e:
            if e.errno not in cls._NO_HARDLINK_ERRNOS:
                raise
            # Filesystem without hardlinks (some FUSE/network mounts).
            # Degrade to exclusive-create: O_EXCL claims the version slot
            # atomically (same put-if-absent contract); the content copy
            # happens after the claim and is fsynced before the publish
            # is considered complete. A crash mid-copy can still leave a
            # truncated file for a claimed version — _read_commit_file
            # quarantines a truncated NEWEST entry so the table stays
            # readable and the slot frees up.
        try:
            out_fd = os.open(str(target), os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            raise CommitConflict(f"concurrent commit conflict at v{version}") from None
        with os.fdopen(out_fd, "wb") as out, open(tmp, "rb") as src:
            shutil.copyfileobj(src, out)
            out.flush()
            os.fsync(out.fileno())

    def _latest(self) -> Commit:
        # Bounded fallback, NOT recursion: if the newest entry is
        # unreadable (quarantined, quarantine failed on a read-only
        # mount, or a live in-flight publish), read the prior entry
        # directly — never re-glob and loop on the same file.
        files = self._log_files()
        if not files:
            raise FileNotFoundError(f"no versioned table at {self.root}")
        c = self._read_commit_file(files[-1], newest=True)
        if c is None and len(files) >= 2:
            # raises on corruption — damage past the newest slot is real
            c = self._read_commit_file(files[-2], newest=False)
        if c is None:
            raise RuntimeError(
                f"only commit in {self.log_dir} is corrupt or still "
                "publishing; retry, or rebuild the table if this persists"
            )
        self._snapshot_version = c.version
        return c

    def _settle_log_tail(self) -> list[Path]:
        """Writer-side liveness barrier: wait out an unparsable-but-young
        newest log entry (a live O_EXCL publish mid-copy) before trusting
        the tail. Readers (_latest) SKIP such an entry — correct for
        them — but a writer that both skipped it for its base snapshot
        and counted its slot for _next_version would commit past the
        in-flight acknowledged commit and silently exclude it from every
        later snapshot (lost update). So the write path blocks until the
        tail parses, or ages past QUARANTINE_AGE_S and is quarantined
        (re-listed), before any slot arithmetic."""
        deadline = time.monotonic() + self.QUARANTINE_AGE_S + 5.0
        while True:
            files = self._log_files()
            if not files or self._read_commit_file(files[-1], newest=True) is not None:
                return files
            if time.monotonic() >= deadline:
                raise RuntimeError(
                    f"commit log tail {files[-1]} still unparsable after "
                    f"{self.QUARANTINE_AGE_S + 5.0:.0f}s; cannot choose a "
                    "commit slot (crashed publisher with a refreshing mtime?)"
                )
            time.sleep(0.05)

    def _next_version(self) -> int:
        if self._pinned_slot is not None:
            # Cheap staleness probe: the pin is only valid while it is
            # still tail+1. A moved tail means either a concurrent
            # writer took the slot mid-operation, or the pin leaked
            # from an ABORTED earlier operation on this handle — both
            # must fail loudly (and release the pin so a re-read +
            # retry proceeds cleanly) rather than publish or silently
            # re-pin; re-pinning here would reopen the token-re-arm
            # lost-update hole for the mid-operation case.
            files = self._log_files()
            tail_next = int(files[-1].stem) + 1 if files else 0
            if tail_next == self._pinned_slot:
                return self._pinned_slot
            stale = self._pinned_slot
            self._pinned_slot = None
            raise CommitConflict(
                f"concurrent commit conflict: operation pinned slot "
                f"v{stale} but the log tail has moved to v{tail_next - 1}; "
                "another writer committed (or a prior operation on this "
                "handle aborted) — re-read and retry"
            )
        files = self._settle_log_tail()
        nxt = int(files[-1].stem) + 1 if files else 0
        if self._snapshot_version is not None and nxt != self._snapshot_version + 1:
            raise CommitConflict(
                f"concurrent commit conflict: base snapshot was read at "
                f"v{self._snapshot_version} but the next free slot is v{nxt}; "
                "another writer committed in between — re-read and retry"
            )
        self._pinned_slot = nxt
        return nxt

    # ------------------------------------------------------------ schema
    @staticmethod
    def _schema_fields(schema: T.StructType) -> dict[str, str]:
        return {f.name: f.dataType.simpleString() for f in schema.fields}

    # Safe type widenings (Delta's type-widening feature): every listed
    # promotion is value-preserving AND supported by Spark's parquet
    # reader as a read-time upcast under an explicit schema (verified
    # on this Spark: int32 files read into bigint/double columns, float
    # into double) — so widening the TABLE type never rewrites old
    # files, and narrow files under a wide schema read correctly
    # forever. bigint→double is deliberately absent (lossy past 2^53).
    _WIDENINGS = {
        "tinyint": ("smallint", "int", "bigint", "double"),
        "smallint": ("int", "bigint", "double"),
        "int": ("bigint", "double"),
        "float": ("double",),
    }

    @classmethod
    def _enforce(
        cls, current: T.StructType, incoming: T.StructType, merge_schema: bool
    ) -> T.StructType:
        """Schema enforcement/evolution (D7 + type widening):

        - extra incoming columns: rejected unless ``merge_schema`` (the
          classic mergeSchema evolution; old rows read NULL).
        - incoming type WIDER than the table's (int data arriving for
          an int column that now ships as bigint upstream): with
          ``merge_schema`` the table type widens — existing narrow
          files upcast at read under the explicit scan schema, no
          rewrite; without it, rejected with the remedy.
        - incoming type NARROWER than the table's: always accepted —
          not a schema change; the file stores the narrow type and the
          table-schema scan upcasts it like every other narrow file.
        - anything else (string vs numeric, double→int, …): rejected.
        """
        cur, new = cls._schema_fields(current), cls._schema_fields(incoming)
        mismatched = {k for k in cur.keys() & new.keys() if cur[k] != new[k]}
        widened = {
            k for k in mismatched if new[k] in cls._WIDENINGS.get(cur[k], ())
        }
        narrowed = {
            k for k in mismatched if cur[k] in cls._WIDENINGS.get(new[k], ())
        }
        bad = mismatched - widened - narrowed
        if bad:
            raise SchemaEnforcementError(
                f"type mismatch on {sorted(bad)}: table={cur} incoming={new}"
            )
        if widened and not merge_schema:
            raise SchemaEnforcementError(
                f"incoming columns {sorted(widened)} are wider than the table "
                f"types ({ {k: (cur[k], new[k]) for k in sorted(widened)} }); "
                "pass merge_schema=True to widen the table schema (type "
                "widening; existing files upcast at read, no rewrite)"
            )
        extra = new.keys() - cur.keys()
        if extra and not merge_schema:
            raise SchemaEnforcementError(
                f"incoming columns {sorted(extra)} not in table schema; "
                "pass merge_schema=True to evolve (D7)"
            )
        if not extra and not widened:
            return current
        by_name = {f.name: f for f in incoming.fields}
        merged = [
            (
                T.StructField(
                    f.name,
                    by_name[f.name].dataType,
                    f.nullable or by_name[f.name].nullable,
                )
                if f.name in widened
                else f
            )
            for f in current.fields
        ] + [f for f in incoming.fields if f.name in extra]
        return T.StructType(merged)

    # ------------------------------------------------------------ writes
    # Metadata getters read the newest commit; write operations never
    # call them — they derive the same facts from the base they read.
    def _meta(self) -> Commit:
        try:
            return self._latest()
        except FileNotFoundError:
            return Commit.seed()

    def partition_columns(self) -> list[str]:
        """The table's hive partition columns (empty when unpartitioned)."""
        return list(self._meta().partition_by or [])

    def constraints(self) -> dict[str, str]:
        """The table's CHECK constraints (empty when none)."""
        return dict(self._meta().constraints or {})

    def generated_columns(self) -> dict[str, str]:
        """Generated-column expressions (empty when none)."""
        return dict(self._meta().generated or {})

    def table_properties(self) -> dict[str, str]:
        """Delta-style TBLPROPERTIES (empty when none)."""
        return dict(self._meta().properties or {})

    def set_properties(self, props: dict[str, str]) -> "VersionedTable":
        """ALTER TABLE … SET TBLPROPERTIES: metadata-only commit merging
        ``props`` into the table's property map. The property Delta uses
        to opt a table into deletion vectors
        ('delta.enableDeletionVectors' = 'true') is honored by
        ``delete``; 'delta.enableRowTracking' = 'true' triggers the
        row-id backfill exactly as Delta's property does."""
        props = {str(k): str(v) for k, v in props.items()}
        base = self._latest()
        rt_req = props.get("delta.enableRowTracking", "").lower()
        if rt_req in ("true", "false") and (rt_req == "true") != base.row_tracking():
            # a plain property write would skip the backfill, or be a
            # one-way trapdoor on disable: id minting stops, later
            # appends NULL-fill _row_id, and re-enable fails on "column
            # already exists" — route through the real paths instead
            if rt_req == "true":
                self.enable_row_tracking()
            else:
                self.disable_row_tracking()
            props.pop("delta.enableRowTracking")
            if not props:
                return self
            base = self._latest()  # the rest commits on top of the toggle
        return self._set_properties(base, props)

    def _set_properties(self, base: Commit, props: dict[str, str]) -> "VersionedTable":
        return self._commit(
            base,
            "SET TBLPROPERTIES",
            {"properties": dict(props)},
            cdf={"mode": "empty"},  # metadata-only: no row changes
            properties={**(base.properties or {}), **props},
        )

    # -------------------------------------------------------- row tracking
    ROW_ID_COL = "_row_id"
    _HWM_PROP = "spark_graft.rowIdHighWatermark"

    def _row_tracking_enabled(self) -> bool:
        return self._meta().row_tracking()

    def enable_row_tracking(self) -> "VersionedTable":
        """Delta row-tracking analogue: every row gets a stable
        ``_row_id`` that survives UPDATE/OPTIMIZE/CLUSTER rewrites —
        the identity DML-heavy pipelines need for incremental MERGE
        sources and CDF joins.

        Enabling backfills the current snapshot once: ids are assigned
        per file from footer row counts (base per file, driver-side
        metadata only) plus the in-file row index, then materialized as
        a REAL column — after which they flow through every rewrite for
        free because rewrites read and write table columns. Appends
        assign fresh ids above a high-watermark property; MERGE inserts
        likewise. Delta materializes row ids into a hidden column on
        exactly the same trigger; ours stays visible in ``read()``
        (documented divergence — the engine has no hidden-column
        projection layer)."""
        base = self._latest()
        if base.row_tracking():
            return self
        files = base.files()
        if self.ROW_ID_COL in {f.name for f in base.schema().fields}:
            raise ValueError(f"column {self.ROW_ID_COL} already exists")
        log_stats = self._log_stats(base)
        bases, acc = [], 0
        for f in files:
            bases.append((f, acc))
            acc += self._file_stats(f, log_stats)["rows"]
        src = self._scan(base, files, with_meta=True)
        base_df = self.spark.createDataFrame(
            bases or [("", 0)], "path string, __base long"
        )
        with_ids = (
            src.withColumn(
                "__path", F.regexp_replace(F.col("__dv_path"), "^file:/+", "/")
            )
            .join(F.broadcast(base_df), F.col("__path") == F.col("path"), "left")
            .withColumn(
                self.ROW_ID_COL, (F.col("__base") + F.col("__dv_idx")).cast("long")
            )
            .drop("__dv_path", "__dv_idx", "__path", "path", "__base")
        )
        return self._rewrite(
            base,
            "ROW TRACKING BACKFILL",
            {"rows_backfilled": acc},
            with_ids,
            carried=[],
            properties={
                **(base.properties or {}),
                "delta.enableRowTracking": "true",
                self._HWM_PROP: str(acc),
            },
        )

    def disable_row_tracking(self) -> "VersionedTable":
        """Real disable path (so enable/disable round-trips): flip the
        property off and clear the id high-watermark in one metadata
        commit, then metadata-DROP the ``_row_id`` column. Data files
        keep the id bytes (column mapping makes them unreachable), and
        a later re-enable backfills a fresh snapshot — old ids cannot
        resurrect because the backfill writes new files and a re-added
        column of a dropped name maps to a fresh physical name."""
        base = self._latest()
        if not base.row_tracking():
            return self
        props = dict(base.properties or {})
        props["delta.enableRowTracking"] = "false"
        props.pop(self._HWM_PROP, None)
        self._commit(base, "DISABLE ROW TRACKING", {}, properties=props)
        # tracking is now off, so the drop guard admits the column
        return self.drop_column(self.ROW_ID_COL)

    # ---------------------------------------------------- identity columns
    _IDENTITY_PROP = "spark_graft.identity."

    def identity_columns(self) -> dict[str, dict]:
        """Declared GENERATED ALWAYS AS IDENTITY columns:
        name -> {"start", "step", "next"}."""
        return self._meta().identity_columns()

    def _assign_identity(
        self, df: DataFrame, specs: dict[str, dict]
    ) -> tuple[DataFrame, dict[str, "Observation"]]:
        """Fill each identity column with values ≥ its high-watermark.
        Guarantees: unique, ≥ start, ≡ start (mod step), and strictly
        above every previous commit's values. Contiguity is NOT
        guaranteed — monotonically_increasing_id's per-partition
        offsets leave large gaps (Delta's identity contract likewise
        allows gaps; its per-transaction range reservation leaves
        smaller ones)."""
        obs: dict[str, Observation] = {}
        for col, spec in specs.items():
            o = Observation()
            df = df.withColumn(
                col,
                (
                    F.lit(spec["next"])
                    + F.lit(spec["step"]) * F.monotonically_increasing_id()
                ).cast("long"),
            ).observe(o, F.max(col).alias("max_id"))
            obs[col] = o
        return df, obs

    def _advance_minted(
        self,
        props: dict | None,
        obs: dict[str, "Observation"],
        specs: dict[str, dict],
        row_obs: "Observation | None" = None,
        hwm: int = 0,
    ) -> dict | None:
        """After a write that minted ids: move each identity spec's next
        value and the ``_row_id`` high-watermark past the observed max.
        The watermark never regresses: an update-only merge's max
        surviving id can be below it (earlier rows deleted), and reusing
        those ids would corrupt identity."""
        max_id = None if row_obs is None else row_obs.get["max_id"]
        if max_id is not None:
            props = {**(props or {}), self._HWM_PROP: str(max(hwm, int(max_id) + 1))}
        for col, o in obs.items():
            max_id = o.get["max_id"]
            spec = specs[col]
            if max_id is not None:
                spec["next"] = max(spec["next"], int(max_id) + spec["step"])
            props = {
                **(props or {}),
                self._IDENTITY_PROP + col: json.dumps(spec),
            }
        return props

    def _guard_minted(
        self, cols, identity: dict, row_tracking: bool, writer: str
    ) -> None:
        """Engine-minted columns are never written by callers: identity
        columns (GENERATED ALWAYS) and, under row tracking, ``_row_id``
        — a clobbered id in rewritten files (while carried files keep
        the originals) would duplicate row ids and break CDF pre/post
        image pairing."""
        clash = sorted(set(identity) & set(cols))
        if clash:
            raise ValueError(
                f"identity columns {clash} are GENERATED ALWAYS; "
                f"{writer} cannot write them"
            )
        if row_tracking and self.ROW_ID_COL in cols:
            raise ValueError(
                f"{self.ROW_ID_COL} is engine-managed while row tracking "
                f"is enabled; {writer} cannot write it"
            )

    # ------------------------------------------------- log-resident stats
    @staticmethod
    def _enc_stat(v: object) -> object:
        """JSON-safe encoding for a footer min/max value; None when the
        type doesn't round-trip (stats for that column are dropped —
        the planner conservatively keeps the file)."""
        import datetime

        if isinstance(v, bool) or v is None:
            return None
        if isinstance(v, (int, float, str)):
            return v
        if isinstance(v, datetime.datetime):
            # normalize to naive UTC: the engine runs a UTC session and
            # predicate values arrive naive; a tz-aware stat would make
            # every comparison raise and disable skipping
            if v.tzinfo is not None:
                v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
            return {"$ts": v.isoformat()}
        if isinstance(v, datetime.date):
            return {"$d": v.isoformat()}
        return None

    @staticmethod
    def _dec_stat(v: object) -> object:
        import datetime

        if isinstance(v, dict):
            if "$ts" in v:
                return datetime.datetime.fromisoformat(v["$ts"])
            if "$d" in v:
                return datetime.date.fromisoformat(v["$d"])
        return v

    @staticmethod
    def _read_footer_stats(path: str) -> dict:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
        names = {md.schema.column(i).name: i for i in range(md.num_columns)}
        cols: dict[str, list] = {}
        for name, idx in names.items():
            lo = hi = None
            ok = True
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    ok = False
                    break
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            if not ok or lo is None:
                continue
            elo, ehi = VersionedTable._enc_stat(lo), VersionedTable._enc_stat(hi)
            if elo is not None and ehi is not None:
                cols[name] = [elo, ehi]
        return {"rows": md.num_rows, "cols": cols}

    def _stats_dir(self) -> Path:
        return self.log_dir / "_stats"

    def _stats_for_commit(self, data_dirs: list[str], prev: dict) -> dict:
        """Stats refs for a commit's snapshot: dirs already in the base
        commit's refs ``prev`` reuse its pointer (no I/O), each NEW dir
        gets one write-once stats file holding its files' footer stats."""
        import hashlib

        out: dict[str, str] = {}
        for d in data_dirs:
            # partial-rewrite DML carries untouched files as LOOSE paths
            # under a previously-committed dir — reuse that dir's stats
            # file (extra entries for files no longer in the snapshot
            # are harmless; lookups are per-file) instead of re-reading
            # O(carried files) footers on every small DML commit.
            ref = next(
                (prev[str(p)] for p in (d, *Path(d).parents) if str(p) in prev), None
            )
            if ref is not None:
                out[d] = ref
                continue
            name = hashlib.sha1(d.encode()).hexdigest()[:16] + ".json"
            target = self._stats_dir() / name
            if not target.exists():
                p = Path(d)
                files = (
                    [str(p)]
                    if p.is_file()
                    else [str(x) for x in sorted(p.glob("**/*.parquet"))]
                )
                stats = {}
                for f in files:
                    try:
                        stats[f] = self._read_footer_stats(f)
                    except Exception:
                        # a stat-less file only costs planning precision
                        # (conservative keep); it must never fail the
                        # commit after data was written
                        continue
                # idempotent: content-determined
                self._write_json(
                    self._stats_dir(), stats, lambda tmp: os.replace(tmp, target)
                )
            out[d] = name
        return out

    # per-instance cache of loaded stats files (immutable on disk)
    _stats_cache: dict | None = None

    def _log_stats(self, commit: "Commit") -> dict:
        """file -> stats for a snapshot, resolved through the commit's
        stats refs; {} when the commit predates the stats feature."""
        if self._stats_cache is None:
            self._stats_cache = {}
        merged: dict[str, dict] = {}
        for name in (commit.stats_refs or {}).values():
            cached = self._stats_cache.get(name)
            if cached is None:
                try:
                    cached = json.loads((self._stats_dir() / name).read_text())
                except (OSError, ValueError):
                    cached = {}
                self._stats_cache[name] = cached
            merged.update(cached)
        return merged

    def _file_stats(self, f: str, log_stats: dict) -> dict:
        """One file's ``{"rows", "cols": {physical col: [lo, hi]}}``,
        bounds encoded: the log-resident entry when the snapshot carries
        one, else the parquet footer."""
        ls = log_stats.get(f)
        return ls if ls is not None else self._read_footer_stats(f)

    @staticmethod
    def _align(df: DataFrame, schema: T.StructType, gen: dict | None) -> DataFrame:
        """Project ``df`` onto the table schema: present columns cast,
        missing generated columns computed from their expression (Delta
        GENERATED ALWAYS AS), other missing columns NULL-filled."""
        gen = gen or {}
        cols = []
        for f in schema.fields:
            if f.name in df.columns:
                cols.append(F.col(f"`{f.name}`").cast(f.dataType).alias(f.name))
            elif f.name in gen:
                cols.append(F.expr(gen[f.name]).cast(f.dataType).alias(f.name))
            else:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        return df.select(*cols)

    def _check_constraints(
        self, df: DataFrame, base: Commit, checks: dict[str, str] | None = None
    ) -> None:
        """A write (``checks=None``) must pass every CHECK constraint and
        NOT NULL column of ``base``; ADD CONSTRAINT passes its one new
        check."""
        write_path = checks is None
        cons = (base.constraints or {}) if write_path else checks
        for name, expr in cons.items():
            # SQL CHECK semantics: only a FALSE evaluation violates.
            bad = df.where(f"NOT coalesce(({expr}), true)").limit(1).count()
            if bad:
                raise ConstraintViolationError(
                    f"CHECK constraint {name!r} ({expr}) violated by write"
                )
        if write_path:
            # Engine-minted columns (identity, _row_id) are assigned
            # AFTER this check and are never null by construction.
            managed = set(base.identity_columns()) | {self.ROW_ID_COL}
            nn = [c for c in base.not_null_columns() if c not in managed]
            missing = [c for c in nn if c not in df.columns]
            if missing:
                raise ConstraintViolationError(
                    f"NOT NULL column(s) {missing} missing from write"
                )
            if nn:
                # ONE probe job for all constrained columns (write cost
                # must not grow with the constraint count); the column
                # is named on the failure path only
                any_null = reduce(or_, (F.col(f"`{c}`").isNull() for c in nn))
                hits = df.where(any_null).select(*nn).limit(1).collect()
                if hits:
                    culprits = [c for c in nn if hits[0][c] is None]
                    raise ConstraintViolationError(
                        f"NOT NULL constraint on {culprits} violated by write"
                    )

    _NOT_NULL_PROP = "engine.notNullColumns"

    def not_null_columns(self) -> list[str]:
        """Columns under an explicit NOT NULL constraint (empty when
        none). Tracked as an engine property rather than inferred from
        incoming DataFrame nullability, which Spark does not preserve
        reliably across IO boundaries. (A malformed property value
        raises — that is real metadata damage, not something to mask.)"""
        return self._meta().not_null_columns()

    def _set_nullability(
        self, base: Commit, col: str, nullable: bool, op: str
    ) -> "VersionedTable":
        new_schema = T.StructType(
            [
                T.StructField(f.name, f.dataType, nullable, f.metadata)
                if f.name == col
                else f
                for f in base.schema().fields
            ]
        )
        cols = set(base.not_null_columns())
        if nullable:
            cols.discard(col)
        else:
            cols.add(col)
        props = dict(base.properties or {})
        if cols:
            props[self._NOT_NULL_PROP] = json.dumps(sorted(cols))
        else:
            props.pop(self._NOT_NULL_PROP, None)
        return self._commit(
            base,
            op,
            {"column": col},
            schema_json=json.dumps(new_schema.jsonValue()),
            properties=props or None,
        )

    def set_not_null(self, col: str) -> "VersionedTable":
        """ALTER TABLE … ALTER COLUMN … SET NOT NULL (Delta feature):
        validates the CURRENT snapshot contains no nulls, then records
        the constraint in a metadata-only commit (schema nullability
        flag + engine property); every later write enforces it."""
        base = self._latest()
        if col not in {f.name for f in base.schema().fields}:
            raise ValueError(f"column {col!r} not in table schema")
        if col in base.not_null_columns():
            raise ValueError(f"column {col!r} is already NOT NULL")
        if self._scan(base).where(F.col(f"`{col}`").isNull()).limit(1).count():
            raise ConstraintViolationError(
                f"cannot SET NOT NULL on {col!r}: existing rows contain nulls"
            )
        return self._set_nullability(base, col, nullable=False, op="SET NOT NULL")

    def drop_not_null(self, col: str) -> "VersionedTable":
        """ALTER TABLE … ALTER COLUMN … DROP NOT NULL."""
        base = self._latest()
        if col not in base.not_null_columns():
            raise ValueError(f"column {col!r} has no NOT NULL constraint")
        return self._set_nullability(base, col, nullable=True, op="DROP NOT NULL")

    def add_constraint(self, name: str, expr: str) -> "VersionedTable":
        """ALTER TABLE ... ADD CONSTRAINT ... CHECK (Delta feature):
        validates the current snapshot, then records the constraint in a
        metadata-only commit; every later write enforces it."""
        base = self._latest()
        cons = dict(base.constraints or {})
        if name in cons:
            raise ValueError(f"constraint {name!r} already exists")
        self._check_constraints(self._scan(base), base, {name: expr})
        cons[name] = expr
        return self._commit(
            base,
            "ADD CONSTRAINT",
            {"name": name, "expr": expr},
            cdf={"mode": "empty"},
            constraints=cons,
        )

    def drop_constraint(self, name: str) -> "VersionedTable":
        base = self._latest()
        cons = dict(base.constraints or {})
        cons.pop(name, None)
        return self._commit(
            base,
            "DROP CONSTRAINT",
            {"name": name},
            cdf={"mode": "empty"},
            constraints=cons or None,
        )

    def rename_column(self, old: str, new: str) -> "VersionedTable":
        """ALTER TABLE … RENAME COLUMN (Delta column mapping, 'name'
        mode): a metadata-only commit — zero data files touched. Data
        files keep the original *physical* column name forever; the
        commit log records logical -> physical ``column_mapping`` and
        every read aliases physical back to logical. Time travel to a
        pre-rename version sees the old name because the mapping is
        resolved per-commit. At 100 TB this is the whole point: a
        rename is O(1) metadata, not a table rewrite."""
        latest = self._latest()
        schema = latest.schema()
        names = [f.name for f in schema.fields]
        if old not in names:
            raise ValueError(f"column {old!r} not in table schema {names}")
        if new in names:
            raise ValueError(f"column {new!r} already exists in table schema")
        if old == self.ROW_ID_COL and latest.row_tracking():
            raise ValueError(
                f"cannot rename {self.ROW_ID_COL} while "
                "'delta.enableRowTracking' is true"
            )
        # Delta likewise blocks renaming a column referenced by a CHECK
        # constraint or generated-column expression: the stored SQL text
        # would dangle against the new schema.
        self._guard_column_refs(latest, old, "rename")
        mapping = dict(latest.column_mapping or {})
        physical = mapping.pop(old, old)  # chained renames keep the v0 name
        mapping[new] = physical
        props = self._props_follow_column(latest.properties, old, new)
        new_schema = T.StructType(
            [
                T.StructField(new, f.dataType, f.nullable) if f.name == old else f
                for f in schema.fields
            ]
        )
        # stats are keyed by PHYSICAL names, which a rename never
        # changes — the carried stats refs stay valid
        return self._commit(
            latest,
            "RENAME COLUMN",
            {"old": old, "new": new, "physical": physical},
            schema_json=json.dumps(new_schema.jsonValue()),
            partition_by=[new if c == old else c for c in (latest.partition_by or [])]
            or None,
            column_mapping=mapping,
            properties=props or None,
        )

    @classmethod
    def _props_follow_column(cls, props: dict | None, old: str, new: str | None) -> dict:
        """Engine-managed properties are keyed by LOGICAL column name —
        the clusterBy list, identity specs, the NOT NULL list — so they
        follow a rename to ``new``, or die with a drop (``new=None``):
        appends must not keep minting into a phantom physical column."""
        props = dict(props or {})

        def follow(cols: list[str]) -> list[str]:
            return [new if c == old else c for c in cols if c != old or new]

        if props.get("spark_graft.clusterBy"):
            props["spark_graft.clusterBy"] = ",".join(
                follow(props["spark_graft.clusterBy"].split(","))
            )
        spec = props.pop(cls._IDENTITY_PROP + old, None)
        if spec is not None and new:
            props[cls._IDENTITY_PROP + new] = spec
        not_null = sorted(follow(json.loads(props.pop(cls._NOT_NULL_PROP, "[]"))))
        if not_null:
            props[cls._NOT_NULL_PROP] = json.dumps(not_null)
        return props

    @staticmethod
    def _guard_column_refs(base: Commit, col: str, action: str) -> None:
        """Reject DDL on a column referenced by stored SQL text (CHECK
        constraints, generated columns) — the expression would dangle."""
        ref = re.compile(rf"\b{re.escape(col)}\b")
        for kind, exprs in (
            ("CHECK constraint", base.constraints or {}),
            ("generated column", base.generated or {}),
        ):
            for cname, expr in exprs.items():
                if cname == col or ref.search(expr):
                    raise ValueError(
                        f"cannot {action} {col!r}: referenced by {kind} "
                        f"{cname!r} ({expr})"
                    )

    def _historical_physical_names(self) -> set[str]:
        """Every physical column name any data file may carry — past
        schemas plus mapping targets. Used so a re-added column after a
        DROP gets a FRESH physical name instead of resurrecting the
        dropped column's stored values. O(versions) log walk, but only
        DDL pays it."""
        out: set[str] = set()
        for c in self._commits():
            out |= set(c.mapping().values())
        return out

    def add_column(self, name: str, dtype: str) -> "VersionedTable":
        """ALTER TABLE … ADD COLUMN (metadata-only): existing rows read
        NULL — the explicit-schema scan null-fills columns absent from
        a file, so zero data files are touched. If any historical file
        physically carries ``name`` (a previous column of that name was
        dropped), the new column maps to a fresh physical name via
        column mapping so the dead values cannot resurrect."""
        from pyspark.sql.types import _parse_datatype_string

        latest = self._latest()
        schema = latest.schema()
        if name in {f.name for f in schema.fields}:
            raise ValueError(f"column {name!r} already exists")
        mapping = dict(latest.column_mapping or {})
        physical = name
        if name in self._historical_physical_names():
            physical = f"{name}__v{self._next_version()}"
            mapping[name] = physical
        new_schema = T.StructType(
            list(schema.fields) + [T.StructField(name, _parse_datatype_string(dtype))]
        )
        return self._commit(
            latest,
            "ADD COLUMN",
            {"name": name, "type": dtype, "physical": physical},
            schema_json=json.dumps(new_schema.jsonValue()),
            column_mapping=mapping or None,
        )

    def drop_column(self, name: str) -> "VersionedTable":
        """ALTER TABLE … DROP COLUMN (metadata-only, Delta column
        mapping): the schema loses the field, data files keep the bytes
        (unreadable without the schema entry), time travel to an
        earlier version still sees the column. Dropping a partition
        column or one referenced by a CHECK constraint / generated
        column is rejected, as in Delta."""
        latest = self._latest()
        schema = latest.schema()
        if name not in {f.name for f in schema.fields}:
            raise ValueError(f"column {name!r} not in table schema")
        if name in (latest.partition_by or []):
            raise ValueError(f"cannot drop partition column {name!r}")
        if name in latest.clustering_columns():
            raise ValueError(
                f"cannot drop clustering column {name!r}; re-declare "
                "CLUSTER BY without it first"
            )
        if name == self.ROW_ID_COL and latest.row_tracking():
            raise ValueError(
                f"cannot drop {self.ROW_ID_COL} while "
                "'delta.enableRowTracking' is true; use "
                "SET TBLPROPERTIES ('delta.enableRowTracking'='false')"
            )
        self._guard_column_refs(latest, name, "drop")
        mapping = dict(latest.column_mapping or {})
        mapping.pop(name, None)
        props = self._props_follow_column(latest.properties, name, None)
        new_schema = T.StructType([f for f in schema.fields if f.name != name])
        return self._commit(
            latest,
            "DROP COLUMN",
            {"name": name},
            schema_json=json.dumps(new_schema.jsonValue()),
            column_mapping=mapping or None,
            properties=props or None,
        )

    def _write_data(
        self,
        df: DataFrame,
        version: int,
        partition_by: list[str] | None = None,
        mapping: dict[str, str] | None = None,
    ) -> str:
        # Data files always carry PHYSICAL column names (Delta column
        # mapping, ``mapping`` = the base snapshot's logical -> physical):
        # every file in every snapshot agrees regardless of how many
        # renames happened in between.
        mapping = mapping or {}
        renames = {l: p for l, p in mapping.items() if p != l and l in df.columns}
        if renames:
            df = df.withColumnsRenamed(renames)
            partition_by = [mapping.get(c, c) for c in (partition_by or [])] or None
        # Unique per write attempt (Delta's uniquely-named-objects rule):
        # the version alone is NOT unique pre-commit — two writers can
        # both pin slot v{N}, and with a shared target the loser's
        # Hadoop _temporary staging clobbers the winner's mid-write.
        # With a uuid suffix each attempt stages and lands privately,
        # the O_EXCL log publish stays the one arbiter, and a loser's
        # orphan dir is unreferenced -> vacuum collects it.
        target = self.data_dir / f"v{version}_{uuid.uuid4().hex[:8]}"
        writer = df.write.mode("errorifexists")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(str(target))
        return str(target)

    # Physical reorganizations: logical content identical before/after,
    # so their recorded change feed is empty by construction.
    _CONTENT_PRESERVING_OPS = frozenset({"OPTIMIZE", "CLUSTER", "REORG"})

    def _commit(
        self,
        base: Commit | None,
        operation: str,
        params: dict,
        cdf: dict | None = None,
        **changes,
    ) -> "VersionedTable":
        """The one commit builder: publish ``base`` — the snapshot the
        operation builds on — at the next slot, with this operation's
        ``operation``/``params``/``cdf`` and the Commit fields it owns
        (``changes``). Every other field carries forward unchanged,
        deletion vectors included (data rewrites apply their DV rule in
        ``_rewrite``). ``stats_refs`` follows ``data_dirs``: carried
        while the dirs are the base's, resolved by ``_stats_for_commit``
        when they change. ``base=None`` seeds version 0 of a new table.
        The slot is ``base.version + 1`` or ``_next_version`` raises
        ``CommitConflict``: the operation's one ``_latest()`` read armed
        that check."""
        base = base or Commit.seed()
        dirs = changes.get("data_dirs", base.data_dirs)
        if dirs != base.data_dirs:
            changes["stats_refs"] = self._stats_for_commit(dirs, base.stats_refs or {})
        if cdf is None and operation in self._CONTENT_PRESERVING_OPS:
            cdf = {"mode": "empty"}
        self._write_commit(
            replace(
                base,
                version=self._next_version(),
                timestamp=time.time(),
                operation=operation,
                params=params,
                cdf=cdf,
                **changes,
            )
        )
        return self

    def _claim_new_table(self) -> None:
        """Create-style ops start from an empty log: refuse an existing
        table, and make the empty log this thread's base snapshot so the
        first commit takes slot 0 or raises ``CommitConflict``."""
        if self.log_dir.exists() and any(self.log_dir.glob("*.json")):
            raise FileExistsError(f"table already exists at {self.root}")
        self._snapshot_version, self._pinned_slot = -1, None

    def _write_cdf_feed(self, feed: DataFrame, version: int) -> dict:
        """Write one commit's explicit change feed (rows + _change_type)
        to ``data/v<N>_cdf`` — Delta's CDC-file analogue. O(changed
        rows) extra write, paid once so every later ``changes()`` read
        over this version is O(changed rows) instead of O(snapshot)."""
        # _change_data/: Delta's CDC-file directory name; NOT under
        # data/ — the feed is commit metadata, and DV deletes promise
        # zero new data files. The path carries a uuid so a LOSING
        # concurrent writer can never clobber the winner's committed
        # feed for the same slot — its orphan dir is simply never
        # referenced by any commit and vacuum() reclaims it.
        path = self.root / "_change_data" / f"v{version}_{uuid.uuid4().hex[:8]}"
        feed.write.parquet(str(path))
        return {"mode": "parquet", "path": str(path)}

    def _rewrite(
        self,
        base: Commit,
        operation: str,
        params,
        out: DataFrame | None,
        carried: list[str],
        feed=None,
        **changes,
    ) -> "VersionedTable":
        """The one data-rewrite step: write ``out`` — the new content of
        the files the operation chose, read off ``base`` with its
        deletion vectors applied — under the pinned slot, record
        ``feed`` as the commit's change feed, and commit ``carried`` +
        the new dir on ``base``. ``out=None`` writes no data (a DV
        delete's tombstones are its write). ``params``, ``feed`` and
        any ``changes`` value may be a function of the new dir (None
        without ``out``), evaluated after the write: observed metrics
        and minted ids are known only then.

        The DV rule: tombstones key on file paths, and rewritten files
        were read with them applied, so ``base.dv_paths`` carry over
        only while some file carries over (a caller that knows better —
        DV delete, full purge — passes ``dv_paths``)."""
        version = self._next_version()
        d = None
        if out is not None:
            d = self._write_data(out, version, base.partition_by, base.mapping())
            changes.setdefault("schema_json", json.dumps(out.schema.jsonValue()))

        def late(v):
            return v(d) if callable(v) else v

        changes = {k: late(v) for k, v in changes.items()}
        changes.setdefault("dv_paths", base.dv_paths if carried else None)
        feed = late(feed)
        return self._commit(
            base,
            operation,
            late(params),
            cdf=None if feed is None else self._write_cdf_feed(feed, version),
            data_dirs=list(carried) + ([d] if d else []),
            **changes,
        )

    def create(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        generated: dict[str, str] | None = None,
        identity: dict[str, dict] | None = None,
    ) -> "VersionedTable":
        """Create the table, optionally hive-partitioned (Delta's
        ``partitionColumns``; reference partitions every serious write,
        SURVEY §2.1 S5). Partitioning is fixed at create time and every
        later rewrite preserves it. ``generated`` declares Delta-style
        GENERATED ALWAYS AS columns (column -> SQL expr over the other
        columns); appends that omit such a column get it computed —
        the idiom for derived partition keys (e.g. date from ts).
        ``identity`` declares GENERATED ALWAYS AS IDENTITY columns
        (name -> {"start", "step"}): the engine mints the values on
        every write (callers must OMIT the column), unique and
        increasing but not contiguous — Delta's identity contract."""
        self._claim_new_table()
        missing = set(partition_by or []) - set(df.columns)
        if missing:
            raise ValueError(f"partition columns {sorted(missing)} not in schema")
        gen_missing = set(generated or {}) - set(df.columns)
        if gen_missing:
            raise ValueError(f"generated columns {sorted(gen_missing)} not in schema")
        id_obs: dict[str, Observation] = {}
        specs: dict[str, dict] = {}
        if identity:
            self._guard_minted(df.columns, identity, False, "CREATE")
            for c, sp in identity.items():
                step = int(sp.get("step", 1))
                if step < 1:
                    raise ValueError(
                        f"identity column {c!r}: step must be >= 1 (got {step}); "
                        "descending identity is not supported"
                    )
                start = int(sp.get("start", 1))
                specs[c] = {"start": start, "step": step, "next": start}
            df, id_obs = self._assign_identity(df, specs)
        d = self._write_data(df, 0, partition_by)
        return self._commit(
            None,
            "CREATE",
            {"partition_by": partition_by or []},
            data_dirs=[d],
            schema_json=json.dumps(df.schema.jsonValue()),
            partition_by=list(partition_by) if partition_by else None,
            generated=dict(generated) if generated else None,
            properties=self._advance_minted(None, id_obs, specs),
        )

    @classmethod
    def convert_from_parquet(
        cls, spark: SparkSession, parquet_path: str, table_path: str
    ) -> "VersionedTable":
        """D1 CONVERT: register existing parquet as version 0 without
        rewriting data (the log references the original directory)."""
        df = spark.read.parquet(parquet_path)
        table = cls(spark, table_path)
        table._claim_new_table()
        return table._commit(
            None,
            "CONVERT",
            {"source": parquet_path},
            data_dirs=[parquet_path],
            schema_json=json.dumps(df.schema.jsonValue()),
        )

    def append(self, df: DataFrame, merge_schema: bool = False) -> "VersionedTable":
        """D6/D7 append with schema enforcement / opt-in evolution."""
        return self._append(self._latest(), df, merge_schema)

    def idempotent_append(
        self,
        df: DataFrame,
        app_id: str,
        batch_id: int,
        merge_schema: bool = False,
    ) -> bool:
        """Exactly-once streaming sink transaction (Delta's
        ``txnAppId``/``txnVersion`` pattern): append ``df`` tagged with
        ``(app_id, batch_id)``; a replay of an already-committed batch
        id (foreachBatch retries after failure) is a no-op. Returns
        whether the batch was applied.

        The check is monotonic per app_id — batch ids must not decrease
        — which is exactly Structured Streaming's foreachBatch contract.
        """
        # Newest-first scan of the commits this transaction builds on
        # (up to the base version), stopping at the first carrying this
        # app_id: batch ids are monotonic per app, so the most recent
        # marker decides — O(commits since that app's last txn), not
        # O(history). A newer entry (a live publish still copying, a
        # replay that landed after the base read) is _next_version's
        # to judge: the commit below then conflicts, and the retry's
        # scan sees it.
        base = self._latest()
        last = -1
        for f in reversed([f for f in self._log_files() if int(f.stem) <= base.version]):
            c = self._read_commit_file(f, newest=False)
            if c.params.get("txn_app") == app_id:
                last = int(c.params.get("txn_batch", -1))
                break
        if batch_id <= last:
            return False
        self._append(base, df, merge_schema, txn_app=app_id, txn_batch=batch_id)
        return True

    def _append(
        self, base: Commit, df: DataFrame, merge_schema: bool, **txn
    ) -> "VersionedTable":
        """The one append body; ``txn`` is the exactly-once marker
        ``idempotent_append`` records in the commit's params."""
        rt = base.row_tracking()
        specs = base.identity_columns()
        self._guard_minted(df.columns, specs, rt, "APPEND")
        merged = self._enforce(base.schema(), df.schema, merge_schema)
        aligned = self._align(df, merged, base.generated)
        self._check_constraints(aligned, base)
        obs = None
        hwm = int((base.properties or {}).get(self._HWM_PROP, "0"))
        if rt:
            # fresh ``_row_id``: high-watermark + a per-df unique offset
            # (sparse but unique, like Delta's non-contiguous fresh ids);
            # the observed max advances the watermark after the write
            obs = Observation()
            aligned = aligned.withColumn(
                self.ROW_ID_COL,
                (F.lit(hwm) + F.monotonically_increasing_id()).cast("long"),
            ).observe(obs, F.max(self.ROW_ID_COL).alias("max_id"))
        id_obs: dict[str, Observation] = {}
        if specs:
            aligned, id_obs = self._assign_identity(
                aligned.drop(*specs), specs
            )
        d = self._write_data(
            aligned, self._next_version(), base.partition_by, base.mapping()
        )
        return self._commit(
            base,
            "APPEND",
            {"mergeSchema": merge_schema, **txn},
            cdf={"mode": "insert_dirs", "dirs": [d]},
            data_dirs=base.data_dirs + [d],
            schema_json=json.dumps(merged.jsonValue()),
            properties=self._advance_minted(base.properties, id_obs, specs, obs, hwm),
        )

    def _dml_target_files(self, base: Commit, where: str) -> tuple[list[str], list[str]]:
        """File-granular DML planning: intersect the predicate with hive
        path values + parquet footer min/max stats (``plan_files``) and
        split the snapshot into (rewrite, carry-by-reference) file sets.
        Predicates too rich to lift into (col, op, value) tuples keep
        every file — correct, just coarser. This is Delta's matched-file
        rewrite: an UPDATE touching one partition of a 100 TB table
        rewrites that partition, not the table."""
        files = base.files()
        preds = lift_skip_predicates(where)
        if preds is None:
            return files, []
        try:
            selected, _total = self._plan(base, preds, files)
        except ValueError:  # op outside the skip set
            return files, []
        sel = set(selected)
        return selected, [f for f in files if f not in sel]

    def update(self, where: str, set_exprs: dict[str, str]) -> "VersionedTable":
        """D4 UPDATE ... SET col = expr WHERE predicate (SQL strings).
        Rewrites only files whose stats range intersects the predicate;
        the rest of the snapshot carries into the new commit by
        reference (see ``_dml_target_files``)."""
        base = self._latest()
        selected, untouched = self._dml_target_files(base, where)
        schema = base.schema()
        self._guard_minted(
            set_exprs, base.identity_columns(), base.row_tracking(), "UPDATE SET"
        )

        def apply_set(df: DataFrame) -> DataFrame:
            return df.withColumns(
                {
                    c: F.when(F.expr(where), F.expr(e)).otherwise(F.col(f"`{c}`"))
                    for c, e in set_exprs.items()
                }
            )

        def shape(sch: T.StructType) -> list[tuple[str, T.DataType]]:
            return [(f.name, f.dataType) for f in sch.fields]  # nullability-blind

        if selected and shape(
            apply_set(self._df_for_paths(selected, schema, base.mapping())).schema
        ) != shape(schema):  # schema probe only; DV application not needed
            # SET expression widened a column type (e.g. int + 0.5):
            # partial rewrite would fork the schema between old and new
            # files — fall back to a full-snapshot rewrite.
            selected, untouched = selected + untouched, []
        params = {
            "where": where,
            "set": set_exprs,
            "rewritten_files": len(selected),
            "carried_files": len(untouched),
            "num_affected_rows": 0,
        }
        if not selected:  # predicate can't match any file: metadata-only
            return self._commit(base, "UPDATE", params, cdf={"mode": "empty"})
        src = self._scan(base, selected)
        self._check_constraints(apply_set(src), base)
        # Matched-row metric observed during the write pass itself (no
        # separate pre-scan): CollectMetrics rides the rewrite scan. The
        # observed twin is built AFTER the constraint check so the
        # check's limit(1) probe can't consume the observation with a
        # partial count.
        obs = Observation()
        updated_obs = apply_set(
            src.observe(
                obs, F.count(F.when(F.expr(where), True)).alias("num_affected_rows")
            )
        )
        # Recorded change feed: pre/post images of the matched rows only
        # (file-granular like Delta CDC — a predicate-true row whose SET
        # leaves it unchanged still appears, and nets out in any signed
        # fold). One extra O(matched rows) pass over the selected files.
        # Tag vocabulary mirrors the snapshot-diff route: the update_*
        # refinement only exists when row tracking gives row identity.
        pre_tag, post_tag = (
            ("update_preimage", "update_postimage")
            if base.row_tracking()
            else ("delete", "insert")
        )
        hit = F.coalesce(F.expr(where), F.lit(False))
        feed = (
            src.where(hit)
            .withColumn("_change_type", F.lit(pre_tag))
            .unionByName(
                apply_set(src.where(hit)).withColumn("_change_type", F.lit(post_tag))
            )
        )
        return self._rewrite(
            base,
            "UPDATE",
            lambda _d: {**params, "num_affected_rows": int(obs.get["num_affected_rows"])},
            updated_obs,
            untouched,
            feed=feed,
        )

    def delete(self, where: str, use_dv: bool | None = None) -> "VersionedTable":
        """DELETE WHERE predicate. Delta semantics: rows where the
        predicate is TRUE go; FALSE or NULL stay. File-granular like
        ``update``: only stats-intersecting files rewrite.

        ``use_dv=True`` switches to deletion vectors (Delta's DV table
        feature): instead of rewriting files, write O(matched rows) of
        (file_path, row_index) tombstones and leave every data file
        byte-identical. Reads anti-join the tombstones away. This is
        the scale answer for frequent small deletes on a 100 TB table —
        a delete matching 1k rows writes kilobytes, not terabytes.
        ``purge_deletion_vectors`` (REORG … APPLY (PURGE)) later folds
        tombstones into a physical rewrite of only the affected files.
        Default (``use_dv=None``) follows the table property
        'delta.enableDeletionVectors' — Delta's own opt-in shape."""
        base = self._latest()
        if use_dv is None:
            use_dv = base.flag("delta.enableDeletionVectors")
        selected, untouched = self._dml_target_files(base, where)
        params = {
            "where": where,
            "rewritten_files": len(selected),
            "carried_files": len(untouched),
            "num_affected_rows": 0,
        }
        if not selected:
            return self._commit(base, "DELETE", params, cdf={"mode": "empty"})
        hit = F.coalesce(F.expr(where), F.lit(False))
        if use_dv:
            src = self._scan(base, selected, with_meta=True)
            tombstones = src.where(hit).select(
                F.col("__dv_path").alias("file_path"),
                F.col("__dv_idx").alias("row_index"),
            )
            # Tombstone count observed during the tombstone write itself
            # (no read-back scan of the DV file).
            obs = Observation()
            tombstones = tombstones.observe(obs, F.count(F.lit(1)).alias("n"))
            # Unique per attempt, like data dirs: with a fixed v{N}_dv
            # name a racing loser's overwrite could clobber tombstones
            # the winner had already PUBLISHED (its committed dv_paths
            # would then point at the loser's rows — silent corruption).
            # Orphan attempt-dirs are unreferenced → vacuum collects
            # them, so no reclaim-by-overwrite is needed either.
            dv_dir = self.data_dir / (
                f"v{self._next_version()}_dv_{uuid.uuid4().hex[:8]}"
            )
            tombstones.coalesce(1).write.mode("errorifexists").parquet(str(dv_dir))
            n_dv = int(obs.get["n"])
            params = {
                "where": where,
                "rewritten_files": 0,
                "carried_files": len(selected) + len(untouched),
                "dv_rows": n_dv,
                "num_affected_rows": n_dv,
            }
            if n_dv == 0:
                # Zero matches: registering an empty tombstone dir would
                # grow dv_paths monotonically and tax every later read
                # with one more anti-join input until REORG. Drop it —
                # the commit is metadata-only.
                shutil.rmtree(dv_dir, ignore_errors=True)
                return self._commit(base, "DELETE", params, cdf={"mode": "empty"})
            # Recorded feed: the tombstoned rows themselves (schema cols
            # only — the DV path/idx identity is physical, not logical).
            # Data files are untouched: every dir carries.
            feed = src.where(hit).select(
                *[F.col(f"`{f.name}`") for f in base.schema().fields]
            ).withColumn("_change_type", F.lit("delete"))
            return self._rewrite(
                base,
                "DELETE",
                params,
                None,
                base.data_dirs,
                feed=feed,
                dv_paths=list(base.dv_paths or []) + [str(dv_dir)],
            )
        src = self._scan(base, selected)
        # Deleted-row metric observed on the pre-filter scan of the same
        # write pass (CollectMetrics sees every row the filter drops).
        obs = Observation()
        src_obs = src.observe(
            obs, F.count(F.when(hit, True)).alias("num_affected_rows")
        )
        # Recorded feed: the rows the predicate removed (one extra
        # O(matched rows) pass over the selected files).
        return self._rewrite(
            base,
            "DELETE",
            lambda _d: {**params, "num_affected_rows": int(obs.get["num_affected_rows"])},
            src_obs.where(~hit),
            untouched,
            feed=src.where(hit).withColumn("_change_type", F.lit("delete")),
        )

    def purge_deletion_vectors(
        self, max_dv_fraction: float | None = None
    ) -> "VersionedTable":
        """REORG TABLE … APPLY (PURGE): materialize deletion vectors by
        rewriting ONLY the files that carry tombstones; untouched files
        and the logical snapshot are unchanged. After this commit the
        table has zero DVs and VACUUM can reclaim the tombstone files.

        ``max_dv_fraction`` switches to Delta's maintenance heuristic:
        only files whose tombstoned-row fraction exceeds the threshold
        are rewritten (the reads that pay the anti-join tax hardest),
        the rest keep their DVs. Tombstones referencing the rewritten
        files become dangling — harmless by the DV contract (file paths
        are never reused) — so the DV set carries while any file does,
        and a later full REORG or VACUUM retires it."""
        base = self._latest()
        dv_paths = list(base.dv_paths or [])
        if not dv_paths:
            return self
        files = base.files()
        # Live tombstone count per file: one small Spark agg over the DV
        # parquets (output O(distinct files)). _metadata.file_path is a
        # file:// URI; snapshot files are plain paths — canonicalize.
        dv_counts = {
            re.sub(r"^file:/+", "/", r.file_path): r.n
            for r in self.spark.read.parquet(*dv_paths)
            .groupBy("file_path")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        affected = [f for f in files if f in dv_counts]
        if max_dv_fraction is not None:
            log_stats = self._log_stats(base)
            affected = [
                f
                for f in affected
                if dv_counts[f] / max(self._file_stats(f, log_stats)["rows"], 1)
                > max_dv_fraction
            ]
            if not affected:
                return self  # nothing over threshold: no-op, no commit
        untouched = [f for f in files if f not in set(affected)]
        partial = max_dv_fraction is not None
        params = {
            "purged_dv_files": 0 if partial else len(dv_paths),
            "rewritten_files": len(affected),
            "carried_files": len(untouched),
            **({"max_dv_fraction": max_dv_fraction} if partial else {}),
        }
        return self._rewrite(
            base,
            "REORG",
            params,
            self._scan(base, affected) if affected else None,
            untouched,
            schema_json=base.schema_json,  # same rows, same schema
            # a full purge rewrote every tombstoned file
            **({} if partial else {"dv_paths": None}),
        )

    def merge_upsert(self, source: DataFrame, keys: list[str]) -> "VersionedTable":
        """MERGE INTO (Delta's upsert DML): WHEN MATCHED UPDATE SET * /
        WHEN NOT MATCHED INSERT * — the source row wins on key match,
        unmatched target rows are kept, unmatched source rows insert.

        Planned as one anti join + union: target rows NOT hit by the
        merge keys survive, everything from the source lands as-is.
        At scale both sides shuffle once on the merge keys (or the
        source broadcasts when small) — the same physical shape Delta
        produces for a full-table merge without file-level pruning.
        """
        base = self._latest()
        id_specs = base.identity_columns()
        if base.row_tracking() or id_specs:
            # engine-managed identity (row ids / identity columns) must
            # survive the upsert; the clause-based merge handles that.
            # Keep the non-tracked path's loud failure on a short source
            # — merge's INSERT * would silently NULL-fill missing
            # columns.
            target_cols = (
                {f.name for f in base.schema().fields}
                - {self.ROW_ID_COL}
                - set(id_specs)
            )
            missing = target_cols - set(source.columns)
            if missing:
                raise ValueError(
                    f"merge_upsert source is missing table columns {sorted(missing)}"
                )
            return self._merge(base, source, keys, [WhenMatched()], [WhenNotMatched()])
        self._enforce(base.schema(), source.schema, merge_schema=False)
        target = self._scan(base)
        survivors = target.join(
            source.select(*keys).distinct(), on=keys, how="left_anti"
        )
        merged = source.select(*target.columns).unionByName(survivors)
        # Recorded feed: replaced target rows out, every source row in
        # (CDC semantics — a source row identical to its target twin
        # still appears and nets out in any signed fold).
        feed = (
            target.join(source.select(*keys).distinct(), on=keys, how="left_semi")
            .withColumn("_change_type", F.lit("delete"))
            .unionByName(
                source.select(*target.columns).withColumn(
                    "_change_type", F.lit("insert")
                )
            )
        )
        return self._rewrite(base, "MERGE", {"keys": keys}, merged, [], feed=feed)

    def merge(
        self,
        source: DataFrame,
        keys: list[str],
        matched: list[WhenMatched] | None = None,
        not_matched: list[WhenNotMatched] | None = None,
        validate_unique_source: bool = True,
        extra_properties: dict[str, str] | None = None,
        null_safe_keys: bool = False,
    ) -> "VersionedTable":
        """Full MERGE INTO with conditional clauses (Delta DML family,
        the generalization of D4 UPDATE at ``update_versioning.py:40-44``):
        ``WHEN MATCHED [AND cond] THEN UPDATE SET …/DELETE`` and
        ``WHEN NOT MATCHED [AND cond] THEN INSERT …``. Clauses apply
        first-match-wins in list order, exactly Delta's semantics;
        matched rows hit by no clause and target rows with no key match
        pass through unchanged.

        Physical plan: one outer join of target and source on the merge
        keys, then every clause resolves as a CASE projection with no
        further shuffle. The join shape follows the clause set: with no
        NOT MATCHED clauses a left-outer suffices, which Spark CAN
        broadcast when the source is small (the common small-batch
        UPDATE/DELETE merge); insert-bearing merges need the full outer,
        where both sides sort-merge on the keys — the right strategy
        when both sides are large. Conditions and update/insert
        expressions are SQL strings over ``t.<col>`` / ``s.<col>``.

        ``validate_unique_source`` replicates Delta's cardinality check:
        a target row matched by >1 source rows is nondeterministic and
        raises MergeCardinalityError (one extra count job over the
        source keys; disable only if uniqueness is guaranteed upstream).

        ``null_safe_keys`` switches the key comparison to ``<=>``
        (NULL matches NULL) — standard MERGE equality never matches a
        NULL key, so a source row with a NULL key always takes the NOT
        MATCHED path and re-inserts on every merge. Aggregation-shaped
        ledgers (key = groupBy output, where NULL is one real group —
        e.g. the streaming dedup fold) need null-safe matching to stay
        equal to their batch twin. Note ``validate_unique_source``'s
        groupBy already counts NULL as one group, consistent with this
        mode.
        """
        return self._merge(
            self._latest(),
            source,
            keys,
            matched,
            not_matched,
            validate_unique_source,
            extra_properties,
            null_safe_keys,
        )

    def _merge(
        self,
        base: Commit,
        source: DataFrame,
        keys: list[str],
        matched: list[WhenMatched] | None,
        not_matched: list[WhenNotMatched] | None,
        validate_unique_source: bool = True,
        extra_properties: dict[str, str] | None = None,
        null_safe_keys: bool = False,
    ) -> "VersionedTable":
        matched = list(matched or [])
        not_matched = list(not_matched or [])
        if not matched and not not_matched:
            raise ValueError("merge needs at least one WHEN clause")
        star = any(cl.update is None and not cl.delete for cl in matched) or any(
            cl.insert is None for cl in not_matched
        )
        if star:
            self._enforce(base.schema(), source.schema, merge_schema=False)
        if validate_unique_source:
            dups = (
                source.groupBy(*keys)
                .agg(F.count(F.lit(1)).alias("__n"))
                .where(F.col("__n") > 1)
            )
            if dups.limit(1).count():
                raise MergeCardinalityError(
                    f"source has duplicate rows on merge keys {keys}"
                )
        target = self._scan(base)
        t = target.withColumn("__t", F.lit(1)).alias("t")
        s = source.withColumn("__s", F.lit(1)).alias("s")
        key_cond = reduce(
            and_,
            [
                F.col(f"t.`{k}`").eqNullSafe(F.col(f"s.`{k}`"))
                if null_safe_keys
                else F.col(f"t.`{k}`") == F.col(f"s.`{k}`")
                for k in keys
            ],
        )
        how = "left_outer" if not not_matched else "full_outer"
        joined = t.join(s, on=key_cond, how=how)

        def first_clause_idx(clauses) -> Column:
            idx = F.lit(-1)
            for i in range(len(clauses) - 1, -1, -1):
                cond = (
                    F.expr(clauses[i].condition)
                    if clauses[i].condition
                    else F.lit(True)
                )
                idx = F.when(cond, F.lit(i)).otherwise(idx)
            return idx

        midx = first_clause_idx(matched)
        nidx = first_clause_idx(not_matched)
        is_matched = F.col("t.__t").isNotNull() & F.col("s.__s").isNotNull()
        t_present = F.col("t.__t").isNotNull()

        rt = base.row_tracking()
        id_specs = base.identity_columns()
        # the source's own _row_id is ignored (kept rows keep the target's)
        self._guard_minted(source.columns, id_specs, False, "the MERGE source")
        for cl in matched:
            self._guard_minted(cl.update or {}, id_specs, rt, "MERGE UPDATE SET")
        for cl in not_matched:
            self._guard_minted(cl.insert or {}, id_specs, rt, "MERGE INSERT")

        def out_col(fld: T.StructField) -> Column:
            c = fld.name
            t_c = F.col(f"t.`{c}`")
            if (rt and c == self.ROW_ID_COL) or c in id_specs:
                # engine-managed identity: matched/kept rows keep the
                # TARGET value even under UPDATE SET *; inserts start
                # null and get fresh values below.
                return (
                    F.when(t_present, t_c).otherwise(F.lit(None)).cast(fld.dataType).alias(c)
                )
            s_c = F.col(f"s.`{c}`") if c in source.columns else F.lit(None)
            val_m: Column = t_c
            for i, cl in enumerate(matched):
                if cl.delete:
                    continue
                e = (
                    s_c
                    if cl.update is None
                    else (F.expr(cl.update[c]) if c in cl.update else t_c)
                )
                val_m = F.when(midx == i, e).otherwise(val_m)
            val_i: Column = F.lit(None)
            for i, cl in enumerate(not_matched):
                e = (
                    s_c
                    if cl.insert is None
                    else (F.expr(cl.insert[c]) if c in cl.insert else F.lit(None))
                )
                val_i = F.when(nidx == i, e).otherwise(val_i)
            picked = F.when(is_matched, val_m).when(t_present, t_c).otherwise(val_i)
            return picked.cast(fld.dataType).alias(c)

        del_idx = [i for i, cl in enumerate(matched) if cl.delete]
        keep_m = ~midx.isin(del_idx) if del_idx else F.lit(True)
        keep = (
            F.when(is_matched, keep_m)
            .when(t_present, F.lit(True))
            .otherwise(nidx != -1)
        )
        out_cols = [out_col(f) for f in target.schema.fields]
        hwm = int((base.properties or {}).get(self._HWM_PROP, "0"))
        obs_rt = Observation() if rt else None
        id_obs: dict[str, Observation] = {}

        def finish(df: DataFrame, observe_ids: bool) -> DataFrame:
            if rt:
                df = df.withColumn(
                    self.ROW_ID_COL,
                    F.coalesce(
                        F.col(self.ROW_ID_COL),
                        (F.lit(hwm) + F.monotonically_increasing_id()).cast("long"),
                    ),
                )
                if observe_ids:
                    df = df.observe(obs_rt, F.max(self.ROW_ID_COL).alias("max_id"))
            for col, spec in id_specs.items():
                df = df.withColumn(
                    col,
                    F.coalesce(
                        F.col(col),
                        (
                            F.lit(spec["next"])
                            + F.lit(spec["step"]) * F.monotonically_increasing_id()
                        ).cast("long"),
                    ),
                )
                if observe_ids:
                    o = Observation()
                    df = df.observe(o, F.max(col).alias("max_id"))
                    id_obs[col] = o
            return df

        self._check_constraints(
            finish(joined.where(keep).select(*out_cols), observe_ids=False), base
        )
        # Delta-style merge metrics observed on the join output during
        # the write pass itself (pre-filter, so deleted rows are seen;
        # no before/after snapshot counts). Built after the constraint
        # check so its limit(1) probe can't consume the observation.
        upd_idx = [i for i, cl in enumerate(matched) if not cl.delete]
        upd_mask = is_matched & (midx.isin(upd_idx) if upd_idx else F.lit(False))
        del_mask = is_matched & (midx.isin(del_idx) if del_idx else F.lit(False))
        ins_mask = ~t_present & (nidx != -1)
        obs = Observation()
        merged_obs = finish(
            joined.observe(
                obs,
                F.count(F.when(upd_mask, True)).alias("num_updated_rows"),
                F.count(F.when(del_mask, True)).alias("num_deleted_rows"),
                F.count(F.when(ins_mask, True)).alias("num_inserted_rows"),
            )
            .where(keep)
            .select(*out_cols),
            observe_ids=True,
        )
        # Recorded change feed. Requires validated source cardinality:
        # with duplicate source keys the join emits one pre-image per
        # (target, source) PAIR, so an unvalidated merge would
        # over-count deletions in the feed — that case keeps the
        # snapshot-diff fallback.
        feed = None
        if validate_unique_source:
            pre_cols = [
                F.col(f"t.`{f.name}`").cast(f.dataType).alias(f.name)
                for f in target.schema.fields
            ]
            if not rt and not id_specs:
                feed = (
                    joined.where(upd_mask | del_mask)
                    .select(*pre_cols)
                    .withColumn("_change_type", F.lit("delete"))
                    .unionByName(
                        joined.where(upd_mask | ins_mask)
                        .select(*out_cols)
                        .withColumn("_change_type", F.lit("insert"))
                    )
                )
            else:
                # Row-tracked / identity tables: fresh _row_id /
                # identity values are minted by
                # monotonically_increasing_id in the WRITE job, so a
                # feed re-running the join would mint DIFFERENT ids.
                # Derive post-images from the WRITTEN files instead —
                # the minted ids are facts on disk — keyed on the
                # engine-unique id (``_row_id`` when row tracking is
                # on, else an identity column: GENERATED ALWAYS,
                # strictly increasing, UPDATE-locked, so unique and
                # stable across the merge by construction). Pre-images
                # involve no minting and come from the join masks.
                # Cost: O(changed rows) join work + one pass over the
                # written files (the merge rewrite itself), never a
                # second snapshot diff. Tag vocabulary mirrors the
                # diff route: update_* only under row tracking.
                key = self.ROW_ID_COL if rt else next(iter(id_specs))
                pre_tag, post_tag = (
                    ("update_preimage", "update_postimage")
                    if rt
                    else ("delete", "insert")
                )
                tgt_keys = target.select(F.col(f"`{key}`"))
                upd_keys = joined.where(upd_mask).select(
                    F.col(f"t.`{key}`").alias(key)
                )

                def feed(d: str) -> DataFrame:
                    written = self._df_for_paths([d], target.schema, base.mapping())
                    return (
                        joined.where(del_mask)
                        .select(*pre_cols)
                        .withColumn("_change_type", F.lit("delete"))
                        .unionByName(
                            joined.where(upd_mask)
                            .select(*pre_cols)
                            .withColumn("_change_type", F.lit(pre_tag))
                        )
                        .unionByName(
                            written.join(upd_keys, on=key, how="left_semi")
                            .withColumn("_change_type", F.lit(post_tag))
                        )
                        .unionByName(
                            written.join(tgt_keys, on=key, how="left_anti")
                            .withColumn("_change_type", F.lit("insert"))
                        )
                    )

        def params(_d) -> dict:
            metrics = {k: int(v) for k, v in obs.get.items()}
            return {
                "keys": keys,
                "matched_clauses": len(matched),
                "not_matched_clauses": len(not_matched),
                "num_affected_rows": sum(metrics.values()),
                **metrics,
            }

        def properties(_d) -> dict | None:
            props = self._advance_minted(base.properties, id_obs, id_specs, obs_rt, hwm)
            if extra_properties:
                # properties ride the SAME commit as the data change, so
                # a caller tracking state in them (e.g. an incremental
                # view's source watermark) can never observe the merge
                # without its watermark or vice versa
                props = {**(props or {}), **extra_properties}
            return props

        return self._rewrite(
            base, "MERGE", params, merged_obs, [], feed=feed, properties=properties
        )

    @classmethod
    def clone_from(
        cls,
        source: "VersionedTable",
        target_path: str,
        version: int | None = None,
    ) -> "VersionedTable":
        """SHALLOW CLONE (Delta feature): a new table whose v0 references
        the source snapshot's data files — zero bytes copied, instant,
        and subsequent writes to either table never affect the other
        (commits are immutable, clones only add new directories).
        ``version`` clones a historical snapshot (time-travel clone).

        Caveat shared with Delta: VACUUM on the source can delete files
        a shallow clone still references — deploys either vacuum with
        clone awareness or deep-copy before source retirement.
        """
        src_commit = source._resolve_commit(version)
        table = cls(source.spark, target_path)
        table._claim_new_table()
        # stats files resolve against the CLONE's _log/_stats — copy the
        # referenced ones over (tiny JSON; the data files stay shared)
        for name in (src_commit.stats_refs or {}).values():
            src_f = source._stats_dir() / name
            if src_f.exists():
                table._stats_dir().mkdir(parents=True, exist_ok=True)
                shutil.copyfile(src_f, table._stats_dir() / name)
        return table._commit(
            src_commit,
            "CLONE",
            {"source": str(source.root), "source_version": src_commit.version},
        )

    def restore(self, version: int) -> "VersionedTable":
        """D6 RESTORE TABLE ... TO VERSION AS OF: new commit pointing at
        the old snapshot's files (no data copy, history preserved)."""
        return self._commit(
            self._resolve_commit(version), "RESTORE", {"to_version": version}
        )

    def optimize(
        self,
        zorder_by: list[str] | None = None,
        target_partitions: int | None = None,
        target_file_size_bytes: int | None = None,
    ) -> "VersionedTable":
        """D2 OPTIMIZE [ZORDER BY]: compact the snapshot; with
        ``zorder_by``, cluster so parquet min/max stats enable data
        skipping. Multi-column numeric keys use a true Morton-curve
        interleave (every listed column prunes); otherwise lexicographic
        range-sort (leading column prunes).

        ``target_file_size_bytes`` sizes the output like Delta's
        binSize: partitions = ceil(snapshot bytes / target), measured
        from file footers (no data read). This is the knob that matters
        at 100 TB — compacting to ONE file is as wrong as a thousand
        shards; ~1 GiB files keep scans parallel and metadata small.
        Explicit ``target_partitions`` wins when both are given.

        **No-op when already optimal** (Delta's OPTIMIZE writes no
        commit when no files qualify): if the current snapshot IS the
        output of an equivalent full OPTIMIZE (same ``zorder_by``, no
        data commit since, file count already within target), return
        without committing. This is what keeps a maintenance loop
        (``maintain_stream_dedup_state``) from flooding the log with
        identical rewrites and starving a concurrent writer's
        conflict retries — the starvation
        tests/test_streaming.py::test_maintenance_beside_active_folds
        exposed when every loop iteration burned a commit slot."""
        base = self._latest()
        pcols = list(base.partition_by or [])
        if target_partitions is None:
            target_partitions = 1
            if target_file_size_bytes:
                total = sum(Path(f).stat().st_size for f in base.files())
                target_partitions = max(1, -(-total // target_file_size_bytes))
        if (
            base.operation == "OPTIMIZE"
            and "where" not in base.params  # partial compaction ≠ settled
            and base.params.get("zorder_by", []) == (zorder_by or [])
            and (pcols or len(base.files()) <= target_partitions)
        ):
            return self
        cur = self._compact(self._scan(base), pcols, zorder_by, target_partitions)
        return self._rewrite(base, "OPTIMIZE", {"zorder_by": zorder_by or []}, cur, [])

    @classmethod
    def _compact(
        cls,
        df: DataFrame,
        pcols: list[str],
        zorder_by: list[str] | None,
        target_partitions: int,
    ) -> DataFrame:
        """OPTIMIZE's layout step. A partitioned table keeps its hive
        layout: one task per partition-key hash, rows sorted by
        (partition cols, zorder cols) within it — ``target_partitions``
        is a per-table knob and doesn't apply. Otherwise Z-order-lite
        clustering with ``zorder_by``, or a plain coalesce."""
        if pcols:
            order = pcols + [c for c in (zorder_by or []) if c not in pcols]
            return df.repartition(*[F.col(c) for c in pcols]).sortWithinPartitions(
                *[F.col(c) for c in order]
            )
        if zorder_by:
            return cls._cluster(df, zorder_by, target_partitions)
        return df.coalesce(target_partitions)

    @staticmethod
    def _cluster(df: DataFrame, zorder_by: list[str], target_partitions: int) -> DataFrame:
        if len(zorder_by) > 1:
            try:
                from data_pipeline_with_spark_spark.operators.zorder import (
                    zorder_cluster,
                )

                return zorder_cluster(df, zorder_by, target_partitions)
            except TypeError:
                pass  # non-numeric key columns: lexicographic fallback
        cols = [F.col(c) for c in zorder_by]
        return df.repartitionByRange(target_partitions, *cols).sortWithinPartitions(
            *cols
        )

    def optimize_where(
        self,
        predicate: tuple[str, str, object] | list[tuple[str, str, object]],
        zorder_by: list[str] | None = None,
        target_partitions: int = 1,
    ) -> "VersionedTable":
        """``OPTIMIZE … WHERE``: partial compaction (Delta's
        partition-scoped OPTIMIZE). Only files whose footer min/max
        stats can satisfy ``(column, op, value)`` are rewritten —
        compacted and optionally Z-order-lite clustered; every other
        file of the snapshot carries over *by reference*, no copy.
        Purely physical: selected files are rewritten whole (no row
        filtering), so the snapshot's content is bit-identical.

        This is what makes maintenance affordable at 100 TB: a daily
        OPTIMIZE over the hot partition touches only that partition's
        files instead of rewriting the table (the full ``optimize()``).
        """
        base = self._latest()
        files = base.files()
        selected, _total = self._plan(base, predicate, files)
        if not selected:
            return self  # nothing overlaps the predicate; no commit
        sel = set(selected)
        untouched = [f for f in files if f not in sel]
        # Apply DVs while rewriting: tombstones key on the OLD file
        # paths, so a rewritten file must be materialized clean or its
        # deleted rows would resurrect under the new path.
        df = self._compact(
            self._scan(base, selected), base.partition_by or [], zorder_by, target_partitions
        )
        return self._rewrite(
            base,
            "OPTIMIZE",
            {
                "where": list(predicate),
                "zorder_by": zorder_by or [],
                "rewritten_files": len(selected),
                "carried_files": len(untouched),
            },
            df,
            untouched,
        )

    # ------------------------------------------- liquid-style clustering
    def cluster_by(self, cols: list[str]) -> "VersionedTable":
        """Declare clustering columns (Delta liquid clustering's
        ``CLUSTER BY``): recorded as a table property; writes stay
        cheap and unclustered, ``optimize_incremental`` (or a plain
        routed ``OPTIMIZE``) restores locality incrementally."""
        base = self._latest()
        missing = set(cols) - {f.name for f in base.schema().fields}
        if missing:
            raise ValueError(f"clustering columns {sorted(missing)} not in schema")
        return self._set_properties(base, {"spark_graft.clusterBy": ",".join(cols)})

    def clustering_columns(self) -> list[str]:
        return self._meta().clustering_columns()

    def optimize_incremental(
        self,
        max_overlap: int = 2,
        min_files: int = 1,
        target_file_size_bytes: int | None = None,
    ) -> "VersionedTable":
        """Liquid-clustering-style maintenance: re-cluster ONLY the
        files that hurt data skipping, leaving settled files untouched.

        Two signals pick the rewrite set, both metadata-only:

        - **Provenance** (Delta's ZCube rule): files written by an
          earlier CLUSTER/OPTIMIZE commit are *settled* and never
          re-selected — their dirs fall out of the (checkpointed)
          history walk. This is what guarantees convergence: a pass's
          output is settled, so the next pass is a no-op no matter how
          its range pieces landed relative to older ones.
        - **Overlap health** for the unsettled rest: two files overlap
          when their bounding boxes intersect on EVERY clustering
          column (endpoint sweep on the leading column, box checks on
          the rest — so CLUSTER BY (a, b) appends that are disjoint in
          b alone are correctly left in place). An unsettled file
          overlapping more than ``max_overlap`` others, or lacking
          stats, is selected. Well-placed appends thus stay put
          cost-free; a full-range append overlaps everything and is
          picked up. Overlap degrees come from
        one O(F log F) endpoint sweep over the file list — metadata
        only, no data read — so the nightly maintenance pass on a
        100 TB table costs I/O proportional to the NEW data, which is
        the entire point of liquid clustering over static Z-order.
        """
        base = self._latest()
        cols = base.clustering_columns()
        if not cols:
            raise ValueError("no clustering columns; call cluster_by first")
        files = base.files()
        mapping = base.mapping()
        log_stats = self._log_stats(base)
        # bounding box per file across ALL clustering columns (log stats,
        # else footers); an empty file or any missing stat voids the box
        # (treated as overlap-everything)
        boxes: dict[str, list[tuple] | None] = {}
        for f in files:
            st = self._file_stats(f, log_stats)
            box = [st["cols"].get(mapping.get(c, c)) for c in cols]
            boxes[f] = (
                None
                if st["rows"] == 0 or None in box
                else [(self._dec_stat(lo), self._dec_stat(hi)) for lo, hi in box]
            )
        ranges = {f: (b[0] if b else None) for f, b in boxes.items()}
        degree = {f: 0 for f in files}
        statless = [f for f in files if boxes[f] is None]
        ranged = sorted(
            (f for f in files if boxes[f] is not None),
            key=lambda f: boxes[f][0][0],
        )

        def box_intersects(a: str, b: str) -> bool:
            # leading column already intersects via the sweep; check the
            # remaining dimensions of the bounding boxes
            return all(
                ra[0] <= rb[1] and rb[0] <= ra[1]
                for ra, rb in zip(boxes[a][1:], boxes[b][1:])
            )

        # endpoint sweep on the leading column: files still "active"
        # when the next one starts MAY overlap it; the remaining
        # columns' box check decides (pairwise, both sides count)
        import heapq

        active: list[tuple[object, str]] = []  # (hi, file)
        for f in ranged:
            lo, hi = boxes[f][0]
            while active and active[0][0] < lo:
                heapq.heappop(active)
            for _, g in active:
                if box_intersects(f, g):
                    degree[f] += 1
                    degree[g] += 1
            heapq.heappush(active, (hi, f))
        # missing-stats files overlap everything by assumption
        for f in statless:
            degree[f] += len(files) - 1
        # settled-by-provenance: output dirs of past CLUSTER/OPTIMIZE
        # commits (cheap via the history checkpoint walk). Data dirs
        # are named v{N}_{uuid8}, so the version prefix "v{N}_" is the
        # provenance key ("v1_" cannot false-match "v12_…", and the
        # v{N}_dv tombstone dirs never appear in snapshot file lists).
        # Pre-uuid-rename tables named dirs plainly "v{N}", so the
        # legacy "v{N}/" form is matched too — without it, existing
        # tables would silently lose the settled optimization and
        # re-compact already-settled files every pass (r7 advice).
        settled_dirs = tuple(
            str(self.data_dir / f"v{h['version']}{suffix}")
            for h in self.history()
            if h["operation"] in ("CLUSTER", "OPTIMIZE")
            for suffix in ("_", os.sep)
        )
        selected = [
            f
            for f in files
            if degree[f] > max_overlap and not f.startswith(settled_dirs)
        ]
        if len(selected) < min_files:
            return self  # already clustered enough: no commit, no I/O
        untouched = [f for f in files if f not in set(selected)]
        # Output granularity must let the pass CONVERGE: a fresh append
        # spans the whole key range, so rewriting it as one file would
        # re-overlap everything and be selected again next pass. Split
        # into at least as many range pieces as there are settled files
        # the selection overlaps — each piece then lands within ~one
        # settled range and drops below the overlap threshold.
        sel_ranges = [r for f in selected if (r := ranges.get(f)) is not None]
        n_overlapped = 1
        if sel_ranges and untouched:
            lo = min(r[0] for r in sel_ranges)
            hi = max(r[1] for r in sel_ranges)
            n_overlapped = sum(
                1
                for f in untouched
                if ranges.get(f) is not None
                and ranges[f][1] >= lo
                and ranges[f][0] <= hi
            )
        elif not untouched:
            n_overlapped = 0
        parts = max(1, n_overlapped)
        if target_file_size_bytes:
            total = sum(Path(f).stat().st_size for f in selected)
            parts = max(parts, -(-total // target_file_size_bytes))
        return self._rewrite(
            base,
            "CLUSTER",
            {
                "cluster_by": cols,
                "rewritten_files": len(selected),
                "carried_files": len(untouched),
                "max_overlap": max_overlap,
            },
            self._cluster(self._scan(base, selected), cols, parts),
            untouched,
        )

    def optimize_fragmented(
        self,
        max_partitions: int = 1,
        min_files: int = 2,
        zorder_by: list[str] | None = None,
    ) -> list[object]:
        """Maintenance scheduler: compact the ``max_partitions`` most
        fragmented hive partitions (most data files), worst first —
        the nightly-OPTIMIZE pattern that keeps write-hot partitions
        healthy without ever paying a full-table rewrite. Returns the
        partition values compacted.

        Fragmentation is measured from the commit log's file list alone
        (no data read); each compaction is one ``optimize_where`` over
        that partition's files (a conjunctive equality predicate for
        composite partition keys).
        """
        base = self._latest()
        pcols = list(base.partition_by or [])
        if not pcols:
            raise ValueError("optimize_fragmented needs a partitioned table")
        files = base.files()
        ftypes = {f.name: f.dataType.simpleString() for f in base.schema().fields}
        phys = base.mapping()  # hive paths carry physical names
        counts: dict[tuple[str, ...], int] = {}
        for f in files:
            hv = _hive_values(f)
            raws = tuple(hv.get(phys.get(c, c)) for c in pcols)
            if None in raws or "__HIVE_DEFAULT_PARTITION__" in raws:
                continue
            counts[raws] = counts.get(raws, 0) + 1
        worst = sorted(counts.items(), key=lambda kv: -kv[1])[:max_partitions]
        compacted: list[object] = []
        for raws, n in worst:
            if n < min_files:
                break
            vals = tuple(
                _typed_partition_value(ftypes.get(c), raw)
                for c, raw in zip(pcols, raws)
            )
            self.optimize_where(
                [(c, "=", v) for c, v in zip(pcols, vals)], zorder_by=zorder_by
            )
            compacted.append(vals[0] if len(vals) == 1 else vals)
        return compacted

    # Never-committed dirs younger than this are presumed in-flight
    # staging from a concurrent writer and are NOT vacuumed (Delta's
    # deletedFileRetentionDuration guard, default 7 days).
    ORPHAN_RETENTION_SECONDS = 7 * 24 * 3600

    def vacuum(
        self,
        keep_versions: int = 1,
        dry_run: bool = False,
        orphan_retention_seconds: float | None = None,
    ) -> list[str]:
        """Remove data directories referenced only by pruned history
        (Delta VACUUM analogue). Returns removed paths. ``dry_run``
        lists what WOULD be removed without touching anything —
        Delta's ``VACUUM … DRY RUN`` safety valve.

        Two classes of dead directory are distinguished, and BOTH are
        guarded by ``orphan_retention_seconds`` (default
        ``ORPHAN_RETENTION_SECONDS``, 7 days — Delta's
        ``deletedFileRetentionDuration`` default; tests pass 0 the way
        Delta tests disable ``retentionDurationCheck``):

        - **superseded** — referenced by SOME log entry but not by the
          kept versions. Published then replaced; no writer can be
          mid-write into one (data dirs are unique per attempt), but a
          concurrent READER whose snapshot predates the replacement
          still resolves these paths — collecting them immediately
          yanks files out from under an in-flight query (the exact
          failure Delta's tombstone retention exists to prevent, found
          by tests/test_streaming.py::test_maintenance_beside_active_
          folds). Collected only once the commit that superseded them
          (the first commit AFTER their last referencing version) is
          older than the retention window — age runs from supersede
          time, not write time, mirroring Delta's deletion timestamp.
        - **never-committed orphans** — referenced by NO log entry.
          Usually a loser writer's staging dir, but indistinguishable
          from a LIVE in-flight attempt between its parquet write and
          its O_EXCL log publish — deleting one of those yields a
          committed snapshot pointing at a vanished directory.
          Collected only when their mtime is older than the window."""
        retention = (
            self.ORPHAN_RETENTION_SECONDS
            if orphan_retention_seconds is None
            else orphan_retention_seconds
        )
        # strict parse, unlike history(): skipping an in-flight RESTORE
        # here could delete the old dirs it points back to, so a live
        # publish at the tail is waited out, never skipped
        all_commits = [
            Commit(**json.loads(f.read_text())) for f in self._settle_log_tail()
        ]
        keep = all_commits[-keep_versions:]

        def commit_refs(c) -> set[str]:
            out = set(c.dv_paths or [])  # tombstones are live metadata
            for d in c.data_dirs:
                out.add(d)
                p = Path(d)
                if p.is_file():
                    # loose-file ref pins every ancestor up to the
                    # data root (hive trees nest k=v dirs under the
                    # v-dir)
                    for anc in p.parents:
                        out.add(str(anc))
                        if anc == self.data_dir:
                            break
            return out

        live: set[str] = set()
        for c in keep:
            live |= commit_refs(c)
        # last version referencing each path → its supersede time is
        # the timestamp of the FIRST later commit (checkpoint-pruned
        # logs degrade gracefully: a path whose only referents were
        # pruned falls into the orphan class, which is mtime-guarded)
        last_ref: dict[str, int] = {}
        for c in all_commits:
            for r in commit_refs(c):
                if c.version > last_ref.get(r, -1):
                    last_ref[r] = c.version
        ts_by_version = sorted((c.version, c.timestamp) for c in all_commits)
        now = time.time()

        def retired(v: int) -> bool:
            """Version ``v`` was superseded longer than the retention
            window ago: the FIRST later commit is that old (no later
            commit: never retired)."""
            ts = next((t for ver, t in ts_by_version if ver > v), None)
            return ts is not None and now - ts >= retention

        def collectable(d: Path, last_version: int | None) -> bool:
            """A dead dir goes once retired — a concurrent reader may
            still hold a recently superseded one — or, never referenced
            (``last_version`` None), once its mtime is older than the
            window: it may be a live in-flight staging dir."""
            if last_version is not None:
                return retired(last_version)
            try:
                return now - d.stat().st_mtime >= retention
            except OSError:
                return False  # vanished mid-scan (racing writer cleanup)

        # recorded change feeds share the staging race class: a feed dir
        # is written BEFORE its commit publishes; and a recorded feed
        # goes dead when its version leaves the kept window (a
        # concurrent changes() reader may still stream it)
        live_cdf = {
            c.cdf["path"] for c in keep if (c.cdf or {}).get("mode") == "parquet"
        }
        ever_cdf = {
            c.cdf["path"]: c.version
            for c in all_commits
            if (c.cdf or {}).get("mode") == "parquet"
        }
        removed = []
        for root, live_set, last in (
            (self.data_dir, live, last_ref),
            (self.root / "_change_data", live_cdf, ever_cdf),
        ):
            if not root.exists():
                continue
            for d in root.iterdir():
                if str(d) in live_set or not collectable(d, last.get(str(d))):
                    continue
                if not dry_run:
                    shutil.rmtree(d)
                removed.append(str(d))
        if dry_run:
            return removed
        # stats files for vacuumed dirs are orphans — prune them too;
        # a pruned-but-within-retention commit keeps its stats (a
        # concurrent reader pinned to that version consults them)
        kept_versions = {c.version for c in keep}
        live_refs = set()
        for c in all_commits:
            if c.version not in kept_versions and retired(c.version):
                continue
            live_refs |= set((c.stats_refs or {}).values())
        if self._stats_dir().exists():
            for f in self._stats_dir().glob("*.json"):
                if f.name not in live_refs:
                    f.unlink()
        return removed

    # ------------------------------------------------------------- reads
    def _resolve_commit(self, version: int | None) -> Commit:
        if version is None:
            return self._latest()
        # direct by-filename lookup: time travel parses one log file
        files = self._log_files()
        if not files:
            raise FileNotFoundError(f"no versioned table at {self.root}")
        target = self.log_dir / f"{version:020d}.json"
        c = self._read_commit_file(target, target == files[-1]) if target in files else None
        if c is None:
            raise ValueError(
                f"version {version} not in history (0..{int(files[-1].stem)})"
            )
        return c

    def _df_for_paths(
        self,
        paths: list[str],
        schema: T.StructType,
        mapping: dict[str, str] | None = None,
        dv_paths: list[str] | None = None,
        with_meta: bool = False,
    ) -> DataFrame:
        """Read a mix of directories and loose files as one DataFrame.
        Loose files inside hive trees are grouped per basePath so their
        partition columns re-materialize; output column order follows the
        table schema in every branch so the union is positional-safe.
        ``mapping`` (logical -> physical, column-mapping tables) makes
        the scan read physical names and alias them back to logical.
        ``dv_paths`` anti-joins deletion-vector tombstones away on
        (_metadata.file_path, _metadata.row_index) — Catalyst/AQE
        broadcasts the DV side when it is small, which it is by
        construction (O(deleted rows), never O(table)). ``with_meta``
        keeps the ``__dv_path``/``__dv_idx`` row-identity columns in the
        output (used by DV DELETE to mint new tombstones)."""
        meta = with_meta or bool(dv_paths)
        if not paths:
            out_schema = schema
            if meta and with_meta:
                out_schema = T.StructType(
                    list(schema.fields)
                    + [
                        T.StructField("__dv_path", T.StringType(), False),
                        T.StructField("__dv_idx", T.LongType(), False),
                    ]
                )
            return self.spark.createDataFrame([], out_schema)
        mapping = mapping or {}
        if any(mapping.get(f.name, f.name) != f.name for f in schema.fields):
            physical = T.StructType(
                [
                    T.StructField(mapping.get(f.name, f.name), f.dataType, f.nullable)
                    for f in schema.fields
                ]
            )
            cols = [
                F.col(f"`{mapping.get(f.name, f.name)}`").alias(f.name)
                for f in schema.fields
            ]
            schema = physical
        else:
            cols = [F.col(f"`{f.name}`") for f in schema.fields]
        if meta:
            cols = cols + [
                F.col("_metadata.file_path").alias("__dv_path"),
                F.col("_metadata.row_index").alias("__dv_idx"),
            ]
        parts: list[DataFrame] = []
        plain: list[str] = []  # flat dirs + hive-free files: one multi-path scan
        solo: list[str] = []  # hive trees: partition discovery needs its own root
        by_base: dict[str, list[str]] = {}
        for p in paths:
            pp = Path(p)
            if pp.is_file():
                if _hive_values(p):
                    by_base.setdefault(_hive_base(p), []).append(p)
                else:
                    plain.append(p)
            elif pp.is_dir() and any(
                "=" in c.name for c in pp.iterdir() if c.is_dir()
            ):
                solo.append(p)
            else:
                plain.append(p)
        if plain:
            parts.append(self.spark.read.schema(schema).parquet(*plain).select(*cols))
        for d in solo:
            parts.append(self.spark.read.schema(schema).parquet(d).select(*cols))
        for base, fl in by_base.items():
            parts.append(
                self.spark.read.schema(schema)
                .option("basePath", base)
                .parquet(*fl)
                .select(*cols)
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if dv_paths:
            dv = self.spark.read.parquet(*dv_paths)
            out = out.join(
                dv,
                (out["__dv_path"] == dv["file_path"])
                & (out["__dv_idx"] == dv["row_index"]),
                "left_anti",
            )
        if meta and not with_meta:
            out = out.drop("__dv_path", "__dv_idx")
        return out

    def _scan(
        self, c: Commit, paths: list[str] | None = None, with_meta: bool = False
    ) -> DataFrame:
        """``paths`` (default: all of ``c``'s data dirs) read under
        ``c``'s schema and column mapping, its deletion vectors applied."""
        return self._df_for_paths(
            c.data_dirs if paths is None else paths,
            c.schema(),
            c.mapping(),
            list(c.dv_paths or []),
            with_meta=with_meta,
        )

    def read(self, version: int | None = None) -> DataFrame:
        """Current snapshot, or D5 time travel when ``version`` given."""
        return self._scan(self._resolve_commit(version))  # one log-file parse

    def _snapshot_files(self, version: int | None = None) -> tuple[list[str], T.StructType]:
        commit = self._resolve_commit(version)
        return commit.files(), commit.schema()

    def plan_files(
        self,
        predicate: tuple[str, str, object] | list[tuple[str, str, object]],
        version: int | None = None,
    ) -> tuple[list[str], int]:
        """Data skipping (Delta's file-stats pruning, SURVEY §4): decide
        which parquet files of the snapshot can possibly satisfy the
        predicate — one ``(column, op, value)`` or a LIST of them joined
        by AND (composite-partition pruning) — using hive path values
        and footer min/max statistics only; no data read. Returns
        (kept_files, total_file_count).

        Columns with missing stats are conservatively kept; correctness
        never depends on skipping (``read_where`` re-applies the exact
        predicate), skipping only reduces I/O — the same contract as
        Delta data skipping. Pays off after ``optimize(zorder_by=…)``,
        which makes per-file ranges disjoint.
        """
        return self._plan(self._resolve_commit(version), predicate)

    def _plan(
        self,
        c: Commit,
        predicate: tuple[str, str, object] | list[tuple[str, str, object]],
        files: list[str] | None = None,
    ) -> tuple[list[str], int]:
        """``plan_files`` over snapshot ``c`` (``files``: its file list,
        when the caller already has it)."""
        preds = [predicate] if isinstance(predicate, tuple) else list(predicate)
        files = c.files() if files is None else files
        ftypes = {f.name: f.dataType.simpleString() for f in c.schema().fields}
        # predicates arrive with logical names; paths and footers hold
        # physical names (column-mapping tables)
        phys = c.mapping()
        # log-resident stats first (metadata-only planning, the Delta
        # shape); footer reads only for files absent from the log
        log_stats = self._log_stats(c)

        for _col, op, _val in preds:
            if op not in _SKIP_OPS:
                raise ValueError(
                    f"unsupported data-skipping op {op!r}; supported: "
                    + " ".join(sorted(_SKIP_OPS))
                )

        def may_match(op: str, val, lo, hi) -> bool:
            try:
                if op == "in":
                    # a file may hold a row of the IN-set iff some member
                    # falls inside its [lo, hi] range
                    return any(lo <= v <= hi for v in val)
                return {
                    "=": lo <= val <= hi,
                    ">": hi > val,
                    ">=": hi >= val,
                    "<": lo < val,
                    "<=": lo <= val,
                }[op]
            except TypeError:
                # Predicate value doesn't order against the stats type
                # (e.g. str vs int stats): conservative keep — skipping
                # is an I/O optimization, never a correctness gate.
                return True

        kept = []
        for f in files:
            hv = _hive_values(f)
            st = None
            keep = True
            for col, op, val in preds:
                pcol = phys.get(col, col)
                # Hive partition pruning first: the column may be
                # encoded in the path, not the file (partitioned tables).
                if pcol in hv:
                    raw = hv[pcol]
                    if raw == "__HIVE_DEFAULT_PARTITION__":
                        keep = False  # NULL partition fails any comparison
                        break
                    typed = _typed_partition_value(ftypes.get(col), raw)
                    if not may_match(op, val, typed, typed):
                        keep = False
                        break
                    continue
                st = st or self._file_stats(f, log_stats)
                if st["rows"] == 0:
                    keep = False  # empty part-file matches nothing
                    break
                cs = st["cols"].get(pcol)
                if cs is None:
                    continue  # no stats for this column: conservative keep
                if not may_match(op, val, self._dec_stat(cs[0]), self._dec_stat(cs[1])):
                    keep = False
                    break
            if keep:
                kept.append(f)
        return kept, len(files)

    def read_where(
        self,
        predicate: tuple[str, str, object] | list[tuple[str, str, object]],
        version: int | None = None,
    ) -> DataFrame:
        """Snapshot read with file-level data skipping + exact residual
        filter; ``predicate`` is one ``(col, op, value)`` or an AND list.
        Semantically identical to ``read().where(...)``; the pruned file
        list is the I/O win."""
        preds = [predicate] if isinstance(predicate, tuple) else list(predicate)
        c = self._resolve_commit(version)
        kept, _ = self._plan(c, preds)
        if not kept:
            return self.spark.createDataFrame([], c.schema())
        # Column expressions, not interpolated SQL text: values with
        # quotes, dates, Decimals, etc. are bound as literals, never
        # spliced into a parseable string.
        cond = reduce(and_, (_predicate_column(*p) for p in preds))
        return self._scan(c, kept).where(cond)

    def changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Change data feed (Delta CDF / ``table_changes`` analogue):
        row-level diff between two snapshots, tagged ``_change_type``.

        Without row tracking an update surfaces as delete+insert (CDF's
        representation without row identity). When BOTH snapshots carry
        ``_row_id`` (row tracking enabled at or before
        ``from_version``), the feed upgrades to Delta's full vocabulary:
        a row id present on both sides of the diff is an update, tagged
        'update_preimage' (old values) / 'update_postimage' (new
        values); only genuinely new/gone ids tag 'insert'/'delete'.

        FAST PATH — recorded feeds (Delta's CDC-file cost model): when
        every commit in the window carries its change feed (appends
        point at their new dirs; UPDATE/DELETE write O(changed rows)
        CDC parquet at commit time; metadata/physical-reorg commits are
        empty by construction), the feed is the UNION of the recorded
        per-version deltas — reading only O(changed rows), never the
        snapshots. Multi-version windows then have event-log semantics
        (intermediate churn included, exactly like Delta
        ``table_changes``); any signed fold nets it out identically to
        the diff. MERGE on row-tracked/identity tables records too —
        post-images derive from the written files, where the minted ids
        live. Falls back to the snapshot diff whenever a commit in the
        window predates the feature, is a MERGE with unvalidated source
        cardinality, spans a rename/drop/retype, or its feed was
        vacuumed. ``last_changes_route`` records which path served the
        call ('recorded'/'diff') for tests and cost audits.

        FALLBACK — computed as two ``exceptAll`` set differences — each
        is one hash-partition shuffle of the narrower snapshot; no log
        replay needed because snapshots are declarative here. NET-diff
        semantics: rows inserted and deleted within the window cancel.
        Multiset semantics: duplicate rows count, so an append of an
        already-present row still surfaces as one 'insert'. The update
        refinement adds one id-keyed intersect + two id-keyed joins.
        """
        to_c = self._resolve_commit(to_version)
        recorded = self._recorded_changes(from_version, to_c.version)
        self.last_changes_route = "recorded" if recorded is not None else "diff"
        if recorded is not None:
            return recorded
        from_c = self._resolve_commit(from_version)
        newer, older = self._scan(to_c), self._scan(from_c)
        # align the older snapshot to the newer schema (evolution-safe:
        # columns added since from_version read as NULL, like Delta CDF).
        # Column identity is the PHYSICAL name (column-mapping tables):
        # a renamed column is the same column, not a drop+add, so a
        # metadata-only rename produces an empty change feed.
        new_phys = to_c.mapping()
        old_logical = {p: l for l, p in from_c.mapping().items()}

        def src(name: str) -> str | None:
            cand = old_logical.get(new_phys.get(name, name), name)
            return cand if cand in older.columns else None

        aligned = older.select(
            *[
                F.col(f"`{src(f.name)}`").cast(f.dataType).alias(f.name)
                if src(f.name) is not None
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in newer.schema.fields
            ]
        )
        inserted = newer.exceptAll(aligned)
        deleted = aligned.exceptAll(newer)
        rid = self.ROW_ID_COL
        if rid in newer.columns and src(rid) is not None:
            upd_ids = (
                inserted.select(rid)
                .intersect(deleted.select(rid))
                .withColumn("__upd", F.lit(True))
            )
            out_cols = [f"`{c}`" for c in newer.columns] + ["_change_type"]

            def tag(df: DataFrame, as_update: str, plain: str) -> DataFrame:
                return (
                    df.join(upd_ids, on=rid, how="left")
                    .withColumn(
                        "_change_type",
                        F.when(F.col("__upd"), F.lit(as_update)).otherwise(
                            F.lit(plain)
                        ),
                    )
                    .selectExpr(*out_cols)
                )

            return tag(inserted, "update_postimage", "insert").unionByName(
                tag(deleted, "update_preimage", "delete")
            )
        return inserted.withColumn("_change_type", F.lit("insert")).unionByName(
            deleted.withColumn("_change_type", F.lit("delete"))
        )

    def _recorded_changes(
        self, from_version: int, to_version: int
    ) -> DataFrame | None:
        """Union of recorded per-version feeds for (from, to], or None
        when any version lacks one (caller falls back to the diff)."""
        try:
            commits = [
                self._resolve_commit(v) for v in range(from_version, to_version + 1)
            ]
        except (ValueError, FileNotFoundError):
            return None
        if not commits:
            return None
        target = commits[-1]
        schema = target.schema()
        to_types = {f.name: f.dataType for f in schema.fields}
        # Recorded feeds are stored in their commit's schema and read
        # back under the TO-version schema (schema-enforced parquet
        # reads null-fill columns added later — the same semantics the
        # diff's alignment gives pre-evolution rows). That is only
        # sound for add-only evolution with unchanged types and an
        # unchanged column mapping; renames/drops/retypes fall back.
        for c in commits[1:]:
            if c.column_mapping != target.column_mapping:
                return None
            for f in c.schema().fields:
                if to_types.get(f.name) != f.dataType:
                    return None
        mapping = target.mapping()
        feed_schema = T.StructType(
            list(schema.fields) + [T.StructField("_change_type", T.StringType())]
        )
        feeds: list[DataFrame] = []
        for c in commits[1:]:
            info = c.cdf
            if not info or "mode" not in info:
                return None
            mode = info["mode"]
            if mode == "empty":
                continue
            if mode == "insert_dirs":
                # the appended dirs ARE the feed; read WITHOUT deletion
                # vectors — later deletes are their own versions' events.
                # Mirror the parquet-mode vacuum guard: an appended dir
                # can be rewritten away (OPTIMIZE) and vacuumed while
                # its commit log survives — fall back to the diff route
                # (which then surfaces the missing-snapshot condition
                # through the established error path) instead of raising
                # an opaque AnalysisException mid-read.
                if any(not Path(d).exists() for d in info["dirs"]):
                    return None
                df = self._df_for_paths(list(info["dirs"]), schema, mapping)
                feeds.append(df.withColumn("_change_type", F.lit("insert")))
            elif mode == "parquet":
                path = info.get("path")
                if not path or not Path(path).exists():
                    return None  # feed vacuumed away: fall back
                feeds.append(self.spark.read.schema(feed_schema).parquet(path))
            else:
                return None
        if not feeds:
            return self.spark.createDataFrame([], feed_schema)
        out = feeds[0]
        for f in feeds[1:]:
            out = out.unionByName(f)
        return out

    def stream_changes(self, start_version: int = 0):
        """Incremental CDC consumption: yield ``(version, changes_df)``
        for every commit after ``start_version`` (Delta's
        ``readChangeFeed`` with ``startingVersion``, surfaced as the
        batch-incremental form downstream jobs actually consume).
        Consumers checkpoint the last version they processed and resume
        from there — each yielded frame is one commit's row-level delta.
        """
        # versions come from the log filenames — no JSON parse needed
        versions = sorted(int(f.stem) for f in self._log_files())
        for v in versions:
            if v <= start_version:
                continue
            yield v, self.changes(v - 1, v)

    def history(self) -> list[dict]:
        """D3 DESCRIBE HISTORY. Cost is flat in table age: one
        checkpoint file + the ≤CHECKPOINT_INTERVAL commits after it
        (see ``_write_history_checkpoint``), not an O(versions) walk."""
        entries, base = self._latest_checkpoint()
        files = [f for f in self._log_files() if int(f.stem) > base]
        # a young unparsable newest entry (a live publish) is skipped,
        # as _latest() skips it
        tail = [self._read_commit_file(f, newest=(f == files[-1])) for f in files]
        return list(
            reversed(entries + [self._history_entry(c) for c in tail if c is not None])
        )

    def detail(self) -> dict:
        """DESCRIBE DETAIL (Delta): table-level metadata snapshot —
        location, format, counts/bytes of live files, partition columns,
        constraints, version span. Computed from the commit log + file
        footers only; no data read."""
        commit = self._latest()
        files = commit.files()
        # tombstone rows from DV parquet footers only (driver-side, no
        # scan); counts dangling tombstones too, so it is an upper bound
        # on logically-deleted rows — exact after any REORG.
        num_tombstones = 0
        for dv_dir in commit.dv_paths or []:
            import pyarrow.parquet as pq

            for part in Path(dv_dir).glob("*.parquet"):
                num_tombstones += pq.ParquetFile(part).metadata.num_rows
        return {
            "location": str(self.root),
            "format": "parquet+jsonlog",
            "version": commit.version,
            "num_files": len(files),
            "size_bytes": sum(Path(f).stat().st_size for f in files),
            "partition_columns": list(commit.partition_by or []),
            "constraints": dict(commit.constraints or {}),
            "num_deletion_vectors": len(commit.dv_paths or []),
            "num_tombstone_rows": num_tombstones,
            "clustering_columns": commit.clustering_columns(),
            "identity_columns": sorted(commit.identity_columns()),
            "not_null_columns": commit.not_null_columns(),
            "properties": dict(commit.properties or {}),
            "num_columns": len(commit.schema().fields),
            "created_version_timestamp": json.loads(
                self._log_files()[0].read_text()
            )["timestamp"],
            "last_modified_timestamp": commit.timestamp,
        }

    def describe(self) -> list[tuple[str, str]]:
        """D8 DESCRIBE TABLE: (column, type) pairs of the live schema."""
        return [(f.name, f.dataType.simpleString()) for f in self._latest().schema().fields]
