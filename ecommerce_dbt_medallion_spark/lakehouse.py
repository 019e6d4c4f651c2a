"""Transaction-log table format ("deltalite") — Delta-style ACID tables
over plain parquet (reference analogue: dbt materialized='incremental'
merge semantics, models/silver/silver_orders.sql:1; north-star approach
line "DataFrame ops over Delta/Iceberg").

Neither delta-spark nor Iceberg runtime jars are installable in this
environment (no pip/apt), so this module implements the core of the
Delta protocol directly, the way Delta Lake itself does it (Armbrust et
al., "Delta Lake: High-Performance ACID Table Storage over Cloud Object
Stores", VLDB 2020):

- A table is a directory of immutable parquet data files plus a
  ``_txn_log/`` of JSON entries ``v{N}.json``; entry N lists the data
  files ADDED and REMOVED by version N with per-file row counts and
  min/max key stats.
- Readers replay the log to a version (time travel) and read exactly
  the live file set — O(versions) tiny JSON reads, no directory listing
  races.
- MERGE INTO rewrites ONLY the files that contain matched keys: touched
  files are discovered distributedly (join target-with-filename against
  source keys), pruned first by the log's min/max key stats. Untouched
  files carry over by reference — at 100 TB this is the whole point of
  the format: an incremental batch rewrites a few files, not the table.

Commit protocol (Delta's optimistic concurrency): every operation folds
the log ONCE at its start into a :class:`_Snapshot` at version N
(:func:`_snapshot`), reads only from that fold, and commits its entry
at N+1 with a put-if-absent link (:func:`_commit`). Data files land
first; the entry is published last, so readers see all of a commit or
none of it. When another writer got N+1 first, an add-only entry
(append, staged append) rebases past the winner if every intervening
commit is benign (:func:`_commit_rebase`); any other operation aborts
with the typed :class:`ConcurrentWriteConflict` (:func:`_commit_exclusive`)
and must be re-run against the new HEAD.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from typing import NamedTuple

import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_LOG_DIR = "_txn_log"
_DATA_DIR = "data"


# ------------------------------------------------------------ log I/O


def _log_path(table: str) -> str:
    return os.path.join(table, _LOG_DIR)


def versions(table: str) -> list[int]:
    d = _log_path(table)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(f[1:-5]) for f in os.listdir(d) if f.startswith("v") and f.endswith(".json")
    )


def _table_versions(table: str) -> list[int]:
    """:func:`versions` of an existing table; the one place that rejects
    a path holding no table."""
    vs = versions(table)
    if not vs:
        raise FileNotFoundError(f"not a deltalite table: {table}")
    return vs


def _read_entry(table: str, v: int) -> dict:
    with open(os.path.join(_log_path(table), f"v{v}.json")) as fh:
        return json.load(fh)


# ----------------------------------------------------- log checkpoints
#
# Replaying the log is a left fold over entries; at streaming commit
# rates (one MERGE + one APPEND per micro-batch) the log grows by
# thousands of versions and every read's replay cost grows with it —
# O(commits) per micro-batch means quadratic total work over a stream.
# The Delta answer: periodically snapshot the FOLDED state next to the
# log; replay = newest checkpoint at-or-below the target version + the
# entry tail. Checkpoints are an ACCELERATION, never the source of
# truth — unreadable/corrupt ones are skipped (older checkpoint or full
# replay), and time travel to any version, including pre-checkpoint
# ones, still works because entries are never deleted.

CHECKPOINT_INTERVAL = 20  # commits between state snapshots
CHECKPOINT_KEEP = 3  # newest checkpoints retained (older ones are GC'd)


def _empty_state() -> dict:
    return {
        "live": {},          # file name -> add action (insertion-ordered)
        "staged": {},        # staged version -> add actions (unresolved WAP)
        "tombstones": [],    # pending merge-on-read key tombstones
        "constraints": {},   # name -> boolean SQL expr
        "schema_json": None,
        "key": None,
        "partition_by": None,
        "zorder_by": [],
        # column mapping (RENAME/DROP COLUMN without data rewrite):
        # logical name -> physical parquet column name (identity
        # entries omitted), and physical names of DROPPED columns that
        # still exist inside immutable data files (reserved so a new
        # logical column can never collide with old file data)
        "mapping": {},
        "retired": [],
    }


def _fold_entry(state: dict, e: dict) -> dict:
    """Apply ONE log entry to a folded state — the single definition of
    replay semantics (every field of a :class:`_Snapshot` is this
    fold's output)."""
    # table-level metadata folds on EVERY entry, including staged ones
    if e.get("key") is not None:
        state["key"] = e["key"]
    if e.get("schema_json"):
        state["schema_json"] = e["schema_json"]
    if "constraints" in e:
        state["constraints"] = dict(e["constraints"])
    if e.get("operation") in ("CREATE", "CREATE OR REPLACE") or str(
        e.get("operation", "")
    ).startswith("CLONE "):
        state["partition_by"] = e.get("partition_by")
        # a table redefinition resets the column mapping unless the
        # entry carries one (CLONE carries the source's)
        state["mapping"] = dict(e.get("column_mapping") or {})
        state["retired"] = list(e.get("retired_physical") or [])
        # a redefinition also resets PENDING TOMBSTONES (round-10
        # review): only a tombstones_cleared commit reset them before,
        # so a crash between a deferred delete and its materialization
        # left stale tombstones MOR-filtering the REPLACED table's
        # fresh rows forever. CLONE still carries the source's pending
        # set — the extend below re-adds the entry's own tombstones.
        state["tombstones"] = []
    if e.get("zorder_by"):
        state["zorder_by"] = list(e["zorder_by"])
    # RENAME/DROP COLUMN entries snapshot the full mapping (same
    # snapshot semantics as constraints)
    if "column_mapping" in e and not str(e.get("operation", "")).startswith(
        ("CREATE", "CLONE ")
    ):
        state["mapping"] = dict(e["column_mapping"])
    if "retired_physical" in e and not str(e.get("operation", "")).startswith(
        ("CREATE", "CLONE ")
    ):
        state["retired"] = list(e["retired_physical"])
    # RESTORE re-declares the ENTIRE table state of its target,
    # including the physical layout spec — partition_by otherwise only
    # folds on CREATE/CLONE, so restoring across a REPLACE would keep
    # the replaced table's partitioning on a pre-REPLACE file set.
    if str(e.get("operation", "")).startswith("RESTORE"):
        if "partition_by" in e:
            state["partition_by"] = e["partition_by"]
        if "zorder_by" in e:
            state["zorder_by"] = list(e["zorder_by"] or [])
        # key folds UNCONDITIONALLY on RESTORE (round-9 review): the
        # generic key fold above skips None, so restoring from a keyed
        # era to a key-less target would silently keep the newer key —
        # the same stale-state-across-RESTORE class as partition_by.
        if "key" in e:
            state["key"] = e["key"]
    if e.get("tombstones_cleared"):
        state["tombstones"] = []
    state["tombstones"].extend(e.get("tombstones", []))
    # file actions: write-audit-publish defers staged adds until a
    # PUBLISH names them; readers never see unpublished data
    if e.get("staged"):
        state["staged"][int(e["version"])] = e.get("add", [])
        return state
    if e.get("publishes") is not None:
        for a in state["staged"].pop(int(e["publishes"]), []):
            state["live"][a["file"]] = a
        return state
    if e.get("discards") is not None:
        state["staged"].pop(int(e["discards"]), None)
        return state
    for r in e.get("remove", []):
        state["live"].pop(r, None)
    for a in e.get("add", []):
        state["live"][a["file"]] = a
    return state


def _ckpt_path(table: str, v: int) -> str:
    return os.path.join(_log_path(table), f"ckpt-v{v}.json")


def _latest_checkpoint(table: str, version: int):
    """(ckpt_version, state) of the newest readable checkpoint at or
    below ``version``, or None."""
    import re as _re

    d = _log_path(table)
    if not os.path.isdir(d):
        return None
    cands = sorted(
        (
            int(m.group(1))
            for f in os.listdir(d)
            if (m := _re.fullmatch(r"ckpt-v(\d+)\.json", f))
        ),
        reverse=True,
    )
    for cv in cands:
        if cv > version:
            continue
        try:
            with open(_ckpt_path(table, cv)) as fh:
                raw = json.load(fh)
            if raw.get("version") != cv:
                continue
            st = _empty_state()
            st["live"] = {a["file"]: a for a in raw["live"]}
            st["staged"] = {int(k): v for k, v in raw["staged"].items()}
            st["tombstones"] = list(raw["tombstones"])
            st["constraints"] = dict(raw["constraints"])
            st["schema_json"] = raw["schema_json"]
            st["key"] = raw["key"]
            st["partition_by"] = raw["partition_by"]
            st["zorder_by"] = list(raw["zorder_by"])
            # pre-mapping checkpoints lack these keys: identity mapping
            st["mapping"] = dict(raw.get("mapping") or {})
            st["retired"] = list(raw.get("retired") or [])
            return cv, st
        except Exception:
            continue  # corrupt/partial checkpoint: try an older one
    return None


class _Snapshot(NamedTuple):
    """The table as ONE operation sees it: the log folded up to
    ``version`` (-1 for a table not yet created, so a first commit is
    v0). Operations read every view from here and commit at
    ``version + 1``; the fields are :func:`_empty_state`'s."""

    table: str
    version: int
    live: dict
    staged: dict
    tombstones: list
    constraints: dict
    schema_json: str | None
    key: str | None  # latest declared key (a scan-back over the log)
    partition_by: str | None  # declared by the most recent CREATE
    zorder_by: list  # columns of the most recent OPTIMIZE ZORDER
    mapping: dict
    retired: list

    @property
    def files(self) -> list[dict]:
        return list(self.live.values())

    @property
    def schema(self):
        """The logged StructType; None for tables created before
        schema tracking (readers then fall back to footer inference)."""
        return StructType.fromJson(json.loads(self.schema_json)) if self.schema_json else None

    def require_key(self) -> str:
        if self.key is None:
            raise ValueError(f"table {self.table} has no declared key")
        return self.key


def _snapshot(table: str, version: int | None = None) -> _Snapshot:
    """THE fold: the table state as of ``version`` (inclusive; default
    HEAD), seeded from the newest usable checkpoint. The one place that
    rejects an unknown version."""
    vs = _table_versions(table)
    if version is None:
        version = vs[-1]
    elif version not in vs:
        raise ValueError(f"version {version} not in {vs}")
    start_v, state = _latest_checkpoint(table, version) or (-1, _empty_state())
    for v in vs:
        if start_v < v <= version:
            state = _fold_entry(state, _read_entry(table, v))
    return _Snapshot(table, version, **state)


def _head_or_new(table: str) -> _Snapshot:
    """The HEAD snapshot, or the empty version -1 snapshot of a table
    whose first commit is still to come (CREATE paths)."""
    if not versions(table):
        return _Snapshot(table, -1, **_empty_state())
    return _snapshot(table)


def _maybe_write_checkpoint(table: str, version: int) -> None:
    """Snapshot the folded state every CHECKPOINT_INTERVAL commits.
    Failures are swallowed: a missing checkpoint only costs replay
    time, while a failed commit would lose a real write."""
    if version <= 0 or version % CHECKPOINT_INTERVAL != 0:
        return
    try:
        payload = _snapshot(table, version)._asdict()
        del payload["table"]
        payload["live"] = list(payload["live"].values())
        payload["staged"] = {str(k): v for k, v in payload["staged"].items()}
        tmp = os.path.join(
            _log_path(table), f".ckpt-tmp-{uuid.uuid4().hex}.json"
        )
        with open(tmp, "w") as fh:
            json.dump(payload, fh)
        os.replace(tmp, _ckpt_path(table, version))  # atomic publish
        # retention: checkpoints are pure acceleration, so GC all but
        # the newest CHECKPOINT_KEEP — old time travel still works via
        # longer replay; keeping >1 also preserves the corrupt-newest
        # fallback. At a multi-MB state per checkpoint, unbounded
        # retention would grow the log dir O(commits/interval).
        import re as _re

        d = _log_path(table)
        cands = sorted(
            int(m.group(1))
            for f in os.listdir(d)
            if (m := _re.fullmatch(r"ckpt-v(\d+)\.json", f))
        )
        for cv in cands[:-CHECKPOINT_KEEP]:
            os.unlink(_ckpt_path(table, cv))
    except Exception:
        pass


class CommitConflict(Exception):
    """Another writer committed this version first (optimistic
    concurrency, Delta's ConcurrentModificationException). The loser
    re-reads the log and retries its operation against the new HEAD."""


class ConcurrentWriteConflict(CommitConflict):
    """Typed ABORT after conflict classification: the concurrent commit
    invalidated this transaction's snapshot (an overlapping rewrite, a
    schema/constraint/tombstone change), so rebasing onto the new HEAD
    would be unsound — Delta's ConcurrentDeleteRead / MetadataChanged
    class. The caller must re-run the whole operation against current
    table state. Contrast with plain :class:`CommitConflict`, which
    add-only transactions recover from automatically via
    :func:`_commit_rebase` (Delta's ConcurrentAppend rebase)."""


# Log operations an ADD-ONLY transaction can safely rebase across: they
# add or rewrite files this transaction never read, and leave table-level
# state (schema, key, partitioning, constraints, tombstones) unchanged.
# Anything else — CREATE OR REPLACE, RESTORE, DELETE DEFERRED,
# ADD/DROP CONSTRAINT — redefines state the append's validation depended
# on, so the append must abort and re-validate.
_APPEND_REBASE_SAFE_OPS = {
    "APPEND",
    "APPEND STAGED",
    "MERGE",
    "OPTIMIZE",
    "DELETE",
    "MATERIALIZE TOMBSTONES",
    "PUBLISH",
    "DISCARD",
}


def _append_rebase_conflict(e: dict, expected_schema: str | None) -> str | None:
    """Why log entry ``e`` forbids rebasing an add-only commit across
    it; None when it is benign."""
    op = str(e.get("operation", "?"))
    if op not in _APPEND_REBASE_SAFE_OPS:
        return f"concurrent {op} (v{e.get('version')}) redefines table state"
    if e.get("tombstones"):
        return f"concurrent {op} (v{e.get('version')}) introduced key tombstones"
    if "constraints" in e:
        return (
            f"concurrent {op} (v{e.get('version')}) changed CHECK constraints; "
            "this append's rows were not validated against them"
        )
    if (
        expected_schema is not None
        and e.get("schema_json") is not None
        and e["schema_json"] != expected_schema
    ):
        # a rebased append entry would re-commit OUR (stale) schema_json
        # as the log schema, silently regressing the evolution
        return f"concurrent {op} (v{e.get('version')}) evolved the schema"
    return None


def _commit_rebase(table: str, entry: dict, max_retries: int = 10) -> int:
    """Optimistic commit for ADD-ONLY entries (``remove == []``): on a
    version collision, classify every intervening commit; if all are
    rebase-safe, bump the version and re-commit (Delta's
    ConcurrentAppend resolution — disjoint writers serialize instead of
    failing), else raise :class:`ConcurrentWriteConflict`."""
    if entry.get("remove"):
        raise ValueError("_commit_rebase is only sound for add-only entries")
    expected_schema = entry.get("schema_json")
    attempts = 0
    while True:
        try:
            _commit(table, entry)
            return entry["version"]
        except ConcurrentWriteConflict:
            raise
        except CommitConflict:
            vs = versions(table)
            for v in vs:
                if v < entry["version"]:
                    continue
                reason = _append_rebase_conflict(_read_entry(table, v), expected_schema)
                if reason is not None:
                    raise ConcurrentWriteConflict(
                        f"{entry.get('operation')} on {table} aborted: {reason}; "
                        "re-run against current table state"
                    ) from None
            attempts += 1
            if attempts > max_retries:
                raise ConcurrentWriteConflict(
                    f"{entry.get('operation')} on {table} lost the commit race "
                    f"{attempts} times; giving up"
                ) from None
            entry["version"] = vs[-1] + 1


def _commit_exclusive(table: str, entry: dict) -> None:
    """Commit for transactions that READ table state they then rewrite
    or redefine (MERGE, OPTIMIZE, DELETE, RESTORE, REPLACE, constraint
    and tombstone changes): ANY concurrent commit may have changed what
    this transaction read — files it rewrites, rows a predicate
    matched, state it validated — so a version collision is always a
    typed abort, never a blind retry (Delta's ConcurrentDeleteRead
    conservatism)."""
    try:
        _commit(table, entry)
    except CommitConflict as ex:
        raise ConcurrentWriteConflict(
            f"{entry.get('operation')} on {table} aborted: {ex}; the snapshot "
            "this transaction read was invalidated by a concurrent commit — "
            "re-run the operation against current table state"
        ) from None


def _commit(table: str, entry: dict) -> None:
    """Write the log entry with PUT-IF-ABSENT semantics: the payload
    lands in a tmp file, then os.link() publishes it — link(2) is
    atomic AND fails with EEXIST if the version already exists. A bare
    rename() would silently OVERWRITE a concurrent writer's commit of
    the same version (lost update); link is the posix equivalent of the
    object-store conditional put Delta's commit protocol requires."""
    d = _log_path(table)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}.json")
    with open(tmp, "w") as fh:
        json.dump(entry, fh, indent=1)
    try:
        os.link(tmp, os.path.join(d, f"v{entry['version']}.json"))
    except FileExistsError:
        raise CommitConflict(
            f"version {entry['version']} of {table} was committed concurrently"
        ) from None
    finally:
        os.unlink(tmp)
    _maybe_write_checkpoint(table, entry["version"])


def live_files(table: str, version: int | None = None) -> list[dict]:
    """The live add-actions (file name + stats) as of ``version``
    (inclusive; default latest) — checkpoint-seeded replay."""
    return _snapshot(table, version).files


def history(table: str) -> list[dict]:
    """Version → operation summary (the DESCRIBE HISTORY equivalent)."""
    out = []
    for v in versions(table):
        e = _read_entry(table, v)
        out.append(
            {
                "version": v,
                "operation": e["operation"],
                "timestamp": e["timestamp"],
                "n_added": len(e.get("add", [])),
                "n_removed": len(e.get("remove", [])),
            }
        )
    return out


# ------------------------------------------------------------ data files


def _footer_min_max(path: str, md, col: str):
    """(min, max) of ``col`` across a parquet file's row groups, from the
    footer statistics pyarrow reads for free; None if unavailable.

    Float NaN follows Spark's order, where NaN sorts above every number:
    a file holding NaN has max NaN (min NaN when it holds no number).
    parquet-mr (Spark's writer) already records NaN that way; parquet-cpp
    (the driver writer) leaves NaN out of its stats, so its float columns
    are checked for NaN directly. Both writers then log the same range
    for the same rows, and a NaN bound prunes nothing on its side."""
    import decimal
    import math

    import pyarrow.compute as pc

    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    if col not in idx or md.num_rows == 0:
        return None
    colschema = md.schema.column(idx[col])
    is_float = colschema.physical_type in ("FLOAT", "DOUBLE")
    mins, maxs = [], []
    for rg in range(md.num_row_groups):
        s = md.row_group(rg).column(idx[col]).statistics
        if is_float and s is not None and not s.has_min_max and s.num_values:
            # parquet-cpp records no range for an all-NaN chunk (a NaN
            # bound never prunes, so reading any range-less float chunk
            # this way stays sound)
            mins.append(math.nan)
            maxs.append(math.nan)
            continue
        if s is None or not s.has_min_max:
            # ANY stats-less row group makes the file's range unknowable:
            # bounds from the remaining groups would be too narrow and
            # stats-pruning would silently skip rows (round-7 review) —
            # record nothing, readers then keep the file conservatively
            return None
        try:
            mins.append(s.min)
            maxs.append(s.max)
        except Exception:
            # pyarrow can't logical-cast every stat (INT32/INT64-backed
            # decimals raise ArrowNotImplementedError). For decimals the
            # raw physical stat is the UNSCALED integer — rescale it
            # ourselves; anything else stays conservatively stats-less.
            if str(colschema.logical_type).startswith("Decimal") and (
                colschema.physical_type in ("INT32", "INT64")
            ):
                q = decimal.Decimal(1).scaleb(-colschema.scale)
                mins.append(decimal.Decimal(s.min_raw).scaleb(-colschema.scale).quantize(q))
                maxs.append(decimal.Decimal(s.max_raw).scaleb(-colschema.scale).quantize(q))
            else:
                return None
    if (
        is_float
        and (md.created_by or "").startswith("parquet-cpp")
        and pc.any(pc.is_nan(pq.read_table(path, columns=[col]).column(0))).as_py()
    ):
        maxs.append(math.nan)
    if any(m != m for m in mins + maxs):
        nums = [m for m in mins if m == m]
        return (min(nums) if nums else math.nan, math.nan)
    return (min(mins), max(maxs)) if mins else None


# Per-file bloom filter on the table key: BLOOM_BITS-bit filter,
# BLOOM_K positions per key via seeded xxhash64. min/max footer stats
# prune RANGE predicates but are useless when every file spans the full
# key range (hash-partitioned writes); the bloom prunes POINT lookups
# there — Delta's bloom-filter-index idea, kept in the log entry itself
# (256 hex chars per file, metadata-scale).
BLOOM_BITS = 1024
BLOOM_K = 4

# ONE row dial for every driver-side commit path:
# - the bounded source probe of merge_into/apply_changes (key + bloom
#   positions, ONE job, LIMIT early-exits the scan): at or under the
#   dial the commit resolves key range, bloom masks and the touched-file
#   set driver-side (three Spark jobs saved — the fixed overhead that
#   dominated churn-scale micro-batch MERGEs); above it the generic
#   distributed path runs and bloom pruning is skipped. 20k, not the
#   initial 100k (round 14): every small-path perk is dead weight well
#   below 100k keys — bloom masks saturate >~1k, the isin rewrite caps
#   at MERGE_ISIN_MAX_KEYS=10k, and pyarrow discovery's per-value set
#   probes are serial driver work — measured 1.6 s off
#   lakehouse_snapshot_cut's bump MERGE at sf0.1 by routing a 75k-row
#   source to the distributed path instead;
# - the pyarrow staging writer (_plan_commit): the per-commit fixed cost
#   of a metadata-scale write is ~one Spark job of pure scheduling,
#   multiplied across every micro-batch of the streaming gates, so
#   driver-resident rows under the dial are written with pyarrow;
# - _publish_staged's driver-side key bloom, TOTAL rows of a staged
#   commit (round 14 fix): the Python XXH64 twin costs ~15 µs/key serial
#   driver work, and a data-scale CREATE whose shuffle produced many
#   small files paid O(total rows) of it (BENCH r14:
#   lakehouse_zorder_prune 2.7 → 6.9 s, snapshot_cut 7.7 → 14.9 s) —
#   above the dial the one distributed _stage_blooms pass is strictly
#   cheaper.
STAGE_DRIVER_MAX_ROWS = 20_000

# Key types whose driver-side handling is value-exact: Python str()
# renders the bloom's cast-to-string exactly (ints: identical digits;
# strings: identity), and pyarrow-decoded values compare equal to
# Spark-collected ones. Every driver path (bloom masks, probes, exact
# touched-file discovery, key lookups, the pyarrow writer) gates on it.
_DRIVER_KEY_TYPES = frozenset({"integer", "long", "string"})

# _discover_touched: per-key bloom masks are only worth computing while the
# union mask stays unsaturated — with BLOOM_BITS=1024 and BLOOM_K=4,
# ~500 keys already set >85% of the bits and pruning power is ~zero
# well before 2k. Above this dial the bloom-prune stage is skipped
# entirely (stats pruning + exact discovery still run), which also
# bounds the driver-side Python hashing of the probed keys.
BLOOM_PROBE_MAX_KEYS = 2_048

# merge_into: when the exact row bound (logged touched-file rows +
# probed source rows) fits under this, the rewrite runs as one task and
# writes one file — churn-scale MERGEs otherwise fragment the table
# into N near-empty files per batch.
MERGE_COALESCE_MAX_ROWS = 2_000_000

# _driver_readable: the largest logged file the driver reads with
# pyarrow (read_keys_local, _discover_touched, the driver-side MERGE
# rewrite) — C-speed column decode + set probes, cheap per row.
BLOOM_DRIVER_MAX_ROWS = 250_000

# merge_into small path: up to this many probed source keys the
# touched-row anti-join is expressed as an isin() filter inside the
# rewrite job (no separate broadcast-build); above it, the join.
MERGE_ISIN_MAX_KEYS = 10_000

# _discover_touched small path: exact touched-file discovery runs driver-side
# (pyarrow key-column reads, no Spark job) when the candidate set is at
# most this many files, each under BLOOM_DRIVER_MAX_ROWS rows; above
# either bound the distributed semi-join discovery decides.
MERGE_DRIVER_DISCOVERY_MAX_FILES = 64


def _driver_readable(files: list[dict]) -> bool:
    """True iff the driver may read ``files`` with pyarrow: at most
    MERGE_DRIVER_DISCOVERY_MAX_FILES of them, each with a logged row
    count of at most BLOOM_DRIVER_MAX_ROWS. ``rows`` is optional in
    legacy log entries — missing means unknown size, which must mean
    the distributed fallback, never a KeyError."""
    return len(files) <= MERGE_DRIVER_DISCOVERY_MAX_FILES and all(
        "rows" in a and a["rows"] <= BLOOM_DRIVER_MAX_ROWS for a in files
    )


def _sql_literal(v) -> str:
    """A Python key value as a Spark SQL literal. repr()/str() alone
    mis-render non-int keys: str(date(2024,1,1)) parses as the
    arithmetic expression 2024-01-01 = 2022 inside an IN list
    (round-7 review)."""
    import datetime

    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float)):
        return str(v)
    if isinstance(v, datetime.datetime):
        return f"TIMESTAMP '{v}'"
    if isinstance(v, datetime.date):
        return f"DATE '{v}'"
    s = str(v).replace("'", "''")
    return f"'{s}'"


def _json_stat(v, side: str | None = None):
    """A footer stat value as it is stored in the JSON log: primitives
    pass through; date/timestamp become their ISO form (lexicographic
    order == logical order for ISO strings, so range pruning compares
    correctly when the probe bound is converted the same way).

    Decimal must NOT be stringified: '15.00' < '9.00' lexicographically,
    so a decimal-keyed MERGE would silently skip files whose range
    contains the source keys (round-8 ADVICE). Decimals are stored as
    floats, widened one ulp toward the stat's unsafe direction
    (``side='lo'`` → down, ``side='hi'`` → up) so the float range always
    CONTAINS the exact decimal range and pruning stays sound."""
    import decimal
    import math

    if isinstance(v, decimal.Decimal):
        f = float(v)
        if side == "lo":
            return math.nextafter(f, -math.inf)
        if side == "hi":
            return math.nextafter(f, math.inf)
        return f
    return v if v is None or isinstance(v, (int, float, str)) else str(v)


def _bloom_positions(col):
    return F.array(
        *[F.pmod(F.xxhash64(col, F.lit(i)), F.lit(BLOOM_BITS)) for i in range(BLOOM_K)]
    )


def _positions_mask(positions) -> int:
    """Fold collected ``_bloom_positions`` into a bitmask."""
    mask = 0
    for p in positions:
        mask |= 1 << int(p)
    return mask


# --- pure-Python XXH64, bit-exact vs Spark's xxhash64 expression -----------
# Spark evaluates xxhash64(col, lit(i)) by chaining: hash = XXH64(col bytes,
# seed=42), then hash = XXH64.hashInt(i, seed=hash) (the literal is an
# IntegerType). Re-implementing both legs lets churn-scale MERGEs compute
# per-file bloom masks driver-side — no second Spark job over the staged
# files. The implementation is property-pinned bit-for-bit against the
# Spark expression in tests/test_lakehouse.py (random unicode strings and
# random longs, all BLOOM_K seeds); a mismatch here would mean bloom false
# NEGATIVES (skipped matches — data corruption), which is why the driver
# path is only taken for key types whose string cast is trivially
# replicable (int/long/string) and the pin is a standing test.

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = 0xFFFFFFFFFFFFFFFF


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


def _xxh64_int(i: int, seed: int) -> int:
    h = (seed + _P5 + 4) & _M64
    h ^= ((i & 0xFFFFFFFF) * _P1) & _M64
    h = (_rotl(h, 23) * _P2 + _P3) & _M64
    return _fmix(h)


def _xxh64_bytes(data: bytes, seed: int) -> int:
    n = len(data)
    off = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while off <= n - 32:
            k = int.from_bytes(data[off : off + 8], "little")
            v1 = (_rotl((v1 + k * _P2) & _M64, 31) * _P1) & _M64
            k = int.from_bytes(data[off + 8 : off + 16], "little")
            v2 = (_rotl((v2 + k * _P2) & _M64, 31) * _P1) & _M64
            k = int.from_bytes(data[off + 16 : off + 24], "little")
            v3 = (_rotl((v3 + k * _P2) & _M64, 31) * _P1) & _M64
            k = int.from_bytes(data[off + 24 : off + 32], "little")
            v4 = (_rotl((v4 + k * _P2) & _M64, 31) * _P1) & _M64
            off += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h ^= (_rotl((v * _P2) & _M64, 31) * _P1) & _M64
            h = (h * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while off <= n - 8:
        k = int.from_bytes(data[off : off + 8], "little")
        h ^= (_rotl((k * _P2) & _M64, 31) * _P1) & _M64
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        off += 8
    if off <= n - 4:
        k = int.from_bytes(data[off : off + 4], "little")
        h ^= (k * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        off += 4
    while off < n:
        h ^= (data[off] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        off += 1
    return _fmix(h)


def _bloom_mask_py(values) -> int:
    """Bloom bitmask over key values — the driver-side twin of
    ``_bloom_positions(col.cast("string"))`` + the mask fold. ``values``:
    iterable of _DRIVER_KEY_TYPES values, whose Python ``str()`` is
    exactly Spark's cast to string (ints: identical digits; strings:
    identity), or None, matching Spark's null handling: a null column
    is skipped by xxhash64, so only the seed literal is hashed."""
    mask = 0
    for v in values:
        for i in range(BLOOM_K):
            if v is None:
                h = _xxh64_int(i, 42)
            else:
                h = _xxh64_int(i, _xxh64_bytes(str(v).encode("utf-8"), 42))
            # Spark pmod on a SIGNED 64-bit hash
            signed = h - (1 << 64) if h >= (1 << 63) else h
            mask |= 1 << (signed % BLOOM_BITS)
    return mask


def _stage_blooms(schema, staging: str, key: str) -> dict[str, int]:
    """staging-file basename → bloom bitmask of its key values (one
    distributed pass over the just-written files; per-file output is at
    most BLOOM_BITS distinct positions — metadata-scale collect)."""
    pos = (
        # explicit schema: the staged files were just written with it,
        # so inference would only re-list the directory and re-read
        # footers for a schema already in hand
        SparkSession.active().read.schema(schema).parquet(staging)
        .select(
            F.input_file_name().alias("f"),
            F.explode(_bloom_positions(F.col(key).cast("string"))).alias("p"),
        )
        .distinct()
        .groupBy("f")
        .agg(F.collect_set("p").alias("ps"))
        .collect()
    )
    return {os.path.basename(r["f"]): _positions_mask(r["ps"]) for r in pos}


def _publish_staged(
    snap: _Snapshot, staging: str, schema, key: str | None, stats_cols: list[str] | None
) -> list[dict]:
    """Move the parquet files of a staging directory under data/ and
    return their add-actions — the ONE producer of per-file stats, shared
    by both writers: ``rows``, ``min_key``/``max_key`` and each stats
    column's ``col_stats`` from the parquet footers (:func:`_footer_min_max`,
    stored via :func:`_json_stat`), plus the key ``bloom``. ``schema`` is
    the staged files' Spark schema.

    The stats columns are ``stats_cols`` plus the table's DECLARED
    partition column (most recent CREATE) and the most recent OPTIMIZE's
    zorder columns: every rewrite path — MERGE touched files, DELETE,
    OPTIMIZE — must keep those columns' stats on the files it writes, or
    each rewrite would silently turn skippable files into always-read
    ones and pruning would decay with table churn (round-7 fix; min/max
    stats stay sound on any layout).

    The bloom of a churn-scale commit — a _DRIVER_KEY_TYPES key and at
    most STAGE_DRIVER_MAX_ROWS staged rows in total — comes from the
    bit-exact Python XXH64 twin over a local key-column read, with no
    Spark job; any other commit takes the one distributed
    :func:`_stage_blooms` pass."""
    names = schema.fieldNames()
    stats_cols = list(stats_cols or [])
    part_col = snap.partition_by
    for c in ([part_col] if part_col is not None else []) + snap.zorder_by:
        if c in names and c not in stats_cols:
            stats_cols.append(c)
    staged = sorted(f for f in os.listdir(staging) if f.endswith(".parquet"))
    paths = [os.path.join(staging, f) for f in staged]
    mds = [pq.ParquetFile(p).metadata for p in paths]
    blooms: dict[str, int] = {}
    if key in names:
        if (
            schema[key].dataType.typeName() in _DRIVER_KEY_TYPES
            and sum(md.num_rows for md in mds) <= STAGE_DRIVER_MAX_ROWS
        ):
            blooms = {
                f: _bloom_mask_py(pq.read_table(p, columns=[key]).column(0).to_pylist())
                for f, p in zip(staged, paths)
            }
        else:
            blooms = _stage_blooms(schema, staging, key)
    data_dir = os.path.join(snap.table, _DATA_DIR)
    os.makedirs(data_dir, exist_ok=True)
    adds: list[dict] = []
    for f, src, md in zip(staged, paths, mds):
        name = f"part-{uuid.uuid4().hex}.parquet"
        stats: dict = {"file": name, "rows": md.num_rows}
        # log entries are JSON: date/timestamp stats become ISO strings
        # and decimals ulp-widened floats (_json_stat); readers convert
        # their probe bounds the same way, so comparisons stay
        # order-preserving (round-7 review)
        if key in names:
            mm = _footer_min_max(src, md, key)
            if mm is not None:
                stats["min_key"] = _json_stat(mm[0], side="lo")
                stats["max_key"] = _json_stat(mm[1], side="hi")
            if f in blooms:
                stats["bloom"] = format(blooms[f], f"0{BLOOM_BITS // 4}x")
        col_stats = {}
        for c in stats_cols:
            mm = _footer_min_max(src, md, c)
            if mm is not None:
                col_stats[c] = [_json_stat(mm[0], side="lo"), _json_stat(mm[1], side="hi")]
        if col_stats:
            stats["col_stats"] = col_stats
        os.rename(src, os.path.join(data_dir, name))
        adds.append(stats)
    shutil.rmtree(staging, ignore_errors=True)
    return adds


def _stage_files(
    df: DataFrame,
    snap: _Snapshot,
    key: str | None,
    stats_cols: list[str] | None = None,
    mapping: dict[str, str] | None = None,
) -> list[dict]:
    """Write df's partitions as immutable parquet files under data/ and
    return their add-actions (:func:`_publish_staged`)."""
    # write boundary of the column mapping: files always carry PHYSICAL
    # names (key/partition/zorder/stats columns are rename-protected,
    # so every name this function addresses is identity-mapped). None =
    # the snapshot's mapping; CREATE paths pass {} (a replaced table's
    # old mapping must not leak into the new table's files).
    df = _map_to_physical(df, snap.mapping if mapping is None else mapping)
    staging = os.path.join(snap.table, f"_staging-{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(staging)
    return _publish_staged(snap, staging, df.schema, key, stats_cols)


# ------------------------------------------- driver-side staging write
# Round 15 (VERDICT r14 #1/#4): the per-commit fixed cost of a
# metadata-scale write is ~one Spark job of pure scheduling (the staging
# parquet write; for a partitioned CREATE also a distinct-count job and
# a repartitionByRange sample job) — multiplied across every micro-batch
# of the streaming gates. When a commit's rows are ALREADY
# driver-resident (a createDataFrame LocalRelation, or a churn-scale
# MERGE whose bounded probe holds the full source), the staged file is
# written directly with pyarrow and published like any other — ZERO
# Spark jobs. STAGE_DRIVER_MAX_ROWS bounds the driver work; everything
# above it takes the distributed writer, and _plan_commit is the one
# place that makes the choice.

# Spark types whose pyarrow write is value-exact under Spark's parquet
# reader (ints/floats/bool/string/date, and arrays thereof). Timestamps
# and decimals are deliberately EXCLUDED: their parquet logical-type
# annotations (isAdjustedToUTC, precision/scale) depend on writer
# session config and are not trivially replicable — those schemas take
# the distributed writer.
_PA_SCALARS = {
    "byte": "int8",
    "short": "int16",
    "integer": "int32",
    "long": "int64",
    "float": "float32",
    "double": "float64",
    "boolean": "bool_",
    "string": "string",
    "date": "date32",
}


def _pa_type(dt):
    """pyarrow DataType for a Spark DataType, or raises KeyError."""
    import pyarrow as pa

    tn = dt.typeName()
    if tn == "array":
        return pa.list_(getattr(pa, _PA_SCALARS[dt.elementType.typeName()])())
    return getattr(pa, _PA_SCALARS[tn])()


def _plan_commit(
    snap: _Snapshot, schema, key: str | None, partition_by: str | None, n_rows: int
) -> bool:
    """The writer choice of every commit whose rows can be in the
    driver's hand (``local_rows``, ``source_rows``, merge_into's
    full-row probe): True stages them with the pyarrow writer
    (:func:`_stage_rows_local`, zero Spark jobs), False with the
    distributed :func:`_stage_files`. The driver writer stores the
    caller's values as they are, so it must replicate the distributed
    one exactly, which holds iff

    - ``n_rows`` is at most STAGE_DRIVER_MAX_ROWS;
    - every column's type has a value-exact pyarrow twin;
    - the key (if any) is a _DRIVER_KEY_TYPES column;
    - ``partition_by`` (if any) is not a float/double column: the
      driver writer groups rows by Python value, which splits NaN
      across files;
    - ``schema`` — the caller's schema BEFORE _evolve_schema — needs no
      cast into the current table's and lacks none of its columns: a
      widening cast (a float source into a double column) changes the
      stored value on the distributed path, so the caller's un-cast
      rows would store a different one, and a merge rewrite must carry
      every table column of the touched rows. (A REPLACE that changes
      the table's schema therefore takes the distributed writer.)

    Both writers publish through :func:`_publish_staged`, so stats need
    no rule here."""
    if n_rows > STAGE_DRIVER_MAX_ROWS:
        return False
    types = {f.name: f.dataType for f in schema.fields}
    try:
        for dt in types.values():
            _pa_type(dt)
    except KeyError:
        return False
    if key is not None and (
        key not in types or types[key].typeName() not in _DRIVER_KEY_TYPES
    ):
        return False
    if partition_by in types and types[partition_by].typeName() in ("float", "double"):
        return False
    cur = snap.schema
    return cur is None or all(types.get(f.name) == f.dataType for f in cur.fields)


def _stage_rows_local(
    snap: _Snapshot,
    rows: list,
    schema,
    key: str | None,
    stats_cols: list[str] | None = None,
    mapping: dict[str, str] | None = None,
    partition_by: str | None = None,
) -> list[dict]:
    """Driver-side twin of :func:`_stage_files` for rows already in
    hand (POSITIONAL tuples/Rows in schema field order): a pyarrow write
    into a staging directory, published by :func:`_publish_staged` like
    the distributed writer's. Callers gate on :func:`_plan_commit`.

    ``partition_by`` writes ONE FILE PER VALUE — exactly the layout
    _apply_partitioning's repartitionByRange(#distinct) produces, so
    downstream file-skipping on the clustering column (the codes
    table's list_id probe, the labels table's relabel reads) keeps its
    pruning power. Unpartitioned rows land in one file (the
    metadata-scale analogue of the MERGE repartition(1) rule)."""
    import pyarrow as pa

    if mapping is None:
        mapping = snap.mapping
    names = [f.name for f in schema.fields]
    pa_types = [_pa_type(f.dataType) for f in schema.fields]
    pa_schema = pa.schema(
        [pa.field(mapping.get(n, n), t) for n, t in zip(names, pa_types)]
    )
    if partition_by is not None and partition_by in names:
        pi = names.index(partition_by)
        groups: dict = {}
        for r in rows:
            groups.setdefault(r[pi], []).append(r)
        buckets = [
            groups[v]
            for v in sorted(groups, key=lambda v: (v is not None, v))
        ] or [[]]  # empty source still stages one schema-carrying file
    else:
        buckets = [list(rows)]
    staging = os.path.join(snap.table, f"_staging-{uuid.uuid4().hex}")
    os.makedirs(staging)
    for i, bucket in enumerate(buckets):
        pq.write_table(
            pa.Table.from_arrays(
                [pa.array([r[j] for r in bucket], type=t) for j, t in enumerate(pa_types)],
                schema=pa_schema,
            ),
            os.path.join(staging, f"part-{i:05d}.parquet"),
            compression="snappy",
        )
    # key and stats columns are rename-protected: the logical schema
    # names them as the files do
    return _publish_staged(snap, staging, schema, key, stats_cols)


def _stats_disjoint(stat_lo, stat_hi, lo, hi) -> bool:
    """True iff the logged stat range [stat_lo, stat_hi] PROVABLY misses
    the probe range [lo, hi]. The log is immutable and generations mix:
    pre-round-8 entries rendered decimal stats as strings, current
    entries store ulp-widened floats — so mixed str/number pairs coerce
    to float before comparing, and any pair that still cannot compare
    keeps the file (returns False). Pruning must stay SOUND across log
    generations, never crash or mis-skip on an old entry."""

    def _coerce(a, b):
        if (
            isinstance(a, str)
            and isinstance(b, (int, float))
            and not isinstance(b, bool)
        ):
            try:
                a = float(a)
            except ValueError:
                return None
        if (
            isinstance(b, str)
            and isinstance(a, (int, float))
            and not isinstance(a, bool)
        ):
            try:
                b = float(b)
            except ValueError:
                return None
        return a, b

    try:
        p = _coerce(stat_hi, lo)
        if p is not None and p[0] < p[1]:
            return True
        p = _coerce(stat_lo, hi)
        return p is not None and p[0] > p[1]
    except TypeError:
        return False


def _file_range(a: dict, col: str | None, key: str | None):
    """The logged [min, max] of ``col`` in add-action ``a``: the key
    stats when ``col`` is the table key, else the column's ``col_stats``;
    None when the file has none. A non-key column never borrows the key's
    range (the round-7 review killed such a fallback: comparing the KEY
    range against an arbitrary column's bounds silently pruned files that
    held matching rows)."""
    if col == key and "min_key" in a:
        return a["min_key"], a["max_key"]
    return a.get("col_stats", {}).get(col)


def _may_hold(files: list[dict], key: str | None, col: str, probes) -> list[dict]:
    """THE reader of per-file stats: the files of ``files`` that may hold
    a value of ``col`` inside one of ``probes``, each a ``(lo, hi)``
    range or, for points of the table key ``key``, ``(v, v, mask)`` with
    the point's bloom mask. A probe admits a file unless the file's
    logged range (:func:`_file_range`) provably misses it or the file's
    bloom rejects its mask. Sound: a file without stats or without a
    bloom is kept, and bounds are converted with :func:`_json_stat`
    exactly as the writer stored them (a None bound prunes nothing)."""
    ps = [
        (_json_stat(p[0], side="lo"), _json_stat(p[1], side="hi"), p[2] if len(p) > 2 else None)
        for p in probes
    ]
    out = []
    for a in files:
        rng = _file_range(a, col, key)
        bloom = int(a["bloom"], 16) if "bloom" in a else None
        if any(
            (m is None or bloom is None or (bloom & m) == m)
            and (rng is None or not _stats_disjoint(rng[0], rng[1], lo, hi))
            for lo, hi, m in ps
        ):
            out.append(a)
    return out


def _files_maybe_containing(spark: SparkSession, snap: _Snapshot, values: list) -> list[dict]:
    """Point-lookup file skipping: the live files whose key stats AND
    bloom admit at least one of ``values`` (:func:`_may_hold`). Sound
    (never drops a file that holds a probed key — test-pinned). The
    probe positions are computed by the SAME seeded-xxhash64 expression
    the writer used, via one tiny Spark job — and the probe STRINGS are
    rendered by Spark's own cast from the key's native type, never
    Python ``str()``: the renderings diverge for bool (``True`` vs
    ``true``) and large floats (``1e+20`` vs ``1.0E20``), which would
    produce bloom false negatives and silently skip files that do
    contain the probed keys (round-8 ADVICE).

    Probes travel as ``str(v)`` and round-trip str → key type → string
    IN SPARK, so a type-coercible value (an int tombstone against a
    double key — JSON has no float/int distinction) coerces instead of
    failing strict createDataFrame verification, and its key-typed
    value is what the key stats are compared with; a value that does
    not cast at all disables pruning for this call (every live file
    kept — conservative; Spark hash functions do NOT null out on NULL
    input, so a hashed NULL would otherwise masquerade as a real key)."""
    key = snap.key
    ktype = None
    sch = snap.schema  # None on pre-tracking logs
    if key is not None and sch is not None:
        ktype = next((f.dataType for f in sch.fields if f.name == key), None)
    # Driver-side probe (round 14): for _DRIVER_KEY_TYPES keys whose
    # probe values already carry the key's Python type, the bit-exact
    # Python XXH64 twin computes the masks with zero Spark jobs (the
    # bool/float renderings the round-8 ADVICE flagged cannot arise).
    # Any type mismatch falls through to the Spark-rendered probe below.
    want_str = ktype is not None and ktype.typeName() == "string"
    if (
        ktype is not None
        and ktype.typeName() in _DRIVER_KEY_TYPES
        and all(
            isinstance(v, str) if want_str
            else isinstance(v, int) and not isinstance(v, bool)
            for v in values
        )
    ):
        probes = [(v, v, _bloom_mask_py([v])) for v in values]
    else:
        probe_src = spark.createDataFrame([(str(v),) for v in values], "k string")
        if ktype is not None:
            # try_cast, not cast: under ANSI mode (this repo's default) a
            # plain cast of an uncastable probe THROWS instead of yielding
            # the NULL the conservative keep-all fallback below checks for
            typed = F.col("k").try_cast(ktype)
            probe_src = probe_src.select(typed.alias("v"), typed.cast("string").alias("k"))
        else:
            # keyless or pre-schema-tracking tables wrote no typed blooms
            # worth matching — the raw str(v) rendering matches the legacy
            # writer, and no typed value bounds the stats
            probe_src = probe_src.select(F.lit(None).alias("v"), "k")
        probe = probe_src.select(
            "v", "k", _bloom_positions(F.col("k")).alias("ps")
        ).collect()
        if any(r["k"] is None for r in probe):
            return snap.files
        probes = [(r["v"], r["v"], _positions_mask(r["ps"])) for r in probe]
    return _may_hold(snap.files, key, key, probes)


def _abs(table: str, name: str) -> str:
    return os.path.join(table, _DATA_DIR, name)


# ------------------------------------------------------------ operations


def current_schema(table: str, version: int | None = None):
    """The table's StructType as of ``version`` (default latest), read
    from the LOG, not from parquet footers — the Delta design: at 100 TB
    schema-on-read from footers is a full file-listing + footer sweep,
    and worse, footer union can't tell you WHICH schema a time-travel
    version had. Returns None for tables created before schema tracking
    (readers then fall back to footer inference)."""
    return _snapshot(table, version).schema


def current_mapping(table: str, version: int | None = None) -> dict[str, str]:
    """Column mapping (logical name → physical parquet name) as of
    ``version`` — empty for tables that never renamed a column. The
    mapping is what lets RENAME/DROP COLUMN be metadata-only commits:
    immutable data files keep their creation-time (physical) column
    names forever; readers alias physical→logical and writers alias
    logical→physical at the two funnel boundaries."""
    return _snapshot(table, version).mapping


def _map_to_physical(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """Alias a logical-named DataFrame to physical parquet names (the
    write boundary). Identity when the mapping is empty."""
    if not mapping:
        return df
    return df.select(
        *[F.col(c).alias(mapping.get(c, c)) for c in df.columns]
    )


def _physical_schema(logical, mapping: dict[str, str]):
    """The parquet-side StructType for a logical log schema."""
    from pyspark.sql.types import StructField, StructType

    if logical is None or not mapping:
        return logical
    return StructType(
        [
            StructField(mapping.get(f.name, f.name), f.dataType, f.nullable)
            for f in logical.fields
        ]
    )


def _map_to_logical(df: DataFrame, logical, mapping: dict[str, str]) -> DataFrame:
    """Alias a physical-named scan back to the logical schema (the read
    boundary); also PROJECTS to the logical columns, which is what
    makes a dropped column disappear without touching its files."""
    if logical is None or not mapping:
        return df
    return df.select(
        *[
            F.col(mapping.get(f.name, f.name)).alias(f.name)
            for f in logical.fields
        ]
    )


class SchemaMismatch(Exception):
    """Append schema differs from the table schema and merge_schema is
    off, or the evolution is non-additive (drop / type change)."""


class ConstraintViolation(Exception):
    """Incoming rows violate a declared CHECK constraint."""


def current_constraints(table: str, version: int | None = None) -> dict[str, str]:
    """The table's CHECK constraints (name → boolean SQL expr) as of
    ``version`` — carried in log entries like the schema; the latest
    entry declaring ``constraints`` wins."""
    return _snapshot(table, version).constraints


def _enforce_constraints(df: DataFrame, constraints: dict[str, str], ctx: str) -> None:
    """Reject the write if ANY incoming row fails a declared check —
    Delta's write-time enforcement: the guarantee that makes downstream
    readers trust the invariant WITHOUT re-validating 100 TB on every
    scan. One conditional aggregate over the batch computes every
    constraint's violation count in a single pass; the error carries
    per-constraint counts (churn-scale job, no sample collection of
    unbounded size)."""
    if not constraints:
        return
    counts = df.agg(
        *[
            F.sum(F.when(~F.expr(expr), 1).otherwise(0)).alias(name)
            for name, expr in constraints.items()
        ]
    ).collect()[0]
    bad = {n: int(counts[n] or 0) for n in constraints if (counts[n] or 0) > 0}
    if bad:
        raise ConstraintViolation(
            f"{ctx}: rows violate CHECK constraints "
            + ", ".join(f"{n} ({constraints[n]!r}): {c} rows" for n, c in bad.items())
        )


# Merge-on-read deletes: tombstones are a metadata-only commit; reads
# anti-filter them until a materialization rewrites the touched files.
TOMBSTONE_MAX = 100_000


def pending_tombstones(table: str, version: int | None = None) -> list:
    """Key tombstones not yet materialized as of ``version``: replay
    accumulates DELETE DEFERRED commits and clears on any commit flagged
    ``tombstones_cleared`` (the materialization)."""
    return _snapshot(table, version).tombstones


def delete_keys_deferred(spark: SparkSession, table: str, keys: list) -> int:
    """DELETE as MERGE-ON-READ: an O(1) metadata commit recording key
    TOMBSTONES instead of rewriting data files — the Delta deletion-
    vector idea at key granularity. Reads anti-filter tombstoned keys;
    ``materialize_tombstones`` (or OPTIMIZE) pays the rewrite later,
    off the latency path. This is the 100 TB erasure-request shape:
    acknowledge the delete in milliseconds, batch the rewrites.

    The table stays SINGLE-WRITER simple: appends and merges refuse
    while tombstones are pending (a key-level tombstone cannot tell a
    pre-delete row from a legitimately re-inserted one), so
    materialize first. Tombstone volume is capped at TOMBSTONE_MAX —
    beyond that the rewrite is cheaper than the read-side filter.
    """
    snap = _snapshot(table)
    key = snap.key
    if key is None:
        raise ValueError("deferred deletes require a table key")
    if len(snap.tombstones) + len(keys) > TOMBSTONE_MAX:
        raise ValueError(
            f"tombstone count would exceed {TOMBSTONE_MAX}; materialize first"
        )
    # Reject keys the key column cannot represent BEFORE they enter the
    # log: a tombstone like 'banana' on a bigint key can never match a
    # row, and under ANSI mode the read-side anti-filter `key IN (...)`
    # would THROW on it — one junk tombstone wedging every reader of
    # the table. try_cast (not cast): ANSI cast raises instead of
    # yielding the NULL this check looks for.
    sch = snap.schema
    ktype = None
    if sch is not None:
        ktype = next((f.dataType for f in sch.fields if f.name == key), None)
    if ktype is not None and keys:
        probe = spark.createDataFrame([(str(k),) for k in keys], "k string")
        bad = probe.where(
            F.col("k").try_cast(ktype).isNull() & F.col("k").isNotNull()
        ).collect()
        if bad:
            raise ValueError(
                f"tombstone key(s) not castable to {key}'s type "
                f"{ktype.simpleString()}: {[r['k'] for r in bad][:5]}"
            )
    v = snap.version + 1
    _commit_exclusive(
        table,
        {
            "version": v,
            "timestamp": time.time(),
            "operation": "DELETE DEFERRED",
            "key": key,
            "tombstones": list(keys),
            "add": [],
            "remove": [],
        },
    )
    return v


def materialize_tombstones(spark: SparkSession, table: str) -> int:
    """Apply pending tombstones to the data files (rewrite only files
    containing tombstoned keys — delete_where's file discovery) and
    clear the tombstone list in the same commit."""
    snap = _snapshot(table)
    pend = snap.tombstones
    if not pend:
        return snap.version
    # The snapshot's key is the fold's scan-back over the whole log,
    # never a last-entry peek with an "id" guess: a metadata-only commit
    # (constraint, PUBLISH) landing after the DELETE DEFERRED would
    # otherwise make this destructive rewrite delete by the wrong
    # column. Tombstones pending implies delete_keys_deferred found a
    # key, so it cannot miss.
    vals = ", ".join(_sql_literal(k) for k in pend)
    return _delete_where(
        spark,
        snap,
        f"{snap.require_key()} in ({vals})",
        clear_tombstones=True,
        # bounds the discovery scan via blooms + key stats: O(candidate
        # files), not O(table) — the erasure-request batch shape
        candidate_keys=list(pend),
    )


def add_constraint(spark: SparkSession, table: str, name: str, expr: str) -> int:
    """ALTER TABLE ADD CONSTRAINT name CHECK (expr): existing data is
    validated FIRST (Delta semantics — a constraint you can add to dirty
    data is a lie), then a metadata-only commit records the new
    constraint set. A commit landing between the validation and this
    commit aborts it: the rows it added were never validated."""
    snap = _snapshot(table)
    if name in snap.constraints:
        raise ValueError(f"constraint {name!r} already exists")
    _enforce_constraints(_read_live(spark, snap), {name: expr}, "existing data")
    cons = {**snap.constraints, name: expr}
    v = snap.version + 1
    _commit_exclusive(
        table,
        {
            "version": v,
            "timestamp": time.time(),
            "operation": "ADD CONSTRAINT",
            "constraints": cons,
            "add": [],
            "remove": [],
        },
    )
    return v


def _protected_columns(snap: _Snapshot) -> dict[str, str]:
    """Columns the engine itself addresses BY NAME inside the log
    (footer stats keys, partition index, zorder spec, CHECK exprs, CDC
    tombstone flag) → reason. Renaming one would desynchronize logged
    metadata from file contents, so rename/drop reject them — Delta
    takes the same posture for partition/bloom columns."""
    import re as _re

    out: dict[str, str] = {}
    if snap.key is not None:
        out[snap.key] = "table key (footer stats + blooms are logged under it)"
    if snap.partition_by is not None:
        out[snap.partition_by] = "partition column (the logged partition index)"
    for z in snap.zorder_by:
        out.setdefault(z, "zorder column (logged clustering spec)")
    # Tokenizing a CHECK expr with a bare-identifier regex would also
    # capture SQL keywords and the CONTENTS of string literals (e.g.
    # "seg = 'north'" must not protect a column named north), spuriously
    # blocking rename/drop of unrelated columns (round-8 review). Strip
    # quoted literals first, then keep only tokens that name an actual
    # logical column of the table.
    sch = snap.schema
    logical = (
        {f.name for f in sch.fields} if sch is not None else None
    )
    for name, expr in snap.constraints.items():
        # both literal syntaxes: single-quoted (ANSI) AND double-quoted
        # (Spark SQL's default when double-quoted identifiers are off —
        # round-9 review: 'seg = "north"' must not protect a column
        # named north any more than the single-quoted spelling does).
        # Literals consume doubled-quote ('') AND backslash escapes
        # (round-10: in "note = 'don\\'t' OR amount > 0" the \' must
        # not close the literal, or the boundary shifts and real column
        # tokens after it get stripped as literal text).
        bare = _re.sub(
            r"'(?:[^'\\]|\\.|'')*'|\"(?:[^\"\\]|\\.|\"\")*\"", " ", expr
        )
        for tok in set(_re.findall(r"[A-Za-z_][A-Za-z0-9_]*", bare)):
            if logical is not None and tok not in logical:
                continue
            out.setdefault(tok, f"referenced by CHECK constraint {name!r}")
    out.setdefault(
        "__cdc_deleted", "CDC tombstone flag (apply_changes contract)"
    )
    return out


def _check_new_logical_name(snap: _Snapshot, new: str, own_physical: str | None = None) -> None:
    """A new logical name may not collide with a live logical column,
    any column's PHYSICAL name, or a retired physical name — data files
    are immutable, so a physical collision would silently splice old
    file data into the new column. ``own_physical`` exempts the renamed
    column's own physical slot (renaming BACK to it just collapses the
    mapping)."""
    logical = set(snap.schema.fieldNames()) if snap.schema_json else set()
    physical = {snap.mapping.get(n, n) for n in logical} | set(snap.retired)
    physical.discard(own_physical)
    if new in logical:
        raise ValueError(f"column {new!r} already exists")
    if new in physical:
        raise ValueError(
            f"name {new!r} collides with a physical column name still "
            "present in immutable data files (renamed-away or dropped); "
            "choose another name"
        )


def rename_column(table: str, old: str, new: str) -> int:
    """ALTER TABLE RENAME COLUMN — a METADATA-ONLY commit (no data
    rewrite, Delta/Iceberg column-mapping semantics): the logical
    schema renames the field and the mapping records logical→physical,
    while every immutable data file keeps its creation-time column
    name. Readers alias physical→logical; writers alias back. Time
    travel to a pre-rename version sees the old name (the fold is
    versioned). Engine-addressed columns (key / partition / zorder /
    constraint-referenced / CDC flag) are rejected with the reason."""
    snap = _snapshot(table)
    if not snap.schema_json:
        raise ValueError(
            f"table {table} predates schema tracking; rename needs a "
            "logged schema"
        )
    sch = json.loads(snap.schema_json)
    names = [f["name"] for f in sch["fields"]]
    if old not in names:
        raise ValueError(f"no such column: {old!r} (have {names})")
    prot = _protected_columns(snap)
    if old in prot:
        raise ValueError(f"cannot rename {old!r}: {prot[old]}")
    _check_new_logical_name(snap, new, own_physical=snap.mapping.get(old, old))
    mapping = dict(snap.mapping)
    mapping[new] = mapping.pop(old, old)  # physical name is sticky
    if mapping[new] == new:
        del mapping[new]  # renamed back to its physical name
    for f in sch["fields"]:
        if f["name"] == old:
            f["name"] = new
    v = snap.version + 1
    _commit_exclusive(
        table,
        {
            "version": v,
            "timestamp": time.time(),
            "operation": f"RENAME COLUMN ({old} -> {new})",
            "schema_json": json.dumps(sch),
            "column_mapping": mapping,
            "retired_physical": list(snap.retired),
            "add": [],
            "remove": [],
        },
    )
    return v


def drop_column(table: str, col: str) -> int:
    """ALTER TABLE DROP COLUMN — metadata-only (no data rewrite): the
    logical schema loses the field, readers project it away, and its
    PHYSICAL name is retired forever (immutable files still contain the
    bytes, so re-adding the name would resurrect stale data — the
    collision guard makes that impossible). Protected columns reject as
    in rename_column."""
    snap = _snapshot(table)
    if not snap.schema_json:
        raise ValueError(
            f"table {table} predates schema tracking; drop needs a "
            "logged schema"
        )
    sch = json.loads(snap.schema_json)
    names = [f["name"] for f in sch["fields"]]
    if col not in names:
        raise ValueError(f"no such column: {col!r} (have {names})")
    if len(names) == 1:
        raise ValueError("cannot drop the only column")
    prot = _protected_columns(snap)
    if col in prot:
        raise ValueError(f"cannot drop {col!r}: {prot[col]}")
    mapping = dict(snap.mapping)
    physical = mapping.pop(col, col)
    retired = list(snap.retired)
    if physical not in retired:
        retired.append(physical)
    sch["fields"] = [f for f in sch["fields"] if f["name"] != col]
    v = snap.version + 1
    _commit_exclusive(
        table,
        {
            "version": v,
            "timestamp": time.time(),
            "operation": f"DROP COLUMN ({col})",
            "schema_json": json.dumps(sch),
            "column_mapping": mapping,
            "retired_physical": retired,
            "add": [],
            "remove": [],
        },
    )
    return v


def drop_constraint(table: str, name: str) -> int:
    """ALTER TABLE DROP CONSTRAINT — metadata-only commit."""
    snap = _snapshot(table)
    if name not in snap.constraints:
        raise ValueError(f"no such constraint: {name!r}")
    cons = {n: e for n, e in snap.constraints.items() if n != name}
    v = snap.version + 1
    _commit_exclusive(
        table,
        {
            "version": v,
            "timestamp": time.time(),
            "operation": "DROP CONSTRAINT",
            "constraints": cons,
            "add": [],
            "remove": [],
        },
    )
    return v


# Safe implicit widenings for appends (source type → acceptable wider
# table types). The FILE is cast to the table type before staging, so
# every data file carries the table's physical type and the log-schema
# read never hits a parquet type-conversion error.
_SAFE_WIDEN = {
    "byte": {"short", "integer", "long"},
    "short": {"integer", "long"},
    "integer": {"long"},
    "float": {"double"},
}


def _evolve_schema(snap: _Snapshot, df: DataFrame, merge_schema: bool):
    """Validate df's schema against the table's logged schema. Returns
    ``(df_cast, schema_to_record)``: df with upcast-compatible columns
    cast to the table's (wider) types, and the possibly-widened table
    schema. Additive evolution ONLY — new nullable columns appended;
    dropping a column or a non-widening type change is rejected even
    under merge_schema (Delta's posture: widening is safe for every
    reader, narrowing silently breaks them).
    """
    from pyspark.sql.types import DecimalType

    cur = snap.schema
    if cur is None:
        return df, df.schema

    cur_fields = {f.name: f.dataType for f in cur.fields}
    new_fields = {f.name: f.dataType for f in df.schema.fields}
    bad, widen = [], []
    for n, t in new_fields.items():
        if n in cur_fields and cur_fields[n] != t:
            cur_t = cur_fields[n]
            if cur_t.typeName() in _SAFE_WIDEN.get(t.typeName(), set()):
                widen.append(n)  # e.g. int literal into a bigint column
            elif (
                isinstance(cur_t, DecimalType)
                and isinstance(t, DecimalType)
                and cur_t.scale >= t.scale
                and cur_t.precision - cur_t.scale >= t.precision - t.scale
            ):
                # lossless decimal widening: the table's type holds every
                # value of the source's (scale and integer digits both ≥)
                widen.append(n)
            else:
                bad.append(n)
    dropped = [n for n in cur_fields if n not in new_fields]
    added = [n for n in new_fields if n not in cur_fields]
    if bad:
        raise SchemaMismatch(f"non-widening column type changes: {bad}")
    if added:
        # column-mapping collision guard: an evolved column may not
        # reuse a physical name still present in immutable data files
        # (old bytes would resurrect into the new column)
        reserved = set(snap.mapping.values()) | set(snap.retired)
        hit = [n for n in added if n in reserved]
        if hit:
            raise SchemaMismatch(
                f"new column(s) {hit} collide with physical names of "
                "renamed-away or dropped columns; choose other names"
            )
    if not merge_schema and (added or dropped):
        raise SchemaMismatch(
            f"append schema differs from table schema (added={added}, "
            f"missing={dropped}); pass merge_schema=True for additive evolution"
        )
    for n in widen:
        df = df.withColumn(n, F.col(n).cast(cur_fields[n]))
    out = StructType([f for f in cur.fields])
    for f in df.schema.fields:
        if f.name not in cur_fields:
            out.add(f.name, f.dataType, nullable=True)
    return df, out


def _apply_partitioning(df: DataFrame, partition_by: str | None) -> DataFrame:
    """Cluster rows so every ``partition_by`` value lands in exactly ONE
    staged file (hash repartition on the column: a value maps to one
    partition; a file may hold several values, but none is split), then
    sort within files so footer min/max stats stay tight. This is the
    log-tracked analogue of hive-style ``PARTITIONED BY`` — the
    per-file col_stats in the commit entry are the partition index, and
    ``pruned_files`` is the planner that consumes it. At 100 TB, partition pruning on the ingestion-date column is
    the single highest-leverage skipping mechanism a lakehouse has.

    The partition count is EXPLICIT (one distinct-count job — metadata-
    scale for any sane partition column, same deliberate-extra-action
    precedent as the cosine guard): an implicit ``repartition(col)``
    gets AQE-coalesced into one file at small sizes, silently erasing
    the layout the caller asked for. Range partitioning (not hash)
    keeps per-file min/max tight AND contiguous."""
    if partition_by is None:
        return df
    n = max(df.select(partition_by).distinct().count(), 1)
    return df.repartitionByRange(n, F.col(partition_by)).sortWithinPartitions(
        partition_by
    )


def create_or_replace(
    spark: SparkSession,
    table: str,
    df: DataFrame,
    key: str | None = None,
    partition_by: str | None = None,
    local_rows: list | None = None,
) -> int:
    """CREATE OR REPLACE TABLE AS SELECT: new version whose live set is
    exactly df's files; prior files stay on disk for time travel.
    ``partition_by`` declares a clustering column: values never span
    files and per-file min/max stats for the column land in the log.

    ``local_rows`` (round 15): df's OWN rows when the caller already
    holds them driver-side (positional tuples/Rows in df.schema order —
    the streaming gates' metadata-scale state seeds). The staged file
    is then written directly with pyarrow and its stats/bloom computed
    by the Python twins: ZERO Spark jobs, including the partitioned
    case, whose _apply_partitioning would otherwise pay a
    distinct-count job + a range-sample job + the write job
    (VERDICT r14 #1/#4). Above the dial, or for schemas without an
    exact pyarrow twin, the distributed writer runs as before."""
    snap = _head_or_new(table)
    stats_cols = [partition_by] if partition_by else None
    if local_rows is not None and _plan_commit(
        snap, df.schema, key, partition_by, len(local_rows)
    ):
        adds = _stage_rows_local(
            snap,
            local_rows,
            df.schema,
            key,
            stats_cols=stats_cols,
            mapping={},  # a REPLACE starts a fresh identity mapping
            partition_by=partition_by,
        )
    else:
        adds = _stage_files(
            _apply_partitioning(df, partition_by),
            snap,
            key,
            stats_cols=stats_cols,
            mapping={},  # a REPLACE starts a fresh identity mapping
        )
    v = snap.version + 1
    _commit_exclusive(
        table,
        {
            "version": v,
            "timestamp": time.time(),
            "operation": "CREATE OR REPLACE" if v else "CREATE",
            "key": key,
            "partition_by": partition_by,
            # REPLACE resets table metadata (Delta semantics): declared
            # constraints do not survive a full re-creation
            "constraints": {},
            "schema_json": df.schema.json(),
            "add": adds,
            "remove": list(snap.live),
        },
    )
    return v


def append(
    spark: SparkSession,
    table: str,
    df: DataFrame,
    key: str | None = None,
    partition_by: str | None = None,
    merge_schema: bool = False,
    local_rows: list | None = None,
) -> int:
    """Blind append: add-only commit, no files rewritten. A schema that
    differs from the table's logged schema raises SchemaMismatch unless
    ``merge_schema=True``, which permits ADDITIVE evolution (new
    nullable columns; old files null-fill on read via the log schema).
    ``local_rows``: driver-resident rows of df for zero-job staging
    (see create_or_replace)."""
    snap = _head_or_new(table)
    if snap.version < 0:
        return create_or_replace(
            spark, table, df, key, partition_by=partition_by,
            local_rows=local_rows,
        )
    # inherit the table's declared clustering: an append that forgot
    # the partition column would otherwise write files spanning every
    # partition value, quietly breaking pruning for all new data
    partition_by = partition_by or snap.partition_by
    # inherit the declared key the same way: a key-less append would
    # write files with no min/max key stats and no bloom, turning them
    # into permanent MERGE candidates (round-7 review)
    key = key or snap.key
    stats_cols = [partition_by] if partition_by else None
    # driver-resident fast path (see create_or_replace): zero-job
    # staging for the sketch-stream state commits, planned from the
    # caller's schema before evolution casts it
    use_local = local_rows is not None and _plan_commit(
        snap, df.schema, key, partition_by, len(local_rows)
    )
    df, schema = _evolve_schema(snap, df, merge_schema)
    if snap.tombstones:
        raise ValueError(
            "table has pending deferred deletes; run materialize_tombstones "
            "first (a key tombstone cannot distinguish a pre-delete row from "
            "a re-inserted one)"
        )
    _enforce_constraints(df, snap.constraints, "APPEND")
    if use_local:
        adds = _stage_rows_local(
            snap,
            local_rows,
            df.schema,
            key,
            stats_cols=stats_cols,
            partition_by=partition_by,
        )
    else:
        adds = _stage_files(
            _apply_partitioning(df, partition_by),
            snap,
            key,
            stats_cols=stats_cols,
        )
    # add-only: a lost commit race against another add-only writer
    # rebases onto the new HEAD instead of failing (classified retry)
    return _commit_rebase(
        table,
        {
            "version": snap.version + 1,
            "timestamp": time.time(),
            "operation": "APPEND",
            "key": key,
            "partition_by": partition_by,
            "schema_json": schema.json(),
            "add": adds,
            "remove": [],
        },
    )


def snapshot_versions(tables, max_attempts: int = 25) -> dict:
    """A CONSISTENT cross-table version cut (the multi-table snapshot
    Delta lacks and Iceberg needs a Nessie-style catalog for): pin one
    version per table such that all pinned versions coexisted as the
    tables' HEADs at a single instant — a downstream reader joining
    silver tables through these pins can never see table A post-commit
    and table B pre-commit of the same pipeline run.

    Seqlock capture: sweep every HEAD, sweep again; versions only grow,
    so if the two sweeps agree then no table committed between them and
    the whole map was simultaneously HEAD at the instant between the
    sweeps. Retries under write pressure, raises after
    ``max_attempts`` racing sweeps rather than returning a torn cut.
    Pure metadata (two listdir sweeps per attempt); feed the pins to
    :func:`read` / :func:`read_snapshot` for time-travel reads."""
    tables = list(tables)
    for _ in range(max_attempts):
        first = {t: _table_versions(t)[-1] for t in tables}
        second = {t: _table_versions(t)[-1] for t in tables}
        if first == second:
            return first
    raise RuntimeError(
        f"no stable version cut across {len(tables)} tables after "
        f"{max_attempts} attempts (sustained concurrent commits)"
    )


def read_snapshot(
    spark: SparkSession, pins: dict, table: str
) -> DataFrame:
    """Read ``table`` at its pinned version from a
    :func:`snapshot_versions` cut."""
    if table not in pins:
        raise KeyError(f"{table} not in snapshot pins {sorted(pins)}")
    return read(spark, table, version=pins[table])


def read(spark: SparkSession, table: str, version: int | None = None) -> DataFrame:
    """Snapshot read (time travel via ``version``). The schema comes
    from the LOG as of that version (null-filling files written before
    an additive evolution; a time-travel read of a pre-evolution
    version sees the OLD schema) — footer inference is the fallback for
    pre-schema-tracking tables."""
    return _read_live(spark, _snapshot(table, version))


def _read_live(spark: SparkSession, snap: _Snapshot) -> DataFrame:
    """:func:`read` of a snapshot: :func:`_read_files` over its live set."""
    if not snap.live:
        raise ValueError(f"table {snap.table} has no live files at version {snap.version}")
    return _read_files(spark, snap, snap.files)


def table_row_count(table: str, version: int | None = None) -> int:
    """COUNT(*) from METADATA: the log's per-file row counts summed over
    the live set — O(files-in-log) with zero data IO, the Delta
    numRecords trick. At 100 TB this is the difference between an
    instant answer and a full scan. NOTE: pending merge-on-read
    tombstones are not reflected (they hide rows at scan time);
    callers needing exactness under pending tombstones should
    materialize first — the returned count is the PHYSICAL row count."""
    return sum(a["rows"] for a in _snapshot(table, version).live.values())


# Write-audit-publish (WAP): stage → validate → publish/discard. The
# Iceberg audit-branch workflow on the commit log — a staged commit's
# files are on disk and log-recorded but INVISIBLE to every reader
# until a PUBLISH entry names it, so validation runs on exactly the
# bytes that will go live and the flip is atomic metadata.


def append_staged(
    spark: SparkSession, table: str, df: DataFrame, key: str | None = None
) -> int:
    """Stage an append: files written + committed with ``staged`` set;
    readers skip it until publish(). Declared CHECK constraints still
    enforce at stage time (they are table invariants, not audit
    opinions); schema must match exactly (no evolution through the
    staging path)."""
    snap = _snapshot(table)
    if snap.tombstones:
        raise ValueError("materialize deferred deletes before staging")
    df, _schema = _evolve_schema(snap, df, merge_schema=False)
    _enforce_constraints(df, snap.constraints, "APPEND STAGED")
    adds = _stage_files(df, snap, key)
    # staged adds are invisible until PUBLISH, so the same add-only
    # rebase applies
    return _commit_rebase(
        table,
        {
            "version": snap.version + 1,
            "timestamp": time.time(),
            "operation": "APPEND STAGED",
            "staged": True,
            "key": key,
            "add": adds,
            "remove": [],
        },
    )


def read_staged(spark: SparkSession, table: str, staged_version: int) -> DataFrame:
    """The staged commit's OWN rows (what an audit validates), raw: the
    pending-tombstone filter is a read-time view of live data."""
    snap = _snapshot(table)
    adds = snap.staged.get(staged_version)
    if adds is None:
        raise ValueError(f"version {staged_version} is not an unresolved staged commit")
    if not adds:
        raise ValueError(f"staged commit {staged_version} has no files")
    return _read_files(spark, snap, adds, with_tombstones=False)


def _resolve_staged(table: str, staged_version: int, op: str, field: str) -> int:
    snap = _snapshot(table)
    if staged_version not in snap.staged:
        raise ValueError(
            f"version {staged_version} is not an unresolved staged commit"
        )
    v = snap.version + 1
    _commit_exclusive(
        table,
        {
            "version": v,
            "timestamp": time.time(),
            "operation": op,
            field: staged_version,
            "add": [],
            "remove": [],
        },
    )
    return v


def publish(table: str, staged_version: int) -> int:
    """Atomically flip a staged commit live (metadata-only)."""
    return _resolve_staged(table, staged_version, "PUBLISH", "publishes")


def discard_staged(table: str, staged_version: int) -> int:
    """Reject a staged commit: its rows never become visible; its files
    become vacuumable orphans."""
    return _resolve_staged(table, staged_version, "DISCARD", "discards")


def audited_append(
    spark: SparkSession,
    table: str,
    df: DataFrame,
    key: str | None,
    audit_fn,
) -> tuple[int, bool]:
    """The WAP loop in one call: stage, run ``audit_fn(staged_rows) ->
    bool`` on exactly the bytes that would go live, then publish (True)
    or discard (False). Readers see either the old table or the fully
    validated new state — never a half-audited batch. This is the
    write-side home of the DQ engine: quality/checks.py validates the
    batch, and a failure costs a discarded commit, not a dirty table.
    """
    sv = append_staged(spark, table, df, key)
    ok = bool(audit_fn(read_staged(spark, table, sv)))
    if ok:
        publish(table, sv)
    else:
        discard_staged(table, sv)
    return versions(table)[-1], ok


def read_keys(
    spark: SparkSession, table: str, keys: list, version: int | None = None
) -> DataFrame:
    """POINT-LOOKUP read: only the live files whose key stats AND bloom
    admit at least one of ``keys`` (_files_maybe_containing — sound,
    never drops a holder), read under the full read() contract and
    filtered to exactly those keys. ``keys`` must be metadata-scale
    (the probe mask check is O(files × keys) driver-side); callers with
    data-scale key sets should join against read() instead."""
    snap = _snapshot(table, version)
    files = _files_maybe_containing(spark, snap, list(keys))
    if not files:
        if snap.schema is not None:
            return spark.createDataFrame([], snap.schema)
        return _read_live(spark, snap).where(F.lit(False))
    k = F.col(snap.require_key())
    return _read_files(spark, snap, files).where(k.isin(list(keys)))


def read_keys_local(
    spark: SparkSession, table: str, keys: list, columns: list[str]
) -> list[dict] | None:
    """Driver-side twin of :func:`read_keys` for churn-scale lookups:
    prune files by key stats + bloom (_files_maybe_containing), then read
    the requested columns locally via pyarrow and filter to the key set
    — zero Spark jobs. Returns None whenever the full read() contract is
    actually needed, and the caller must fall back to the distributed
    read: pending tombstones (the anti-filter must apply), a
    non-identity column mapping, any pruned file above the driver dials,
    or a pre-evolution file missing a requested column. Sound because
    _files_maybe_containing never drops a key holder and the gates refuse
    every table state where a raw file read could differ from read()."""
    snap = _snapshot(table)
    if snap.tombstones or snap.mapping:
        return None
    # key-type gate (round-14 review): pyarrow-decoded values must
    # compare EQUAL to Spark-collected ones (_DRIVER_KEY_TYPES) — a
    # timestamp key (pyarrow UTC datetimes vs Spark session-local naive)
    # would silently match nothing and report every key as absent
    # instead of falling back
    kcol = snap.require_key()
    sch = snap.schema
    ktype = (
        next((f.dataType.typeName() for f in sch.fields if f.name == kcol), None)
        if sch is not None
        else None
    )
    if ktype not in _DRIVER_KEY_TYPES:
        return None
    files = _files_maybe_containing(spark, snap, list(keys))
    if not _driver_readable(files):
        return None
    if kcol not in columns:
        columns = [kcol] + list(columns)
    keyset = set(keys)
    out: list[dict] = []
    for a in files:
        try:
            tbl = pq.read_table(_abs(table, a["file"]), columns=list(columns))
        except Exception:
            return None  # pre-evolution file lacking a column, etc.
        cols = {c: tbl.column(c).to_pylist() for c in columns}
        for i in range(tbl.num_rows):
            if cols[kcol][i] in keyset:
                out.append({c: cols[c][i] for c in columns})
    return out


def distinct_values_local(table: str, col: str) -> set | None:
    """Driver-side distinct values of one column across a table's live
    files via pyarrow — zero Spark jobs — for METADATA-SCALE state
    tables (streaming sketch/replay-guard tables: a few small files).
    Returns None whenever the full read() contract is needed and the
    caller must fall back to a distributed read: pending tombstones, a
    non-identity column mapping, too many / too large / unsized files,
    or a file missing the column (pre-evolution). Round 14: the
    streaming sketch ingests burned one read+anti-join Spark job per
    micro-batch just to test replay of an integer batch tag."""
    snap = _snapshot(table)
    if snap.tombstones or snap.mapping:
        return None
    files = snap.files
    if not _driver_readable(files):
        return None
    out: set = set()
    for a in files:
        try:
            out.update(
                pq.read_table(_abs(table, a["file"]), columns=[col])
                .column(0)
                .to_pylist()
            )
        except Exception:
            return None
    return out


def read_pruned_multi(
    spark: SparkSession,
    table: str,
    bounds: dict,
    version: int | None = None,
) -> DataFrame:
    """Conjunctive multi-column range scan with file skipping: keep only
    live files whose logged min/max intersects EVERY ``col: (lo, hi)``
    bound, then apply all residual filters. This is the reader that
    pays off OPTIMIZE ZORDER: a z-clustered layout keeps per-file
    ranges tight on every z dimension AT ONCE, so a 2-D point/range
    query intersects far fewer files than either 1-D clustering would
    allow. Sound: a file missing stats for a bounded column is read.

    The pruned read honors the SAME read contract as ``read()`` —
    log-derived schema (null-filling pre-evolution files, never an
    arbitrary footer) and the pending-tombstone anti-filter (a skipped
    rewrite must not resurrect logically deleted rows) — pruning only
    ever cuts the FILE list, never changes the visible rows/columns."""
    snap = _snapshot(table, version)
    files = _pruned_files(snap, bounds)
    if not files:
        return _read_live(spark, snap).where(F.lit(False))
    df = _read_files(spark, snap, files)
    for col, (lo, hi) in bounds.items():
        df = df.where((F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi)))
    return df


def pruned_files(table: str, bounds: dict, version: int | None = None) -> list[dict]:
    """The live files a conjunctive multi-column range scan must read:
    keep a file iff its logged min/max intersects EVERY ``col: (lo,
    hi)`` bound (:func:`_may_hold` — the key column prunes by the key
    stats; a file missing stats for a bounded column is kept, so
    skipping stays sound). Shared by ``read_pruned_multi`` and
    skip-proof consumers so the guard and the actual read can never
    drift."""
    return _pruned_files(_snapshot(table, version), bounds)


def _pruned_files(snap: _Snapshot, bounds: dict) -> list[dict]:
    """:func:`pruned_files` on a snapshot."""
    files = snap.files
    for col, (lo, hi) in bounds.items():
        files = _may_hold(files, snap.key, col, [(lo, hi)])
    return files


def _read_files(
    spark: SparkSession,
    snap: _Snapshot,
    files: list[dict],
    with_tombstones: bool = True,
) -> DataFrame:
    """Read a file SUBSET under the full read() contract: the snapshot's
    log schema (so schema-evolved columns null-fill instead of
    silently vanishing when the subset happens to contain only
    pre-evolution files — or, worse, when a REWRITE path takes one
    file's footer as the schema and permanently drops the evolved
    column from the files it writes) and, by default, the merge-on-read
    tombstone anti-filter (so a pruned scan cannot resurrect
    deferred-deleted rows). Rewrite paths pass
    ``with_tombstones=False``: a physical rewrite must see the raw file
    contents — ``materialize_tombstones`` in particular relies on the
    tagged scan FINDING the tombstoned rows it is about to drop."""
    schema = snap.schema
    reader = spark.read
    if schema is not None:
        # files carry PHYSICAL names; the scan schema must match them,
        # then the projection aliases back to the logical schema (and
        # drops retired columns)
        reader = reader.schema(_physical_schema(schema, snap.mapping))
    df = reader.parquet(*[_abs(snap.table, a["file"]) for a in files])
    df = _map_to_logical(df, schema, snap.mapping)
    if with_tombstones and snap.tombstones:
        # merge-on-read: un-materialized deletes filter at scan time.
        # NULL-key rows pass: NOT(NULL IN (...)) is NULL under
        # three-valued logic and where() would silently drop them
        k = F.col(snap.require_key())
        df = df.where(k.isNull() | ~k.isin(snap.tombstones))
    return df


def read_pruned(
    spark: SparkSession,
    table: str,
    col: str,
    lo,
    hi,
    version: int | None = None,
) -> DataFrame:
    """Range scan with file skipping: read ONLY the live files whose
    logged ``col`` min/max intersects [lo, hi], then apply the residual
    filter (skipping is sound — a file without stats is always read —
    so the residual keeps the result exact). On a ``partition_by=col``
    table this is partition pruning: the planner-side file-list cut
    that no Catalyst filter pushdown can achieve once all files are
    handed to the reader. Returns an empty DataFrame with the table
    schema when every file prunes away."""
    return read_pruned_multi(spark, table, {col: (lo, hi)}, version)


class _Discovery(NamedTuple):
    """What :func:`_discover_touched` learned about a key-set commit."""

    touched: list  # live files holding at least one source key (exact)
    untouched: list  # live files the commit carries over by reference
    pruned: int  # live files skipped by key stats or bloom
    pruned_by_bloom: int
    keys: set | None  # the source's non-NULL keys, when the probe held them all
    rows: list | None  # the source's full rows, when asked for and small
    bound: int | None  # exact row bound of the rewrite: touched + source rows


def _discover_touched(
    spark: SparkSession,
    snap: _Snapshot,
    source: DataFrame,
    key: str,
    rows: list | None = None,
    full_rows: bool = False,
) -> _Discovery:
    """Key-set touched-file discovery — the file mechanics merge_into and
    apply_changes share (the Delta MERGE shape):

    0. ONE bounded probe job: collect up to STAGE_DRIVER_MAX_ROWS+1
       source rows (LIMIT over the bare scan early-exits at scale, and
       driver memory is bounded by the dial). ``rows`` already in the
       caller's hand (positional, in source.schema order) skip even that
       job; ``full_rows`` collects whole rows — the input of merge_into's
       driver write — instead of the key projection. A small source
       (streaming label / registry maintenance, CDC micro-batches) then
       resolves its key range, bloom masks and touched-file set
       driver-side, without the three Spark jobs the generic path needs
       (round-14 fix: the fixed per-batch job overhead dominated
       churn-scale commits).
    1. Prune live files by the log's min/max key stats against the
       source's key range — from the probe when small (Python min/max
       matches SQL ordering for every orderable key type, pinned by
       test), else one tiny aggregate over the source.
    2. Point-prune the survivors: drop files whose key stats or bloom
       reject every source key — the bloom is the layer that works where
       min/max can't (hash layouts, full-range files). Sound: a bloom
       never rejects a present key, and a file without one is pruned by
       its stats alone. Small sources of at most BLOOM_PROBE_MAX_KEYS
       keys only: above that the 1024-bit masks saturate and prune
       nothing.
    3. Find the files ACTUALLY containing source keys — EXACTLY, on both
       paths: pyarrow key-column reads against the probed key set when
       the driver may read the candidates (no Spark job; a disjoint-key
       micro-batch stays a pure append), else a semi-join of the
       candidates (tagged with input_file_name) against the source keys,
       collecting the distinct file names (O(files), not O(rows))."""
    n = STAGE_DRIVER_MAX_ROWS
    driver_key = source.schema[key].dataType.typeName() in _DRIVER_KEY_TYPES
    if driver_key and rows is not None and len(rows) <= n:
        probe, ki = list(rows), source.columns.index(key)
    elif driver_key and full_rows:
        probe, ki = source.limit(n + 1).collect(), source.columns.index(key)
    elif driver_key:
        probe, ki = source.select(F.col(key)).limit(n + 1).collect(), 0
    else:
        # the key's string cast is not replicable driver-side: Spark
        # computes the bloom positions inside the same probe job
        probe, ki = source.select(
            F.col(key), _bloom_positions(F.col(key).cast("string"))
        ).limit(n + 1).collect(), 0
    small = len(probe) <= n
    keys = None
    points: list = []
    if small:
        keys = {r[ki] for r in probe if r[ki] is not None}
        if len(keys) <= BLOOM_PROBE_MAX_KEYS:
            points = (
                [(k, k, _bloom_mask_py([k])) for k in keys]
                if driver_key
                else [
                    (k, k, _positions_mask(ps))
                    for k, ps in {r[0]: r[1] for r in probe if r[0] is not None}.items()
                ]
            )
        lo, hi = (min(keys), max(keys)) if keys else (None, None)
    else:
        lo, hi = source.agg(F.min(F.col(key)), F.max(F.col(key))).collect()[0]

    live = snap.files
    # An empty source (or all-NULL keys, e.g. an empty streaming
    # micro-batch) matches no file.
    candidates = [] if lo is None or hi is None else _may_hold(live, key, key, [(lo, hi)])
    n_stats_kept = len(candidates)
    if candidates and points:
        candidates = _may_hold(candidates, key, key, points)

    touched = [] if not candidates else None
    if candidates and small and driver_key and _driver_readable(candidates):
        # key columns are rename-protected (identity-mapped), so the
        # physical column name IS the logical one
        touched = []
        for a in candidates:
            try:
                col = pq.read_table(_abs(snap.table, a["file"]), columns=[key])
            except Exception:
                touched = None
                break
            if any(v in keys for v in col.column(0).to_pylist()):
                touched.append(a)
    if touched is None:
        # log-schema read: a mixed pre-/post-evolution candidate set must
        # not take an arbitrary footer as its schema
        src_keys = source.select(F.col(key).alias("__mk")).distinct()
        hit = {
            os.path.basename(r["__f"])
            for r in _read_files(spark, snap, candidates, with_tombstones=False)
            .select(F.col(key), F.input_file_name().alias("__f"))
            .join(F.broadcast(src_keys), F.col(key) == F.col("__mk"), "left_semi")
            .select("__f")
            .distinct()
            .collect()
        }
        # basename match: a shallow clone's actions reference absolute
        # source paths while input_file_name yields bare names (names
        # are uuid-unique, so basename equality is exact)
        touched = [a for a in candidates if os.path.basename(a["file"]) in hit]
    names = {a["file"] for a in touched}
    return _Discovery(
        touched=touched,
        untouched=[a for a in live if a["file"] not in names],
        pruned=len(live) - len(candidates),
        pruned_by_bloom=n_stats_kept - len(candidates),
        keys=keys,
        rows=probe if small and driver_key and full_rows else None,
        bound=(
            sum(a["rows"] for a in touched) + len(probe)
            if small and all("rows" in a for a in touched)
            else None
        ),
    )


def _stage_rewrite(merged: DataFrame, snap: _Snapshot, key: str, bound: int | None):
    """Stage a MERGE / APPLY CHANGES rewrite. Metadata-scale rewrites
    collapse to one task/file: the row bound (logged touched-file rows +
    probed source rows) is exact from stats already in hand, and N
    near-empty shuffle partitions would otherwise become N write tasks +
    N files + N bloom/footer reads per churn batch, decaying the table
    layout commit after commit. repartition, NOT coalesce: coalesce(1)
    would pull the source pipeline's whole final stage into one task
    (measured 2.5× slower on the maintenance verdict MERGE); the
    explicit exchange keeps upstream parallelism and single-tasks only
    the tiny write."""
    if bound is not None and bound <= MERGE_COALESCE_MAX_ROWS:
        merged = merged.repartition(1)
    return _stage_files(merged, snap, key)


def merge_into(
    spark: SparkSession,
    table: str,
    source: DataFrame,
    key: str,
    merge_schema: bool = False,
    source_rows: list | None = None,
) -> int:
    """MERGE INTO target USING source ON target.key = source.key
    WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT * —
    dbt's merge-strategy incremental materialization.

    ``merge_schema=True`` permits ADDITIVE schema evolution in the
    merge (Delta's ``withSchemaEvolution()``): new nullable source
    columns join the table schema, carried-over rows in rewritten
    files null-fill them, untouched files null-fill on read via the
    log schema. Without it a differing source schema raises
    SchemaMismatch (same posture as ``append``). ``source_rows``: the
    source's own rows when the caller already holds them driver-side
    (positional, in source.schema order) — they replace the probe job.

    Execution: :func:`_discover_touched` finds exactly the files holding
    source keys; only those are rewritten — their rows anti-join the
    source keys (an isin() filter when the probed key set is in hand),
    union the full source, and stage as new files. Untouched files
    carry over by reference — no full-table rewrite.
    """
    snap = _head_or_new(table)
    if snap.version < 0:
        return create_or_replace(spark, table, source, key, local_rows=source_rows)
    if snap.tombstones:
        raise ValueError(
            "table has pending deferred deletes; run materialize_tombstones "
            "before MERGE"
        )
    # plan from the caller's schema before evolution casts it: only a
    # source the driver writer could stage needs its full rows probed;
    # any other probes a key projection
    src_schema = source.schema
    full_rows = _plan_commit(
        snap, src_schema, key, None,
        len(source_rows) if source_rows is not None else 0,
    )
    source, evolved_schema = _evolve_schema(snap, source, merge_schema)
    _enforce_constraints(source, snap.constraints, "MERGE")

    d = _discover_touched(spark, snap, source, key, source_rows, full_rows)
    touched = d.touched

    # FULLY driver-side rewrite (round 15): when the probe holds the
    # complete source rows, the driver may read the touched files and
    # the plan admits the row bound, the merged rows (touched-file rows
    # whose key misses the source keyset, plus the source rows) are
    # assembled in Python and staged with _stage_rows_local: ZERO
    # further Spark jobs after the one bounded probe.
    if (
        d.rows is not None
        and d.bound is not None
        and _driver_readable(touched)
        and _plan_commit(snap, src_schema, key, None, d.bound)
    ):
        mapping = snap.mapping
        names = [f.name for f in source.schema.fields]
        merged_rows: list = []
        for a in touched:
            t = pq.read_table(_abs(snap.table, a["file"]))
            present = set(t.column_names)
            n = t.num_rows
            colvals = [
                (
                    t.column(mapping.get(c, c)).to_pylist()
                    if mapping.get(c, c) in present
                    else [None] * n  # pre-evolution file: null-fill
                )
                for c in names
            ]
            kvals = colvals[names.index(key)]
            for i in range(n):
                # NULL target keys survive, matching the NOT-IN +
                # isNull() filter of the distributed rewrite
                if kvals[i] is None or kvals[i] not in d.keys:
                    merged_rows.append(tuple(cv[i] for cv in colvals))
        merged_rows.extend(d.rows)
        adds = _stage_rows_local(snap, merged_rows, source.schema, key)
    else:
        # rewrite touched rows + insert source (log-schema read — a
        # footer read of a pre-evolution touched file would rewrite it
        # without the evolved columns, permanently losing that data)
        if touched:
            kept = _read_files(spark, snap, touched, with_tombstones=False)
            if d.keys is not None and len(d.keys) <= MERGE_ISIN_MAX_KEYS:
                # keys are in hand: an isin() filter folds the anti-join
                # into the rewrite job's scan (no broadcast-build job).
                # NULL target keys must survive the NOT-IN (SQL
                # three-valued logic would drop them).
                kept = kept.where(
                    ~F.col(key).isin(list(d.keys)) | F.col(key).isNull()
                )
            else:
                kept = kept.join(source.select(key).distinct(), key, "left_anti")
            # allowMissingColumns only under declared evolution: carried
            # rows null-fill new source columns (and an evolving source
            # may omit historical columns, mirroring append's posture) —
            # but an UNdeclared mismatch must keep failing loudly
            merged = kept.unionByName(source, allowMissingColumns=merge_schema)
        else:
            merged = source
        adds = _stage_rewrite(merged, snap, key, d.bound)

    v = snap.version + 1
    _commit_exclusive(
        table,
        {
            "version": v,
            "timestamp": time.time(),
            "operation": "MERGE",
            "key": key,
            "schema_json": evolved_schema.json(),
            "add": adds,
            "remove": [a["file"] for a in touched],
            "stats": {
                "files_pruned_by_stats": d.pruned,
                "files_pruned_by_bloom": d.pruned_by_bloom,
                "files_touched": len(touched),
                "files_untouched": len(d.untouched),
            },
        },
    )
    return v


CDC_DELETED_COL = "__cdc_deleted"


def apply_changes(
    spark: SparkSession,
    table: str,
    source: DataFrame,
    key: str,
    seq_cols: list,
    op_col: str = "op",
    delete_value: str = "D",
) -> int:
    """CDC APPLY — the Delta Live Tables ``apply_changes`` /
    ``MERGE ... WHEN MATCHED [AND op='D'] THEN DELETE`` shape: fold a
    changelog (upserts + deletes, each row carrying a sequencing key)
    into a keyed snapshot table, out-of-order-safe and
    replay-idempotent.

    ``source`` = the table's data columns plus ``op_col`` ('D' rows
    are deletes; anything else upserts). ``seq_cols`` (non-NULL,
    columns of the table, compared lexicographically as a struct)
    order the changelog per key:

    - Within the source, only the LATEST change per key applies
      (max over ``struct(seq_cols..., op, ...)`` — a map-side-
      combinable hash aggregate, so a hot key never funnels raw
      changelog rows into one task).
    - Against the stored row, a change applies only if its seq struct
      is STRICTLY greater — a replayed batch (equal seq) and a late
      straggler batch (lower seq) both no-op instead of clobbering
      newer state. This is what makes foreachBatch restart safety
      free: re-delivery is absorbed by sequencing, not by careful
      batch-boundary engineering.
    - A winning 'D' drops the row; a delete for an absent key no-ops.

    Deletes RETAIN A TOMBSTONE: a winning 'D' keeps the key's row with
    ``__cdc_deleted = true`` at the delete's seq, so an out-of-order
    upsert OLDER than the delete arriving in a later batch cannot
    resurrect the key (the classic CDC hazard; Delta's CDC apply keeps
    the same hidden tombstones). Read live state through
    ``read_cdc_state``; reclaim old tombstones with
    ``delete_where(spark, table, CDC_DELETED_COL)`` once the feed
    guarantees no more stragglers (the retention knob every CDC sink
    has).

    File mechanics are MERGE's (:func:`_discover_touched`: stats + bloom
    pruned candidates, exact touched-file discovery; rewrite ∝ touched
    files, untouched files carry by reference); a batch that changes
    nothing commits nothing.
    Returns the table version (new or unchanged).
    """
    snap = _head_or_new(table)
    if snap.version < 0:
        # latest FIRST, then flag deletes: a delete-after-upsert within
        # the creating batch must not resurrect the earlier upsert, and
        # delete-of-unseen keys must still leave tombstones
        latest0 = _latest_changes(source, key, seq_cols, op_col)
        first = latest0.withColumn(
            CDC_DELETED_COL, F.col(op_col) == F.lit(delete_value)
        ).drop(op_col)
        return create_or_replace(spark, table, first, key)
    if snap.tombstones:
        raise ValueError(
            "table has pending deferred deletes; run materialize_tombstones "
            "before APPLY CHANGES"
        )
    sch = snap.schema
    if sch is not None and CDC_DELETED_COL not in sch.fieldNames():
        # a pre-existing non-CDC table has no tombstone column: winning
        # deletes would silently survive as live rows. apply_changes
        # owns its target from creation (the DLT contract).
        raise ValueError(
            f"{table} is not an apply_changes target (missing "
            f"{CDC_DELETED_COL}); create it via apply_changes itself"
        )
    latest = _latest_changes(source, key, seq_cols, op_col).localCheckpoint(
        eager=False
    )
    _enforce_constraints(
        latest.where(F.col(op_col) != F.lit(delete_value)).drop(op_col),
        snap.constraints,
        "APPLY CHANGES",
    )

    # the touched-file mechanics are MERGE's (round 14: a churn-scale
    # changelog resolves its key range AND the exact touched-file set
    # driver-side); latest's lazy checkpoint makes the probe's
    # materialization reusable by every later consumer
    d = _discover_touched(spark, snap, latest, key)
    touched = d.touched

    src_cols = latest.columns
    pref = latest.select([F.col(c).alias("__s_" + c) for c in src_cols])
    src_flag = (F.col("__s_" + op_col) == F.lit(delete_value)).alias(
        CDC_DELETED_COL
    )
    if touched:
        # ONE materialization of the stored⋈changes pipeline (round 15):
        # the previous shape executed the join up to four times per
        # micro-batch — once for the deleted-keys count, twice for the
        # has-changes probes, once more for the rewrite itself. The
        # kept/updated split is now a per-row CASE carrying marker
        # columns, eagerly checkpointed; the counts become metadata-scale
        # actions over the checkpoint and the rewrite projects it.
        stored = _read_files(spark, snap, touched, with_tombstones=False)
        tbl_cols = stored.columns
        j = stored.join(pref, F.col(key) == F.col("__s_" + key), "left")
        newer = F.col("__s_" + key).isNotNull() & (
            F.struct(*[F.col("__s_" + c) for c in seq_cols])
            > F.struct(*[F.col(c) for c in seq_cols])
        )
        upd = F.coalesce(newer, F.lit(False))
        src_del = F.col("__s_" + op_col) == F.lit(delete_value)
        survivors = j.select(
            *[
                F.when(
                    upd,
                    src_del if c == CDC_DELETED_COL else F.col("__s_" + c),
                )
                .otherwise(F.col(c))
                .alias(c)
                for c in tbl_cols
            ],
            upd.alias("__chg"),
            (
                upd
                & (F.col("__s_" + op_col) == F.lit(delete_value))
                & ~F.col(CDC_DELETED_COL)
            ).alias("__new_del"),
        )
        inserts = latest.join(
            stored.select(key).distinct(), key, "left_anti"
        ).select(
            *[
                (F.col(op_col) == F.lit(delete_value)).alias(CDC_DELETED_COL)
                if c == CDC_DELETED_COL
                else F.col(c)
                for c in tbl_cols
            ],
            F.lit(True).alias("__chg"),
            F.lit(False).alias("__new_del"),
        )
        flagged = survivors.unionByName(inserts).localCheckpoint(eager=True)
        n_deleted_keys = flagged.where(F.col("__new_del")).count()
        n_changes = flagged.where(F.col("__chg")).limit(1).count()
        merged = flagged.select(*tbl_cols)
    else:
        # discovery is sound: no touched file ⇒ no source key exists in
        # the table ⇒ every change is a pure insert (deletes of unseen
        # keys insert tombstones so older stragglers can't resurrect)
        tbl_cols = [c for c in src_cols if c != op_col] + [CDC_DELETED_COL]
        n_deleted_keys = 0
        merged = latest.withColumn(
            CDC_DELETED_COL, F.col(op_col) == F.lit(delete_value)
        ).select(*tbl_cols)
        n_changes = merged.limit(1).count()
    # a batch that changes nothing (pure replay / stale stragglers)
    # must not commit an empty rewrite
    if n_changes == 0:
        return snap.version
    adds = _stage_rewrite(merged, snap, key, d.bound)
    v = snap.version + 1
    _commit_exclusive(
        table,
        {
            "version": v,
            "timestamp": time.time(),
            "operation": "APPLY_CHANGES",
            "key": key,
            "add": adds,
            "remove": [a["file"] for a in touched],
            "stats": {
                "files_touched": len(touched),
                "files_untouched": len(d.untouched),
                "keys_deleted": int(n_deleted_keys),
            },
        },
    )
    return v


def verify_table(spark: SparkSession, table: str) -> dict:
    """Lakehouse FSCK — the integrity audit an operator runs after an
    incident (partial restore, manual file surgery, suspected bit rot)
    and a scheduled job runs continuously at fleet scale. Pure metadata
    + parquet FOOTER reads (O(live files), never row data), so it is
    safe to run against a 100 TB table.

    Checks, each an entry in the returned report's ``errors`` list when
    violated:

    - every live file exists on disk (a missing file = guaranteed
      future read failure; surfacing it NOW beats a 3 am pager),
    - every live file's logged ``rows`` matches its parquet footer
      row count (tampering / truncation / wrong-file-same-name),
    - per-file key stats are ordered (min_key <= max_key) — an
      inverted range silently disables pruning soundness,
    - the logged schema parses and every live footer's columns are a
      subset of it (a file with columns the schema lacks means a
      rewrite path lost a schema commit),
    - checkpoint states REPLAY-EQUAL: the newest readable checkpoint's
      folded state must equal a from-scratch log fold at its version —
      a divergent checkpoint would silently fork every subsequent read,
    - no dangling removes (a remove naming a file never added),
    - unresolved staged commits are reported (informational: WAP
      audits pending publish) in ``staged_pending``.

    Returns ``{"ok": bool, "files_checked": n, "errors": [...],
    "staged_pending": [...], "checks_skipped": bool}`` — report, don't
    raise: an auditor must enumerate EVERY problem, not stop at the
    first. ``checks_skipped`` is True on the early-return paths (no
    table, log gap, unreadable entry) where the file/schema/checkpoint
    checks never ran — absence of errors there is NOT health.
    """
    # staged_pending needs a log fold — fill it AFTER the coherence
    # checks below prove the log is foldable (round-9: a corrupt entry
    # crashed the audit right here, before any check could report it).
    # checks_skipped flags the early-return paths where the file/
    # schema/checkpoint checks never ran — without it a consumer
    # cannot tell "no staged writes, nothing else wrong" from "not
    # checked" (round-9 review), in tension with the enumerate-every-
    # problem contract.
    report: dict = {"ok": True, "files_checked": 0, "errors": [],
                    "staged_pending": [], "checks_skipped": False}
    vs = versions(table)
    if not vs:
        report["ok"] = False
        report["errors"].append(f"not a table: {table}")
        report["checks_skipped"] = True
        return report
    head = vs[-1]

    # log contiguity: a MISSING middle version would make every fold
    # silently skip it and serve a state no writer ever committed —
    # the worst failure mode an audit exists to catch (round-9 review:
    # versions() lists what's present; nothing else checked for gaps)
    missing_vs = sorted(set(range(0, head + 1)) - set(vs))
    if missing_vs:
        report["errors"].append(
            f"log gap: missing version(s) {missing_vs[:10]}"
            + ("…" if len(missing_vs) > 10 else "")
        )
        report["ok"] = False
        # a missing PREFIX corrupts the fold exactly like a missing
        # middle version (round-9 review follow-up: the early return
        # must apply to both, or every downstream check cascades bogus
        # errors off a truncated fold)
        report["checks_skipped"] = True
        return report

    # log coherence: every entry parses, adds/removes pair up. A
    # truncated/corrupt entry is REPORTED, not raised — an FSCK that
    # crashes on the corruption it audits is useless at 3 am.
    seen_adds: set = set()
    for v in vs:
        try:
            e = _read_entry(table, v)
        except Exception as exc:  # noqa: BLE001 — auditing, not crashing
            report["errors"].append(f"unreadable log entry v{v}: {exc}")
            report["ok"] = False
            report["checks_skipped"] = True
            return report  # folds below would diverge from reality
        for a in e.get("add", []):
            seen_adds.add(a["file"])
        for r in e.get("remove", []):
            if r not in seen_adds:
                report["errors"].append(
                    f"v{v}: remove of never-added file {r}"
                )
    snap = _snapshot(table, head)
    report["staged_pending"] = sorted(snap.staged)

    # schema parses
    sch = None
    try:
        sch = snap.schema
    except Exception as exc:  # noqa: BLE001 — auditing, not crashing
        report["errors"].append(f"schema unreadable: {exc}")
    # footers carry PHYSICAL names; dropped columns' retired physical
    # names remain legitimately inside old immutable files
    sch_cols = None
    if sch is not None:
        sch_cols = {snap.mapping.get(f.name, f.name) for f in sch.fields} | set(
            snap.retired
        )

    # live files: existence + footer row count + stats sanity + columns
    for a in snap.files:
        report["files_checked"] += 1
        path = _abs(table, a["file"])
        if not os.path.exists(path):
            report["errors"].append(f"missing data file: {a['file']}")
            continue
        try:
            md = pq.ParquetFile(path).metadata
        except Exception as exc:  # noqa: BLE001
            report["errors"].append(f"unreadable footer: {a['file']}: {exc}")
            continue
        if "rows" in a and md.num_rows != a["rows"]:
            report["errors"].append(
                f"row-count drift: {a['file']} log={a['rows']} "
                f"footer={md.num_rows}"
            )
        if "min_key" in a and "max_key" in a:
            lo, hi = a["min_key"], a["max_key"]
            try:
                if type(lo) is type(hi) and lo > hi:
                    report["errors"].append(
                        f"inverted key stats: {a['file']} [{lo}, {hi}]"
                    )
            except TypeError:
                pass  # mixed-generation stats: comparison not defined
        if sch_cols is not None:
            # top-level field names via the arrow schema (ParquetSchema
            # flattens nested paths; arrow keeps the logical columns)
            extra = set(md.schema.to_arrow_schema().names) - sch_cols
            if extra:
                report["errors"].append(
                    f"columns outside log schema: {a['file']}: {sorted(extra)}"
                )

    # checkpoint replay-equality at its own version
    ck = _latest_checkpoint(table, head)
    if ck is not None:
        ck_version, ck_state = ck
        scratch = _empty_state()
        for v in vs:
            if v > ck_version:
                break
            scratch = _fold_entry(scratch, _read_entry(table, v))
        # Compare the FULL folded state, field by field — a checkpoint
        # whose mapping/retired/key/constraints/partition/zorder/staged
        # diverged from the replay would alias columns (or admit
        # colliding names, or mis-partition writes) on checkpoint-seeded
        # reads while passing a live/schema/tombstones-only check
        # (round-8 review).
        diverged = [
            fld
            for fld in scratch
            if scratch.get(fld) != ck_state.get(fld)
        ]
        if diverged:
            report["errors"].append(
                f"checkpoint@v{ck_version} diverges from log replay "
                f"in {sorted(diverged)}"
            )

    report["ok"] = not report["errors"]
    return report


def read_cdc_state(
    spark: SparkSession, table: str, version: int | None = None
) -> DataFrame:
    """Live CDC state: ``read`` minus retained delete tombstones (and
    the hidden flag column) — what a consumer of an apply_changes
    target queries."""
    return (
        read(spark, table, version)
        .where(~F.col(CDC_DELETED_COL))
        .drop(CDC_DELETED_COL)
    )


def _latest_changes(
    source: DataFrame, key: str, seq_cols: list, op_col: str
) -> DataFrame:
    """Latest change per key: max over struct(seq_cols..., remaining
    columns) — deterministic even under seq ties (full-row
    lexicographic tie-break), skew-proof (partial aggregation)."""
    rest = [c for c in source.columns if c != key and c not in seq_cols]
    agg = source.groupBy(key).agg(
        F.max(F.struct(*seq_cols, *rest)).alias("__last")
    )
    return agg.select(
        key, *[F.col(f"__last.{c}").alias(c) for c in seq_cols + rest]
    )


def restore(table: str, to_version: int) -> int:
    """RESTORE TABLE ... TO VERSION AS OF — roll the HEAD back to an
    earlier snapshot as a NEW forward commit (Delta semantics: history
    is never rewritten, so the bad versions stay auditable and
    time-travelable and a second restore can undo the first).

    Pure metadata: the live set of ``to_version`` is re-declared by
    REFERENCE — files live at both HEAD and the target stay untouched,
    files dropped since the target are re-added, files added since are
    removed. No data file is read, written, or moved, which is what
    makes restore O(log) instead of O(table) at any scale.
    """
    snap = _snapshot(table)
    target_snap = _snapshot(table, to_version)
    target, head = target_snap.live, snap.live
    # a vacuumed-away snapshot must fail HERE with a clear message, not
    # later at scan time with a missing-file error on a "healthy" HEAD
    gone = [f for f in target if not os.path.exists(_abs(table, f))]
    if gone:
        raise FileNotFoundError(
            f"cannot restore {table} to v{to_version}: {len(gone)} data "
            f"file(s) were vacuumed past the retention horizon (e.g. {gone[0]})"
        )
    v = snap.version + 1
    # Re-declare the ENTIRE table state of to_version, not just its
    # file set (round-7 review): schema (a post-target REPLACE would
    # otherwise make read() null-fill every restored column), CHECK
    # constraints, tombstone state (pending deletes from the bad era
    # must not keep anti-filtering restored rows — the restored era's
    # own pending tombstones are re-declared), the column mapping and
    # retired physical names (restoring across a RENAME/DROP would
    # otherwise leave the stale mapping in the fold: the schema-merge
    # guard then admits a new column whose name aliases old file data,
    # and every later write crashes on the phantom collision — round-8
    # review repro), and the physical layout spec (partition/zorder).
    entry = {
        "version": v,
        "timestamp": time.time(),
        "operation": f"RESTORE AS OF {to_version}",
        "key": target_snap.key,
        "constraints": target_snap.constraints,
        "tombstones_cleared": True,
        "tombstones": target_snap.tombstones,
        "column_mapping": target_snap.mapping,
        "retired_physical": target_snap.retired,
        "partition_by": target_snap.partition_by,
        "zorder_by": target_snap.zorder_by,
        "add": [a for f, a in target.items() if f not in head],
        "remove": [f for f in head if f not in target],
    }
    if target_snap.schema_json:
        entry["schema_json"] = target_snap.schema_json
    _commit_exclusive(table, entry)
    return v


def clone_table(source: str, dest: str, version: int | None = None) -> int:
    """SHALLOW CLONE (Delta CLONE semantics): ``dest`` becomes a new
    table whose v0 references ``source``'s live data files at
    ``version`` BY ABSOLUTE PATH — zero bytes copied, O(log) metadata.
    This is the dev/test branching primitive: at 100 TB a full copy is
    days of IO; a clone is one commit.

    Divergence is copy-on-write by construction: DML on the clone drops
    REFERENCES and writes files into the clone's own data dir (the
    source is never touched); writes to the source after the clone are
    invisible to the clone (its v0 pinned the file list). The clone
    carries the source's full table contract at the clone point —
    schema, key, CHECK constraints, declared partitioning, Z-order
    clustering, and PENDING merge-on-read tombstones (omitting those
    would resurrect logically deleted rows, e.g. an acknowledged
    erasure).

    CAVEAT (same as Delta shallow clones): VACUUMing the SOURCE past
    files a clone still references breaks the clone's reads — vacuum
    only walks a table's own data dir, so the clone's own VACUUM can
    never delete source bytes, but the reverse discipline is on the
    operator.
    """
    snap = _snapshot(source, version)
    if versions(dest):
        raise ValueError(f"clone target already exists: {dest}")
    adds = []
    for a in snap.files:
        b = dict(a)
        b["file"] = os.path.abspath(_abs(source, a["file"]))
        adds.append(b)
    entry: dict = {
        "version": 0,
        "timestamp": time.time(),
        "operation": f"CLONE {os.path.abspath(source)} AS OF {snap.version}",
        "key": snap.key,
        "constraints": snap.constraints,
        "tombstones": snap.tombstones,
        "partition_by": snap.partition_by,
        "add": adds,
        "remove": [],
    }
    if snap.schema_json:
        entry["schema_json"] = snap.schema_json
    if snap.zorder_by:
        entry["zorder_by"] = snap.zorder_by
    if snap.mapping:
        # referenced files carry the SOURCE's physical names: the clone
        # inherits the column mapping or its reads would null out every
        # renamed column
        entry["column_mapping"] = snap.mapping
    if snap.retired:
        entry["retired_physical"] = snap.retired
    try:
        _commit(dest, entry)
    except CommitConflict:
        # two racing clones to the same dest: the loser's condition IS
        # "target already exists" — surface the typed API error, not
        # the raw commit-protocol conflict
        raise ValueError(f"clone target already exists: {dest}") from None
    return 0


def vacuum_retain(table: str, retain_last: int) -> int:
    """Retention-bounded VACUUM: delete data files reachable ONLY from
    versions older than the last ``retain_last`` — the real Delta
    trade (reclaim storage, give up time travel past the horizon).
    The log entries themselves are kept (history stays auditable);
    reading a vacuumed-away snapshot fails at scan time, as in Delta.
    ``vacuum`` (below) is the conservative variant that preserves the
    FULL history and only drops never-committed staging orphans."""
    if retain_last < 1:
        raise ValueError("retain_last must be >= 1")
    vs = versions(table)
    keep: set[str] = set()
    for v in vs[-retain_last:]:
        for a in live_files(table, v):
            keep.add(a["file"])
    # unresolved WAP-staged files are pre-publish data, not garbage
    for adds in _snapshot(table).staged.values():
        for a in adds:
            keep.add(a["file"])
    data_dir = os.path.join(table, _DATA_DIR)
    n = 0
    for f in os.listdir(data_dir):
        if f.endswith(".parquet") and f not in keep:
            os.remove(os.path.join(data_dir, f))
            n += 1
    return n


def vacuum(table: str) -> int:
    """Conservative VACUUM: :func:`vacuum_retain` over every version, so
    only files live at NO version (failed stagings) go and time travel
    across the full history keeps working. Returns the number of files
    deleted."""
    return vacuum_retain(table, len(versions(table)))


_ZORDER_BITS = 16


def _zorder_column(df: DataFrame, cols: list[str]) -> DataFrame:
    """Append ``__z``: the Morton (bit-interleaved) code of ``cols``,
    each normalized to a 16-bit bucket by its global min/max (one tiny
    agg, broadcast back). Range-partitioning + sorting on __z clusters
    files along the space-filling curve, so per-file min/max stats stay
    tight on EVERY zorder dimension at once — the Delta OPTIMIZE ZORDER
    design. Bucket math is exact integer arithmetic."""
    rng = df.agg(
        *[F.min(c).alias(f"__lo_{c}") for c in cols],
        *[F.max(c).alias(f"__hi_{c}") for c in cols],
    )
    out = df.crossJoin(F.broadcast(rng))
    n = len(cols)
    z = F.lit(0).cast("long")
    for ci, c in enumerate(cols):
        bucket = F.expr(
            f"((cast(`{c}` as long) - cast(`__lo_{c}` as long)) "
            f"* {(1 << _ZORDER_BITS) - 1}) div "
            f"greatest(1L, cast(`__hi_{c}` as long) - cast(`__lo_{c}` as long))"
        )
        for j in range(_ZORDER_BITS):
            z = z + F.shiftleft(
                F.shiftright(bucket, j).bitwiseAND(F.lit(1)), j * n + ci
            )
    return out.withColumn("__z", z).drop(
        *[f"__lo_{c}" for c in cols], *[f"__hi_{c}" for c in cols]
    )


def optimize(
    spark: SparkSession,
    table: str,
    key: str | None = None,
    target_rows: int = 1_000_000,
    small_file_rows: int | None = None,
    zorder_by: list[str] | None = None,
) -> int:
    """OPTIMIZE (compaction): bin-pack small live files into ~target_rows
    files, range-clustered on ``key`` so the rewritten files carry TIGHT
    min/max stats (1-D clustering — the same reason Delta's OPTIMIZE
    ZORDER exists: compaction is the moment you get to re-sort data for
    skipping). Data content is unchanged; the commit is a new version
    (remove=small files, add=compacted files), so time travel still sees
    the pre-compaction layout.

    The small-files problem is the dominant operational cost of
    streaming/incremental ingestion at scale: every micro-batch MERGE
    adds O(batch) files, and scan latency degrades with file count, not
    data size. Returns the new version (or the current one if there was
    nothing to compact).

    Granularity note: on a PARTITION-declared table compaction
    clusters along the declared column and emits one file per
    partition-value range (``target_rows`` is not consulted) — right
    for the low-cardinality date/category partitions the declaration
    is meant for; a table whose partitions individually exceed a
    comfortable file size should be z-ordered instead (zorder keeps
    within-partition clustering AND splits by size).
    """
    import math

    snap = _snapshot(table)
    # compaction is the natural rewrite point for merge-on-read debt:
    # pending deferred-delete tombstones materialize first, so the
    # compacted files are clean and readers drop the scan-time filter
    if snap.tombstones:
        materialize_tombstones(spark, table)
        snap = _snapshot(table)
    # scan-back default: an optimize that omits the key must not strip
    # min/max key stats + blooms from every compacted file
    # (pruning-decay, round-7 review)
    key = key or snap.key
    threshold = small_file_rows if small_file_rows is not None else target_rows // 2
    small = [a for a in snap.files if a["rows"] < threshold]
    if len(small) <= 1:
        return snap.version

    # log-schema read, NOT a footer read: compacting a schema-evolved
    # table from one file's footer would write the compacted files
    # without the evolved columns — silent, permanent data loss (the
    # round-7 review catch; regression-pinned in tests/test_lakehouse)
    df = _read_files(spark, snap, small, with_tombstones=False)
    total = sum(a["rows"] for a in small)
    nfiles = max(1, math.ceil(total / target_rows))
    part_col = snap.partition_by
    if zorder_by and part_col is not None and part_col in df.columns:
        # Delta semantics: ZORDER clusters WITHIN partitions — a global
        # z-sort across partition values would widen every file's
        # partition range and erase the declared layout
        n_part = max(df.select(part_col).distinct().count(), 1)
        df = (
            _zorder_column(df, zorder_by)
            .repartitionByRange(n_part, F.col(part_col))
            .sortWithinPartitions(part_col, "__z")
            .drop("__z")
        )
    elif zorder_by:
        df = (
            _zorder_column(df, zorder_by)
            .repartitionByRange(nfiles, F.col("__z"))
            .sortWithinPartitions("__z")
            .drop("__z")
        )
    elif part_col is not None and part_col in df.columns:
        # a PARTITIONED table compacts along its declared clustering
        # (Delta's OPTIMIZE works within partitions): bin-packing small
        # files across partition values would widen every file's
        # partition range and erase the layout the CREATE asked for.
        # Compacted file count = partition-value count (one clustered
        # file per range), not total/target_rows.
        df = _apply_partitioning(df, part_col)
    elif key is not None:
        df = df.repartitionByRange(nfiles, F.col(key))
    else:
        df = df.coalesce(nfiles)
    adds = _stage_files(df, snap, key, stats_cols=zorder_by)

    v = snap.version + 1
    _commit_exclusive(
        table,
        {
            "version": v,
            "timestamp": time.time(),
            "operation": "OPTIMIZE",
            "key": key,
            "zorder_by": zorder_by,
            "partition_by": part_col,
            "add": adds,
            "remove": [a["file"] for a in small],
            "stats": {
                "files_compacted": len(small),
                "files_written": len(adds),
                "rows": total,
            },
        },
    )
    return v


def clustering_depth(
    table: str, col: str | None = None, version: int | None = None
) -> dict:
    """Clustering-health metric (the Delta/Iceberg "clustering depth"):
    the maximum number of live files whose ``col`` min/max ranges
    overlap at a single point. Depth 1 = perfectly range-clustered
    (any point-lookup admits one file); depth N means a worst-case
    point-lookup or range scan must open N files, so skipping has
    decayed N-fold. Pure log metadata — no file I/O.

    Returns ``{"depth": int, "files": int, "files_with_stats": int,
    "clusters": [{"files": [...], "depth": int, "rows": int}, ...]}``
    where clusters are the connected components of interval overlap in
    ascending range order. Files without stats (or with
    incomparable mixed-generation stat types) land in a final
    conservative cluster with depth = its file count — they admit
    every probe, which IS worst-case depth.
    """
    return _clustering_depth(_snapshot(table, version), col)


def _clustering_depth(snap: _Snapshot, col: str | None) -> dict:
    """:func:`clustering_depth` on a snapshot."""
    key_col = snap.key
    if col is None:
        col = key_col
    intervals, statless = [], []
    for a in snap.files:
        rng = _file_range(a, col, key_col) if col is not None else None
        if rng is None:
            statless.append(a)
        else:
            intervals.append((rng[0], rng[1], a))
    try:
        intervals.sort(key=lambda t: (t[0], t[1]))
    except TypeError:
        # mixed stat generations that do not compare: every file is a
        # candidate for every probe — one conservative cluster
        statless += [a for (_, _, a) in intervals]
        intervals = []
    clusters = []
    cur: list = []
    cur_hi = None
    for lo, hi, a in intervals:
        if cur and lo <= cur_hi:
            cur.append((lo, hi, a))
            cur_hi = max(cur_hi, hi)
        else:
            if cur:
                clusters.append(cur)
            cur, cur_hi = [(lo, hi, a)], hi
    if cur:
        clusters.append(cur)

    def _depth(members) -> int:
        # +1 sorts before -1 at equal coordinates: inclusive bounds, a
        # range ending where another starts DOES overlap it
        events = []
        for lo, hi, _ in members:
            events.append((lo, 0))
            events.append((hi, 1))
        events.sort()
        d = best = 0
        for _, kind in events:
            d += 1 if kind == 0 else -1
            best = max(best, d)
        return best

    out = []
    for members in clusters:
        out.append(
            {
                "files": [a["file"] for (_, _, a) in members],
                "depth": _depth(members),
                "rows": sum(a.get("rows", 0) for (_, _, a) in members),
            }
        )
    if statless:
        out.append(
            {
                "files": [a["file"] for a in statless],
                "depth": len(statless),
                "rows": sum(a.get("rows", 0) for a in statless),
            }
        )
    return {
        "depth": max((c["depth"] for c in out), default=0),
        "files": len(intervals) + len(statless),
        "files_with_stats": len(intervals),
        "clusters": out,
    }


def optimize_incremental(
    spark: SparkSession,
    table: str,
    key: str | None = None,
    max_depth: int = 2,
    target_rows: int = 1_000_000,
) -> int:
    """Incremental OPTIMIZE — rewrite ONLY the overlap clusters whose
    clustering depth exceeds ``max_depth``, leaving well-clustered
    files untouched. At 100 TB a full-table OPTIMIZE is not an option;
    the operational loop is: churn (MERGE/append) decays clustering in
    the hot key ranges → ``clustering_depth`` finds the decayed
    regions → this rewrites exactly those regions, range-clustered, in
    one commit. Cost ∝ decayed data, not table size (the same
    churn-not-corpus contract as CDF and the incremental mart
    refresh).

    A rewrite batches every offending cluster in ONE commit (one
    log entry, atomic); each cluster re-splits at ``target_rows``.
    Returns the new version, or the current one when no cluster
    exceeds ``max_depth``.
    """
    import math

    snap = _snapshot(table)
    if snap.tombstones:
        materialize_tombstones(spark, table)
        snap = _snapshot(table)
    key = key or snap.key
    rep = _clustering_depth(snap, key)
    bad = [c for c in rep["clusters"] if c["depth"] > max_depth]
    if not bad:
        return snap.version
    by_name = snap.live
    adds: list[dict] = []
    removed: list[str] = []
    for c in bad:
        members = [by_name[f] for f in c["files"]]
        df = _read_files(spark, snap, members, with_tombstones=False)
        nfiles = max(1, math.ceil(c["rows"] / target_rows))
        if key is not None:
            df = df.repartitionByRange(nfiles, F.col(key)).sortWithinPartitions(
                key
            )
        else:
            df = df.coalesce(nfiles)
        adds += _stage_files(df, snap, key)
        removed += c["files"]
    v = snap.version + 1
    _commit_exclusive(
        table,
        {
            "version": v,
            "timestamp": time.time(),
            "operation": "OPTIMIZE INCREMENTAL",
            "key": key,
            "add": adds,
            "remove": removed,
            "stats": {
                "clusters_rewritten": len(bad),
                "files_rewritten": len(removed),
                "files_carried": len(by_name) - len(removed),
                "depth_before": rep["depth"],
            },
        },
    )
    return v


def delete_where(spark: SparkSession, table: str, predicate: str) -> int:
    """DELETE FROM table WHERE predicate — the Delta DELETE shape (GDPR
    erasure, retention enforcement).

    Touched-file discovery is exact and distributed: live files are read
    with input_file_name(), rows matching the predicate name the files
    to rewrite; every other file carries over by reference. A touched
    file is rewritten WITHOUT its matching rows (dropped entirely when
    nothing survives). At 100 TB a targeted delete rewrites the handful
    of files holding the keys, never the table.
    """
    return _delete_where(spark, _snapshot(table), predicate)


def _delete_where(
    spark: SparkSession,
    snap: _Snapshot,
    predicate: str,
    clear_tombstones: bool = False,
    candidate_keys: list | None = None,
) -> int:
    """:func:`delete_where` on a snapshot. ``materialize_tombstones``
    sets ``clear_tombstones`` so the rewrite and the tombstone-list
    clear land in ONE atomic commit, and passes the tombstoned keys as
    ``candidate_keys``: key-list deletes bound the discovery scan with
    the log's blooms + key stats — O(candidate files), not O(table);
    sound because a bloom never rejects a present key. Arbitrary
    predicates still scan all live files."""
    live = snap.files
    scan = _files_maybe_containing(spark, snap, candidate_keys) if candidate_keys else live
    # log-schema reads (footer schema would drop evolved columns from
    # the rewritten files); raw tombstone view — materialization must
    # SEE the rows it deletes
    if scan:
        tagged = _read_files(spark, snap, scan, with_tombstones=False).withColumn(
            "__f", F.input_file_name()
        )
        hit_files = {
            os.path.basename(r["__f"])
            for r in tagged.where(predicate).select("__f").distinct().collect()
        }
    else:
        hit_files = set()
    # basename match (see merge_into: clone actions are absolute paths)
    touched = [a for a in live if os.path.basename(a["file"]) in hit_files]
    # the snapshot's scan-back key, not the last entry's: a metadata-only
    # commit before this delete must not strip min/max key stats +
    # blooms from the rewritten files (they feed MERGE file pruning
    # forever after)
    key = snap.key

    adds: list[dict] = []
    n_deleted = 0
    if touched:
        tdf = _read_files(spark, snap, touched, with_tombstones=False)
        kept = tdf.where(f"not ({predicate})")
        n_kept = kept.count()
        n_deleted = sum(a["rows"] for a in touched) - n_kept
        if n_kept:
            adds = _stage_files(kept, snap, key)

    v = snap.version + 1
    entry = {
        "version": v,
        "timestamp": time.time(),
        "operation": "DELETE",
        "key": key,
        "predicate": predicate,
        "add": adds,
        "remove": [a["file"] for a in touched],
        "stats": {
            "files_touched": len(touched),
            "files_untouched": len(live) - len(touched),
            "rows_deleted": n_deleted,
        },
    }
    if clear_tombstones:
        entry["operation"] = "MATERIALIZE TOMBSTONES"
        entry["tombstones_cleared"] = True
    _commit_exclusive(snap.table, entry)
    return v


def table_changes(
    spark: SparkSession,
    table: str,
    from_version: int,
    to_version: int | None = None,
    key: str | None = None,
    include_preimage: bool = False,
) -> DataFrame:
    """Change data feed between two versions: one row per logically
    changed key with ``_change_type`` ∈ insert / delete /
    update_postimage (Delta CDF semantics; updates carry the post-image
    row, deletes the pre-image).

    Only files that ENTERED or LEFT the live set between the versions
    are read — rows in carried-over files cannot have changed, and
    rows merely moved by OPTIMIZE/MERGE carry-over cancel out via a
    full-outer join on key with a whole-row hash equality check. At
    100 TB the CDF cost scales with the churn, not the table.
    """
    old_snap, new_snap = _snapshot(table, from_version), _snapshot(table, to_version)
    key = key or new_snap.key
    if key is None:
        raise ValueError("table_changes requires a key column")
    old_only = sorted(set(old_snap.live) - set(new_snap.live))
    new_only = sorted(set(new_snap.live) - set(old_snap.live))

    schema = _read_live(spark, old_snap).schema
    cols = [f.name for f in schema.fields]

    def _side(files: list[str], snap: _Snapshot) -> DataFrame:
        if not files:
            return spark.createDataFrame([], schema)
        # each side reads under ITS version's log schema (footer
        # inference breaks on schema-evolved tables: a pre-evolution
        # file lacks the evolved column and the select below would
        # raise; the log schema null-fills it — round-7 review)
        s = snap.schema or schema
        df = spark.read.schema(_physical_schema(s, snap.mapping)).parquet(
            *[_abs(table, f) for f in files]
        )
        return _map_to_logical(df, s, snap.mapping)

    rowhash = F.md5(F.to_json(F.struct(*[F.col(c) for c in sorted(cols)])))
    old = _side(old_only, old_snap).select(
        F.col(key).alias("__k"),
        rowhash.alias("__oh"),
        *[F.col(c).alias(f"__o_{c}") for c in cols],
    )
    new = _side(new_only, new_snap).select(
        F.col(key).alias("__k"),
        rowhash.alias("__nh"),
        *[F.col(c).alias(f"__n_{c}") for c in cols],
    )
    j = old.join(new, "__k", "full_outer")
    change = (
        F.when(F.col("__oh").isNull(), F.lit("insert"))
        .when(F.col("__nh").isNull(), F.lit("delete"))
        .when(F.col("__oh") != F.col("__nh"), F.lit("update_postimage"))
    )
    # post-image for insert/update, pre-image for delete — selected per
    # SIDE, not per column (a legitimately-NULL new value must not fall
    # back to the old value)
    picked = [
        F.when(F.col("__nh").isNotNull(), F.col(f"__n_{c}"))
        .otherwise(F.col(f"__o_{c}"))
        .alias(c)
        for c in cols
    ]
    out = (
        j.withColumn("_change_type", change)
        .where(F.col("_change_type").isNotNull())
        .select(*picked, "_change_type")
    )
    if include_preimage:
        # Delta emits update_preimage alongside update_postimage; the
        # pre-image carries the OLD column values — consumers that
        # track a derived grouping (incremental view maintenance) need
        # it to see the group a row LEFT, not only the one it joined
        # (round-7 review: a group_key reassignment left the old
        # group's mart row permanently stale without this)
        pre = (
            j.where(
                F.col("__oh").isNotNull()
                & F.col("__nh").isNotNull()
                & (F.col("__oh") != F.col("__nh"))
            )
            .select(
                *[F.col(f"__o_{c}").alias(c) for c in cols],
                F.lit("update_preimage").alias("_change_type"),
            )
        )
        out = out.unionByName(pre)
    return out
