"""Snapshot-manifest table: immutable Parquet data files + JSON manifests.

Reproduces the Iceberg table semantics the reference depends on
(SURVEY.md §2.1 S6-S15) without the Iceberg runtime:

- every write commits a new *snapshot* — a manifest JSON listing the
  exact set of live data files (manifests are driver-side metadata,
  as in Iceberg);
- data files are immutable and written by Spark executors; commits
  are an atomic pointer swap (``CURRENT`` via ``os.replace``);
- time travel = read any snapshot's file set; incremental
  ("changelog") read = file-set difference between two snapshots
  (reference scripts/bronze-silver.py:149-152);
- partitioned layout is Hive-style ``col=value`` directories so
  Spark's partition discovery prunes directories on read;
- optimistic concurrency: a commit fails if another writer advanced
  ``CURRENT`` since the operation began (single-writer per table is
  the reference's operating model).

Scale: the only driver-side state is the file list per snapshot
(O(#files), like an Iceberg manifest list). Row data never reaches
the driver. On a real cluster the same layout works on any Hadoop
filesystem; local ``os`` calls are the offline stand-in for the
FileSystem API.
"""

from __future__ import annotations

import json
import operator
import os
import re
import shutil
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from decimal import Decimal
from pathlib import Path
from typing import Iterable

from pyspark.logger import PySparkLogger
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import schema_from_json, schema_to_json
from ..session import local_frame
from .transforms import parse_spec, partition_signature, partition_values

SNAPSHOT_DIR = "snapshots"
DATA_DIR = "data"
CURRENT_PTR = "CURRENT"
REFS_FILE = "REFS"
MAIN_BRANCH = "main"


@contextmanager
def _quiet_probe():
    """Scope PySpark's Python-side query-context loggers above ERROR.

    The analyzer-gate probes below (the file-pruning statements,
    ``metadata_aggregate``'s WHERE decidability gate) EXPECT
    resolution failures on their bail path — that is the whole
    point of asking Spark's analyzer instead of hand-walking the
    expression. But PySpark 4 logs every query-context exception at
    ERROR through ``SQLQueryContextLogger`` /
    ``DataFrameQueryContextLogger`` (``pyspark/errors/exceptions/
    base.py`` ``_log_exception``) at exception-construction time,
    before the caller can catch it — so an expected, handled bail
    prints a full UNRESOLVED_COLUMN stack trace and trains operators
    to ignore real errors. Raising those two loggers to CRITICAL for
    the probe's duration silences exactly that spam; the exception
    itself still propagates and the analyzer remains the gate.

    Reentrancy: silencing is a per-probe ``logging.Filter`` added and
    removed around the scope — never a save/restore of the loggers'
    global levels, which two nested/concurrent probes could interleave
    into permanently restoring CRITICAL as the "previous" level and
    silencing real error contexts for the rest of the session."""
    names = ("SQLQueryContextLogger", "DataFrameQueryContextLogger")
    # through PySparkLogger: the first call creates the logger, and a
    # plain logging.Logger rejects the errorClass= keyword PySpark logs
    # with, turning every later AnalysisException into a TypeError
    lgs = [PySparkLogger.getLogger(n) for n in names]

    def _mute(_record):
        return False

    for lg in lgs:
        lg.addFilter(_mute)
    try:
        yield
    finally:
        for lg in lgs:
            lg.removeFilter(_mute)


def _word_refs(expr_text: str, names: Iterable[str]) -> list[str]:
    """Names from ``names`` that appear as whole words in
    ``expr_text`` — the same over-approximation of column references
    the analyzer probes use (a string literal containing a column
    name is a false positive, which only makes the callers MORE
    conservative, never less)."""
    return [
        c
        for c in names
        if re.search(
            rf"(?<![A-Za-z0-9_`]){re.escape(c)}(?![A-Za-z0-9_`])",
            expr_text,
        )
    ]


@dataclass
class Snapshot:
    version: int
    snapshot_id: int
    parent_id: int | None
    timestamp_ms: int
    operation: str  # create | append | overwrite | merge | delete
    files: list[str]  # relative to <table>/data/
    added_files: list[str]
    removed_files: list[str]
    schema_json: str
    partition_by: list[str]
    properties: dict[str, str]
    summary: dict[str, int] = field(default_factory=dict)
    # per-file column stats for manifest-level file skipping:
    # rel path -> {col: [min, max, null_count, num_values]} with
    # min/max as castable strings (None when the column is all-null in
    # the file). Stored whole per snapshot for simplicity; a
    # production implementation shards this into manifest files the
    # way Iceberg does, but the SKIPPING semantics (scan planning
    # reads stats, not data) are identical.
    stats: dict[str, dict] = field(default_factory=dict)
    # live POSITION-delete files (rel to data/): parquet files of
    # (file_name string, pos long) rows naming physically-deleted rows
    # of the files in ``files``. The engine's one merge-on-read
    # representation (Iceberg v2 position deletes, content=1), written
    # by MOR DELETE, UPDATE and MERGE alike. Absent in pre-upgrade
    # snapshot JSON -> default [] (backward compatible).
    delete_files: list[str] = field(default_factory=list)

    def to_json(self) -> str:
        return json.dumps(self.__dict__, indent=0)

    @staticmethod
    def from_json(text: str) -> "Snapshot":
        return Snapshot(**json.loads(text))


def _split_conjuncts(s: str) -> list[str]:
    """Top-level AND conjuncts of a SQL boolean expression (quote- and
    paren-aware, ``''`` escapes respected)."""
    parts, depth, quote, start = [], 0, None, 0
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if quote:
            if ch == quote:
                if i + 1 < n and s[i + 1] == quote:
                    i += 2
                    continue
                quote = None
        elif ch in ("'", '"'):
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif (
            depth == 0
            and ch in "aA"
            and (i == 0 or not (s[i - 1].isalnum() or s[i - 1] == "_"))
            and re.match(r"AND\b", s[i:], re.I)
        ):
            parts.append(s[start:i])
            i += 3
            start = i
            continue
        i += 1
    parts.append(s[start:])
    return [p.strip() for p in parts if p.strip()]


def _unwrap_conjunct(conj: str) -> str:
    """One conjunct without the parentheses wrapped around all of it,
    stripped while what they enclose is still a single conjunct."""
    c = conj.strip()
    while c.startswith("(") and c.endswith(")"):
        inner = c[1:-1].strip()
        if _split_conjuncts(inner) != [inner]:
            break
        c = inner
    return c


# the side of a ``col <op> literal`` conjunct that may prune files: a
# plain literal (a signed number, a string, TRUE/FALSE/NULL), a typed
# DATE/TIMESTAMP literal, or a CAST of one of those. It is evaluated
# once, when files are planned, so a column, a clock read or a random
# draw never qualifies.
_LITERAL_RE = re.compile(
    r"[-+]?\s*(?:\d+\.?\d*|\.\d+)(?:E[-+]?\d+)?(?:BD|[LSYDF])?"
    r"|(?:(?:DATE|TIMESTAMP(?:_NTZ|_LTZ)?)\s*)?"
    r"(?:'(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\")"
    r"|TRUE|FALSE|NULL",
    re.I | re.S,
)
_CAST_RE = re.compile(
    r"CAST\s*\((.+)\s+AS\s+\w+(?:\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?\s*\)",
    re.I | re.S,
)


def _is_literal(text: str) -> bool:
    """True when ``text`` is a literal side under ``_LITERAL_RE`` and
    ``_CAST_RE``, parenthesised or not."""
    t = text.strip()
    while t.startswith("(") and t.endswith(")"):
        t = t[1:-1].strip()
    if m := _CAST_RE.fullmatch(t):
        return _is_literal(m.group(1))
    return _LITERAL_RE.fullmatch(t) is not None


# ``col <op> literal`` and ``literal <op> col``, where ``col`` is a plain
# or backquoted identifier, optionally qualified by one more
_IDENT = r"(?:`(?:[^`]|``)+`|[A-Za-z_]\w*)"
_COL_REF = rf"{_IDENT}(?:\s*\.\s*{_IDENT})?"
_CMP_OP = r"(<=|>=|!=|<>|==|=|<|>)"
_COL_CMP_RE = re.compile(rf"^\s*({_COL_REF})\s*{_CMP_OP}\s*(.+?)\s*$", re.S)
_CMP_COL_RE = re.compile(rf"^\s*(.+?)\s*{_CMP_OP}\s*({_COL_REF})\s*$", re.S)
_FLIP = {"<": ">", ">": "<", "<=": ">=", ">=": "<="}


def _column_of(
    ref: str, fields: list[T.StructField], qualifier: str | None
) -> T.StructField | None:
    """The one field of ``fields`` that ``ref`` names under Spark's
    default case-insensitive resolution, qualified only by
    ``qualifier`` and only when that names no field (a struct field
    ``s.k`` is not column ``k``); None otherwise."""
    *qual, name = [
        p[1:-1].replace("``", "`") if p.startswith("`") else p
        for p in re.findall(_IDENT, ref.lower())
    ]
    names = [f.name.lower() for f in fields]
    if qual and (qual[0] != (qualifier or "").lower() or qual[0] in names):
        return None
    return fields[names.index(name)] if names.count(name) == 1 else None


def _literal_comparisons(
    condition: str,
    fields: list[T.StructField],
    qualifier: str | None = None,
) -> list[tuple[T.StructField, str, str]]:
    """``(field, op, literal)`` for each AND-conjunct of ``condition``
    shaped ``col <op> literal`` or ``literal <op> col`` (flipped to
    read column first): ``col`` resolves by ``_column_of`` and the
    other side passes ``_is_literal``, a quoted one for a string
    column (Spark compares ``s = 1`` as numbers, so ``'01'`` matches
    it). The one parse behind the stats and bloom file pruning steps;
    a conjunct it leaves out keeps every file."""
    out = []
    for conj in _split_conjuncts(condition):
        c = _unwrap_conjunct(conj)
        for rx, col, lit, flip in (
            (_COL_CMP_RE, 1, 3, {}), (_CMP_COL_RE, 3, 1, _FLIP)
        ):
            if not (m := rx.match(c)):
                continue
            f, side = _column_of(m.group(col), fields, qualifier), m.group(lit)
            if f and _is_literal(side) and (
                not isinstance(f.dataType, T.StringType)
                or side.lstrip()[0] in "'\""
            ):
                out.append((f, flip.get(m.group(2), m.group(2)), side))
                break
    return out


def _list_parquet(root: Path) -> list[str]:
    out = []
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                out.append(str(Path(dirpath, n).relative_to(root)))
    return sorted(out)


def _file_rows(path: Path) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


# Spark types whose Parquet footer min/max are trusted for skipping.
# Strings are excluded on purpose: writers may TRUNCATE string stats,
# and a truncated max is an upper bound only under prefix semantics —
# Iceberg handles that with explicit truncate(N) transforms; skipping
# on full-fidelity numeric/temporal stats is always sound.
_STATS_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
    T.DateType, T.TimestampType, T.TimestampNTZType, T.BooleanType,
)


def _is_float_nan(v) -> bool:
    import math

    return isinstance(v, float) and math.isnan(v)


def _group_key(v):
    """Python dict key that groups ``v`` as Spark's GROUP BY does: every
    NaN is one group (float equality already merges -0.0 with 0.0), and
    binary values become hashable."""
    if _is_float_nan(v):
        return "NaN"
    if isinstance(v, bytearray):
        return bytes(v)
    return v


def _sql_ident(name: str) -> str:
    """``name`` as a quoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _sql_type(dt: T.DataType) -> str:
    """``dt`` as Spark SQL type text, struct field names quoted."""
    if isinstance(dt, T.StructType):
        return "STRUCT<" + ", ".join(
            f"{_sql_ident(f.name)}: {_sql_type(f.dataType)}" for f in dt.fields
        ) + ">"
    if isinstance(dt, T.ArrayType):
        return f"ARRAY<{_sql_type(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"MAP<{_sql_type(dt.keyType)}, {_sql_type(dt.valueType)}>"
    return dt.simpleString()


def _sql_string(s: str | None) -> str:
    """``s`` as a Spark SQL string expression, whatever its characters
    and whatever the session's string-literal escaping setting."""
    if s is None:
        return "CAST(NULL AS STRING)"
    return f"CAST(X'{s.encode().hex()}' AS STRING)"


# Stats-format version stamped into every per-file stats entry under
# the reserved ":stats_version:" key (":" can never collide with a
# column identifier). Version 2 = the NaN-aware fold: a float/double
# column entry only EXISTS when the file is provably NaN-free.
# Entries WITHOUT the stamp were committed by a pre-NaN-aware engine,
# so their float/double bounds may silently exclude NaN — readers
# must refuse them for float/double MIN/MAX and file skipping
# (COUNT(*) and non-float columns are unaffected). Re-append/compact
# refreshes the stamp.
STATS_VERSION = 2
_NAN_AWARE_STATS_VERSION = 2


def _stats_nan_aware(st: dict) -> bool:
    try:
        return (
            int(st.get(":stats_version:", 1)) >= _NAN_AWARE_STATS_VERSION
        )
    except (TypeError, ValueError):
        return False


def _delete_file_stats(path: Path) -> dict:
    """Manifest record for a POSITION-delete file: total delete rows
    and the per-target-data-file breakdown (by the basename the
    delete rows store). Read ONCE at commit — O(rows in the delete
    file), i.e. proportional to the delete itself — so COUNT(*)
    under MOR deletes stays a zero-IO manifest fold at query time."""
    import collections

    import pyarrow.parquet as pq

    tbl = pq.read_table(path, columns=["file_name"])
    counts = collections.Counter(tbl.column("file_name").to_pylist())
    return {
        ":rows:": tbl.num_rows,
        ":by_target:": {k: int(v) for k, v in counts.items()},
    }


def _footer_bounds(st, dtype: T.DataType) -> tuple:
    """(min, max) of one column chunk's footer statistics. pyarrow
    cannot decode a decimal stored as INT32/INT64 (Spark's layout up to
    precision 18), so those bounds are scaled from the raw unscaled
    integers."""
    if isinstance(dtype, T.DecimalType) and st.physical_type in (
        "INT32", "INT64"
    ):
        return tuple(
            Decimal(v).scaleb(-dtype.scale) for v in (st.min_raw, st.max_raw)
        )
    return st.min, st.max


def _stats_str(v) -> str:
    # a Decimal's str() turns exponential below 1E-6 ("1E-10")
    return format(v, "f") if isinstance(v, Decimal) else str(v)


def _file_column_stats(path: Path, schema: T.StructType) -> dict:
    """Per-column [min, max, null_count, num_values] from the Parquet
    FOOTER (no data pages read) for stats-eligible top-level columns.

    Values are serialized as plain strings the engine later try_casts
    back through the declared column type (``_prune_files_by_stats``),
    so no hand-rolled comparator can disagree with Spark. Columns with
    incomplete row-group stats are omitted (conservative: no entry =
    never skipped on that column)."""
    import pyarrow.parquet as pq

    eligible = {
        f.name: f.dataType
        for f in schema.fields
        if isinstance(f.dataType, _STATS_TYPES)
    }
    md = pq.ParquetFile(path).metadata
    agg: dict[str, list] = {}
    broken: set[str] = set()
    for rg_i in range(md.num_row_groups):
        rg = md.row_group(rg_i)
        for c_i in range(rg.num_columns):
            col = rg.column(c_i)
            name = col.path_in_schema
            if name not in eligible or name in broken or "." in name:
                continue
            st = col.statistics
            if st is None or st.null_count is None:
                broken.add(name)
                continue
            n_vals = st.num_values or 0
            if n_vals > 0 and not st.has_min_max:
                broken.add(name)
                continue
            cur = agg.setdefault(name, [None, None, 0, 0])
            if n_vals > 0:
                try:
                    lo, hi = _footer_bounds(st, eligible[name])
                except Exception:  # bounds pyarrow cannot decode
                    broken.add(name)
                    continue
                # NaN poisons the fold: every Python comparison with
                # NaN is false, so a NaN bound recorded in a LATER row
                # group would be silently dropped and the stored range
                # would exclude a real value. parquet-mr records NaN
                # into float/double bounds when present — treat the
                # column as broken (no entry = never skipped, and
                # metadata_aggregate bails to a real scan).
                if _is_float_nan(lo) or _is_float_nan(hi):
                    broken.add(name)
                    continue
                if cur[0] is None or lo < cur[0]:
                    cur[0] = lo
                if cur[1] is None or hi > cur[1]:
                    cur[1] = hi
            cur[2] += st.null_count
            cur[3] += n_vals + st.null_count
    out = {}
    for name, (lo, hi, nulls, rows) in agg.items():
        if name in broken:
            continue
        try:
            out[name] = [
                None if lo is None else _stats_str(lo),
                None if hi is None else _stats_str(hi),
                nulls,
                rows,
            ]
        except Exception:
            continue
    # Exact file row count (nulls included) under a reserved key no
    # column predicate can ever reference (":" is not a valid
    # identifier char, so the stats pruner's parsed `col` never hits
    # it). Iceberg's data_file record-count needs this even when no
    # column is stats-eligible or every eligible column was broken.
    out[":rows:"] = md.num_rows
    out[":stats_version:"] = STATS_VERSION
    return out


class MetadataAggregateUnsupported(ValueError):
    """Manifest stats cannot answer this aggregate EXACTLY — the
    caller must fall back to a real scan (the same bail-out contract
    Iceberg's aggregate pushdown uses)."""


class Table:
    """One lakehouse table rooted at ``<warehouse>/<namespace>/<name>``."""

    def __init__(self, root: str | Path):
        self.root = Path(root)
        self.data_root = self.root / DATA_DIR
        self.snap_root = self.root / SNAPSHOT_DIR

    # ------------------------------------------------------------------
    # metadata plumbing
    # ------------------------------------------------------------------
    def exists(self) -> bool:
        return (self.root / CURRENT_PTR).exists()

    def _current_version(self) -> int:
        return int((self.root / CURRENT_PTR).read_text().strip())

    def current_snapshot(self) -> Snapshot:
        return self._load(self._current_version())

    def _manifest_path(self, version: int) -> Path:
        return self.snap_root / f"v{version:08d}.json"

    def _manifest_key(self, version: int | None = None) -> tuple | None:
        """Identity of snapshot ``version``'s manifest (default: the
        current one) from one ``os.stat`` and no JSON: the version,
        device, inode, mtime and size. SqlSession keeps planned reads
        under it. A commit writes a new version; a table dropped and
        recreated, or renamed into a freed name, reaches the same
        version through a different manifest file. None when the
        manifest is gone (expired, or the table dropped).

        The recreate case relies on the filesystem: the new manifest
        must differ from the old one in inode or in mtime. A filesystem
        that hands the freed inode straight back and whose timestamps
        are coarser than the time between the drop and the new commit
        would give an equal key when the two manifests are also equal
        in size."""
        try:
            if version is None:
                version = self._current_version()
            st = os.stat(self._manifest_path(version))
        except OSError:
            return None
        return (version, st.st_dev, st.st_ino, st.st_mtime_ns, st.st_size)

    def _load(self, version: int) -> Snapshot:
        return Snapshot.from_json(self._manifest_path(version).read_text())

    def _max_version(self) -> int:
        """Highest snapshot version on disk — branch commits can sit
        ABOVE the main head, so version allocation scans the manifest
        dir rather than trusting CURRENT."""
        vmax = self._current_version() if self.exists() else 0
        if self.snap_root.exists():
            for p in self.snap_root.glob("v*.json"):
                try:
                    vmax = max(vmax, int(p.stem[1:]))
                except ValueError:
                    continue
        return vmax

    def snapshots(self) -> list[Snapshot]:
        """All retained snapshots, including branch snapshots beyond
        the main head (Iceberg's snapshots metadata table lists every
        live snapshot regardless of ref). Expired manifests are
        skipped."""
        out = []
        for v in range(1, self._max_version() + 1):
            p = self._manifest_path(v)
            if p.exists():
                out.append(Snapshot.from_json(p.read_text()))
        return out

    def snapshot_by_id(self, snapshot_id: int) -> Snapshot:
        """One manifest load: every snapshot's id is its version."""
        try:
            return self._load(operator.index(snapshot_id))
        except (OSError, TypeError):
            raise KeyError(
                f"snapshot {snapshot_id} not found under {self.root}"
            ) from None

    @property
    def schema(self) -> T.StructType:
        return schema_from_json(self.current_snapshot().schema_json)

    @property
    def partition_by(self) -> list[str]:
        return list(self.current_snapshot().partition_by)

    @property
    def properties(self) -> dict[str, str]:
        return dict(self.current_snapshot().properties)

    def _commit(self, snap: Snapshot, expected_parent_version: int | None) -> Snapshot:
        """Atomic snapshot commit: write manifest, swap CURRENT pointer."""
        self.snap_root.mkdir(parents=True, exist_ok=True)
        if expected_parent_version is not None and self.exists():
            actual = self._current_version()
            if actual != expected_parent_version:
                raise RuntimeError(
                    f"concurrent commit detected on {self.root}: expected "
                    f"v{expected_parent_version}, found v{actual}"
                )
        self._manifest_path(snap.version).write_text(snap.to_json())
        tmp = self.root / f".CURRENT.{uuid.uuid4().hex}"
        tmp.write_text(str(snap.version))
        os.replace(tmp, self.root / CURRENT_PTR)
        return snap

    # ------------------------------------------------------------------
    # refs: named branches and tags (Iceberg v2 ``refs`` map).
    #
    # ``main`` is implicit — it IS the CURRENT pointer. Every other
    # ref lives in a REFS json file at the table root:
    #   {name: {"snapshot_id": int, "type": "branch" | "tag"}}
    # Branches are writable heads (append/overwrite with ``branch=``
    # move them); tags are immutable audit pointers. Both pin their
    # target snapshot against expire_snapshots and, transitively,
    # their data files against vacuum.
    # ------------------------------------------------------------------
    def refs(self) -> dict[str, dict]:
        p = self.root / REFS_FILE
        if not p.exists():
            return {}
        return json.loads(p.read_text())

    def _write_refs(self, refs: dict[str, dict]) -> None:
        tmp = self.root / f".REFS.{uuid.uuid4().hex}"
        tmp.write_text(json.dumps(refs, indent=0))
        os.replace(tmp, self.root / REFS_FILE)

    def _make_ref(self, name: str, kind: str, snapshot_id: int | None) -> dict:
        if name == MAIN_BRANCH:
            raise ValueError("'main' is the implicit current branch")
        refs = self.refs()
        if name in refs:
            raise ValueError(f"ref {name!r} already exists ({refs[name]['type']})")
        sid = (
            self.current_snapshot().snapshot_id
            if snapshot_id is None
            else self.snapshot_by_id(snapshot_id).snapshot_id
        )
        refs[name] = {"snapshot_id": sid, "type": kind}
        self._write_refs(refs)
        return refs[name]

    def create_branch(self, name: str, snapshot_id: int | None = None) -> dict:
        """``ALTER TABLE t CREATE BRANCH name [AS OF VERSION n]`` —
        a writable head starting at the given (default: current)
        snapshot. The write-audit-publish staging primitive."""
        return self._make_ref(name, "branch", snapshot_id)

    def create_tag(self, name: str, snapshot_id: int | None = None) -> dict:
        """``ALTER TABLE t CREATE TAG name [AS OF VERSION n]`` — an
        immutable named pointer (release/audit marker)."""
        return self._make_ref(name, "tag", snapshot_id)

    def drop_ref(self, name: str) -> None:
        refs = self.refs()
        if name not in refs:
            raise KeyError(f"ref {name!r} not found on {self.root}")
        del refs[name]
        self._write_refs(refs)

    def _resolve_ref(self, name: str) -> Snapshot:
        if name == MAIN_BRANCH:
            return self.current_snapshot()
        refs = self.refs()
        if name not in refs:
            raise KeyError(f"ref {name!r} not found on {self.root}")
        return self.snapshot_by_id(refs[name]["snapshot_id"])

    def _commit_to_branch(self, snap: Snapshot, branch: str,
                          expected_head: int) -> Snapshot:
        """Atomic branch commit: write the snapshot manifest, then CAS
        the ref from ``expected_head`` to the new snapshot id. CURRENT
        (= main) never moves."""
        refs = self.refs()
        if branch not in refs or refs[branch]["type"] != "branch":
            raise KeyError(f"{branch!r} is not a branch on {self.root}")
        if refs[branch]["snapshot_id"] != expected_head:
            raise RuntimeError(
                f"concurrent commit detected on branch {branch!r}: expected "
                f"head {expected_head}, found {refs[branch]['snapshot_id']}"
            )
        self.snap_root.mkdir(parents=True, exist_ok=True)
        self._manifest_path(snap.version).write_text(snap.to_json())
        refs[branch]["snapshot_id"] = snap.snapshot_id
        self._write_refs(refs)
        return snap

    def is_ancestor(self, ancestor_id: int, descendant_id: int) -> bool:
        """True when ``ancestor_id`` is on ``descendant_id``'s parent
        chain (or equal) — the fast-forward eligibility test."""
        by_id = {s.snapshot_id: s for s in self.snapshots()}
        node = by_id.get(descendant_id)
        while node is not None:
            if node.snapshot_id == ancestor_id:
                return True
            node = by_id.get(node.parent_id) if node.parent_id else None
        return False

    def fast_forward(self, branch: str) -> Snapshot:
        """Publish a staged branch: move main to the branch head,
        Iceberg ``CALL system.fast_forward('t', 'main', branch)``.
        Refuses unless main's head is an ancestor of the branch head
        (a true fast-forward — no silent discarding of main commits
        that landed after the branch forked)."""
        head = self._resolve_ref(branch)
        refs = self.refs()
        if branch != MAIN_BRANCH and refs.get(branch, {}).get("type") != "branch":
            raise ValueError(f"{branch!r} is a tag; only branches fast-forward")
        cur = self.current_snapshot()
        if head.snapshot_id == cur.snapshot_id:
            return cur
        if not self.is_ancestor(cur.snapshot_id, head.snapshot_id):
            raise RuntimeError(
                f"cannot fast-forward main to {branch!r}: main moved since "
                f"the branch forked (not an ancestor of the branch head)"
            )
        return self._commit(head, expected_parent_version=cur.version)

    def refs_df(self, spark: SparkSession) -> DataFrame:
        """Metadata table: ``SELECT * FROM t.refs`` (name, type,
        snapshot_id) — main listed first, like Iceberg's refs table."""
        snap = self.current_snapshot()
        rows = [(MAIN_BRANCH, "branch", snap.snapshot_id)]
        for name in sorted(self.refs()):
            r = self.refs()[name]
            rows.append((name, r["type"], r["snapshot_id"]))
        return local_frame(
            spark, rows, "name string, type string, snapshot_id long"
        )

    # ------------------------------------------------------------------
    # writes
    # ------------------------------------------------------------------
    @classmethod
    def create(
        cls,
        root: str | Path,
        schema: T.StructType,
        partition_by: Iterable[str] = (),
        properties: dict[str, str] | None = None,
        replace: bool = False,
    ) -> "Table":
        """Create an (empty) table from a declared schema.

        Engine equivalent of the reference's empty-DataFrame
        ``writeTo(...).tableProperty(...).partitionedBy(...).create()``
        (scripts/bronze-silver.py:171-207). Table properties are set
        here, at CREATE time — fixing the reference's inert v1-writer
        options (SURVEY.md §2.1 S13 caveat).
        """
        t = cls(root)
        if t.exists() and not replace:
            raise FileExistsError(f"table exists: {root}")
        t.root.mkdir(parents=True, exist_ok=True)
        t.data_root.mkdir(parents=True, exist_ok=True)
        version = (t._max_version() + 1) if t.exists() else 1
        snap = Snapshot(
            version=version,
            snapshot_id=version,
            parent_id=None,
            timestamp_ms=time.time_ns() // 1_000_000,
            operation="create",
            files=[],
            added_files=[],
            removed_files=[],
            schema_json=schema_to_json(schema),
            partition_by=list(partition_by),
            properties=dict(properties or {}),
            summary={"added_records": 0, "total_records": 0},
        )
        t._commit(snap, expected_parent_version=None)
        return t

    SORT_ORDER_PROP = "write.sort-order"  # "col [DESC][, ...]"
    DIST_MODE_PROP = "write.distribution-mode"  # "none" | "hash" | "range"

    def _parse_sort_order(self) -> list[tuple[str, bool]]:
        """[(col, is_desc)] from the write.sort-order property."""
        raw = (
            self.properties.get(self.SORT_ORDER_PROP, "")
            if self.exists()
            else ""
        )
        out = []
        for part in raw.split(","):
            toks = part.strip().split()
            if not toks:
                continue
            desc = len(toks) > 1 and toks[1].upper() == "DESC"
            out.append((toks[0], desc))
        return out

    def _write_files(
        self, df: DataFrame, partition_by: list[str], keep_layout: bool = False
    ) -> list[str]:
        """Write df as parquet into the canonical layout; return new rel paths.

        Executors write to a staging dir; the driver then renames the
        produced files into ``data/<part dirs>/<batch>-<name>`` —
        pure metadata ops, O(#files), no data copy on a real
        FileSystem either.

        A partitioned table clusters its rows by partition value
        before writing (``write.distribution-mode = hash``, also the
        default when the property is unset, as in Iceberg's Spark
        writes since 1.2), so each table partition gets ~one file per
        write instead of one per task. ``none`` turns it off.

        A declared ``write.sort-order`` (ALTER TABLE ... WRITE ORDERED
        BY) locally sorts every task's rows before writing — Iceberg's
        default task-scoped sort — so parquet row-group min/max stay
        tight on the order columns and manifest skipping prunes them;
        ``write.distribution-mode = range`` range-partitions on the
        order instead, making whole FILES disjoint on the order key
        (the global-clustering trade: one extra shuffle per write).

        ``keep_layout`` is for compaction, whose callers already
        distribute the rows (range-sorted, z-ordered, a set partition
        count, binpack's coalesce): no partition-value rebalance is
        added, so their files keep the layout they asked for.
        """
        batch = uuid.uuid4().hex[:12]
        staging = self.root / f"_staging-{batch}"
        transforms = parse_spec(list(partition_by))
        for t in transforms:
            if t.hidden:
                df = df.withColumn(
                    t.partition_col, t.expr(df.schema[t.col].dataType)
                )
        dist = self.properties.get(self.DIST_MODE_PROP, "hash")
        if dist == "hash" and transforms and not keep_layout:
            # cluster rows by partition value so each table partition
            # is written by few tasks. Without it every task holding
            # any row of partition P opens a file in P — an append
            # from T tasks across P partitions lands T*P small files,
            # the classic 100 TB small-file explosion; with it, ~P.
            # A rebalance rather than a repartition: AQE coalesces the
            # tiny shuffle partitions and splits a skewed one
            df = df.hint("rebalance", *[t.partition_col for t in transforms])
        order = self._parse_sort_order()
        if order:
            cols = [
                F.col(c).desc() if d else F.col(c).asc() for c, d in order
            ]
            if dist == "range":
                df = df.repartitionByRange(*cols)
            df = df.sortWithinPartitions(*cols)
        writer = df.write.mode("overwrite")
        codec = self.properties.get("write.parquet.compression-codec") if self.exists() else None
        if codec:
            writer = writer.option("compression", codec)
        if transforms:
            writer = writer.partitionBy(*[t.partition_col for t in transforms])
        writer.parquet(str(staging))
        added: list[str] = []
        # the index makes every BASENAME table-unique: a partitioned
        # write emits the same part-NNNNN-<jobuuid> name in every
        # partition dir it touches, and position deletes key rows by
        # basename (URI-safe, unlike escaped partition segments) —
        # without this, a position delete recorded in one partition
        # would delete the same row position in EVERY partition
        # sharing the part name
        for i, rel in enumerate(_list_parquet(staging)):
            rel_p = Path(rel)
            dest_rel = rel_p.parent / f"{batch}-{i:05d}-{rel_p.name}"
            dest = self.data_root / dest_rel
            dest.parent.mkdir(parents=True, exist_ok=True)
            os.replace(staging / rel, dest)
            added.append(str(dest_rel))
        shutil.rmtree(staging, ignore_errors=True)
        return added

    def _next_snapshot(
        self,
        operation: str,
        files: list[str],
        added: list[str],
        removed: list[str],
        schema: T.StructType,
        expected_version: int,
        new_properties: dict[str, str] | None = None,
        branch: str | None = None,
        delete_files: list[str] | None = None,
        partition_by: list[str] | None = None,
        extra_stats: dict[str, dict] | None = None,
    ) -> Snapshot:
        parent = self._load(expected_version)
        # position-delete carry-forward: inherited unless the write
        # replaces the whole table (overwrite) or explicitly clears
        # them (compact materializes deletes into the rewrite)
        if delete_files is None:
            delete_files = [] if operation == "overwrite" else list(
                parent.delete_files
            )
        file_set = set(files) | set(delete_files)
        stats = {
            f: s for f, s in parent.stats.items() if f in file_set
        }
        for f in added:
            try:
                stats[f] = _file_column_stats(self.data_root / f, schema)
            except Exception:
                stats.pop(f, None)  # no stats = never skipped
        for f in delete_files:
            if f in stats:
                continue  # carried forward from the parent manifest
            try:
                stats[f] = _delete_file_stats(self.data_root / f)
            except Exception:
                stats.pop(f, None)  # no record = COUNT pushdown bails
        # writer-supplied manifest extras (per-file NDV sketches) ride
        # next to the footer-derived stats under reserved ':' keys
        for f, extra in (extra_stats or {}).items():
            if f in file_set:
                stats.setdefault(f, {}).update(extra)
        added_records = sum(_file_rows(self.data_root / f) for f in added)
        total_records = parent.summary.get("total_records", 0)
        removed_records = sum(_file_rows(self.data_root / f) for f in removed)
        if operation == "overwrite":
            total_records = added_records
        else:
            total_records = total_records + added_records - removed_records
            # total_records stays LOGICAL under position deletes: new
            # delete files subtract their row count (each (file,pos)
            # row appears in at most one delete file — the discovery
            # scan anti-joins already-deleted rows first); delete
            # files cleared by a materializing rewrite add it back
            # (the removed data files above were counted at full
            # physical rows while the rewrite wrote logical rows)
            parent_dels = set(parent.delete_files)
            for f in delete_files:
                if f not in parent_dels:
                    total_records -= _file_rows(self.data_root / f)
            new_dels = set(delete_files)
            for f in parent_dels:
                if f not in new_dels:
                    total_records += _file_rows(self.data_root / f)
        # versions are allocated above EVERY live snapshot (branch
        # heads can sit beyond main), so main and branch commits never
        # collide on a manifest filename
        new_version = max(self._max_version(), expected_version) + 1
        snap = Snapshot(
            version=new_version,
            snapshot_id=new_version,
            parent_id=parent.snapshot_id,
            timestamp_ms=time.time_ns() // 1_000_000,
            operation=operation,
            files=sorted(files),
            added_files=sorted(added),
            removed_files=sorted(removed),
            schema_json=schema_to_json(schema),
            partition_by=(
                parent.partition_by
                if partition_by is None
                else list(partition_by)
            ),
            properties={**parent.properties, **(new_properties or {})},
            summary={
                "added_files": len(added),
                "removed_files": len(removed),
                "added_records": added_records,
                "total_records": total_records,
            },
            stats=stats,
            delete_files=sorted(delete_files),
        )
        if branch is not None:
            return self._commit_to_branch(
                snap, branch, expected_head=parent.snapshot_id
            )
        return self._commit(snap, expected_parent_version=expected_version)

    def _write_base(self, branch: str | None) -> Snapshot:
        """The snapshot a write builds on: main's head, or the named
        branch's head."""
        if branch is None or branch == MAIN_BRANCH:
            return self.current_snapshot()
        return self._resolve_ref(branch)

    def _commit_metadata(
        self,
        cur: Snapshot,
        operation: str,
        schema: T.StructType | None = None,
        **changes,
    ) -> Snapshot:
        """Commit a snapshot on top of ``cur`` that keeps its data files
        and changes only metadata: the schema, or any of
        _next_snapshot's keyword changes (properties, partition spec,
        position-delete files)."""
        return self._next_snapshot(
            operation, cur.files, [], [],
            schema or schema_from_json(cur.schema_json), cur.version,
            **changes,
        )

    # Puffin twin: per-file column NDV sketches recorded at write
    # time when this property lists columns (comma-separated), merged
    # register-wise at query time by ndv_estimate — Iceberg spells
    # the same design as theta sketches in Puffin stats files.
    NDV_SKETCH_PROP = "ndv.sketch.columns"

    def _ndv_sketch_stats(
        self, spark: SparkSession, added: list[str], lg_k: int = 12
    ) -> dict[str, dict] | None:
        """One Datasketches HLL per (new file, configured column),
        base64-packed for the JSON manifest. Costs one column-pruned
        read of the JUST-WRITTEN files (exactly when Puffin stats are
        produced); collected output is #files x #cols rows."""
        import base64

        prop = self.properties.get(self.NDV_SKETCH_PROP, "").strip()
        if not prop or not added:
            return None
        cols = [c.strip() for c in prop.split(",") if c.strip()]
        declared = {f.name for f in self.schema.fields}
        cols = [c for c in cols if c in declared]
        if not cols:
            return None
        paths = [
            str(self.data_root / f).replace("%", "[%]") for f in added
        ]
        df = (
            spark.read.option("basePath", str(self.data_root))
            .parquet(*paths)
            .select(
                F.element_at(
                    F.split(F.input_file_name(), "/"), -1
                ).alias("_f"),
                *cols,
            )
        )
        rows = df.groupBy("_f").agg(
            *[
                F.hll_sketch_agg(F.col(c).cast("string"), F.lit(lg_k))
                .alias(c)
                for c in cols
            ]
        ).collect()
        by_base = {f.split("/")[-1]: f for f in added}
        out: dict[str, dict] = {}
        for r in rows:
            from urllib.parse import unquote

            rel = by_base.get(unquote(r["_f"]))
            if rel is None:
                continue
            out[rel] = {
                f":hll:{c}:": base64.b64encode(bytes(r[c])).decode()
                for c in cols
                if r[c] is not None
            }
        return out

    def ndv_estimate(self, spark: SparkSession, col: str) -> DataFrame:
        """Approximate COUNT(DISTINCT col) answered ENTIRELY from the
        per-file HLL sketches the write path recorded (the
        ``ndv.sketch.columns`` property) — O(#files) register unions,
        zero data IO, the Puffin-stats NDV read path. Exact-or-bail
        posture like metadata_aggregate: raises
        MetadataAggregateUnsupported when any live file lacks the
        sketch (non-append rewrites don't re-derive them), when
        position deletes are live, or after a rename (sketches key
        by the physical write-time name)."""
        snap = self.current_snapshot()
        if snap.delete_files:
            raise MetadataAggregateUnsupported(
                "position-delete files present: deleted rows remain"
                " in the recorded sketches"
            )
        key = f":hll:{col}:"
        blobs = []
        for f in snap.files:
            st = snap.stats.get(f) or {}
            if key not in st:
                raise MetadataAggregateUnsupported(
                    f"no NDV sketch for {col!r} in {f!r}"
                )
            blobs.append(st[key])
        if not blobs:
            return spark.range(1).select(
                F.lit(0).cast("long").alias("approx_distinct")
            )
        mdf = local_frame(spark, [(b,) for b in blobs], "hb string")
        return mdf.agg(
            F.hll_sketch_estimate(
                F.hll_union_agg(F.unbase64(F.col("hb")))
            ).alias("approx_distinct")
        )

    def append(self, df: DataFrame, branch: str | None = None) -> Snapshot:
        """Append-only write (reference scripts/raw-bronze.py:180-182).
        With ``branch=``, the new snapshot chains onto that branch's
        head and only the branch ref moves (WAP staging)."""
        cur = self._write_base(branch)
        added = self._write_files(df, cur.partition_by)
        return self._next_snapshot(
            "append", cur.files + added, added, [], df.schema, cur.version,
            branch=None if branch == MAIN_BRANCH else branch,
            extra_stats=self._ndv_sketch_stats(df.sparkSession, added),
        )

    def overwrite(self, df: DataFrame, branch: str | None = None) -> Snapshot:
        """Replace table contents (first-load path, scripts/raw-bronze.py:183-185)."""
        cur = self._write_base(branch)
        added = self._write_files(df, cur.partition_by)
        return self._next_snapshot(
            "overwrite", added, added, cur.files, df.schema, cur.version,
            branch=None if branch == MAIN_BRANCH else branch,
            extra_stats=self._ndv_sketch_stats(df.sparkSession, added),
        )

    def replace_files(
        self,
        removed: list[str],
        df: DataFrame,
        operation: str = "merge",
        delete_files: list[str] | None = None,
        *,
        _keep_layout: bool = False,
    ) -> Snapshot:
        """Copy-on-write file swap: rewrite `removed` as the rows of `df`.

        The primitive under MERGE INTO (lakehouse/merge.py) — same
        shape as Iceberg's COW RowLevelCommand file rewrite.
        ``delete_files`` overrides the position-delete carry-forward
        (binpack prunes materialized entries); binpack also passes
        ``_keep_layout`` so its coalesce is not re-shuffled."""
        base = self._current_version()
        cur = self._load(base)
        added = self._write_files(df, cur.partition_by, _keep_layout)
        removed_set = set(removed)
        files = [f for f in cur.files if f not in removed_set] + added
        return self._next_snapshot(
            operation, files, added, removed, df.schema, base,
            delete_files=delete_files,
        )

    def _plan_files(
        self,
        spark: SparkSession,
        snap: Snapshot,
        where: str,
        qualifier: str | None = None,
    ) -> list[str]:
        """The data files of ``snap`` that may hold a row matching
        ``where``, planned from the manifest alone: the stats step
        (``_prune_files_by_stats``), then the bloom step
        (``bloom_index.prune_files_by_bloom``). Both read ``where``
        through ``_literal_comparisons`` and type its literals with
        ``snap``'s schema. Partitions are not pruned here: the read
        names each file under its partition directory, so Catalyst
        prunes identity partitions at the scan (``PartitionFilters``)
        and never on a nondeterministic conjunct. ``scan``, DELETE/
        UPDATE discovery and ``SqlSession``'s planned SELECT all plan
        through here."""
        from .bloom_index import prune_files_by_bloom

        files = self._prune_files_by_stats(
            spark, snap.files, where, snapshot=snap, qualifier=qualifier
        )
        return prune_files_by_bloom(
            spark, self, files, where, snapshot=snap, qualifier=qualifier
        )

    def _prune_files_by_stats(
        self,
        spark: SparkSession,
        files: list[str],
        condition: str,
        snapshot: Snapshot | None = None,
        qualifier: str | None = None,
    ) -> list[str]:
        """Manifest-level FILE skipping on per-file column min/max:
        AND-conjuncts of ``condition`` of the shape ``col <op>
        literal`` (or reversed; ``_literal_comparisons``, with
        ``qualifier`` the one accepted column qualifier) drop every
        file of ``files`` whose range, as ``snapshot``'s manifest
        (default: the current one) records it, cannot contain a
        matching row — before any data file or even footer is opened
        at scan time.

        This is the Iceberg scan-planning move that matters most at
        100 TB: with millions of files, evaluating predicates against
        manifest stats costs O(#files) driver-side metadata, while
        "let Parquet row-group stats handle it" still opens every
        footer. Conservative: unsupported conjuncts, missing stats, or
        unparseable values keep the file; comparison semantics are
        evaluated by Spark itself (try_cast through the declared type),
        never a hand-rolled comparator. All-null files drop out of
        comparison conjuncts naturally (NULL range -> NULL predicate ->
        no match), which is exactly SQL's answer.

        Only a literal side prunes (``_is_literal``): the comparison
        is evaluated once per file at planning time, so ``x < rand()``
        or ``ts < current_timestamp()`` would prune on a value the scan
        never sees.

        One evaluation: one statement filters an inline table of the
        per-file bounds by every conjunct's range test ANDed together,
        and one collect returns the surviving files; Catalyst evaluates
        it as a local relation with no job, in a handful of py4j calls
        whatever the number of files or conjuncts. (An Arrow-built
        relation takes about 35 calls, which cost twice the time at a
        few dozen files; the statement text grows with the file
        count.) A filter Spark cannot evaluate (a literal that fails
        to cast to its column's type) keeps every file."""
        snap = self.current_snapshot() if snapshot is None else snapshot
        if not files or not snap.stats:
            return files
        fields = schema_from_json(snap.schema_json).fields
        by_name = {f.name: f for f in fields}
        supported = [
            (f.name, op, lit)
            for f, op, lit in _literal_comparisons(
                condition, fields, qualifier
            )
            if isinstance(f.dataType, _STATS_TYPES)
        ]
        if not supported:
            return files
        cols = list(dict.fromkeys(col for col, _, _ in supported))

        rows, kept_passthrough = [], []
        for i, f in enumerate(files):
            st = snap.stats.get(f)
            if st is None:
                kept_passthrough.append(f)
                continue
            row = [str(i)]
            for col in cols:
                ent = st.get(col)
                if ent is not None and not _stats_nan_aware(st) and (
                    isinstance(
                        by_name[col].dataType, (T.FloatType, T.DoubleType)
                    )
                ):
                    # pre-NaN-aware float bounds may exclude a real
                    # NaN row (NaN orders greatest, so e.g. col > 5
                    # could wrongly skip) — treat as no stats: keep
                    ent = None
                if ent is None:
                    row += [_sql_string(None)] * 2 + ["FALSE"]
                else:
                    row += [_sql_string(ent[0]), _sql_string(ent[1]), "TRUE"]
            rows.append(f"({', '.join(row)})")
        if not rows:
            return files

        names = ["_fidx"] + [
            f"_{kind}_{j}"
            for j in range(len(cols))
            for kind in ("min", "max", "has")
        ]
        tests = []
        for col, op, lit in supported:
            j = cols.index(col)
            dt = by_name[col].dataType.simpleString()
            lo = f"try_cast(_min_{j} AS {dt})"
            hi = f"try_cast(_max_{j} AS {dt})"
            v = f"({lit})"
            inside = f"{lo} <= {v} AND {v} <= {hi}"
            rng = {
                "=": inside, "==": inside,
                "<": f"{lo} < {v}", "<=": f"{lo} <= {v}",
                ">": f"{hi} > {v}", ">=": f"{hi} >= {v}",
                # != / <> : only an all-constant file can be skipped
            }.get(op, f"NOT ({lo} = {v} AND {hi} = {v})")
            tests.append(
                f"(NOT _has_{j}"
                f" OR (_min_{j} IS NOT NULL AND {lo} IS NULL)"
                f" OR (_max_{j} IS NOT NULL AND {hi} IS NULL)"
                f" OR ({rng}))"
            )
        try:
            with _quiet_probe():
                kept = spark.sql(
                    f"SELECT _fidx FROM VALUES {', '.join(rows)}"
                    f" AS _v({', '.join(names)}) WHERE {' AND '.join(tests)}"
                ).collect()
        except Exception:
            return files
        kept_idx = {r["_fidx"] for r in kept}
        out = list(kept_passthrough)
        out.extend(f for i, f in enumerate(files) if i in kept_idx)
        return out

    def _files_matching(
        self,
        spark: SparkSession,
        snap: Snapshot,
        files: list[str],
        where: str | None = None,
        keys: DataFrame | None = None,
    ) -> list[str]:
        """The touched-file finder behind MERGE, DELETE and UPDATE:
        sorted rel paths of the ``files`` holding at least one row that
        satisfies ``where`` and whose key columns appear in ``keys`` (a
        frame of key tuples). The file name is attached at the scan:
        after ``where``, which so still pushes down into the Parquet
        reader, and before the ``keys`` semi-join — input_file_name()
        is only defined directly over a file source. The scan ignores
        position deletes: a deleted row can only add a file to the
        rewrite, whose live read drops that row anyway."""
        from urllib.parse import unquote

        if not files:
            return []
        df = self._read_files(
            spark, files, schema_from_json(snap.schema_json),
            renames=self._snap_renames(snap),
        )
        if where is not None:
            df = df.filter(F.expr(where))
        df = df.withColumn("_file", F.input_file_name())
        if keys is not None:
            df = df.select("_file", *keys.columns).join(
                keys, keys.columns, "left_semi"
            )
        hits = df.select("_file").distinct().collect()
        out = set()
        for r in hits:
            # a percent-encoded URI: decode it so the rel path is the
            # literal on-disk name (partition dirs legitimately contain
            # '%' from escapePathName, which arrives as %25)
            p = r["_file"]
            if p.startswith("file:"):
                p = unquote(p[len("file:"):])
                while p.startswith("//"):
                    p = p[1:]
            out.add(str(Path(p).relative_to(self.data_root)))
        return sorted(out)

    def _touched_by(
        self, spark: SparkSession, snap: Snapshot, condition: str
    ) -> list[str]:
        """Data files containing at least one row matching
        ``condition`` — the discovery scan behind row-level DELETE and
        UPDATE (file-scoped COW, same shape as MERGE's), over the
        files ``_plan_files`` keeps."""
        return self._files_matching(
            spark, snap, self._plan_files(spark, snap, condition),
            where=condition,
        )

    DELETE_MODE_PROP = "write.delete.mode"  # Iceberg's property name

    def delete_where(
        self, spark: SparkSession, condition: str, mode: str | None = None
    ) -> Snapshot:
        """Row-level DELETE. ``mode`` (or the table's
        ``write.delete.mode`` property, Iceberg's knob) picks the
        representation:

        - ``copy-on-write`` (default): rewrite only the files that
          contain a matching row (untouched files carry over in the
          manifest) — read-optimized.
        - ``merge-on-read``: append a POSITION-delete parquet of
          (file_name, pos) rows naming the matches; no data file is
          touched and reads anti-join the delete set until compact()
          — write-optimized, O(matches) commit cost on a 100 TB
          table instead of O(touched-file bytes).
        """
        mode = mode or self.properties.get(
            self.DELETE_MODE_PROP, "copy-on-write"
        )
        if mode not in ("copy-on-write", "merge-on-read"):
            raise ValueError(f"unknown delete mode {mode!r}")
        cur = self.current_snapshot()
        touched = self._touched_by(spark, cur, condition)
        if not touched:
            return cur
        if mode == "merge-on-read":
            return self._commit_positions(
                cur, "delete",
                self._read_live(spark, cur, touched, keep_pos=True).filter(
                    F.expr(condition)
                ),
            )
        kept = self._read_live(spark, cur, touched).filter(
            ~F.expr(condition) | F.expr(condition).isNull()
        )
        return self.replace_files(touched, kept, operation="delete")

    def _commit_positions(
        self,
        cur: Snapshot,
        operation: str,
        matched: DataFrame,
        rows: DataFrame | None = None,
    ) -> Snapshot:
        """The merge-on-read row-level commit behind DELETE, UPDATE and
        MERGE: position-delete the rows of ``matched`` (a ``keep_pos``
        live read of ``cur``) and append ``rows`` as new data files.
        Both sides of the swap land in ONE snapshot, so readers never
        observe the intermediate state; ``cur`` comes back when
        neither side wrote anything.

        The live read drops already-deleted rows BEFORE the match, so
        each (file, pos) appears in at most one live delete file —
        the invariant the logical row accounting in _next_snapshot
        and the COUNT(*) pushdown rely on."""
        del_added = self._write_position_deletes(
            matched.select(
                F.col(self.POS_FILE_COL).alias("file_name"),
                F.col(self.POS_POS_COL).alias("pos"),
            )
        )
        data_added = [] if rows is None else [
            f
            for f in self._write_files(rows, cur.partition_by)
            if _file_rows(self.data_root / f) > 0
        ]
        if not del_added and not data_added:
            return cur
        return self._next_snapshot(
            operation, cur.files + data_added, data_added, [],
            schema_from_json(cur.schema_json), cur.version,
            delete_files=cur.delete_files + del_added,
        )

    UPDATE_MODE_PROP = "write.update.mode"  # Iceberg's property name

    def update_where(
        self,
        spark: SparkSession,
        assignments: dict[str, str],
        condition: str,
        mode: str | None = None,
    ) -> Snapshot:
        """Row-level UPDATE ... SET col = expr WHERE cond.
        Assignment expressions may reference any table column.

        ``mode`` (or the table's ``write.update.mode`` property):

        - ``copy-on-write`` (default): file-scoped rewrite like
          delete_where — read-optimized.
        - ``merge-on-read``: ONE commit position-deletes the old
          versions of matching rows and appends their updated
          versions as new data files — O(matches) write cost, the
          Iceberg v2 MOR UPDATE representation (delete file +
          data file in the same snapshot).
        """
        schema = self.schema
        names = [f.name for f in schema.fields]
        for col in assignments:
            if col not in names:
                raise KeyError(f"no column {col!r}")
        mode = mode or self.properties.get(
            self.UPDATE_MODE_PROP, "copy-on-write"
        )
        if mode not in ("copy-on-write", "merge-on-read"):
            raise ValueError(f"unknown update mode {mode!r}")
        cur = self.current_snapshot()
        touched = self._touched_by(spark, cur, condition)
        if not touched:
            return cur
        if mode == "merge-on-read":
            return self._update_positions(
                spark, cur, touched, assignments, condition
            )
        df = self._read_live(spark, cur, touched)
        cond = F.expr(condition)
        by_name = {f.name: f for f in schema.fields}
        rewritten = df.select(
            *[
                F.when(cond, F.expr(assignments[n]).cast(by_name[n].dataType))
                .otherwise(F.col(n))
                .alias(n)
                if n in assignments
                else F.col(n)
                for n in names
            ]
        )
        return self.replace_files(touched, rewritten, operation="update")

    def _update_positions(
        self,
        spark: SparkSession,
        cur: Snapshot,
        touched: list[str],
        assignments: dict[str, str],
        condition: str,
    ) -> Snapshot:
        """MOR UPDATE: position-delete the matching rows and append
        their updated versions in one snapshot."""
        schema = schema_from_json(cur.schema_json)
        by_name = {f.name: f for f in schema.fields}
        matched = self._read_live(
            spark, cur, touched, keep_pos=True
        ).filter(F.expr(condition)).persist()
        updated = matched.select(
            *[
                F.expr(assignments[n]).cast(by_name[n].dataType).alias(n)
                if n in assignments
                else F.col(n)
                for n in by_name
            ]
        )
        try:
            return self._commit_positions(cur, "update", matched, updated)
        finally:
            matched.unpersist()

    # ------------------------------------------------------------------
    # compaction
    # ------------------------------------------------------------------
    def compact(
        self,
        spark: SparkSession,
        target_partitions: int | None = None,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        zorder_bits: int = 16,
    ) -> Snapshot:
        """Rewrite the table to plain base files: materializes
        position deletes and merges small files (the maintenance pass
        every streaming-append/MOR table needs).

        ``sort_by`` range-partitions and sorts the rewrite on the
        given columns — data clustering, so Parquet row-group min/max
        stats prune selective scans on those columns (the sort
        strategy of Iceberg's rewrite_data_files). ``zorder_by``
        clusters on the Morton interleave of 2+ columns instead
        (functions/zorder.py) — per-file bounds stay tight on EVERY
        listed column, so manifest skipping prunes filters on any of
        them, not just the leading sort key (Iceberg's zorder
        strategy). Columns must be pre-scaled into [0, 2^bits).
        With any of ``sort_by``, ``zorder_by`` or ``target_partitions``
        the write keeps that layout (no partition-value rebalance); a
        plain ``compact()`` writes through the table's distribution.
        """
        if sort_by and zorder_by:
            raise ValueError("pass sort_by or zorder_by, not both")
        df = self.read(spark)
        if zorder_by:
            from ..functions.zorder import zorder_key

            zk = "_zorder_key"
            df = df.withColumn(zk, zorder_key(zorder_by, zorder_bits))
            df = (
                df.repartitionByRange(target_partitions, zk)
                if target_partitions
                else df.repartitionByRange(zk)
            ).sortWithinPartitions(zk).drop(zk)
        elif sort_by:
            df = (
                df.repartitionByRange(target_partitions, *sort_by)
                if target_partitions
                else df.repartitionByRange(*sort_by)
            ).sortWithinPartitions(*sort_by)
        elif target_partitions:
            df = df.repartition(target_partitions)
        base = self._current_version()
        cur = self._load(base)
        added = self._write_files(
            df, cur.partition_by,
            keep_layout=bool(zorder_by or sort_by or target_partitions),
        )
        return self._next_snapshot(
            "replace", added, added, cur.files,
            schema_from_json(cur.schema_json), base,
            delete_files=[],  # the rewrite materialized them
        )

    # ------------------------------------------------------------------
    # schema evolution (backs the stored format-version: 2 intent —
    # reference scripts/bronze-silver.py:197 delegates to Iceberg v2;
    # here evolution is a metadata-only snapshot: same files, new
    # declared schema, old files resolved at read time)
    # ------------------------------------------------------------------
    RENAMES_PROP = "schema.renames"

    def _snap_renames(self, snap: Snapshot) -> dict[str, list[str]]:
        """current column name -> every physical name older files may
        use for it (newest first). A column renamed twice has files in
        three generations, each storing a different physical name —
        flattening to a single alias would lose the middle one."""
        return json.loads(snap.properties.get(self.RENAMES_PROP, "{}"))

    def _evolution_guard(self, cur: Snapshot, col: str) -> None:
        part_cols = {t.col for t in parse_spec(cur.partition_by)}
        if col in part_cols:
            raise ValueError(
                f"column {col!r} drives the partition spec "
                f"{cur.partition_by}: directory layout is derived from "
                f"it, so it cannot be renamed or dropped"
            )

    def add_column(self, name: str, dtype: T.DataType | str) -> Snapshot:
        """Append a nullable column (metadata-only commit). Existing
        files simply lack the column; the Parquet reader fills null —
        no data rewrite. ``dtype`` is a DataType or DDL string (DDL
        parsing needs an active SparkSession)."""
        cur = self.current_snapshot()
        schema = schema_from_json(cur.schema_json)
        renames = self._snap_renames(cur)
        if name in [f.name for f in schema.fields]:
            raise ValueError(f"column {name!r} already exists")
        if any(name in aliases for aliases in renames.values()):
            raise ValueError(
                f"{name!r} is the physical name of a renamed column; "
                f"reusing it would make old files ambiguous"
            )
        dt = dtype if isinstance(dtype, T.DataType) else T._parse_datatype_string(dtype)
        new_schema = T.StructType(
            schema.fields + [T.StructField(name, dt, True)]
        )
        from .iceberg_compat import FIELD_IDS_PROP, evolve_field_ids

        ids = evolve_field_ids(
            cur.properties.get(FIELD_IDS_PROP), schema, "add",
            name=name, dtype=dt,
        )
        return self._commit_metadata(
            cur, "evolve-schema", new_schema,
            new_properties={FIELD_IDS_PROP: ids},
        )

    # Iceberg's safe widening promotions (spec "Schema Evolution"):
    # int -> long, float -> double, decimal(P,S) -> decimal(P'>P, S)
    def promote_column(self, name: str, new_type: T.DataType | str) -> Snapshot:
        """Widen a column's type (metadata-only commit, Iceberg's type
        promotion). Old files keep their narrow physical type; the
        Parquet vectorized reader up-casts at scan time (Spark 4
        widening reads — int32 under a LONG schema, float under
        DOUBLE, decimal at larger precision), so no data rewrite and
        no per-file cast bookkeeping. The field-id is KEPT."""
        cur = self.current_snapshot()
        schema = schema_from_json(cur.schema_json)
        by_name = {f.name: f for f in schema.fields}
        if name not in by_name:
            raise KeyError(f"no column {name!r}")
        nt = (
            new_type
            if isinstance(new_type, T.DataType)
            else T._parse_datatype_string(new_type)
        )
        old = by_name[name].dataType
        ok = (
            (isinstance(old, T.IntegerType) and isinstance(nt, T.LongType))
            or (
                isinstance(old, T.FloatType)
                and isinstance(nt, T.DoubleType)
            )
            or (
                isinstance(old, T.DecimalType)
                and isinstance(nt, T.DecimalType)
                and nt.scale == old.scale
                and nt.precision > old.precision
            )
        )
        if old == nt:
            return cur
        if not ok:
            raise ValueError(
                f"unsafe promotion {old.simpleString()} -> "
                f"{nt.simpleString()}: allowed are int->bigint, "
                f"float->double, decimal(P,S)->decimal(P'>P,S)"
            )
        new_schema = T.StructType(
            [
                T.StructField(
                    f.name, nt if f.name == name else f.dataType, f.nullable
                )
                for f in schema.fields
            ]
        )
        from .iceberg_compat import FIELD_IDS_PROP, evolve_field_ids

        ids = evolve_field_ids(
            cur.properties.get(FIELD_IDS_PROP), schema, "promote",
            name=name, dtype=nt,
        )
        return self._commit_metadata(
            cur, "evolve-schema", new_schema,
            new_properties={FIELD_IDS_PROP: ids},
        )

    def rename_column(self, old: str, new: str) -> Snapshot:
        """Rename a column without rewriting data. The mapping
        new -> physical name is stored in table properties; reads
        coalesce the physical column out of pre-rename files (chained
        renames flatten to the original physical name)."""
        cur = self.current_snapshot()
        schema = schema_from_json(cur.schema_json)
        names = [f.name for f in schema.fields]
        if old not in names:
            raise KeyError(f"no column {old!r}")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        self._evolution_guard(cur, old)
        renames = self._snap_renames(cur)
        if any(new in aliases for aliases in renames.values()):
            raise ValueError(
                f"{new!r} is the physical name of another renamed column"
            )
        renames[new] = [old] + renames.pop(old, [])
        fields = [
            T.StructField(new, f.dataType, f.nullable) if f.name == old else f
            for f in schema.fields
        ]
        from .iceberg_compat import FIELD_IDS_PROP, evolve_field_ids

        ids = evolve_field_ids(
            cur.properties.get(FIELD_IDS_PROP), schema, "rename",
            name=old, new_name=new,
        )
        return self._commit_metadata(
            cur, "evolve-schema", T.StructType(fields),
            new_properties={self.RENAMES_PROP: json.dumps(renames),
                            FIELD_IDS_PROP: ids},
        )

    def drop_column(self, name: str) -> Snapshot:
        """Remove a column from the declared schema (metadata-only;
        old files keep the bytes, readers never select them)."""
        cur = self.current_snapshot()
        schema = schema_from_json(cur.schema_json)
        if name not in [f.name for f in schema.fields]:
            raise KeyError(f"no column {name!r}")
        if len(schema.fields) == 1:
            raise ValueError("cannot drop the last column")
        self._evolution_guard(cur, name)
        renames = self._snap_renames(cur)
        renames.pop(name, None)
        fields = [f for f in schema.fields if f.name != name]
        from .iceberg_compat import FIELD_IDS_PROP, evolve_field_ids

        ids = evolve_field_ids(
            cur.properties.get(FIELD_IDS_PROP), schema, "drop", name=name
        )
        return self._commit_metadata(
            cur, "evolve-schema", T.StructType(fields),
            new_properties={self.RENAMES_PROP: json.dumps(renames),
                            FIELD_IDS_PROP: ids},
        )

    # ------------------------------------------------------------------
    # reads
    # ------------------------------------------------------------------
    # attach-column names for position-delete resolution: basename of
    # the source file (uuid-unique, URI-safe) and the row's ordinal
    # within it (_metadata.row_index, exactly Iceberg's ``pos``)
    POS_FILE_COL = "_pd_file"
    POS_POS_COL = "_pd_pos"

    def _read_files(
        self,
        spark: SparkSession,
        files: list[str],
        schema: T.StructType,
        renames: dict[str, str] | None = None,
        attach_pos: bool = False,
    ) -> DataFrame:
        """Read the given data files as the declared ``schema``.

        Files are grouped by their PARTITION-PATH SIGNATURE (the
        ordered dir-segment keys) and each group reads under its own
        basePath inference — after a partition-spec evolution
        (evolve_partition_spec) a table legitimately holds files from
        several layouts at once, and Hadoop's partition discovery
        cannot mix them in one relation. Single-signature tables (the
        overwhelmingly common case) take the direct path with no
        extra work; the signature is derived from the path alone so
        it survives snapshot expiry."""
        if not files:
            df = local_frame(spark, [], schema)
            if attach_pos:
                df = df.withColumn(
                    self.POS_FILE_COL, F.lit(None).cast("string")
                ).withColumn(self.POS_POS_COL, F.lit(None).cast("long"))
            return df
        if renames is None:
            renames = (
                self._snap_renames(self.current_snapshot())
                if self.exists()
                else {}
            )
        groups: dict[tuple, list[str]] = {}
        for f in files:
            groups.setdefault(partition_signature(f), []).append(f)
        if len(groups) == 1:
            return self._read_file_group(
                spark, files, schema, renames, attach_pos
            )
        parts, cols = [], None
        for _sig, grp in sorted(groups.items()):
            d = self._read_file_group(
                spark, grp, schema, renames, attach_pos
            )
            if cols is None:
                cols = d.columns
            parts.append(d.select(*cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _read_file_group(
        self,
        spark: SparkSession,
        files: list[str],
        schema: T.StructType,
        renames: dict[str, str],
        attach_pos: bool,
    ) -> DataFrame:
        # Partition dirs are escapePathName()-encoded, so a literal
        # '%' can appear in a path; Hadoop's Path/glob machinery
        # re-encodes raw '%' and then fails to find the file. Wrapping
        # it in a glob character class ([%]) matches it literally.
        # Every other glob-special char (* ? [ ] {) is itself escaped
        # to %XX by the writer, so '%' is the only one reachable.
        paths = [
            str(self.data_root / f).replace("%", "[%]") for f in files
        ]
        # renamed columns: also request every physical (pre-rename)
        # name, then coalesce newest-first — each file stores exactly
        # one generation's name and fills the others with null, so one
        # pass serves all generations
        declared = {f.name for f in schema.fields}
        active = {
            new: aliases
            for new, aliases in renames.items()
            if new in declared
        }
        read_schema = schema
        if active:
            by_name = {f.name: f for f in schema.fields}
            read_schema = T.StructType(
                schema.fields
                + [
                    T.StructField(a, by_name[new].dataType, True)
                    for new, aliases in active.items()
                    for a in aliases
                ]
            )
        df = (
            spark.read.schema(read_schema)
            .option("basePath", str(self.data_root))
            .parquet(*paths)
        )
        for new, aliases in active.items():
            df = df.withColumn(
                new, F.coalesce(F.col(new), *[F.col(a) for a in aliases])
            )
        if active:
            df = df.drop(*[a for aliases in active.values() for a in aliases])
        # hidden transform partition columns (_p_* — an engine-reserved
        # prefix, never a declared column) come back from directory
        # inference — strip EVERY one, including those of historical
        # specs the current partition_by no longer lists
        hidden = [c for c in df.columns if c.startswith("_p_")]
        if hidden:
            df = df.drop(*hidden)
        if attach_pos:
            # a metadata column, not the nondeterministic
            # input_file_name(), so a filter over the read still
            # reaches the scan and prunes partitions
            df = df.withColumn(
                self.POS_FILE_COL,
                F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1),
            ).withColumn(self.POS_POS_COL, F.col("_metadata.row_index"))
        return df

    # ------------------------------------------------------------------
    # merge-on-read POSITION deletes (Iceberg v2 content=1): a DELETE
    # under write.delete.mode=merge-on-read appends a small parquet of
    # (file_name, pos) rows instead of rewriting data files; every
    # read anti-joins it away until compact() materializes
    # ------------------------------------------------------------------
    def _position_deletes_df(
        self, spark: SparkSession, snap: Snapshot
    ) -> DataFrame:
        paths = [
            str(self.data_root / f).replace("%", "[%]")
            for f in snap.delete_files
        ]
        return spark.read.schema(
            "file_name string, pos long"
        ).parquet(*paths)

    def _write_position_deletes(
        self, positions: DataFrame, tag: str = ""
    ) -> list[str]:
        """Write (file_name, pos) rows as position-delete files
        ``posdel-<batch>-<tag><part>`` under data/ and return the
        non-empty ones (a no-match predicate on a touched file
        produces an empty part)."""
        # spec-style clustering: Iceberg requires position deletes
        # sorted by (file_path, pos) so readers can merge-stream.
        # No pinned partition count: AQE coalesces the usual tiny
        # delete set to one part, while a delete-most-rows commit
        # on a huge table still fans out
        positions = positions.repartitionByRange(
            "file_name", "pos"
        ).sortWithinPartitions("file_name", "pos")
        batch = uuid.uuid4().hex[:12]
        staging = self.root / f"_staging-{batch}"
        positions.write.mode("overwrite").parquet(str(staging))
        added: list[str] = []
        for rel in _list_parquet(staging):
            dest_rel = f"posdel-{batch}-{tag}{Path(rel).name}"
            os.replace(staging / rel, self.data_root / dest_rel)
            added.append(dest_rel)
        shutil.rmtree(staging, ignore_errors=True)
        return [f for f in added if _file_rows(self.data_root / f) > 0]

    def _read_live(
        self,
        spark: SparkSession,
        snap: Snapshot,
        files: list[str] | None = None,
        keep_pos: bool = False,
        deletes: Snapshot | None = None,
    ) -> DataFrame:
        """The live rows of ``files`` (default: every data file of
        ``snap``) as ``snap`` sees them: read with its schema and
        column renames, minus the rows its position deletes name.
        Scans, time travel, the changelog and every rewrite (COW
        DELETE/UPDATE/MERGE, binpack) read through here, so a rewrite
        never resurrects a deleted row.

        ``keep_pos`` keeps the attach columns (source basename and row
        ordinal); ``deletes`` takes the position deletes from another
        snapshot (the changelog's start side).

        The delete side is tiny relative to the table in the intended
        regime (surgical deletes on a huge table) — AQE broadcasts it;
        no pinned broadcast so a pathological delete-most-rows case
        still plans a shuffle join."""
        deletes = deletes or snap
        attach = keep_pos or bool(deletes.delete_files)
        df = self._read_files(
            spark,
            snap.files if files is None else files,
            schema_from_json(snap.schema_json),
            renames=self._snap_renames(snap),
            attach_pos=attach,
        )
        if deletes.delete_files:
            dels = self._position_deletes_df(spark, deletes)
            df = df.join(
                dels,
                (F.col(self.POS_FILE_COL) == dels["file_name"])
                & (F.col(self.POS_POS_COL) == dels["pos"]),
                "left_anti",
            )
        if attach and not keep_pos:
            df = df.drop(self.POS_FILE_COL, self.POS_POS_COL)
        return df

    def read(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        ref: str | None = None,
    ) -> DataFrame:
        """Full-table scan, optionally time-traveled to a snapshot or
        a named ref (branch/tag — ``VERSION AS OF 'name'``).

        Partition pruning is Catalyst's: each file is read under its
        Hive-style ``col=value`` dirs with an explicit schema, one
        relation per partition layout, so a filter on an identity
        partition column, of the current spec or an older one, becomes
        the scan's ``PartitionFilters`` and other predicates are pushed
        into the Parquet reader.
        """
        if snapshot_id is not None and ref is not None:
            raise ValueError("pass snapshot_id or ref, not both")
        if ref is not None:
            snap = self._resolve_ref(ref)
        elif snapshot_id is not None:
            snap = self.snapshot_by_id(snapshot_id)
        else:
            snap = self.current_snapshot()
        return self._read_live(spark, snap)

    def scan(self, spark: SparkSession, where: str | None = None) -> DataFrame:
        """Predicate-planned scan, Iceberg's planFiles() shape: the
        manifest steps of ``_plan_files`` (column stats, then the bloom
        index) drop files BEFORE the read, then ``where`` filters what
        is left, and Catalyst prunes partitions as in ``read``. With no
        predicate this is read()."""
        snap = self.current_snapshot()
        if not where:
            return self.read(spark)
        return self._read_live(
            spark, snap, self._plan_files(spark, snap, where)
        ).filter(F.expr(where))

    def metadata_aggregate(
        self,
        spark: SparkSession,
        *,
        where: str | None = None,
        group_by: Iterable[str] = (),
        count_alias: str | None = "cnt",
        min_of: dict[str, str] | None = None,
        max_of: dict[str, str] | None = None,
        count_of: dict[str, str] | None = None,
        snapshot: Snapshot | None = None,
    ) -> DataFrame:
        """COUNT(*) / MIN / MAX / COUNT(col) answered ENTIRELY from
        manifest statistics — zero data or footer IO at query time.

        This is Iceberg's aggregate pushdown
        (``spark.sql.iceberg.aggregate-push-down.enabled``): a
        ``SELECT count(*), max(ts) FROM t`` on a 100 TB table should
        cost O(#files) manifest metadata collected at WRITE time, not
        a full scan. The engine records per-file exact row counts and
        per-column [min, max, null_count, num_values] in the snapshot
        at commit (``_file_column_stats`` — footer read once per
        append), so the aggregate folds over O(#files) manifest rows.

        The fold finishes on the driver and no Spark job runs: Spark's
        own ``try_cast`` types the recorded strings (and evaluates the
        ``where`` per file) in a projection over a local relation,
        which the optimizer evaluates without a job; the counts are
        exact Python sums and MIN/MAX pick the file with the least or
        greatest typed value. The result is a local relation of the
        winning recorded strings through the same ``try_cast``, with
        Spark's own values, types and column names. ``snapshot``
        (default: the current one) answers for a time-travel snapshot
        from its own stats, schema, renames and position deletes.

        Exactness contract — raises ``MetadataAggregateUnsupported``
        (callers fall back to a real scan) whenever stats cannot
        answer EXACTLY:
        - position-delete files, UNLESS the request is COUNT(*) only:
          live rows per data file = recorded rows − the per-target
          delete counts the commit recorded into the manifest
          (exact because each (file,pos) lives in at most one delete
          file). MIN/MAX/COUNT(col) under deletes always bail — a
          deleted row can carry the extreme or the null split;
        - any file holding NaN in a requested float/double column:
          the commit-time stats fold marks NaN-bounded columns
          broken (parquet-mr always surfaces NaN in the max bound),
          so such a file has no entry and the fold refuses — a
          present entry proves NaN-freeness, keeping float/double
          MIN/MAX and min==max constancy exact. Entries committed
          BEFORE the NaN-aware fold are DETECTED via the per-entry
          ``:stats_version:`` stamp and refused for float/double
          MIN/MAX and constancy (never silently trusted);
          re-append/compact to refresh them;
        - a nondeterministic ``where`` (per-file evaluation would
          silently diverge from row-granular semantics);
        - any live data file without recorded stats, or without an
          entry for a requested column (schema-evolution ambiguity:
          "absent" could mean all-null OR broken stats — never guess);
        - min/max/count over stats-ineligible types (strings may be
          TRUNCATED by writers — same rule as the file-skipping
          pruner, see ``_STATS_TYPES``);
        - a ``group_by`` column that is not file-constant: the value
          comes from the identity-partition path segment (any type,
          exact written form) or, failing that, from a constant
          [min==max, no nulls] / all-null stats range;
        - any recorded value string Spark cannot cast back through
          the declared type (evaluated with Spark's own cast
          semantics, never a hand-rolled parser);
        - a ``where`` predicate touching any column that is not
          file-constant in EVERY live file (Spark's own analyzer is
          the gate: the expression must resolve against the
          file-constant columns alone, then evaluates per FILE with
          exact SQL semantics — a file whose constant value makes
          the predicate false OR NULL contributes no rows, which is
          row-exact precisely because the value is file-constant).
          ``WHERE part_col = 'x'`` on a 100 TB table is thus a pure
          manifest fold, like Iceberg's agg pushdown under a
          partition predicate.

        MIN/MAX ignore per-file all-null ranges (NULL min) exactly as
        SQL's aggregates ignore NULL rows; a global COUNT(*) on an
        empty table is 0, and renamed columns resolve through the
        same physical-name history the reader uses.
        """
        min_of = dict(min_of or {})
        max_of = dict(max_of or {})
        count_of = dict(count_of or {})
        if count_alias is None and not (min_of or max_of or count_of):
            raise ValueError("metadata_aggregate: nothing to compute")
        group_by = list(group_by)
        snap = self.current_snapshot() if snapshot is None else snapshot
        deleted_by_base: dict[str, int] = {}
        if snap.delete_files:
            # Pure position-delete snapshots still answer COUNT(*)
            # exactly: each (file,pos) appears in at most ONE live
            # delete file (the delete writers anti-join already-
            # deleted rows first), so live rows per data file =
            # recorded rows − Σ per-target delete counts, all from
            # manifests. MIN/MAX/COUNT(col) stay a scan: a deleted
            # row can carry the extreme or the per-column null split.
            if min_of or max_of or count_of:
                raise MetadataAggregateUnsupported(
                    "position-delete files present: deleted rows can"
                    " carry column extremes / null counts"
                )
            for rel in snap.delete_files:
                dst = snap.stats.get(rel)
                if dst is None or ":by_target:" not in dst:
                    raise MetadataAggregateUnsupported(
                        f"delete file {rel!r} has no per-target counts"
                        " in the manifest (pre-upgrade snapshot)"
                    )
                for base, n in dst[":by_target:"].items():
                    deleted_by_base[base] = (
                        deleted_by_base.get(base, 0) + int(n)
                    )
            # delete rows name targets by BASENAME; refuse the
            # (engine-impossible, uuid-named) ambiguity rather than
            # guess
            bases = [f.split("/")[-1] for f in snap.files]
            if len(bases) != len(set(bases)):
                raise MetadataAggregateUnsupported(
                    "duplicate data-file basenames under deletes"
                )
        schema = schema_from_json(snap.schema_json)
        by_name = {f.name: f for f in schema.fields}
        renames = self._snap_renames(snap)

        def names_for(col: str) -> list[str]:
            return [col] + list(renames.get(col, []))

        for col in list(min_of) + list(max_of) + list(count_of):
            if col not in by_name:
                raise MetadataAggregateUnsupported(f"no column {col!r}")
            if not isinstance(by_name[col].dataType, _STATS_TYPES):
                raise MetadataAggregateUnsupported(
                    f"{col!r}: type {by_name[col].dataType.simpleString()}"
                    " is stats-ineligible (writers may truncate)"
                )
        # Float/double MIN/MAX stay exact because of a WRITE-side
        # guarantee, not a query-side check: parquet-mr (the only
        # writer of engine data files) folds NaN into the recorded
        # max bound whenever NaN is present, and the commit-time
        # stats fold (_file_column_stats) marks any NaN-bounded
        # column BROKEN — so a PRESENT stats entry proves the file is
        # NaN-free and its bounds order exactly like Spark's
        # NaN-greatest total order. A file containing NaN simply has
        # no entry and the per-file loop below raises. (Upstream
        # Spark refuses float/double aggregate pushdown outright
        # because it cannot assume the writer; this engine can.)
        for col in group_by:
            if col not in by_name:
                raise MetadataAggregateUnsupported(f"no column {col!r}")

        # ``where``: over-approximate the referenced columns by word
        # match (an extra column only tightens the checks below, never
        # loosens them), then let Spark's OWN analyzer decide whether
        # the predicate resolves against file-constant columns alone —
        # no hand-rolled expression walker
        refd: list[str] = []
        if where is not None:
            refd = _word_refs(where, by_name)
            # one statement resolves the predicate over a typed inline
            # table of just those columns (column-free predicates, WHERE
            # 1=1, still need a relation); it is analyzed, never run
            probe = [
                (c, _sql_type(by_name[c].dataType)) for c in refd
            ] or [("_probe_", "int")]
            nulls = ", ".join(f"CAST(NULL AS {t})" for _, t in probe)
            probe_cols = ", ".join(_sql_ident(c) for c, _ in probe)
            try:
                with _quiet_probe():
                    analyzed = spark.sql(
                        f"SELECT * FROM VALUES ({nulls}) AS _p({probe_cols})"
                        f" WHERE (\n{where}\n)"
                    )._jdf.queryExecution().analyzed()
            except Exception as e:
                raise MetadataAggregateUnsupported(
                    f"predicate {where!r} is not decidable from "
                    f"file-constant columns alone: {e}"
                ) from None
            # the predicate evaluates once per FILE here, so a
            # nondeterministic one (rand() < 0.5) would silently turn
            # row-granular sampling into file-granular — ask
            # Catalyst's own deterministic flag, no name list
            try:
                where_det = analyzed.deterministic()
            except Exception:
                where_det = False  # introspection failed: bail to scan
            if not where_det:
                raise MetadataAggregateUnsupported(
                    f"predicate {where!r} is nondeterministic:"
                    " per-file evaluation would diverge from row"
                    " semantics"
                )
        const_cols = list(group_by) + [
            c for c in refd if c not in group_by
        ]

        val_cols = sorted(set(min_of) | set(max_of) | set(count_of))
        # columns whose bounds are only trustworthy under the
        # NaN-aware stats fold (see _stats_nan_aware)
        float_cols = {
            c
            for c in by_name
            if isinstance(by_name[c].dataType, (T.FloatType, T.DoubleType))
        }
        nan_sensitive = (
            (set(min_of) | set(max_of)) & float_cols
        )
        # per file with live rows: (index, *recorded strings) — the
        # constant columns' values, then each value column's min and max
        # — and, by index, its live rows and per-column non-null counts
        rows, live, nonnull = [], {}, {}
        for i, f in enumerate(snap.files):
            st = snap.stats.get(f)
            if st is None or ":rows:" not in st:
                raise MetadataAggregateUnsupported(f"no stats for {f!r}")
            if nan_sensitive and not _stats_nan_aware(st):
                raise MetadataAggregateUnsupported(
                    f"stats for {f!r} predate the NaN-aware fold"
                    f" (no :stats_version: >= {_NAN_AWARE_STATS_VERSION}):"
                    f" float/double MIN/MAX on {sorted(nan_sensitive)}"
                    " could silently drop NaN — re-append/compact to"
                    " refresh"
                )
            live_rows = int(st[":rows:"]) - deleted_by_base.get(
                f.split("/")[-1], 0
            )
            if live_rows < 0:
                raise MetadataAggregateUnsupported(
                    f"delete counts exceed rows for {f!r}"
                )
            if live_rows == 0:
                continue  # empty file: contributes nothing, no entries
            row: list = [i]
            # group value: identity-partition path segment first (any
            # type, the exact written form), else a file-constant
            # stats range
            pv = partition_values(f)
            for col in const_cols:
                nm = next((n for n in names_for(col) if n in pv), None)
                if nm is not None:
                    row.append(pv[nm])
                    continue
                ent = next(
                    (st[nm] for nm in names_for(col) if nm in st), None
                )
                if ent is None:
                    raise MetadataAggregateUnsupported(
                        f"group/where column {col!r} has no partition"
                        f" segment or stats in {f!r}"
                    )
                lo, hi, nulls, n = ent
                if (
                    col in float_cols
                    and not _stats_nan_aware(st)
                ):
                    raise MetadataAggregateUnsupported(
                        f"group/where column {col!r}: stats for {f!r}"
                        " predate the NaN-aware fold, min==max cannot"
                        " prove float constancy — re-append/compact"
                    )
                if nulls == 0 and lo is not None and lo == hi:
                    # min==max proves constancy for float/double too:
                    # a stats entry only EXISTS for NaN-free files
                    # (the commit fold marks NaN-bounded columns
                    # broken), so [5.0, NaN] can never present as
                    # bounds 5.0/5.0 here — guaranteed by the
                    # :stats_version: gate just above.
                    row.append(lo)
                elif nulls == n:
                    row.append(None)
                else:
                    raise MetadataAggregateUnsupported(
                        f"group/where column {col!r} is not constant"
                        f" in {f!r}"
                    )
            nn = []
            for col in val_cols:
                ent = next(
                    (st[nm] for nm in names_for(col) if nm in st), None
                )
                if ent is None:
                    raise MetadataAggregateUnsupported(
                        f"no stats entry for {col!r} in {f!r}"
                    )
                lo, hi, nulls, n = ent
                row += [lo, hi]
                nn.append(int(n) - int(nulls))
            rows.append(tuple(row))
            live[i], nonnull[i] = live_rows, nn

        # Spark's own try_cast types each recorded string and the WHERE
        # evaluates per file, in a projection over a local relation of
        # the per-file rows (Arrow-built: it grows with the file count);
        # Catalyst's ConvertToLocalRelation evaluates that projection
        # inside the optimizer, so the collect runs no job.
        def typed(raw: str, col: str) -> str:
            return (
                f"try_cast({_sql_ident(raw)} AS"
                f" {by_name[col].dataType.simpleString()})"
            )

        def order_key(name: str, col: str) -> str:
            # instants order and group as instants: a naive Python
            # datetime repeats wall-clock times across a DST fall-back
            dt = by_name[col].dataType
            if isinstance(dt, T.TimestampType):
                return f"unix_micros({_sql_ident(name)})"
            if isinstance(dt, T.DateType):
                return f"unix_date({_sql_ident(name)})"
            return _sql_ident(name)

        # (recorded column, typed column, source column) in key order;
        # the typed constant columns carry their own names, which the
        # WHERE resolves against
        cols = [(f"_g_{c}", c, c) for c in const_cols] + [
            (f"_{side}_{c}", f"_t{side}_{c}", c)
            for c in val_cols
            for side in ("min", "max")
        ]
        recorded = {r[0]: r[1:] for r in rows}
        if rows and (cols or where is not None):
            inner = ["_fidx"] + [
                f"{typed(raw, c)} AS {_sql_ident(name)}"
                for raw, name, c in cols
            ]
            # newlines end any line comment the predicate carries
            keep = "TRUE" if where is None else f"(\n{where}\n)"
            outer = ["_fidx", f"{keep} AS _keep"] + [
                f"{order_key(name, c)} AS _k{k}"
                for k, (_, name, c) in enumerate(cols)
            ]
            per_file = local_frame(
                spark, rows,
                T.StructType(
                    [T.StructField("_fidx", T.IntegerType(), False)]
                    + [T.StructField(raw, T.StringType()) for raw, _, _ in cols]
                ),
            )
            evaluated = [
                (r[0], r[1], tuple(r[2:]))
                for r in per_file.selectExpr(*inner)
                .selectExpr(*outer)
                .collect()
            ]
        else:
            evaluated = [(i, True, ()) for i in live]

        # refuse on ANY unparseable recorded value (raw non-null but
        # cast null), in every file, kept by the WHERE or not
        for i, _, ks in evaluated:
            if any(
                s is not None and k is None for s, k in zip(recorded[i], ks)
            ):
                raise MetadataAggregateUnsupported(
                    "a recorded stats value does not cast back through its"
                    " declared type"
                )

        # The fold, on the driver: exact integer sums, and per group and
        # value column the (key, recorded string) of the least min and
        # the greatest max, all-null ranges ignored as SQL ignores NULLs.
        n_grp, n_const, n_val = len(group_by), len(const_cols), len(val_cols)

        def new_group(ks: tuple, raws: tuple) -> dict:
            return {
                # Spark's grouping normalises -0.0 to 0.0
                "g": [
                    "0.0" if col in float_cols and k == 0 else raw
                    for col, k, raw in zip(group_by, ks, raws)
                ],
                "rows": 0,
                "lo": [None] * n_val,
                "hi": [None] * n_val,
                "nn": [0] * n_val,
            }

        groups = {} if group_by else {(): new_group((), ())}
        for i, kept, ks in evaluated:
            if not kept:
                continue  # false or NULL drops the whole file
            gkey = tuple(_group_key(k) for k in ks[:n_grp])
            acc = groups.get(gkey)
            if acc is None:
                acc = groups[gkey] = new_group(ks, recorded[i])
            acc["rows"] += live[i]
            for j in range(n_val):
                at = n_const + 2 * j
                lo, hi = ks[at], ks[at + 1]
                if lo is not None and (
                    acc["lo"][j] is None or lo < acc["lo"][j][0]
                ):
                    acc["lo"][j] = (lo, recorded[i][at])
                if hi is not None and (
                    acc["hi"][j] is None or hi > acc["hi"][j][0]
                ):
                    acc["hi"][j] = (hi, recorded[i][at + 1])
                acc["nn"][j] += nonnull[i][j]

        # The answer: an inline table (one row per group) of the winning
        # recorded strings through the same try_cast, so values, types
        # and names are Spark's own. It is one parse on the JVM, and a
        # local relation, so no job runs either.
        def recorded_of(w) -> str:
            return _sql_string(None if w is None else w[1])

        names = [f"_g_{col}" for col in group_by] + ["_rows"] + [
            f"_{kind}_{col}" for col in val_cols for kind in ("min", "max", "nn")
        ]
        values = [
            (
                *map(_sql_string, acc["g"]),
                f"CAST({acc['rows']} AS BIGINT)",
                *(
                    v
                    for lo, hi, nn in zip(acc["lo"], acc["hi"], acc["nn"])
                    for v in (
                        recorded_of(lo), recorded_of(hi),
                        f"CAST({nn} AS BIGINT)",
                    )
                ),
            )
            # a GROUP BY over no file: one typed row, filtered out below
            for acc in groups.values()
            or [new_group((None,) * n_grp, (None,) * n_grp)]
        ]
        sel = [
            f"{typed(f'_g_{col}', col)} AS {_sql_ident(col)}"
            for col in group_by
        ]
        if count_alias is not None:
            sel.append(f"_rows AS {_sql_ident(count_alias)}")
        sel += [
            f"{typed(f'_min_{col}', col)} AS {_sql_ident(alias)}"
            for col, alias in min_of.items()
        ]
        sel += [
            f"{typed(f'_max_{col}', col)} AS {_sql_ident(alias)}"
            for col, alias in max_of.items()
        ]
        sel += [
            f"{_sql_ident(f'_nn_{col}')} AS {_sql_ident(alias)}"
            for col, alias in count_of.items()
        ]
        return spark.sql(
            f"SELECT {', '.join(sel)} FROM VALUES "
            + ", ".join("(" + ", ".join(v) + ")" for v in values)
            + f" AS _v({', '.join(map(_sql_ident, names))})"
            + ("" if groups else " WHERE FALSE")
        )

    def read_incremental(
        self,
        spark: SparkSession,
        start_snapshot_id: int | None,
        end_snapshot_id: int | None = None,
        allow_replace: bool = False,
    ) -> DataFrame:
        """Changelog read: rows appended after `start` up to `end`.

        Engine equivalent of the Iceberg
        ``start-snapshot-id``/``end-snapshot-id`` scan the reference
        uses for bronze->silver CDC (scripts/bronze-silver.py:149-152).
        `start` is exclusive, `end` inclusive (Iceberg semantics).
        Like Iceberg's incremental append scan, raises if the range
        crosses a non-append snapshot (overwrite/merge rewrites files,
        so "new files" would double-count old rows) unless
        ``allow_replace`` is set.
        """
        end = (
            self.current_snapshot()
            if end_snapshot_id is None
            else self.snapshot_by_id(end_snapshot_id)
        )
        if start_snapshot_id is None:
            return self._read_files(
                spark,
                end.files,
                schema_from_json(end.schema_json),
                renames=self._snap_renames(end),
            )
        start = self.snapshot_by_id(start_snapshot_id)
        if not allow_replace:
            # only the versions in the range: a branch's head can sit
            # above main's, so the range may include other refs' commits
            for v in range(start.version + 1, end.version + 1):
                try:
                    s = self._load(v)
                except OSError:  # expired
                    continue
                if s.operation not in (
                    "append",
                    "create",
                    "evolve-schema",  # metadata-only: adds no files
                    "evolve-spec",  # metadata-only: adds no files
                    "set-properties",
                ):
                    raise ValueError(
                        f"incremental read crosses non-append snapshot "
                        f"{s.snapshot_id} ({s.operation})"
                    )
        old_files = set(start.files)
        new_files = [f for f in end.files if f not in old_files]
        return self._read_files(
            spark,
            new_files,
            schema_from_json(end.schema_json),
            renames=self._snap_renames(end),
        )

    CHANGE_TYPE_COL = "_change_type"

    def changelog(
        self,
        spark: SparkSession,
        start_snapshot_id: int,
        end_snapshot_id: int | None = None,
        keys: list[str] | None = None,
    ) -> DataFrame:
        """Row-level CDC between two snapshots (Iceberg's
        create_changelog_view): every row tagged INSERT / DELETE /
        UPDATE_BEFORE / UPDATE_AFTER in ``_change_type``.

        Cost scales with the CHANGED data, not the table: candidates
        come only from files added/removed in the range plus files
        targeted by position deletes committed in it — rows in
        carried-over untouched files cannot have changed. With
        ``keys``, old/new candidate rows pair up per key: both sides
        present and payload-equal cancels (a COW rewrite carries
        unchanged rows into new files — not a change), differing
        payload emits the UPDATE pair. Without keys it degrades to a
        set-diff (INSERT/DELETE only).
        """
        start = self.snapshot_by_id(start_snapshot_id)
        end = (
            self.current_snapshot()
            if end_snapshot_id is None
            else self.snapshot_by_id(end_snapshot_id)
        )
        start_files, end_files = set(start.files), set(end.files)
        added = sorted(end_files - start_files)
        removed = sorted(start_files - end_files)
        # files whose live row set shrank via position deletes
        # committed in the range: the delete files are delta-sized,
        # reading their target names is driver-side planning work
        new_posdels = [
            f for f in end.delete_files if f not in set(start.delete_files)
        ]
        touched_bases: set[str] = set()
        if new_posdels:
            import pyarrow.parquet as pq

            for f in new_posdels:
                col = pq.read_table(
                    self.data_root / f, columns=["file_name"]
                ).column("file_name")
                touched_bases.update(col.to_pylist())
        posdel_targets = sorted(
            f
            for f in (start_files & end_files)
            if f.rsplit("/", 1)[-1] in touched_bases
        )
        # both sides through end's schema and renames; each side drops
        # the rows its own snapshot position-deleted
        old_rows = self._read_live(
            spark, end, removed + posdel_targets, deletes=start
        )
        new_rows = self._read_live(spark, end, added + posdel_targets)
        names = [f.name for f in schema_from_json(end.schema_json).fields]
        ct = self.CHANGE_TYPE_COL
        if not keys:
            ins = new_rows.exceptAll(old_rows).withColumn(ct, F.lit("INSERT"))
            del_ = old_rows.exceptAll(new_rows).withColumn(ct, F.lit("DELETE"))
            return ins.unionByName(del_)
        non_keys = [c for c in names if c not in keys]
        # presence probes: a side is present when its row exists in
        # the outer join (probe a constant tag column, so null payload
        # values can't be mistaken for absence)
        o2 = old_rows.withColumn("_o", F.lit(1)).alias("o")
        n2 = new_rows.withColumn("_n", F.lit(1)).alias("n")
        joined = o2.join(n2, on=keys, how="full_outer")
        same = F.lit(True)
        for c in non_keys:
            same = same & F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
        both = F.col("o._o").isNotNull() & F.col("n._n").isNotNull()
        only_old = F.col("n._n").isNull()
        only_new = F.col("o._o").isNull()
        old_sel = [F.col(k) for k in keys] + [
            F.col(f"o.{c}").alias(c) for c in non_keys
        ]
        new_sel = [F.col(k) for k in keys] + [
            F.col(f"n.{c}").alias(c) for c in non_keys
        ]
        inserts = joined.filter(only_new).select(
            *new_sel, F.lit("INSERT").alias(ct)
        )
        deletes = joined.filter(only_old).select(
            *old_sel, F.lit("DELETE").alias(ct)
        )
        changed = joined.filter(both & ~same)
        upd_before = changed.select(
            *old_sel, F.lit("UPDATE_BEFORE").alias(ct)
        )
        upd_after = changed.select(
            *new_sel, F.lit("UPDATE_AFTER").alias(ct)
        )
        return (
            inserts.unionByName(deletes)
            .unionByName(upd_before)
            .unionByName(upd_after)
            .select(*names, ct)
        )

    # ------------------------------------------------------------------
    # metadata tables (reference scripts/bronze-silver.py:119 queries
    # `<table>.history`; Iceberg also exposes .snapshots / .files)
    # ------------------------------------------------------------------
    def main_log(self) -> list[Snapshot]:
        """main's snapshot log, oldest first: ``CURRENT`` and its parent
        chain back to the first snapshot or to the first expired one.
        A branch commit enters it only once main reaches it by
        fast-forward; a rollback commits forward, so what it undid
        stays in the log."""
        log = [self.current_snapshot()]
        while True:
            pid = log[-1].parent_id
            # ids are versions, so a parent's is always the smaller
            if pid is None or pid >= log[-1].version:
                break
            try:
                log.append(self._load(pid))
            except OSError:
                break  # expired
        return log[::-1]

    def history_df(self, spark: SparkSession) -> DataFrame:
        """``<table>.history``: main's snapshot log (``main_log``).
        ``snapshots_df`` lists every retained snapshot, branch heads
        included."""
        rows = [
            (s.timestamp_ms, s.snapshot_id, s.parent_id, True)
            for s in self.main_log()
        ]
        df = local_frame(
            spark, rows,
            "made_current_at_ms long, snapshot_id long, parent_id long, is_current_ancestor boolean",
        )
        return df.withColumn(
            "made_current_at", F.timestamp_millis(F.col("made_current_at_ms"))
        ).drop("made_current_at_ms")

    def snapshots_df(self, spark: SparkSession) -> DataFrame:
        rows = [
            (
                s.timestamp_ms,
                s.snapshot_id,
                s.parent_id,
                s.operation,
                json.dumps(s.summary),
            )
            for s in self.snapshots()
        ]
        df = local_frame(
            spark, rows,
            "committed_at_ms long, snapshot_id long, parent_id long, operation string, summary string",
        )
        return df.withColumn(
            "committed_at", F.timestamp_millis(F.col("committed_at_ms"))
        ).drop("committed_at_ms")

    def files_df(self, spark: SparkSession) -> DataFrame:
        """``<table>.files`` metadata table. ``content`` follows the
        Iceberg enum: 0 = data file, 1 = position-delete file."""
        snap = self.current_snapshot()
        rows = [
            (
                f,
                content,
                _file_rows(self.data_root / f),
                (self.data_root / f).stat().st_size,
            )
            for f, content in [(f, 0) for f in snap.files]
            + [(f, 1) for f in snap.delete_files]
        ]
        return local_frame(
            spark, rows,
            "file_path string, content int, record_count long, "
            "file_size_in_bytes long",
        )

    def manifests_df(self, spark: SparkSession) -> DataFrame:
        """``<table>.manifests`` metadata table (Iceberg parity): one
        row per retained manifest file — path, length, the snapshot
        it records, and its added/existing/removed data-file counts
        plus the live position-delete file count. The native format
        keeps exactly one manifest JSON per snapshot (no reused
        shards), so Iceberg's added/existing/deleted delete-file
        triple collapses to one live count here."""
        rows = []
        for s in self.snapshots():
            p = self._manifest_path(s.version)
            live = set(s.files)
            added = len(live & set(s.added_files))
            rows.append(
                (
                    str(p),
                    p.stat().st_size if p.exists() else None,
                    s.snapshot_id,
                    added,
                    len(live) - added,
                    len(s.removed_files),
                    len(s.delete_files),
                )
            )
        return local_frame(
            spark, rows,
            "path string, length long, snapshot_id long, "
            "added_data_files_count int, existing_data_files_count int, "
            "deleted_data_files_count int, delete_files_count int",
        )

    def entries_df(self, spark: SparkSession) -> DataFrame:
        """``<table>.entries`` metadata table: one manifest entry per
        (status, file) of the CURRENT snapshot. ``status`` follows
        the Iceberg enum (0 EXISTING / 1 ADDED / 2 DELETED),
        ``sequence_number`` is the file's first-appearance snapshot
        id (the same data sequence number the v2 export writes),
        ``content`` 0 = data, 1 = position deletes. Removed files
        whose bytes were already vacuumed report NULL record_count."""
        snap = self.current_snapshot()
        first_seq: dict[str, int] = {}
        for s in self.snapshots():
            for f in list(s.files) + list(s.delete_files):
                first_seq.setdefault(f, s.snapshot_id)

        def rows_of(f: str):
            p = self.data_root / f
            return _file_rows(p) if p.exists() else None

        added = set(snap.added_files)
        rows = []
        for f in sorted(snap.files):
            rows.append(
                (1 if f in added else 0, snap.snapshot_id,
                 first_seq.get(f, snap.snapshot_id), f, 0, rows_of(f))
            )
        for f in sorted(snap.delete_files):
            # delete files carry forward across commits just like data
            # files: ADDED (1) only when this snapshot introduced the
            # file, EXISTING (0) when inherited from the parent
            fseq = first_seq.get(f, snap.snapshot_id)
            rows.append(
                (1 if fseq == snap.snapshot_id else 0, snap.snapshot_id,
                 fseq, f, 1, rows_of(f))
            )
        for f in sorted(snap.removed_files):
            rows.append(
                (2, snap.snapshot_id,
                 first_seq.get(f, snap.snapshot_id), f, 0, rows_of(f))
            )
        return local_frame(
            spark, rows,
            "status int, snapshot_id long, sequence_number long, "
            "file_path string, content int, record_count long",
        )

    def partitions_df(self, spark: SparkSession) -> DataFrame:
        """``<table>.partitions`` metadata table (Iceberg parity):
        one row per live partition tuple with file/record/byte totals,
        split by content kind (data vs position-delete files).
        Partition values are parsed back from the writer's own Hive
        ``col=value`` segments, so after spec evolution every spec
        generation's tuples appear side by side — exactly how
        Iceberg's partitions table surfaces mixed specs. Native
        position-delete files are table-global (data-root level), so
        their rows are attributed to partitions via the TARGET file
        paths they name (a driver-side read of the small delete
        parquets' file_name column; Iceberg gets the same attribution
        from its per-partition delete manifests); a delete file
        touching k partitions counts toward each's file count.
        Driver-side metadata planning (one output row per partition),
        the same cost class as files_df."""
        snap = self.current_snapshot()

        def key_of(rel: str):
            return tuple(partition_values(rel).items())

        agg: dict[tuple, list[int]] = {}
        for f in snap.files:
            a = agg.setdefault(key_of(f), [0, 0, 0, 0, 0])
            a[0] += 1
            a[1] += _file_rows(self.data_root / f)
            a[2] += (self.data_root / f).stat().st_size
        # delete rows name targets by BASENAME (delete files are
        # data-root-global); the manifest's file list recovers the
        # partition-laid-out path
        by_base = {Path(f).name: f for f in snap.files}
        for f in snap.delete_files:
            import pyarrow.parquet as pq

            names = pq.read_table(
                self.data_root / f, columns=["file_name"]
            ).column("file_name").to_pylist()
            touched: set[tuple] = set()
            for target in names:
                k = key_of(by_base.get(target, target))
                touched.add(k)
                agg.setdefault(k, [0, 0, 0, 0, 0])[4] += 1
            for k in touched:
                agg[k][3] += 1
        rows = [
            (dict(k), a[0], a[1], a[2], a[3], a[4])
            # str-keyed sort: partition values may be None (null
            # partition), which Python won't order against str
            for k, a in sorted(agg.items(), key=lambda kv: str(kv[0]))
        ]
        return local_frame(
            spark, rows,
            "partition map<string,string>, data_file_count long, "
            "record_count long, total_data_file_size_in_bytes long, "
            "position_delete_file_count long, "
            "position_delete_record_count long",
        )

    def latest_snapshot_id(self) -> int:
        return self.current_snapshot().snapshot_id

    # ------------------------------------------------------------------
    # maintenance: snapshot expiry + orphan-file vacuum (the
    # expire_snapshots / remove_orphan_files pair every production
    # Iceberg table runs on a schedule)
    # ------------------------------------------------------------------
    def evolve_partition_spec(self, new_spec: list[str]) -> Snapshot:
        """Partition-spec evolution (Iceberg's flagship metadata
        trick): change how FUTURE writes are laid out without
        rewriting a single existing file. Old files keep their old
        directory layout; reads group files by their path signature
        (_read_files) and union the layouts; partition pruning stays
        correct because it is per-file and conservative (a file
        missing the pruned dir segment is kept). compact() rewrites
        everything into the current spec when wanted.
        """
        declared = {f.name for f in self.schema.fields}
        for t in parse_spec(list(new_spec)):
            if t.col not in declared:
                raise KeyError(f"no such column {t.col!r} in {new_spec!r}")
        cur = self.current_snapshot()
        if list(new_spec) == list(cur.partition_by):
            return cur
        return self._commit_metadata(
            cur, "evolve-spec", partition_by=list(new_spec)
        )

    def set_properties(self, props: dict[str, str]) -> Snapshot:
        """Metadata-only property commit (ALTER TABLE ... SET
        TBLPROPERTIES): same files, new properties merged over the
        current set."""
        return self._commit_metadata(
            self.current_snapshot(), "set-properties",
            new_properties=dict(props),
        )

    def read_with_metadata(self, spark: SparkSession) -> DataFrame:
        """Full-table scan plus Iceberg's row-lineage metadata columns
        ``_file`` (data file, rel to data/) and ``_pos`` (row ordinal
        within it — the same pos position deletes target). Live
        position deletes are applied."""
        snap = self.current_snapshot()
        df = self._read_live(spark, snap, keep_pos=True)
        # basename -> rel path (basenames are uuid-unique)
        rel_rows = [(f.rsplit("/", 1)[-1], f) for f in snap.files]
        rel_df = local_frame(
            spark, rel_rows, "_mc_base string, _file string"
        )
        return (
            df.join(
                F.broadcast(rel_df),
                F.col(self.POS_FILE_COL) == F.col("_mc_base"),
                "left",
            )
            .withColumn("_pos", F.col(self.POS_POS_COL))
            .drop(self.POS_FILE_COL, self.POS_POS_COL, "_mc_base")
        )

    def build_bloom_index(
        self,
        spark: SparkSession,
        cols: list[str],
        num_bits: int | None = None,
        num_hashes: int | None = None,
    ) -> dict:
        """Build/refresh the per-file bloom index on ``cols`` for
        equality-predicate file skipping in ``scan()`` — the
        point-lookup complement to min/max stats pruning (Iceberg's
        Puffin-blob role). See lakehouse/bloom_index.py."""
        from . import bloom_index as B

        return B.build_bloom_index(
            spark,
            self,
            cols,
            num_bits or B.DEFAULT_BITS,
            num_hashes or B.DEFAULT_HASHES,
        )

    def rewrite_position_deletes(self, spark: SparkSession) -> Snapshot:
        """Consolidate the live position-delete file set into one
        sorted file (Iceberg's rewrite_position_delete_files
        procedure): every MOR DELETE/UPDATE/MERGE commit adds a small
        delete file, and reads anti-join ALL of them — a maintenance
        pass caps that fan-in without touching any data file. Entries are
        carried verbatim (including ones referencing since-removed
        files — inert but accounting-neutral), so the logical row
        count is unchanged by construction."""
        cur = self.current_snapshot()
        if len(cur.delete_files) <= 1:
            return cur
        added = self._write_position_deletes(
            self._position_deletes_df(spark, cur), "consolidated-"
        )
        return self._commit_metadata(
            cur, "rewrite-deletes", delete_files=added
        )

    def compact_binpack(
        self,
        spark: SparkSession,
        small_file_bytes: int = 64 * 1024 * 1024,
        min_group: int = 2,
    ) -> Snapshot:
        """SURGICAL small-file compaction (Iceberg
        rewrite_data_files binpack strategy): rewrite only partitions'
        files BELOW ``small_file_bytes``, leaving well-sized files
        untouched in the manifest. This is the maintenance pass a
        100 TB streaming-append table actually runs — full
        ``compact()`` rewrites the whole table, which is a one-off
        migration tool, not a scheduled job.

        Grouping is per partition directory (a rewrite must not move
        rows across partition dirs); a partition needs at least
        ``min_group`` small files to be worth a rewrite. Live
        position deletes on the chosen files are applied (the rewrite
        materializes them for those files only; delete entries for
        untouched files stay live)."""
        snap = self.current_snapshot()
        by_dir: dict[str, list[str]] = {}
        for f in snap.files:
            try:
                size = (self.data_root / f).stat().st_size
            except OSError:
                continue
            if size < small_file_bytes:
                d = f.rsplit("/", 1)[0] if "/" in f else ""
                by_dir.setdefault(d, []).append(f)
        chosen = [
            f
            for fs in by_dir.values()
            if len(fs) >= min_group
            for f in fs
        ]
        if not chosen:
            return snap
        rewritten = self._read_live(spark, snap, chosen)
        # one output file per partition group is the binpack target;
        # coalesce to the group count so Spark doesn't shuffle
        n_groups = sum(1 for fs in by_dir.values() if len(fs) >= min_group)
        rewritten = rewritten.coalesce(max(n_groups, 1))
        # prune delete entries the rewrite just materialized, so the
        # logical row accounting stays exact (a cleared entry adds its
        # rows back; the physical removal re-subtracts them)
        new_delete_files = None
        if snap.delete_files:
            import pyarrow as pa
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            chosen_base = pa.array(
                sorted(f.rsplit("/", 1)[-1] for f in chosen)
            )
            new_delete_files = []
            for rel in snap.delete_files:
                tbl = pq.read_table(self.data_root / rel)
                kept = tbl.filter(
                    pc.invert(
                        pc.is_in(
                            tbl.column("file_name"), value_set=chosen_base
                        )
                    )
                )
                if kept.num_rows == tbl.num_rows:
                    new_delete_files.append(rel)
                elif kept.num_rows > 0:
                    out = f"posdel-{uuid.uuid4().hex[:12]}-binpack.parquet"
                    pq.write_table(kept, self.data_root / out)
                    new_delete_files.append(out)
                # fully-materialized delete files drop out entirely
        return self.replace_files(
            chosen, rewritten, operation="replace",
            delete_files=new_delete_files, _keep_layout=True,
        )

    def expire_snapshots(
        self, keep_last: int = 1, older_than_ms: int | None = None
    ) -> list[int]:
        """Drop manifest history older than the last `keep_last`
        snapshots (time travel to them stops working); data files
        still referenced by retained snapshots are kept. Returns the
        expired snapshot ids.

        ``older_than_ms`` is Iceberg's ``expireSnapshots().
        expireOlderThan(ts)`` half of the contract: when given, a
        snapshot must ALSO be older than the timestamp to expire —
        ``keep_last`` stays a floor (Iceberg's ``retainLast``), so
        recent history survives even when the timestamp would take
        everything."""
        if keep_last < 1:
            raise ValueError("must keep at least the current snapshot")
        cur = self._current_version()
        cutoff = cur - keep_last + 1
        # named refs pin their target snapshots (Iceberg retains every
        # ref head through expiration)
        pinned = {r["snapshot_id"] for r in self.refs().values()}
        to_expire = [
            s for s in self.snapshots()
            if s.version < cutoff
            and s.snapshot_id not in pinned
            and (older_than_ms is None or s.timestamp_ms < older_than_ms)
        ]
        expired = []
        for s in to_expire:
            self._manifest_path(s.version).unlink(missing_ok=True)
            expired.append(s.snapshot_id)
        return expired

    def rollback_to(self, snapshot_id: int) -> Snapshot:
        """Roll the table back to an earlier snapshot's state
        (Iceberg ``CALL system.rollback_to_snapshot`` parity).

        Metadata-only: commits a NEW head snapshot that re-points at
        the target's file set, schema, and stats — no data is
        rewritten, and the rolled-back snapshots stay in history for
        audit (expire_snapshots removes them later). Refuses if any
        target file has already been vacuumed away.
        """
        base = self._current_version()
        cur = self._load(base)
        target = self.snapshot_by_id(snapshot_id)
        if target.snapshot_id == cur.snapshot_id:
            return cur
        missing = [
            f
            for f in list(target.files) + list(target.delete_files)
            if not (self.data_root / f).exists()
        ]
        if missing:
            raise ValueError(
                f"cannot roll back to snapshot {snapshot_id}: "
                f"{len(missing)} data file(s) already vacuumed "
                f"(e.g. {missing[0]!r})"
            )
        cur_files = set(cur.files)
        target_files = set(target.files)
        new_version = max(self._max_version(), base) + 1
        snap = Snapshot(
            version=new_version,
            snapshot_id=new_version,
            parent_id=cur.snapshot_id,
            timestamp_ms=time.time_ns() // 1_000_000,
            operation="rollback",
            files=sorted(target.files),
            added_files=sorted(target_files - cur_files),
            removed_files=sorted(cur_files - target_files),
            schema_json=target.schema_json,
            partition_by=target.partition_by,
            properties=cur.properties,
            summary={
                "added_files": len(target_files - cur_files),
                "removed_files": len(cur_files - target_files),
                "added_records": 0,
                "total_records": target.summary.get("total_records", 0),
                "rolled_back_to": target.snapshot_id,
            },
            stats=target.stats,
            delete_files=list(target.delete_files),
        )
        return self._commit(snap, expected_parent_version=base)

    def vacuum(
        self, dry_run: bool = False, older_than_seconds: float = 3600.0
    ) -> list[str]:
        """Delete data files referenced by no remaining snapshot
        (files replaced by COW merges / compactions, or left by a
        writer that died before commit). Returns the removed paths.

        Only candidates whose mtime is older than
        ``older_than_seconds`` (default 1 h) are touched: an in-flight
        writer stages files and renames them into the data root BEFORE
        its snapshot commit, so an out-of-band vacuum must not sweep
        young files — the same retention guard Iceberg's
        remove_orphan_files applies. Pass 0 to force (tests,
        known-quiesced tables)."""
        now = time.time()

        def _old(p) -> bool:
            try:
                return now - p.stat().st_mtime >= older_than_seconds
            except OSError:
                return False

        referenced: set[str] = set()
        for s in self.snapshots():
            referenced.update(s.files)
            referenced.update(s.delete_files)
        orphans = [
            f
            for f in _list_parquet(self.data_root)
            if f not in referenced and _old(self.data_root / f)
        ]
        stale_staging = sorted(
            p.name
            for p in self.root.glob("_staging-*")
            if p.is_dir() and _old(p)
        )
        if not dry_run:
            for f in orphans:
                (self.data_root / f).unlink(missing_ok=True)
            # drop now-empty partition dirs
            for dirpath, dirs, names in os.walk(self.data_root, topdown=False):
                if not dirs and not names and Path(dirpath) != self.data_root:
                    os.rmdir(dirpath)
            # staging dirs left by writers that died before commit
            for name in stale_staging:
                shutil.rmtree(self.root / name, ignore_errors=True)
        return sorted(orphans) + stale_staging
