"""SQL-statement surface for the lakehouse catalog.

The reference drives its workflow through ``spark.sql`` text:
``CREATE NAMESPACE IF NOT EXISTS`` (scripts/raw-bronze.py:113),
``SHOW NAMESPACES`` / ``USE`` / ``SHOW TABLES`` / bare-name SELECTs
(README.md:220-229), and a textual ``MERGE INTO ... USING (...) ON
... WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *``
(scripts/bronze-silver.py:213,254-269). Without an Iceberg runtime
those statements have no home, so :class:`SqlSession` dispatches
them onto :class:`Catalog` / :func:`merge_into`, and passes every
other statement (SELECT/WITH/...) to Spark SQL with the current
namespace's tables attached as bare-name temp views — the same
resolution ``USE <ns>`` buys in the reference.

A statement attaches only the tables and stored views whose names
its text mentions (closed over the bodies of the views it names),
and a session plans a table's read once per snapshot: it keeps each
attached frame under a key built from the table's ``CURRENT``
version and the ``os.stat`` of that version's manifest, and calls
``Table.read`` again only when the key changes. Every commit writes
a new version, and a table dropped and recreated, or renamed into a
freed name, reaches its version through a different manifest file,
so the key reads no manifest JSON. A stored view the statement
names is replayed on every statement; a time-travel read is kept,
one per table, under its own snapshot's manifest. Bare names are
temp views of the shared SparkSession, so the sessions on one
SparkSession record which of them bound each name: a statement that
names one another session bound, and that this namespace does not
define, unbinds it instead of reading that session's table.

Statements the manifest already decides start no Spark job:

- ``SELECT`` lists of COUNT(*)/COUNT/MIN/MAX over one table, of its
  current or a ``VERSION``/``TIMESTAMP AS OF`` snapshot, are answered
  from manifest statistics by ``Table.metadata_aggregate`` whenever
  the statistics answer exactly;
- any other single-table ``SELECT ... WHERE`` (same shape, same time
  travel) reads only the files ``Table._plan_files`` keeps, the one
  planner ``Table.scan`` and DELETE/UPDATE use too: the files whose
  manifest min/max bounds, and bloom bitmaps where the table has an
  index, can hold a matching row. A column is matched as Spark
  resolves it, case-insensitively and qualified or not by the table's
  name. When no file survives, the statement runs over an empty local
  relation, so a lookup of an absent key reads no file. Spark still
  evaluates the ``WHERE`` and the select list, so pruning only drops
  files that hold no matching row;
- ``SELECT COUNT(*) FROM <t>.history`` counts main's snapshot log
  (``Table.main_log``) on the driver;
- ``USE``, DDL and the other statements that return nothing return a
  local relation with no columns and no rows.

``TIMESTAMP AS OF`` picks the newest snapshot of main's snapshot log at
or before the timestamp, so an unpublished branch commit never
answers it.

Catalog name prefixes (``s3tablesbucket.example_namespace``) are
accepted and ignored: this engine IS the catalog.

Scale note: dispatch is driver-side string parsing on statements a
human wrote; all data movement stays in the underlying DataFrame
plans (merge_into's file-scoped COW, snapshot-scoped view reads).
"""

from __future__ import annotations

import re
import weakref
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import schema_from_json
from ..session import local_frame
from .catalog import Catalog
from .merge import merge_into
from .table import _sql_ident, _sql_type, _word_refs

_CREATE_NS = re.compile(
    r"^\s*CREATE\s+NAMESPACE\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s*$", re.I
)
_SHOW_NS = re.compile(r"^\s*SHOW\s+NAMESPACES(?:\s+IN\s+[\w.]+)?\s*$", re.I)
_USE = re.compile(r"^\s*USE\s+([\w.]+)\s*$", re.I)
_SHOW_TABLES = re.compile(r"^\s*SHOW\s+TABLES(?:\s+IN\s+([\w.]+))?\s*$", re.I)
_DROP_TABLE = re.compile(
    r"^\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?([\w.]+)\s*$", re.I
)
_DROP_NS = re.compile(
    r"^\s*DROP\s+NAMESPACE\s+(IF\s+EXISTS\s+)?([\w.]+)\s*$", re.I
)
_SHOW_CREATE = re.compile(
    r"^\s*SHOW\s+CREATE\s+TABLE\s+([\w.]+)\s*$", re.I
)
# Iceberg-view-spec surface: the catalog stores the SQL text, every
# read re-resolves it against current table state
_CREATE_VIEW = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+(?:(IF\s+NOT\s+EXISTS)\s+)?"
    r"([\w.]+)\s+AS\s+((?:SELECT|WITH)\b.+)$",
    re.I | re.S,
)
_DROP_VIEW = re.compile(
    r"^\s*DROP\s+VIEW\s+(IF\s+EXISTS\s+)?([\w.]+)\s*$", re.I
)
_SHOW_VIEWS = re.compile(r"^\s*SHOW\s+VIEWS(?:\s+IN\s+([\w.]+))?\s*$", re.I)
# the PARTITIONED BY body tolerates ONE paren nesting level so
# multi-transform specs parse: bucket(4, id), days(ts)
_PART_BODY = r"((?:[^()]|\([^()]*\))*)"
_CREATE_TABLE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s*\((.+?)\)\s*"
    r"(?:USING\s+\w+\s*)?"
    r"(?:PARTITIONED\s+BY\s*\(" + _PART_BODY + r"\)\s*)?"
    r"(?:TBLPROPERTIES\s*\((.*)\)\s*)?$",
    re.I | re.S,
)
_CTAS = re.compile(
    r"^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s*"
    r"(?:USING\s+\w+\s*)?"
    r"(?:PARTITIONED\s+BY\s*\(" + _PART_BODY + r"\)\s*)?"
    r"(?:TBLPROPERTIES\s*\((.*?)\)\s*)?"
    r"AS\s+((?:SELECT|WITH)\b.+)$",
    re.I | re.S,
)
# Iceberg-style time travel after a table name:
#   VERSION AS OF 123 / FOR SYSTEM_VERSION AS OF 123 / VERSION AS OF 'ref'
#   TIMESTAMP AS OF '2026-01-01 00:00:00' / FOR SYSTEM_TIME AS OF ...
_AS_OF = (
    r"(?:FOR\s+)?"
    r"(?:(?:SYSTEM_VERSION|VERSION)\s+AS\s+OF\s+(?:(?P<ver>\d+)|'(?P<ref>\w+)')"
    r"|(?:SYSTEM_TIME|TIMESTAMP)\s+AS\s+OF\s+'(?P<ts>[^']*)')"
)
# aggregate pushdown peephole: SELECT <item>[, <item> ...] FROM
# <table> [<time travel>] [WHERE <pred>] [GROUP BY <cols>] where every
# item is COUNT(*) / COUNT(col) / MIN(col) / MAX(col) or a GROUP BY
# column (no JOIN / subquery / ORDER / HAVING) is answered from the
# manifest statistics of the current or the time-travel snapshot when
# exact — Iceberg's aggregate-push-down surface; anything else (or an
# unsupported snapshot state / a predicate or grouping not decidable
# from file-constant columns) falls through to the normal scan path
_AGG_ONLY = re.compile(
    r"^\s*SELECT\s+(?P<sel>.+?)\s*FROM\s+(?P<tbl>[\w.]+)"
    r"(?:\s+(?P<asof>" + _AS_OF + r"))?"
    r"(?:\s+WHERE\s+(?P<where>.+?))?"
    r"(?:\s+GROUP\s+BY\s+(?P<grp>(?:`?\w+`?)(?:\s*,\s*`?\w+`?)*))?\s*$",
    re.I | re.S,
)
# NDV peephole: a single approx_count_distinct over a bare table —
# answered from manifest HLL sketches when recorded (ndv.sketch.columns)
_NDV_ONLY = re.compile(
    r"^\s*SELECT\s+APPROX_COUNT_DISTINCT\s*\(\s*`?(\w+)`?\s*\)"
    r"(?:\s+AS\s+`?(\w+)`?)?\s+FROM\s+([\w.]+)\s*$",
    re.I,
)
_AGG_ITEM = re.compile(
    r"^(COUNT|MIN|MAX)\s*\(\s*(\*|`?\w+`?)\s*\)"
    r"(?:\s+AS\s+`?(\w+)`?)?$",
    re.I,
)
# a bare (optionally aliased) column in the select list — legal only
# when it also appears in GROUP BY
_BARE_COL = re.compile(r"^`?(\w+)`?(?:\s+AS\s+`?(\w+)`?)?$", re.I)
# any of these inside the captured select list or WHERE tail means
# the statement is NOT the simple shape (conservative: peephole
# declines, scan path answers — always correct, never required)
_AGG_VETO = re.compile(
    r"\b(GROUP|ORDER|LIMIT|HAVING|JOIN|UNION|SELECT|WINDOW|"
    r"DISTINCT)\b",
    re.I,
)
# ``SELECT * FROM <table>.history`` — the reference's own silver job
# statement (scripts/bronze-silver.py:119). Matched only right after
# FROM/JOIN so ``alias.history`` column refs are never touched.
_META_REF = re.compile(
    r"\b(FROM|JOIN)\s+((?:\w+\.)*\w+)"
    r"\.(history|snapshots|files|refs|partitions|entries|manifests)\b",
    re.I,
)
# ``SELECT COUNT(*) FROM <table>.history``: the length of main's
# snapshot log, counted on the driver
_HISTORY_COUNT = re.compile(
    r"^\s*SELECT\s+COUNT\s*\(\s*\*\s*\)(?:\s+AS\s+`?(\w+)`?)?"
    r"\s+FROM\s+((?:\w+\.)*\w+)\.history\s*$",
    re.I,
)
# time travel in statement text: FROM/JOIN <table> <_AS_OF clause>
_TIME_TRAVEL = re.compile(
    r"\b(FROM|JOIN)\s+((?:\w+\.)*\w+)\s+" + _AS_OF, re.I
)
_ALTER = re.compile(r"^\s*ALTER\s+TABLE\s+([\w.]+)\s+(.+)$", re.I | re.S)
_ALTER_ADD = re.compile(r"^ADD\s+COLUMNS?\s+(.+)$", re.I | re.S)
_ALTER_RENAME = re.compile(
    r"^RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)$", re.I
)
_ALTER_DROP = re.compile(r"^DROP\s+COLUMNS?\s+\(?\s*(\w+)\s*\)?$", re.I)
# Iceberg branch/tag DDL: ALTER TABLE t CREATE BRANCH b [AS OF
# VERSION n] / CREATE TAG g [...] / DROP BRANCH b / DROP TAG g
_ALTER_CREATE_REF = re.compile(
    r"^CREATE\s+(BRANCH|TAG)\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+)"
    r"(?:\s+AS\s+OF\s+VERSION\s+(\d+))?$",
    re.I,
)
_ALTER_PROMOTE = re.compile(
    r"^ALTER\s+COLUMN\s+(\w+)\s+TYPE\s+(.+?)\s*$", re.I | re.S
)
_ALTER_RENAME_TABLE = re.compile(
    r"^RENAME\s+TO\s+([\w.]+)\s*$", re.I
)
_TRUNCATE = re.compile(r"^\s*TRUNCATE\s+TABLE\s+([\w.]+)\s*$", re.I)
_ALTER_ADD_PART = re.compile(
    r"^ADD\s+PARTITION\s+FIELD\s+(.+?)\s*$", re.I | re.S
)
_ALTER_DROP_PART = re.compile(
    r"^DROP\s+PARTITION\s+FIELD\s+(.+?)\s*$", re.I | re.S
)
_ALTER_SET_PROPS = re.compile(
    r"^SET\s+TBLPROPERTIES\s*\((.+)\)\s*$", re.I | re.S
)
_ALTER_WRITE_ORDERED = re.compile(
    r"^WRITE\s+ORDERED\s+BY\s*\(?\s*(.+?)\s*\)?\s*$", re.I | re.S
)
_ALTER_WRITE_UNORDERED = re.compile(r"^WRITE\s+UNORDERED\s*$", re.I)
_ALTER_DROP_REF = re.compile(
    r"^DROP\s+(BRANCH|TAG)\s+(?:IF\s+EXISTS\s+)?(\w+)$", re.I
)
_DESCRIBE = re.compile(
    r"^\s*DESC(?:RIBE)?\s+(?:TABLE\s+)?(?:EXTENDED\s+)?([\w.]+)\s*$", re.I
)
_INSERT_OVERWRITE = re.compile(
    r"^\s*INSERT\s+OVERWRITE\s+(?:TABLE\s+)?([\w.]+)\s+(.+)$", re.I | re.S
)
# Iceberg-style stored procedures: CALL [cat.]system.<proc>(args).
_CALL = re.compile(r"^\s*CALL\s+(?:\w+\.)*(\w+)\s*\((.*)\)\s*$", re.I | re.S)
_DELETE = re.compile(r"^\s*DELETE\s+FROM\s+([\w.]+)\s+WHERE\s+(.+)$", re.I | re.S)
_UPDATE = re.compile(
    r"^\s*UPDATE\s+([\w.]+)\s+SET\s+(.+?)\s+WHERE\s+(.+)$", re.I | re.S
)
_INSERT = re.compile(r"^\s*INSERT\s+INTO\s+([\w.]+)\s+(.+)$", re.I | re.S)
_MERGE_HEAD = re.compile(
    r"^\s*MERGE\s+INTO\s+([\w.]+)(?:\s+AS\s+(\w+))?\s+USING\s+", re.I | re.S
)
_MERGE_TAIL = re.compile(
    r"\s*(?:AS\s+(\w+)\s+)?ON\s+(.+?)\s+(WHEN\s.+)$", re.I | re.S
)
_WHEN = re.compile(
    r"WHEN\s+(NOT\s+)?MATCHED(?:\s+AND\s+(.*?))?\s+THEN\s+"
    r"(UPDATE\s+SET\s+\*|INSERT\s+\*|DELETE)",
    re.I | re.S,
)
_EQ_KEY = re.compile(r"^\s*(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s*$")


def _split_top_level(s: str) -> list[str]:
    """Split on commas outside parentheses/quotes (UPDATE SET lists
    whose expressions contain function calls or string literals).
    Doubled quotes (``'it''s'``) stay inside one literal."""
    parts, depth, start, quote = [], 0, 0, None
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if quote:
            if ch == quote:
                if i + 1 < n and s[i + 1] == quote:  # '' escape
                    i += 2
                    continue
                quote = None
        elif ch in ("'", '"'):
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(s[start:i])
            start = i + 1
        i += 1
    parts.append(s[start:])
    return [p for p in (x.strip() for x in parts) if p]


def _table_clauses(
    part: str | None, props_raw: str | None
) -> tuple[list[str], dict[str, str] | None]:
    """(partition_by, properties) from the PARTITIONED BY and
    TBLPROPERTIES bodies of a CREATE TABLE [AS SELECT]."""
    properties = {}
    for kv in _split_top_level(props_raw or ""):
        k, v = kv.split("=", 1)
        properties[k.strip().strip("'\"")] = v.strip().strip("'\"")
    return _split_top_level(part or ""), properties or None


def _iso_to_epoch_ms(text: str) -> int:
    """ISO-8601 timestamp (naive = UTC) -> epoch milliseconds."""
    dt = datetime.fromisoformat(text)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return int(dt.timestamp() * 1000)


def _quote_mask(s: str) -> list[bool]:
    """Per-character flag: True where ``s[i]`` belongs to a string
    literal (quotes included, ``''`` escapes handled)."""
    mask = [False] * len(s)
    quote = None
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if quote:
            mask[i] = True
            if ch == quote:
                if i + 1 < n and s[i + 1] == quote:
                    mask[i + 1] = True
                    i += 2
                    continue
                quote = None
        elif ch in ("'", '"'):
            mask[i] = True
            quote = ch
        i += 1
    return mask


def _sub_unquoted(pattern: re.Pattern, fn, s: str) -> str:
    """``pattern.sub(fn, s)`` skipping matches that START inside a
    string literal — so ``'text mentioning FROM t.history'`` is never
    rewritten, while real syntax whose match merely *ends* in a
    literal (``TIMESTAMP AS OF '...'``) still is."""
    mask = _quote_mask(s)

    def guarded(m: re.Match) -> str:
        return m.group(0) if mask[m.start()] else fn(m)

    return pattern.sub(guarded, s)


def _balanced_paren_end(s: str) -> int | None:
    """Index of the ``)`` closing the paren at ``s[0]``, ignoring
    parens inside string literals. None if unbalanced."""
    depth, quote = 0, None
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
            if depth == 0:
                return i
        i += 1
    return None


# Bare-name temp views are global to a SparkSession, so each SparkSession
# keeps which SqlSession bound each name last (name -> that session's
# token; a token outlives its session, whose views stay registered).
_BINDERS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _named_in(text: str, names) -> list[str]:
    """The ``names`` that ``text`` mentions as whole words, matched as
    Spark resolves identifiers: case-insensitively, backticks
    ignored. An over-approximation (a column or a string literal of
    the same spelling matches too), so it only ever attaches more."""
    folded = {n.lower(): n for n in names}
    return [
        folded[n] for n in _word_refs(text.lower().replace("`", " "), folded)
    ]


class SqlSession:
    """Statement dispatcher bound to one catalog + current namespace."""

    def __init__(
        self,
        spark: SparkSession,
        catalog: Catalog,
        namespace: str | None = None,
    ):
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace
        # (ns, table, snapshot id or None) -> (key, planned frame) of the
        # tables and time-travel reads this session attached
        self._frames: dict[tuple[str, str, int | None], tuple] = {}
        # bare name -> token of the SqlSession that registered it as a
        # temp view last, shared by every SqlSession on this SparkSession
        self._binders: dict[str, object] = _BINDERS.setdefault(spark, {})
        self._token = object()
        self._nothing: DataFrame | None = None

    # -- identifier helpers --------------------------------------------
    def _ns_of(self, ident: str) -> str:
        return ident.split(".")[-1]

    def _table_of(self, ident: str) -> tuple[str, str]:
        parts = ident.split(".")
        if len(parts) >= 2:
            return parts[-2], parts[-1]
        if self.namespace is None:
            raise ValueError(
                f"table {ident!r} is unqualified and no namespace is "
                f"active — run USE <namespace> first"
            )
        return self.namespace, parts[-1]

    def _empty(self) -> DataFrame:
        """No columns and no rows: a local relation, so collecting it
        starts no job. Built once per session."""
        if self._nothing is None:
            self._nothing = local_frame(self.spark, [], T.StructType([]))
        return self._nothing

    def _bound(self) -> list[str]:
        """Bare names whose temp view this session registered last."""
        return [n for n, who in self._binders.items() if who is self._token]

    def _bind(self, view: str, slot: tuple, key, build) -> None:
        """Register the frame cached under ``slot`` as temp view
        ``view``, first re-planning it with ``build()`` when its cached
        key differs from ``key``. A None key (manifest gone) drops the
        slot and is never cached. The registration itself is repeated
        on every use: another session on the same SparkSession may have
        bound the name since."""
        hit = self._frames.pop(slot, None)
        if hit is None or key is None or hit[0] != key:
            hit = (key, build())
        if key is not None:
            self._frames[slot] = hit
        hit[1].createOrReplaceTempView(view)

    def _unbind(self, names) -> None:
        """Drop the bare-name temp views ``names``."""
        for name in list(names):
            self._binders.pop(name, None)
            self.spark.catalog.dropTempView(name)

    def _forget(self, ns: str, name: str) -> None:
        """Evict every frame of ``ns.name`` and, when this session bound
        it as a bare name, unbind it, so a later statement naming it
        fails to resolve instead of reading a stale frame (DROP TABLE /
        DROP VIEW / RENAME TO)."""
        for slot in [k for k in self._frames if k[:2] == (ns, name)]:
            del self._frames[slot]
        if ns == self.namespace and name in self._bound():
            self._unbind([name])

    def _attach_current(self, text: str) -> None:
        """Bare-name views for the active namespace's tables and STORED
        SQL views that ``text`` — the statement Spark is about to
        analyze — names (what ``USE ns`` buys in the reference). The
        names are matched by :func:`_named_in`, closed over the bodies
        of the named views.

        A table's frame is re-planned (``Table.read``) only when its
        key — the ``CURRENT`` version plus the ``os.stat`` of that
        version's manifest, see ``Table._manifest_key`` — changed since
        this session last attached it. A named stored view is replayed
        on every statement (the Iceberg view-spec read model: a view
        always reflects the current table snapshots). Frames of tables
        outside the namespace, or gone from it, are evicted; names this
        session bound that no longer resolve here are unbound, and a
        view that cannot be resolved (base dropped) is left unbound, so
        their use raises Spark's not-found error."""
        ns = self.namespace
        tables = self.catalog.tables(ns) if ns is not None else []
        for slot in [
            k for k in self._frames if k[0] != ns or k[1] not in tables
        ]:
            del self._frames[slot]
        views = self.catalog.views(ns) if ns is not None else {}
        known = [*tables, *views]
        # a name another session bound resolves to that session's table:
        # unbind it when the statement names it and this namespace has
        # no such table or view (that session binds it again when it
        # next needs it)
        others = [n for n, who in self._binders.items() if who is not self._token]
        self._unbind(
            [n for n in _named_in(text, others) if n not in known]
            + [n for n in self._bound() if n not in known]
        )
        if ns is None:
            return
        names: set[str] = set()
        texts = [text]
        for body in texts:
            for n in _named_in(body, known):
                if n not in names:
                    names.add(n)
                    if n in views:
                        texts.append(views[n])

        for name in tables:
            if name in names:
                t = self.catalog.table(ns, name)
                # key before read: a commit in between only costs a
                # re-plan at the next statement
                self._bind(
                    name, (ns, name, None), t._manifest_key(),
                    lambda t=t: t.read(self.spark),
                )
                self._binders[name] = self._token

        # The named views are unbound first so no body resolves against
        # a frame from an earlier statement, then replayed to a
        # fixpoint: creation order resolves forward references in the
        # common case, and the retry covers bodies whose dependencies
        # land later in the registry (a REPLACEd view is re-appended
        # after its dependents). Views that still fail are stale (base
        # gone) and stay unbound.
        pending = [(v, body) for v, body in views.items() if v in names]
        self._unbind([v for v, _ in pending])
        while pending:
            still = []
            for vname, vsql in pending:
                try:
                    df = self.spark.sql(self._rewrite_refs(vsql))
                except Exception:
                    still.append((vname, vsql))
                    continue
                df.createOrReplaceTempView(vname)
                self._binders[vname] = self._token
            if len(still) == len(pending):
                break  # no progress: remaining views are stale
            pending = still

    def _create_view(self, m: re.Match) -> DataFrame:
        """CREATE [OR REPLACE] VIEW [IF NOT EXISTS] n AS <select>:
        validate the body resolves AGAINST CURRENT STATE (Spark's
        analyzer, not a hand parser), then store the original SQL
        text — data never materializes, matching the Iceberg view
        spec's SQL-representation model."""
        replace, if_not_exists, ident, body = (
            m.group(1), m.group(2), m.group(3), m.group(4).strip(),
        )
        if replace and if_not_exists:
            # Contradictory intents (Spark's parser rejects the combo
            # too): IF NOT EXISTS says "keep the old body", OR REPLACE
            # says "overwrite it" — refusing beats silently picking one.
            raise ValueError(
                "CREATE OR REPLACE VIEW cannot be combined with "
                "IF NOT EXISTS"
            )
        ns, name = self._table_of(ident)
        if self.catalog.view_exists(ns, name) and if_not_exists:
            return self._empty()
        self._sql(body).schema  # analyze-only
        self.catalog.create_view(ns, name, body, replace=bool(replace))
        return self._empty()

    # -- statement-text rewrites (metadata tables, time travel) --------
    def _known(self, ident: str) -> tuple[str, str] | None:
        try:
            ns, name = self._table_of(ident)
        except ValueError:
            return None
        if ns not in self.catalog.namespaces() or not self.catalog.table_exists(
            ns, name
        ):
            return None
        return ns, name

    def _meta_sub(self, m: re.Match) -> str:
        resolved = self._known(m.group(2))
        if resolved is None:
            return m.group(0)
        ns, name = resolved
        suffix = m.group(3).lower()
        view = f"__{ns}__{name}__{suffix}"
        df = getattr(self.catalog.table(ns, name), f"{suffix}_df")(self.spark)
        df.createOrReplaceTempView(view)
        return f"{m.group(1)} {view}"

    def _as_of(self, ns: str, name: str, m: re.Match) -> int | None:
        """Snapshot id of table ``ns.name`` that the ``_AS_OF`` clause
        matched in ``m`` names — a version, a branch or tag, or the
        newest snapshot of main's snapshot log at or before a
        timestamp — or None when ``m`` holds no such clause."""
        ver, ref, ts = m.group("ver", "ref", "ts")
        if ver is not None:
            return int(ver)
        if ref is None and ts is None:
            return None
        t = self.catalog.table(ns, name)
        if ref is not None:
            return t._resolve_ref(ref).snapshot_id  # a branch or tag
        ts_ms = _iso_to_epoch_ms(ts)
        older = [s for s in t.main_log() if s.timestamp_ms <= ts_ms]
        if not older:
            raise ValueError(
                f"no snapshot of {ns}.{name} at or before {ts!r}"
            )
        return older[-1].snapshot_id

    def _tt_sub(self, m: re.Match) -> str:
        resolved = self._known(m.group(2))
        if resolved is None:
            return m.group(0)
        ns, name = resolved
        t = self.catalog.table(ns, name)
        sid = self._as_of(ns, name, m)
        view = f"__{ns}__{name}__v{sid}"
        # a snapshot never changes, so its frame is kept, one per table;
        # a None key (manifest expired) lets the read raise
        for slot in [
            k for k in self._frames
            if k[:2] == (ns, name) and k[2] not in (None, sid)
        ]:
            del self._frames[slot]
        self._bind(
            view, (ns, name, sid), t._manifest_key(sid),
            lambda: t.read(self.spark, snapshot_id=sid),
        )
        return f"{m.group(1)} {view}"

    def _rewrite_refs(self, s: str) -> str:
        """Resolve ``FROM t.history``-style metadata references and
        ``VERSION/TIMESTAMP AS OF`` time travel into registered
        snapshot views. Pure driver-side text rewrite; matches
        starting inside string literals are left alone."""
        s = _sub_unquoted(_META_REF, self._meta_sub, s)
        return _sub_unquoted(_TIME_TRAVEL, self._tt_sub, s)

    def _sql(self, text: str) -> DataFrame:
        """``text`` on Spark SQL, after the reference rewrites and with
        the lakehouse names it mentions attached."""
        text = self._rewrite_refs(text)
        self._attach_current(text)
        return self.spark.sql(text)

    # -- dispatch ------------------------------------------------------
    def sql(self, statement: str) -> DataFrame:
        s = statement.strip().rstrip(";")
        if m := _CREATE_NS.match(s):
            self.catalog.create_namespace(self._ns_of(m.group(1)))
            return self._empty()
        if _SHOW_NS.match(s):
            return local_frame(
                self.spark, [(ns,) for ns in self.catalog.namespaces()],
                "namespace string",
            )
        if m := _USE.match(s):
            ns = self._ns_of(m.group(1))
            if ns not in self.catalog.namespaces():
                raise ValueError(f"namespace {ns!r} does not exist")
            if ns != self.namespace:
                self._unbind(self._bound())
            self.namespace = ns
            return self._empty()
        if m := _SHOW_TABLES.match(s):
            ns = self._ns_of(m.group(1)) if m.group(1) else self.namespace
            if ns is None:
                raise ValueError("SHOW TABLES needs USE <ns> or IN <ns>")
            return local_frame(
                self.spark, [(ns, t, False) for t in self.catalog.tables(ns)],
                "namespace string, tableName string, isTemporary boolean",
            )
        if m := _DROP_TABLE.match(s):
            ns, name = self._table_of(m.group(2))
            if not self.catalog.table_exists(ns, name) and not m.group(1):
                raise ValueError(f"table {ns}.{name} does not exist")
            self.catalog.drop_table(ns, name)
            self._forget(ns, name)
            return self._empty()
        if m := _DROP_NS.match(s):
            ns = self._ns_of(m.group(2))
            if ns not in self.catalog.namespaces() and not m.group(1):
                raise ValueError(f"namespace {ns!r} does not exist")
            self.catalog.drop_namespace(ns, force=True)
            return self._empty()
        if m := _CTAS.match(s):
            return self._create_table_as(m)
        if m := _CREATE_TABLE.match(s):
            return self._create_table(m)
        if m := _CREATE_VIEW.match(s):
            return self._create_view(m)
        if m := _DROP_VIEW.match(s):
            ns, name = self._table_of(m.group(2))
            if not self.catalog.view_exists(ns, name):
                if m.group(1):
                    return self._empty()
                raise ValueError(f"view {ns}.{name} does not exist")
            self.catalog.drop_view(ns, name)
            self._forget(ns, name)
            return self._empty()
        if m := _SHOW_VIEWS.match(s):
            ns = self._ns_of(m.group(1)) if m.group(1) else self.namespace
            if ns is None:
                raise ValueError("SHOW VIEWS needs USE <ns> or IN <ns>")
            rows = [(ns, v) for v in sorted(self.catalog.views(ns))]
            return local_frame(
                self.spark, rows or [], "namespace string, viewName string"
            )
        if m := _ALTER.match(s):
            return self._alter_table(m)
        if m := _SHOW_CREATE.match(s):
            return self._show_create(m.group(1))
        if m := _DESCRIBE.match(s):
            return self._describe(m.group(1))
        if m := _INSERT_OVERWRITE.match(s):
            ns, name = self._table_of(m.group(1))
            src = self._sql(m.group(2).strip())
            t = self.catalog.table(ns, name)
            self._check_insert_shape(src, t, ns, name)
            t.overwrite(self._cast_positional(src, t))
            return self._empty()
        if m := _CALL.match(s):
            return self._call(m.group(1).lower(), m.group(2))
        if m := _DELETE.match(s):
            ns, name = self._table_of(m.group(1))
            self.catalog.table(ns, name).delete_where(
                self.spark, m.group(2).strip()
            )
            return self._empty()
        if m := _TRUNCATE.match(s):
            ns, name = self._table_of(m.group(1))
            t = self.catalog.table(ns, name)
            t.overwrite(local_frame(self.spark, [], t.schema))
            return self._empty()
        if m := _UPDATE.match(s):
            ns, name = self._table_of(m.group(1))
            assignments = {}
            for part in _split_top_level(m.group(2)):
                col, expr = part.split("=", 1)
                assignments[col.strip()] = expr.strip()
            self.catalog.table(ns, name).update_where(
                self.spark, assignments, m.group(3).strip()
            )
            return self._empty()
        if m := _INSERT.match(s):
            ns, name = self._table_of(m.group(1))
            src = self._sql(m.group(2).strip())  # SELECT or VALUES
            t = self.catalog.table(ns, name)
            self._check_insert_shape(src, t, ns, name)
            t.append(self._cast_positional(src, t))
            return self._empty()
        if _MERGE_HEAD.match(s):
            return self._merge(s)
        if m := _HISTORY_COUNT.match(s):
            out = self._history_count(m)
            if out is not None:
                return out
        if m := _NDV_ONLY.match(s):
            out = self._ndv_meta(m)
            if out is not None:
                return out
        if m := _AGG_ONLY.match(s):
            out = self._agg_meta(m)
            if out is None:
                out = self._planned_select(m, s)
            if out is not None:
                return out
        # everything else (SELECT / WITH / ...) runs on Spark SQL with
        # the active namespace's names it mentions attached
        return self._sql(s)

    NDV_READ_PROP = "read.ndv-from-sketches"

    def _ndv_meta(self, m: re.Match) -> DataFrame | None:
        """``SELECT approx_count_distinct(col) FROM t`` answered from
        the manifest's per-file HLL sketches (Table.ndv_estimate —
        the Puffin-stats NDV read); None = the Spark-SQL scan path
        evaluates its own HLL++ over the data. Both paths are
        approximations of the same NDV with comparable error, but
        they are DIFFERENT sketches, so the same SQL would silently
        return a different estimate than upstream Spark — the
        substitution therefore requires an explicit READ-side opt-in:
        the table property ``read.ndv-from-sketches=true`` (writing
        sketches via ``ndv.sketch.columns`` alone never changes what
        a query returns). Callers wanting the exact count write
        COUNT(DISTINCT col), which always scans."""
        from .table import MetadataAggregateUnsupported

        col, alias, tbl = m.group(1), m.group(2), m.group(3)
        known = self._known(tbl)
        if known is None:
            return None
        ns, name = known
        t = self.catalog.table(ns, name)
        opted = t.properties.get(self.NDV_READ_PROP, "").strip().lower()
        if opted not in ("true", "1"):
            return None
        try:
            out = t.ndv_estimate(self.spark, col)
        except MetadataAggregateUnsupported:
            return None
        return out.select(
            F.col("approx_distinct").alias(
                alias or f"approx_count_distinct({col})"
            )
        )

    def _agg_meta(self, m: re.Match) -> DataFrame | None:
        """Metadata-only COUNT(*)/COUNT(col)/MIN/MAX select —
        optionally GROUP BY file-constant columns, optionally of a
        time-travel snapshot — when the target is a lakehouse table and
        the snapshot state allows an exact answer; None = let the
        normal Spark-SQL scan path handle it.
        Default column names are exactly Spark's own (``count(1)``,
        ``min(x)``, ...) so both paths are indistinguishable to the
        caller, and the output keeps select-list order."""
        from .table import MetadataAggregateUnsupported

        sel, tbl, where, grp = m.group("sel", "tbl", "where", "grp")
        if _AGG_VETO.search(sel) or (
            where is not None and _AGG_VETO.search(where)
        ):
            return None
        group_cols = (
            [g.strip().strip("`") for g in grp.split(",")] if grp else []
        )
        if len(set(group_cols)) != len(group_cols):
            return None
        count_alias: str | None = None
        min_of: dict[str, str] = {}
        max_of: dict[str, str] = {}
        count_of: dict[str, str] = {}
        n_aggs = 0
        ordered: list[tuple[str, str]] = []  # (source col, output name)
        # top-level comma split is safe: every accepted item takes a
        # single identifier argument, so no nested commas exist
        for item in sel.split(","):
            item = item.strip()
            if im := _AGG_ITEM.match(item):
                fn = im.group(1).upper()
                arg = im.group(2).strip("`")
                alias = im.group(3)
                n_aggs += 1
                if arg == "*":
                    if fn != "COUNT" or count_alias is not None:
                        return None
                    count_alias = alias or "count(1)"
                    ordered.append((count_alias, count_alias))
                    continue
                book = {"COUNT": count_of, "MIN": min_of, "MAX": max_of}[fn]
                if arg in book:
                    return None  # duplicate aggregate: not worth the case
                book[arg] = alias or f"{fn.lower()}({arg})"
                ordered.append((book[arg], book[arg]))
            elif bm := _BARE_COL.match(item):
                col, alias = bm.group(1), bm.group(2)
                if col not in group_cols:
                    return None  # not grouped: let Spark SQL error out
                ordered.append((col, alias or col))
            else:
                return None
        if n_aggs == 0:
            return None  # pure DISTINCT shape: scan path's business
        if len({out for _, out in ordered}) != len(ordered):
            return None  # colliding output names: let Spark SQL decide
        known = self._known(tbl)
        if known is None:
            return None
        ns, name = known
        t = self.catalog.table(ns, name)
        sid = self._as_of(ns, name, m)
        # an expired snapshot raises KeyError here, as the scan path does
        snap = None if sid is None else t.snapshot_by_id(sid)
        try:
            out = t.metadata_aggregate(
                self.spark,
                snapshot=snap,
                where=where,
                group_by=group_cols,
                count_alias=count_alias,
                min_of=min_of,
                max_of=max_of,
                count_of=count_of,
            )
        except MetadataAggregateUnsupported:
            return None
        # the answer's columns are the group columns, then COUNT(*), the
        # MINs, MAXes and COUNTs, each under its output name already
        made = group_cols + [count_alias] * (count_alias is not None) + [
            *min_of.values(), *max_of.values(), *count_of.values()
        ]
        if ordered == [(c, c) for c in made]:
            return out
        return out.select(
            *[F.col(f"`{src}`").alias(dst) for src, dst in ordered]
        )

    def _history_count(self, m: re.Match) -> DataFrame | None:
        """``SELECT COUNT(*) FROM t.history``: the length of main's
        snapshot log as an inline table, under Spark's own column name
        (``count(1)``) unless aliased; None when ``t`` is no lakehouse
        table."""
        known = self._known(m.group(2))
        if known is None:
            return None
        n = len(self.catalog.table(*known).main_log())
        alias = _sql_ident(m.group(1) or "count(1)")
        return self.spark.sql(
            f"SELECT * FROM VALUES (CAST({n} AS BIGINT)) AS _v({alias})"
        )

    def _planned_select(self, m: re.Match, s: str) -> DataFrame | None:
        """A single-table ``SELECT ... WHERE`` (the ``_AGG_ONLY`` shape,
        no GROUP BY) over only the files of its snapshot that
        ``Table._plan_files`` keeps, a column qualified by the table's
        name included: the table name and its AS OF
        clause in ``s`` are replaced, under the table's name as alias,
        by a statement-private view of the surviving files or, when
        none survives, by an empty relation of the snapshot's schema
        that the optimizer turns into an empty local relation (no
        position-delete join, no file read, no job). None when no file
        was pruned, so the kept frame answers as before, or when the
        statement is not that shape."""
        sel, tbl, where, grp, asof = m.group(
            "sel", "tbl", "where", "grp", "asof"
        )
        if (
            where is None
            or grp is not None
            or _AGG_VETO.search(sel)
            or _AGG_VETO.search(where)
            # a qualified name resolves only under time travel
            or ("." in tbl and asof is None)
        ):
            return None
        known = self._known(tbl)
        if known is None:
            return None
        ns, name = known
        t = self.catalog.table(ns, name)
        sid = self._as_of(ns, name, m)
        # an expired snapshot raises KeyError here, as the scan path does
        snap = t.current_snapshot() if sid is None else t.snapshot_by_id(sid)
        files = t._plan_files(
            self.spark, snap, where, qualifier=tbl.rsplit(".", 1)[-1]
        )
        if len(files) == len(snap.files):
            return None
        head, tail = s[: m.start("tbl")], s[m.end("asof" if asof else "tbl"):]
        # one table and no subquery, so no other name needs attaching
        alias = _sql_ident(name)
        if not files:
            cols = ", ".join(
                f"CAST(NULL AS {_sql_type(f.dataType)})"
                f" AS {_sql_ident(f.name)}"
                for f in schema_from_json(snap.schema_json).fields
            )
            return self.spark.sql(
                f"{head}(SELECT {cols} WHERE FALSE) AS {alias}{tail}"
            )
        view = f"__{ns}__{name}__files"
        t._read_live(self.spark, snap, files).createOrReplaceTempView(view)
        try:
            return self.spark.sql(f"{head}{view} AS {alias}{tail}")
        finally:
            self.spark.catalog.dropTempView(view)

    # -- CREATE TABLE --------------------------------------------------
    def _create_table(self, m) -> DataFrame:
        if_not_exists, ident = bool(m.group(1)), m.group(2)
        cols, part, props_raw = m.group(3), m.group(4), m.group(5)
        ns, name = self._table_of(ident)
        if self.catalog.table_exists(ns, name):
            if if_not_exists:
                return self._empty()
            raise ValueError(f"table {ns}.{name} already exists")
        fields = []
        for coldef in _split_top_level(cols):
            parts = coldef.split(None, 1)
            if len(parts) != 2:
                raise ValueError(f"bad column definition {coldef!r}")
            cname, ctype = parts
            nullable = True
            low = ctype.lower()
            if low.endswith("not null"):
                ctype, nullable = ctype[: -len("not null")].strip(), False
            fields.append(
                T.StructField(
                    cname, T._parse_datatype_string(ctype), nullable
                )
            )
        partition_by, properties = _table_clauses(part, props_raw)
        self.catalog.create_table(
            ns,
            name,
            T.StructType(fields),
            partition_by=partition_by,
            properties=properties,
        )
        return self._empty()

    # -- INSERT helpers ------------------------------------------------
    @staticmethod
    def _check_insert_shape(src: DataFrame, t, ns: str, name: str) -> None:
        fields = t.schema.fields
        if len(src.columns) != len(fields):
            raise ValueError(
                f"INSERT provides {len(src.columns)} columns, table "
                f"{ns}.{name} has {len(fields)} (positional insert "
                f"needs the full schema)"
            )

    @staticmethod
    def _cast_positional(src: DataFrame, t) -> DataFrame:
        from pyspark.sql import functions as _F

        return src.select(
            *[
                _F.col(c).cast(f.dataType).alias(f.name)
                for c, f in zip(src.columns, t.schema.fields)
            ]
        )

    # -- ALTER TABLE (schema evolution) --------------------------------
    def _alter_table(self, m: re.Match) -> DataFrame:
        """ADD/RENAME/DROP COLUMN onto the lakehouse schema-evolution
        primitives (Table.add_column/rename_column/drop_column) —
        metadata-only commits, no data rewrite, like Iceberg v2."""
        ns, name = self._table_of(m.group(1))
        t = self.catalog.table(ns, name)
        action = m.group(2).strip()
        if a := _ALTER_ADD.match(action):
            cols = a.group(1).strip()
            if cols.startswith("(") and cols.endswith(")"):
                cols = cols[1:-1]
            for coldef in _split_top_level(cols):
                parts = coldef.split(None, 1)
                if len(parts) != 2:
                    raise ValueError(f"bad ADD COLUMN definition {coldef!r}")
                t.add_column(parts[0], T._parse_datatype_string(parts[1]))
            return self._empty()
        if a := _ALTER_RENAME.match(action):
            t.rename_column(a.group(1), a.group(2))
            return self._empty()
        if a := _ALTER_DROP.match(action):
            t.drop_column(a.group(1))
            return self._empty()
        if a := _ALTER_RENAME_TABLE.match(action):
            tgt = a.group(1)
            if "." in tgt:
                new_ns, new_name = tgt.rsplit(".", 1)
            else:
                new_ns, new_name = ns, tgt
            self.catalog.rename_table(ns, name, new_ns, new_name)
            self._forget(ns, name)
            return self._empty()
        if a := _ALTER_CREATE_REF.match(action):
            kind, ref = a.group(1).lower(), a.group(2)
            sid = int(a.group(3)) if a.group(3) else None
            if "IF NOT EXISTS" in action.upper() and ref in t.refs():
                return self._empty()
            (t.create_branch if kind == "branch" else t.create_tag)(ref, sid)
            return self._empty()
        if a := _ALTER_DROP_REF.match(action):
            kind, ref = a.group(1).lower(), a.group(2)
            refs = t.refs()
            if ref not in refs:
                if "IF EXISTS" in action.upper():
                    return self._empty()
                raise KeyError(f"{kind} {ref!r} not found on {ns}.{name}")
            if refs[ref]["type"] != kind:
                raise ValueError(
                    f"{ref!r} is a {refs[ref]['type']}, not a {kind}"
                )
            t.drop_ref(ref)
            return self._empty()
        if a := _ALTER_PROMOTE.match(action):
            t.promote_column(
                a.group(1), T._parse_datatype_string(a.group(2))
            )
            return self._empty()
        if a := _ALTER_ADD_PART.match(action):
            spec = " ".join(a.group(1).split())
            cur = list(t.partition_by)
            norm = lambda s: re.sub(r"\s+", "", s)  # noqa: E731
            if norm(spec) in {norm(s) for s in cur}:
                raise ValueError(f"partition field {spec!r} already present")
            t.evolve_partition_spec(cur + [spec])
            return self._empty()
        if a := _ALTER_DROP_PART.match(action):
            spec = " ".join(a.group(1).split())
            cur = list(t.partition_by)
            norm = lambda s: re.sub(r"\s+", "", s)  # noqa: E731
            if norm(spec) not in {norm(s) for s in cur}:
                raise KeyError(f"partition field {spec!r} not in {cur!r}")
            t.evolve_partition_spec(
                [s for s in cur if norm(s) != norm(spec)]
            )
            return self._empty()
        if a := _ALTER_SET_PROPS.match(action):
            props = {}
            for pair in _split_top_level(a.group(1)):
                pm = re.match(
                    r"^\s*'([^']+)'\s*=\s*'([^']*)'\s*$", pair
                )
                if not pm:
                    raise ValueError(f"bad TBLPROPERTIES pair {pair!r}")
                props[pm.group(1)] = pm.group(2)
            t.set_properties(props)
            return self._empty()
        if a := _ALTER_WRITE_ORDERED.match(action):
            cols = []
            for part in _split_top_level(a.group(1)):
                toks = part.strip().split()
                if not toks or (
                    len(toks) > 1 and toks[1].upper() not in ("ASC", "DESC")
                ):
                    raise ValueError(f"bad WRITE ORDERED BY term {part!r}")
                declared = {f.name for f in t.schema.fields}
                if toks[0] not in declared:
                    raise KeyError(f"no such column {toks[0]!r}")
                cols.append(
                    toks[0]
                    + (" DESC" if len(toks) > 1
                       and toks[1].upper() == "DESC" else "")
                )
            t.set_properties({t.SORT_ORDER_PROP: ", ".join(cols)})
            return self._empty()
        if _ALTER_WRITE_UNORDERED.match(action):
            t.set_properties({t.SORT_ORDER_PROP: ""})
            return self._empty()
        raise ValueError(
            f"unsupported ALTER TABLE action {action!r} (dispatchable: "
            f"ADD COLUMN(S), RENAME COLUMN ... TO ..., DROP COLUMN, "
            f"CREATE/DROP BRANCH, CREATE/DROP TAG, SET TBLPROPERTIES, "
            f"WRITE ORDERED BY, WRITE UNORDERED)"
        )

    # engine-internal properties that must not leak into emitted DDL
    # (they are derived state, re-created by the engine itself)
    _INTERNAL_PROPS = ("iceberg.field-ids", "schema.renames")

    def _show_create(self, ident: str) -> DataFrame:
        """``SHOW CREATE TABLE t`` — emit canonical, RE-EXECUTABLE DDL
        (stock Iceberg column name/shape): columns from the current
        schema, PARTITIONED BY with the hidden-transform spellings,
        TBLPROPERTIES with user properties only (internal bookkeeping
        props stay hidden). The round-trip test re-runs the emitted
        statement through this same dispatcher."""
        ns, name = self._table_of(ident)
        t = self.catalog.table(ns, name)
        cols = ",\n  ".join(
            f"{f.name} {f.dataType.simpleString().upper()}"
            for f in t.schema.fields
        )
        stmt = f"CREATE TABLE {ns}.{name} (\n  {cols})\nUSING iceberg"
        part = list(t.current_snapshot().partition_by)
        if part:
            stmt += "\nPARTITIONED BY (" + ", ".join(part) + ")"
        props = {
            k: v for k, v in t.properties.items()
            if not k.startswith(self._INTERNAL_PROPS)
        }
        if props:
            stmt += "\nTBLPROPERTIES (\n  " + ",\n  ".join(
                f"'{k}' = '{props[k]}'" for k in sorted(props)
            ) + ")"
        return local_frame(
            self.spark, [(stmt,)], "createtab_stmt string"
        )

    # -- DESCRIBE ------------------------------------------------------
    def _describe(self, ident: str) -> DataFrame:
        ns, name = self._table_of(ident)
        t = self.catalog.table(ns, name)
        rows = [
            (f.name, f.dataType.simpleString(), None) for f in t.schema.fields
        ]
        if t.partition_by:
            rows.append(("# Partition Information", "", None))
            rows.extend((spec, "", None) for spec in t.partition_by)
        return local_frame(
            self.spark, rows, "col_name string, data_type string, comment string"
        )

    # -- CALL procedures (Iceberg system-procedure parity) -------------
    def _call(self, proc: str, raw_args: str) -> DataFrame:
        """``CALL [cat.]system.<proc>(...)`` maintenance procedures:
        expire_snapshots, rewrite_data_files (compact), and
        remove_orphan_files (vacuum). Positional or ``name => value``
        arguments; the first/`table` argument is the table ident."""
        args, kwargs = [], {}
        for part in _split_top_level(raw_args):
            if "=>" in part:
                k, v = part.split("=>", 1)
                kwargs[k.strip().lower()] = v.strip()
            else:
                args.append(part.strip())

        def _val(key: str, pos: int, default: str | None = None) -> str | None:
            if key in kwargs:
                return kwargs[key]
            if pos < len(args):
                return args[pos]
            return default

        ident = _val("table", 0)
        if ident is None:
            raise ValueError(f"CALL {proc}: missing table argument")
        ns, name = self._table_of(ident.strip("'\""))
        t = self.catalog.table(ns, name)
        if proc == "rewrite_position_delete_files":
            snap = t.rewrite_position_deletes(self.spark)
            return local_frame(
                self.spark, [(len(snap.delete_files),)],
                "rewritten_delete_files_count int",
            )
        if proc == "expire_snapshots":
            keep = int(_val("retain_last", 2, "1"))
            # Iceberg's stock signature: older_than TIMESTAMP (or
            # epoch millis here), retain_last floor
            older_raw = _val("older_than", 1)
            older_ms = None
            if older_raw is not None:
                older_raw = older_raw.strip().strip("'\"")
                if older_raw.isdigit():
                    older_ms = int(older_raw)
                else:
                    older_ms = _iso_to_epoch_ms(older_raw)
            expired = t.expire_snapshots(
                keep_last=keep, older_than_ms=older_ms
            )
            return local_frame(
                self.spark, [(i,) for i in expired], "expired_snapshot_id long"
            )
        if proc in ("rewrite_data_files", "compact"):
            tp = _val("target_partitions", 1)
            strategy = (_val("strategy", 2, "binpack") or "binpack").strip("'\"").lower()
            sort_order = _val("sort_order", 3)
            cols = (
                [c.strip().strip("'\"") for c in sort_order.strip("'\"").split(",")]
                if sort_order
                else None
            )
            if strategy == "binpack":
                if cols:
                    raise ValueError("sort_order requires strategy => 'sort' or 'zorder'")
                sfb = _val("small_file_bytes", 4)
                if sfb is not None:
                    # surgical small-file rewrite (Iceberg's actual
                    # binpack contract): only files below the
                    # threshold are touched
                    t.compact_binpack(
                        self.spark,
                        small_file_bytes=int(sfb.strip("'\"")),
                    )
                else:
                    t.compact(self.spark, target_partitions=int(tp) if tp else None)
            elif strategy == "sort":
                if not cols:
                    raise ValueError("strategy 'sort' needs sort_order => 'col[, col...]'")
                t.compact(
                    self.spark, target_partitions=int(tp) if tp else None, sort_by=cols
                )
            elif strategy == "zorder":
                if not cols or len(cols) < 2:
                    raise ValueError(
                        "strategy 'zorder' needs sort_order => 'colA, colB[, ...]'"
                    )
                t.compact(
                    self.spark, target_partitions=int(tp) if tp else None, zorder_by=cols
                )
            else:
                raise ValueError(
                    f"unknown rewrite strategy {strategy!r} (binpack, sort, zorder)"
                )
            return local_frame(
                self.spark, [(len(t.current_snapshot().files),)], "data_files long"
            )
        if proc in ("remove_orphan_files", "vacuum"):
            older = float(_val("older_than_seconds", 1, "3600"))
            removed = t.vacuum(older_than_seconds=older)
            return local_frame(
                self.spark, [(p,) for p in removed] or [], "orphan_file_location string"
            )
        if proc in ("rollback_to_snapshot", "set_current_snapshot"):
            sid = _val("snapshot_id", 1)
            if sid is None:
                raise ValueError(f"CALL {proc}: missing snapshot_id argument")
            prev = t.current_snapshot().snapshot_id
            snap = t.rollback_to(int(sid.strip("'\"")))
            # Stock-contract columns first: Iceberg's procedure re-points
            # the branch ref, so its current_snapshot_id IS the rollback
            # target — scripts assert current == target, and this surface
            # honors that. Our engine instead records the restore as a new
            # history-preserving 'rollback' commit, so the live head
            # (what current_snapshot()/time travel see afterwards) is a
            # different id; it rides along in the engine-specific third
            # column.
            return local_frame(
                self.spark,
                [(
                    prev,
                    int(snap.summary.get("rolled_back_to", snap.snapshot_id)),
                    snap.snapshot_id,
                )],
                "previous_snapshot_id long, current_snapshot_id long,"
                " engine_commit_snapshot_id long",
            )
        if proc == "fast_forward":
            # Iceberg: fast_forward(table, branch, to) — advance
            # ``branch`` to ``to``'s head. The engine publishes onto
            # main only (matching the WAP workflow), so ``branch``
            # must be 'main'.
            target = _val("branch", 1)
            to = _val("to", 2)
            if target is None or to is None:
                raise ValueError(f"CALL {proc}: needs (table, branch, to)")
            target = target.strip("'\"")
            to = to.strip("'\"")
            if target != "main":
                raise ValueError(
                    f"CALL {proc}: only 'main' can be fast-forwarded "
                    f"(got {target!r})"
                )
            prev = t.current_snapshot().snapshot_id
            snap = t.fast_forward(to)
            return local_frame(
                self.spark, [(target, prev, snap.snapshot_id)],
                "branch_updated string, previous_ref long, updated_ref long",
            )
        raise ValueError(
            f"unknown procedure {proc!r} (dispatchable: expire_snapshots, "
            f"rewrite_data_files/compact, rewrite_position_delete_files, "
            f"remove_orphan_files/vacuum, "
            f"rollback_to_snapshot/set_current_snapshot, fast_forward)"
        )

    # -- CREATE TABLE AS SELECT ----------------------------------------
    def _create_table_as(self, m: re.Match) -> DataFrame:
        """CTAS: evaluate the SELECT against the active namespace's
        views (metadata/time-travel rewrites included), then create
        the table from the result's schema and load it in one append.

        Scale note: the SELECT stays one Spark plan end-to-end; the
        append is a single partitioned parquet write — no row ever
        passes through the driver."""
        if_not_exists, ident = bool(m.group(1)), m.group(2)
        part, props_raw, select = m.group(3), m.group(4), m.group(5)
        ns, name = self._table_of(ident)
        if self.catalog.table_exists(ns, name):
            if if_not_exists:
                return self._empty()
            raise ValueError(f"table {ns}.{name} already exists")
        df = self._sql(select.strip())
        partition_by, properties = _table_clauses(part, props_raw)
        self.catalog.write(
            ns, name, df, partition_by=partition_by, properties=properties
        )
        return self._empty()

    # -- MERGE INTO ----------------------------------------------------
    def _merge(self, s: str) -> DataFrame:
        head = _MERGE_HEAD.match(s)
        target_ident = head.group(1)
        target_alias = head.group(2) or "target"
        rest = s[head.end():].lstrip()

        # USING may reference lakehouse tables
        if rest.startswith("("):
            end = _balanced_paren_end(rest)
            if end is None:
                raise ValueError("unbalanced parentheses in MERGE USING")
            source_df = self._sql(rest[1:end])
            rest = rest[end + 1 :]
        else:
            m = re.match(r"([\w.]+)", rest)
            self._attach_current(m.group(1))
            source_df = self.spark.table(m.group(1))
            rest = rest[m.end():]

        tail = _MERGE_TAIL.match(rest)
        if not tail:
            raise ValueError("unsupported MERGE syntax (expected ON ... WHEN ...)")
        source_alias = tail.group(1) or "source"
        cond, clauses = tail.group(2), tail.group(3)

        keys = []
        for part in re.split(r"\s+AND\s+", cond, flags=re.I):
            eq = _EQ_KEY.match(part)
            if not eq:
                raise ValueError(
                    f"unsupported MERGE ON term {part!r}: only "
                    f"alias.col = alias.col equi-keys are dispatchable"
                )
            a_alias, a_col, b_alias, b_col = eq.groups()
            if {a_alias, b_alias} != {target_alias, source_alias} or a_col != b_col:
                raise ValueError(
                    f"MERGE ON term {part!r} must equate the same column "
                    f"of {target_alias!r} and {source_alias!r}"
                )
            keys.append(a_col)

        saw_update = saw_insert = False
        delete_pred = None
        # Every byte of the WHEN region must be consumed by a
        # recognized clause: a WHEN variant the regex cannot parse
        # (e.g. WHEN NOT MATCHED BY SOURCE THEN DELETE) surfaces as a
        # gap and raises, instead of silently altering semantics.
        pos = 0
        for w in _WHEN.finditer(clauses):
            gap = clauses[pos : w.start()].strip()
            if gap:
                raise ValueError(
                    f"unsupported MERGE clause near {gap[:80]!r} "
                    f"(dispatchable: WHEN MATCHED THEN UPDATE SET *, "
                    f"WHEN NOT MATCHED THEN INSERT *, "
                    f"WHEN MATCHED AND <pred> THEN DELETE)"
                )
            pos = w.end()
            negated, pred, action = w.group(1), w.group(2), w.group(3).upper()
            action = re.sub(r"\s+", " ", action)
            if action == "UPDATE SET *" and not negated and not pred:
                saw_update = True
            elif action == "INSERT *" and negated and not pred:
                saw_insert = True
            elif action == "DELETE" and not negated and pred:
                if delete_pred is not None:
                    raise ValueError(
                        "duplicate WHEN MATCHED ... THEN DELETE clause"
                    )
                delete_pred = re.sub(
                    rf"\b{re.escape(source_alias)}\.", "", pred
                ).strip()
            else:
                raise ValueError(
                    f"unsupported MERGE clause: WHEN "
                    f"{'NOT ' if negated else ''}MATCHED ... THEN {action} "
                    f"(dispatchable: UPDATE SET *, INSERT *, "
                    f"conditional DELETE)"
                )
        tail_gap = clauses[pos:].strip()
        if tail_gap:
            raise ValueError(
                f"unsupported MERGE clause near {tail_gap[:80]!r}"
            )
        if not (saw_update and saw_insert):
            raise ValueError(
                "MERGE must contain WHEN MATCHED THEN UPDATE SET * and "
                "WHEN NOT MATCHED THEN INSERT *"
            )

        ns, name = self._table_of(target_ident)
        table = self.catalog.table(ns, name)
        merge_into(
            self.spark, table, source_df, on=keys, delete_predicate=delete_pred
        )
        return self._empty()
