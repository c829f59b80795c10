"""Hidden partition transforms — Iceberg-style ``bucket(N, col)`` and
``days(col)`` alongside identity partitioning.

SURVEY.md §4 flags these as the idiomatic upgrade over the
reference's string-date identity partitions: the partition value is
derived at write time into a hidden ``_p_*`` directory column and
never stored in the data or surfaced on read.

Scale payoff: ``bucket(N, key)`` on a MERGE key lets the merge prune
its touched-file discovery to the source keys' bucket directories —
the discovery scan reads |affected buckets|/N of the table instead of
all of it (lakehouse/merge.py). ``days(ts)`` gives time-pruned scans
without a user-visible string column.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_BUCKET_RE = re.compile(r"^bucket\(\s*(\d+)\s*,\s*(\w+)\s*\)$")
_DAYS_RE = re.compile(r"^days\(\s*(\w+)\s*\)$")


class Transform:
    def __init__(self, spec: str):
        self.spec = spec
        m = _BUCKET_RE.match(spec)
        if m:
            self.kind = "bucket"
            self.n = int(m.group(1))
            self.col = m.group(2)
            self.partition_col = f"_p_{self.col}_bucket"
            return
        m = _DAYS_RE.match(spec)
        if m:
            self.kind = "days"
            self.col = m.group(1)
            self.partition_col = f"_p_{self.col}_day"
            return
        self.kind = "identity"
        self.col = spec
        self.partition_col = spec

    @property
    def hidden(self) -> bool:
        return self.kind != "identity"

    def expr(self, dtype: T.DataType | None = None) -> Column:
        """Partition-value Column. ``bucket`` needs the source
        column's Spark type (Iceberg's hash serialization is
        per-type); callers pass ``df.schema[col].dataType``."""
        if self.kind == "bucket":
            # Iceberg-spec murmur3_32 bucket (spec Appendix B,
            # vector-tested): partition values match what a real
            # Iceberg runtime computes, so exported metadata is
            # spec-true. Codegen'd JVM expression for the long/date/
            # timestamp family; null key -> null (Iceberg's null
            # partition). Stable across writers by construction.
            from .murmur3 import bucket_col

            if dtype is None:
                raise TypeError(
                    f"bucket({self.n}, {self.col}) needs the source "
                    "column dtype — pass df.schema[col].dataType"
                )
            return bucket_col(F.col(self.col), dtype, self.n)
        if self.kind == "days":
            return F.date_format(F.col(self.col), "yyyy-MM-dd")
        return F.col(self.col)


def parse_spec(partition_by: list[str]) -> list[Transform]:
    return [Transform(s) for s in partition_by]


# --- Hive partition-path escaping -----------------------------------------
# Twin of Spark's ExternalCatalogUtils.escapePathName (what the
# partitioned parquet writer applies to directory names on Linux):
# ASCII control chars plus the reserved set below become %XX (upper
# hex). Anything comparing computed partition values against manifest
# file paths (merge pruning, gold incremental refresh) MUST go through
# this, or values containing ':', '#', '%', ... silently fail to match
# their own directories.

_ESCAPED_CHARS = set('"#%\'*/:=?\\{[]^')

HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def escape_path_name(value: str) -> str:
    out = []
    for ch in value:
        o = ord(ch)
        if (1 <= o <= 31) or o == 127 or ch in _ESCAPED_CHARS:
            out.append(f"%{o:02X}")
        else:
            out.append(ch)
    return "".join(out)


def unescape_path_name(path: str) -> str:
    out, i, n = [], 0, len(path)
    while i < n:
        ch = path[i]
        if ch == "%" and i + 2 < n:
            try:
                out.append(chr(int(path[i + 1 : i + 3], 16)))
                i += 3
                continue
            except ValueError:
                pass
        out.append(ch)
        i += 1
    return "".join(out)


def partition_segment(partition_col: str, value) -> str | None:
    """The on-disk Hive directory segment for a partition value, or
    None when the written form is not reliably reproducible from the
    Python value (caller must then skip path-based pruning).

    Reproducible: int/bool (Spark prints true/false), non-empty
    strings (escaped), dates, and microsecond-free timestamps. Not
    reproducible: None / empty string (both land in
    __HIVE_DEFAULT_PARTITION__ and read back as null), floats and
    anything else (engine-specific formatting)."""
    import datetime

    if value is None:
        return None
    if isinstance(value, bool):
        s = "true" if value else "false"
    elif isinstance(value, int):
        s = str(value)
    elif isinstance(value, str):
        if value == "":
            return None
        s = value
    elif isinstance(value, datetime.datetime):
        if value.microsecond:
            return None
        s = value.strftime("%Y-%m-%d %H:%M:%S")
    elif isinstance(value, datetime.date):
        s = value.isoformat()
    else:
        return None
    return f"{partition_col}={escape_path_name(s)}"


def partition_values(rel: str) -> dict[str, str | None]:
    """Partition column -> value, parsed back from a data file's Hive
    ``col=value`` directory segments (path relative to the data
    root): the inverse of partition_segment. Values come back
    unescaped, as strings; the default partition reads back as None."""
    out: dict[str, str | None] = {}
    for seg in rel.split("/")[:-1]:
        if "=" in seg:
            col, raw = seg.split("=", 1)
            out[col] = (
                None if raw == HIVE_DEFAULT_PARTITION
                else unescape_path_name(raw)
            )
    return out


def partition_signature(rel: str) -> tuple[str, ...]:
    """The ordered directory keys of a data file's path — which
    partition-spec layout wrote it. Derived from the path alone, so it
    survives snapshot expiry."""
    return tuple(seg.split("=", 1)[0] for seg in rel.split("/")[:-1])
