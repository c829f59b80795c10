"""Per-file bloom-filter index for EQUALITY-predicate file skipping.

Min/max manifest stats (table.py ``_prune_files_by_stats``) are
useless for point lookups on high-cardinality columns that every file
spans (uuid-ish keys: every file's [min,max] contains every probe).
The classic lakehouse answer is a per-file bloom filter consulted at
scan-planning time — Iceberg stores these as Puffin blob files next
to the manifests; this module is that structure on the engine's
metadata layout.

Build is one distributed pass over the table (k xxhash64 probes per
value, bit positions aggregated per file — all JVM-side expressions,
one shuffle keyed by file), the index is a bitmap per (file, column)
stored hex-packed under ``<table>/index/``, and the scan planner
drops every file whose bitmap misses any probe bit of an equality
conjunct. Conservative contract throughout: unindexed file, missing
column, non-equality or non-literal conjunct -> keep the file.

Files are immutable, so index entries never go stale: files written
after the build are simply absent (kept, never pruned) until the next
build — rebuilds are an ``ANALYZE``-style maintenance op, same
cadence as compaction.
"""

from __future__ import annotations

import json
import os
import re
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

INDEX_DIR = "index"
INDEX_FILE = "bloom.json"
DEFAULT_BITS = 8192
DEFAULT_HASHES = 4


def _positions(col, num_bits: int, num_hashes: int) -> list:
    """k bloom positions of a value: pmod(xxhash64(v, seed), m) for
    seed = 0..k-1. xxhash64 is a JVM built-in, so build and probe
    hash identically as long as both sides use the value's declared
    column type."""
    return [
        F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(num_bits))
        for seed in range(num_hashes)
    ]


def build_bloom_index(
    spark: SparkSession,
    table,
    cols: list[str],
    num_bits: int = DEFAULT_BITS,
    num_hashes: int = DEFAULT_HASHES,
) -> dict:
    """One distributed pass: per (file, column) the set of bloom bit
    positions of every value, packed to a hex bitmap on the driver
    (#files x m/8 bytes — index-sized, not data-sized) and written
    atomically to ``<table>/index/bloom.json``."""
    snap = table.current_snapshot()
    schema = table.schema
    declared = {f.name for f in schema.fields}
    missing = [c for c in cols if c not in declared]
    if missing:
        raise KeyError(f"no such column(s): {missing}")
    df = table._read_files(
        spark, snap.files, schema, attach_pos=True
    )
    per_col = [
        F.array(*_positions(F.col(c), num_bits, num_hashes)).alias(c)
        for c in cols
    ]
    agg = (
        df.select(F.col(table.POS_FILE_COL).alias("_file"), *per_col)
        .groupBy("_file")
        .agg(
            *[
                F.array_distinct(F.flatten(F.collect_set(c))).alias(c)
                for c in cols
            ]
        )
        .collect()
    )
    index = {
        "num_bits": num_bits,
        "num_hashes": num_hashes,
        "snapshot_id": snap.snapshot_id,
        "columns": {c: {} for c in cols},
    }
    nbytes = (num_bits + 7) // 8
    for r in agg:
        for c in cols:
            bits = bytearray(nbytes)
            for p in r[c]:
                bits[p // 8] |= 1 << (p % 8)
            index["columns"][c][r["_file"]] = bytes(bits).hex()
    out_dir = Path(table.root) / INDEX_DIR
    out_dir.mkdir(parents=True, exist_ok=True)
    tmp = out_dir / f".{INDEX_FILE}.tmp"
    tmp.write_text(json.dumps(index))
    os.replace(tmp, out_dir / INDEX_FILE)
    return index


def load_bloom_index(table) -> dict | None:
    p = Path(table.root) / INDEX_DIR / INDEX_FILE
    if not p.exists():
        return None
    return json.loads(p.read_text())


_EQ_RE = re.compile(r"^\s*`?([A-Za-z_]\w*)`?\s*(?:==|=)\s*(.+?)\s*$")


def prune_files_by_bloom(
    spark: SparkSession,
    table,
    files: list[str],
    condition: str,
    index: dict | None = None,
) -> list[str]:
    """Drop files whose bloom bitmap cannot contain a match for some
    ``col = literal`` AND-conjunct of ``condition``. Probe positions
    are computed by Spark itself (literal cast through the declared
    column type), so build and probe can never disagree on hashing."""
    from .table import _split_conjuncts, _unwrap_conjunct

    index = index if index is not None else load_bloom_index(table)
    if not index or not files:
        return files
    by_name = {f.name: f for f in table.schema.fields}
    m, k = index["num_bits"], index["num_hashes"]
    probes: list[tuple[dict, list[int]]] = []
    for conj in _split_conjuncts(condition):
        mt = _EQ_RE.match(_unwrap_conjunct(conj))
        if not mt:
            continue
        col, lit = mt.groups()
        if col not in index["columns"] or col not in by_name:
            continue
        if re.search(r"\bid\b|`", lit, re.I):
            continue  # same column-reference guard as the stats pruner
        try:
            typed = F.expr(lit).cast(by_name[col].dataType)
            row = (
                spark.range(1)
                .select(
                    typed.isNull().alias("is_null"),
                    *[
                        p.alias(f"p{i}")
                        for i, p in enumerate(_positions(typed, m, k))
                    ],
                )
                .first()
            )
        except Exception:
            continue  # not a constant expression: keep files
        if row["is_null"]:
            # col = NULL matches nothing, and xxhash64(NULL, seed)
            # degenerates to the seed — no pruning signal, keep files
            continue
        pos = [row[f"p{i}"] for i in range(k)]
        probes.append((index["columns"][col], pos))
    if not probes:
        return files
    out = []
    for f in files:
        base = f.rsplit("/", 1)[-1]
        keep = True
        for bitmaps, pos in probes:
            hexmap = bitmaps.get(base)
            if hexmap is None:
                continue  # file written after the build: keep
            bits = bytes.fromhex(hexmap)
            if not all(bits[p // 8] & (1 << (p % 8)) for p in pos):
                keep = False
                break
        if keep:
            out.append(f)
    return out
