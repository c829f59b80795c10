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
stored hex-packed under ``<table>/index/`` with the type each column
was hashed as, and the bloom step of ``Table._plan_files`` drops
every file whose bitmap misses any probe bit of an equality conjunct.
It reads conjuncts through the same literal-only parse as the stats
step (``table._literal_comparisons``) and computes every probe's
positions in one statement that starts no Spark job. Conservative
contract throughout: unindexed file, missing column, a column whose
type changed since the build, a non-equality or non-literal conjunct
-> keep the file.

Files are immutable, so index entries never go stale: files written
after the build are simply absent (kept, never pruned) until the next
build — rebuilds are an ``ANALYZE``-style maintenance op, same
cadence as compaction.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..schema import schema_from_json

INDEX_DIR = "index"
INDEX_FILE = "bloom.json"
DEFAULT_BITS = 8192
DEFAULT_HASHES = 4


def _positions(value: str, num_bits: int, num_hashes: int) -> list[str]:
    """SQL text of the k bloom positions of ``value`` (SQL text):
    pmod(xxhash64(v, seed), m) for seed = 0..k-1. xxhash64 is a JVM
    built-in, so build and probe hash identically as long as both
    sides type the value as the column was typed at the build."""
    return [
        f"pmod(xxhash64({value}, {seed}), {num_bits})"
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
    from .table import _sql_ident

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
        F.array(
            *map(F.expr, _positions(_sql_ident(c), num_bits, num_hashes))
        ).alias(c)
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
        "types": {
            f.name: f.dataType.simpleString()
            for f in schema.fields
            if f.name in cols
        },
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


def prune_files_by_bloom(
    spark: SparkSession,
    table,
    files: list[str],
    condition: str,
    index: dict | None = None,
    snapshot=None,
    qualifier: str | None = None,
) -> list[str]:
    """Drop files whose bloom bitmap cannot contain a match for some
    ``col = literal`` AND-conjunct of ``condition``, read by
    ``_literal_comparisons`` over the schema of ``snapshot`` (default:
    the current one), ``qualifier`` as there. A column probes only
    under the type it was indexed as. Spark computes every probe's
    positions, the literal try-cast to its column's type, in one
    statement over a one-row inline table that Catalyst answers with
    no job; a NULL or a literal that does not cast gives no signal."""
    from .table import _literal_comparisons, _quiet_probe, _sql_type

    index = index if index is not None else load_bloom_index(table)
    if not index or not files:
        return files
    snap = table.current_snapshot() if snapshot is None else snapshot
    types = index.get("types", {})
    probes = [
        (f, lit)
        for f, op, lit in _literal_comparisons(
            condition, schema_from_json(snap.schema_json).fields, qualifier
        )
        if op in ("=", "==")
        and f.name in index["columns"]
        and types.get(f.name) == f.dataType.simpleString()
    ]
    if not probes:
        return files
    m, k = index["num_bits"], index["num_hashes"]
    sel = []
    for i, (f, lit) in enumerate(probes):
        v = f"try_cast(({lit}) AS {_sql_type(f.dataType)})"
        sel.append(f"{v} IS NULL AS n{i}")
        sel += [f"{p} AS p{i}_{s}" for s, p in enumerate(_positions(v, m, k))]
    try:
        with _quiet_probe():
            row = spark.sql(
                f"SELECT {', '.join(sel)} FROM VALUES (1) AS _o(x)"
            ).collect()[0]
    except Exception:
        return files
    # col = NULL matches nothing, and xxhash64(NULL, seed) degenerates
    # to the seed: no pruning signal, keep files
    probes = [
        (index["columns"][f.name], [row[f"p{i}_{s}"] for s in range(k)])
        for i, (f, _) in enumerate(probes)
        if not row[f"n{i}"]
    ]
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
