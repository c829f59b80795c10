"""Seeded generator of DMS-format CDC batches and their expected silver state.

Each batch is one tab-separated CSV file with the reference header
(``Op``, ``replicadmstimestamp``, ``invoiceid``, ... ``referral``). The
generator keeps the expected silver table in memory: one row per live
``invoiceid``, the last version written wins, ``Op='D'`` removes the
key. A key appears at most once per batch, so the winner of every key
is decided by batch order alone.

File modification times are set explicitly, one second apart, so the
incremental file source sees the batches in order without any sleep.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field
from datetime import date, datetime, timedelta

from test_medallion_golden import HEADER

# silver is partitioned by destination state: 16 values
STATES = "CA CT FL GA IL MA MI NC NJ NY OH PA SC TX VI WA".split()
SHIPPING = ("3-Day", "2-Day", "Standard", "Next-Day")
WORDS = (
    "degree bit school market language table value part hash window join "
    "stream batch query order line customer sort filter group scan merge"
).split()
BASE_TS = datetime(2024, 1, 1)
BASE_DATE = date(2021, 1, 1)
# mtime of batch 0; later batches are one second apart
BASE_MTIME_S = 1_700_000_000


@dataclass(frozen=True)
class Shape:
    """Batch shape. Shares are of the rows of each change batch; the
    rest of a batch is inserts of new keys."""

    initial_rows: int
    initial_files: int
    batch_rows: int
    update_share: float
    delete_share: float
    # exponent of the recency skew: 1.0 picks keys uniformly, larger
    # values favour recently inserted keys
    recency_skew: float


@dataclass
class Batch:
    path: str
    rows: int
    bytes: int
    deletes: int


@dataclass
class CdcGenerator:
    """Writes batches into ``raw_dir`` and tracks the expected silver."""

    raw_dir: str
    seed: int
    shape: Shape
    truth: dict[int, tuple] = field(default_factory=dict)
    _keys: list[int] = field(default_factory=list)  # insertion order
    _next_key: int = 1
    _n_batches: int = 0

    def __post_init__(self):
        self.rng = random.Random(self.seed)
        os.makedirs(self.raw_dir, exist_ok=True)

    def _row(self, key: int, batch_no: int) -> tuple:
        r = self.rng
        ts = BASE_TS + timedelta(minutes=batch_no, microseconds=r.randrange(60_000_000))
        return (
            ts.strftime("%Y-%m-%d %H:%M:%S.%f"),
            str(key),
            str(r.randrange(1, 100)),
            r.choice(WORDS) + r.choice(("", "####")),
            f"{r.randrange(100, 10_000) / 100:.2f}",
            str(r.randrange(1, 10)),
            (BASE_DATE + timedelta(days=r.randrange(1200))).isoformat(),
            r.choice(STATES),
            r.choice(SHIPPING),
            r.choice(WORDS),
        )

    def _pick_live(self, n: int, taken: set[int]) -> list[int]:
        """``n`` distinct live keys not in ``taken``, skewed to recent."""
        keys, skew, out = self._keys, self.shape.recency_skew, []
        n = min(n, len(self.truth) - len(taken))
        while len(out) < n:
            pos = int(len(keys) * (1.0 - self.rng.random() ** skew))
            k = keys[min(pos, len(keys) - 1)]
            if k in self.truth and k not in taken:
                taken.add(k)
                out.append(k)
        return out

    def _write(self, ops: list[tuple[str, int]], name: str) -> Batch:
        no = self._n_batches
        lines = [HEADER]
        for op, key in ops:
            row = self._row(key, no)
            lines.append("\t".join((op, *row)))
            if op == "D":
                del self.truth[key]
            else:
                if key not in self.truth:
                    self._keys.append(key)
                self.truth[key] = row
        path = os.path.join(self.raw_dir, name)
        data = ("\n".join(lines) + "\n").encode()
        with open(path, "wb") as fh:
            fh.write(data)
        mtime_ns = (BASE_MTIME_S + no) * 1_000_000_000
        os.utime(path, ns=(mtime_ns, mtime_ns))
        return Batch(path, len(ops), len(data), sum(op == "D" for op, _ in ops))

    def _inserts(self, n: int) -> list[tuple[str, int]]:
        ops = [("I", k) for k in range(self._next_key, self._next_key + n)]
        self._next_key += n
        return ops

    def initial_load(self) -> list[Batch]:
        """The initial inserts, split over ``initial_files`` files that
        land together (one pipeline run picks them all up)."""
        s = self.shape
        per = -(-s.initial_rows // s.initial_files)
        out = []
        for i in range(s.initial_files):
            n = min(per, s.initial_rows - i * per)
            out.append(self._write(self._inserts(n), f"initial-{i:03d}.csv"))
        self._n_batches += 1
        return out

    def change_batch(self) -> Batch:
        """One CDC batch: updates and deletes of live keys, then inserts."""
        s = self.shape
        n_upd = int(s.batch_rows * s.update_share)
        n_del = int(s.batch_rows * s.delete_share)
        taken: set[int] = set()
        upd = self._pick_live(n_upd, taken)
        dele = self._pick_live(n_del, taken)
        ops = [("U", k) for k in upd] + [("D", k) for k in dele]
        ops += self._inserts(s.batch_rows - len(ops))
        self.rng.shuffle(ops)
        b = self._write(ops, f"batch-{self._n_batches:05d}.csv")
        self._n_batches += 1
        return b
