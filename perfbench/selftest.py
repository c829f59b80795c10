"""Self-test of the benchmark: generator, truth, and the correctness gate.

Usage (from the repository root):

    python3 perfbench/selftest.py

1. The generator is deterministic per seed, lands batches in mtime
   order, never repeats a key inside a batch, and its in-memory truth
   equals an independent replay of the files it wrote.
2. Negative control: a run whose expected silver is corrupted
   (``--corrupt-truth``) must fail the gate and exit 1; the same run
   uncorrupted passes.
3. In a directory holding only BENCHMARK.json and the benchmark's own
   files, the command exits non-zero without printing a result.
"""

from __future__ import annotations

import csv
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
sys.path[:0] = [str(HERE), str(ROOT), str(ROOT / "tests")]

from gen import CdcGenerator  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def generate(dirpath: str, seed: int, shape, batches: int) -> CdcGenerator:
    g = CdcGenerator(dirpath, seed, shape)
    g.initial_load()
    for _ in range(batches):
        g.change_batch()
    return g


def digest(dirpath: str) -> str:
    h = hashlib.sha256()
    for p in sorted(Path(dirpath).iterdir()):
        h.update(p.name.encode() + p.read_bytes())
    return h.hexdigest()


def replay(dirpath: str) -> dict[int, tuple]:
    """Silver state by applying the written files in mtime order."""
    state: dict[int, tuple] = {}
    files = sorted(Path(dirpath).iterdir(), key=lambda p: (p.stat().st_mtime_ns, p.name))
    for p in files:
        with open(p, newline="") as fh:
            rows = list(csv.reader(fh, delimiter="\t"))[1:]
        keys = [int(r[2]) for r in rows]
        assert len(keys) == len(set(keys)), f"{p.name}: a key repeats inside one batch"
        for r in rows:
            if r[0] == "D":
                assert int(r[2]) in state, f"{p.name}: delete of a key that is not live"
                del state[int(r[2])]
            else:
                state[int(r[2])] = tuple(r[1:])
    return state


def check_generator(scratch: str) -> None:
    for name, cls in WORKLOADS.items():
        a = generate(os.path.join(scratch, f"{name}-a"), 7, cls.shape, 3)
        b = generate(os.path.join(scratch, f"{name}-b"), 7, cls.shape, 3)
        c = generate(os.path.join(scratch, f"{name}-c"), 8, cls.shape, 3)
        assert digest(a.raw_dir) == digest(b.raw_dir), f"{name}: same seed, different inputs"
        assert digest(a.raw_dir) != digest(c.raw_dir), f"{name}: seed ignored"
        assert replay(a.raw_dir) == a.truth, f"{name}: truth differs from a replay of the files"
        print(f"ok   generator {name}: deterministic, truth = replay ({len(a.truth)} keys)")


def run(args: list[str], cwd: Path) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=600,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


def check_gate() -> None:
    base = ["--workload", "cdc_trickle", "--seed", "3", "--seconds", "3", "--trace", "0"]
    code, out = run(base + ["--corrupt-truth"], ROOT)
    assert code == 1 and json.loads(out[-1])["correct"] is False, (code, out[-1:])
    print("ok   negative control: corrupted truth fails the gate (exit 1)")
    code, out = run(base, ROOT)
    assert code == 0 and json.loads(out[-1])["correct"] is True, (code, out[-1:])
    print("ok   positive control: the same run passes (exit 0)")


def check_bare_directory(scratch: str) -> None:
    bare = Path(scratch) / "bare"
    bare.mkdir()
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(HERE, bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    code, out = run(["--workload", "cdc_trickle", "--seed", "1", "--seconds", "3",
                     "--trace", "0"], bare)
    assert code != 0 and not out, (code, out)
    print(f"ok   bare directory: exit {code}, no result printed")


def main() -> int:
    (ROOT / ".perfbench_work").mkdir(exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="selftest-", dir=ROOT / ".perfbench_work")
    try:
        check_generator(scratch)
        check_bare_directory(scratch)
        check_gate()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
