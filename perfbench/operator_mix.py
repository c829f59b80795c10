"""``operator_mix``: 14 registry queries, each forced to the noop sink.

Not listed in BENCHMARK.json (see README.md): its inputs are an existing
scale-factor directory, given with ``--sf-dir``, not files generated
from the seed; the seed only permutes the query order. Caches are
cleared before each query and ``bench.QUERY_CONF`` overrides apply, as
in ``bench.py``. After the timed pass each query runs once more and
its collected result is compared with its DuckDB twin from
``__spark_entry__.oracle_sql()``, canonicalised by
``tools/check_oracles.py``.
"""

from __future__ import annotations

import random
import time
from contextlib import nullcontext
from pathlib import Path

from workloads import RunStats

QUERIES = (
    "q1_pricing_summary", "q5_region_revenue", "q18_large_orders", "w1_latest_per_key",
    "medallion_merge_state", "sql_ctas_time_travel", "metadata_agg_pushdown",
    "position_delete_mor", "dedup_minhash_lsh_pairs", "dedup_incremental_delta",
    "ann_pq_topk", "bpe_vocab_merges", "multimodal_decode_png", "curation_end_to_end",
)
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


class OperatorMix:
    def __init__(self, spark, seed: int, sf_dir: str):
        import __spark_entry__ as entry
        from bench import QUERY_CONF, force

        self.spark, self.sf_dir = spark, sf_dir
        self.registry, self.oracles = entry.queries(), entry.oracle_sql()
        self.conf, self.force = QUERY_CONF, force
        self.order = list(QUERIES)
        random.Random(seed).shuffle(self.order)

    def setup(self) -> None:
        # warm-up as bench.py does it: codegen and file listing
        for name in ("a1_count_star", "q1_pricing_summary"):
            self.force(self.registry[name](self.spark, self.sf_dir))

    def _with_conf(self, name: str, fn):
        spark = self.spark
        overrides = self.conf.get(name, {})
        saved = {k: spark.conf.get(k) for k in overrides}
        for k, v in overrides.items():
            spark.conf.set(k, v)
        try:
            spark.catalog.clearCache()
            return fn()
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)

    def run(self, tracer=None) -> RunStats:
        st = RunStats()
        t_start = time.perf_counter()
        for i, name in enumerate(self.order):
            st.attempted += 1
            try:
                with tracer.op(i, name) if tracer else nullcontext():
                    t0 = time.perf_counter()
                    self._with_conf(name, lambda: self.force(self.registry[name](self.spark, self.sf_dir)))
                    dt = time.perf_counter() - t0
                st.op_s.append(dt)
                st.op_cls.append(name)
            except Exception:  # one failed query; the run goes on
                import traceback

                traceback.print_exc()
                st.failed += 1
        st.total_s = time.perf_counter() - t_start
        return st

    def check(self, st: RunStats, corrupt: bool = False) -> list[str]:
        import duckdb
        from check_oracles import canon

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        bad = []
        for name in self.order:
            df = self._with_conf(name, lambda: self.registry[name](self.spark, self.sf_dir))
            got = canon([tuple(r) for r in df.collect()], df.columns)
            res = con.execute(self.oracles[name])
            want = canon(res.fetchall(), [d[0] for d in res.description])
            if corrupt:  # negative control: a lost row must fail the gate
                want = want[1:]
            if got != want:
                bad.append(f"{name}: {len(got)} rows, oracle {len(want)}; results differ")
        return bad

    def storage(self) -> dict:
        return {}

    def metrics(self, st: RunStats, storage: dict) -> dict:
        return {}

    def per_layer(self, tracer, work: Path, st, storage, start_s, probe_ms, cores):
        from layers import per_query

        return per_query(tracer, work, start_s, probe_ms, cores)
