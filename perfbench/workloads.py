"""The two closed-loop workloads: one client, sequential operations.

Each workload stages its input once, then runs passes of operations. An op
is timed from its first call into the library to the end of its result
(``collect()`` for a query); its output check runs after the clock stops.

- ``build``: one public fused multi-sketch build over 200k staged pages
  plus a fixed query battery on the merged sketch.
- ``queries``: oracle-gated queries of ``__spark_entry__``, one per
  mechanism (an ``aggregate.build_sketch`` query, a streaming query and,
  three times a pass, a pair kernel), in a seed-shuffled order per pass.
"""

from __future__ import annotations

import random
import time
from contextlib import nullcontext

import numpy as np

import checks
import fixture

PAGES = 200_000
PARTITIONS = 16
QUANTILES = [0.1, 0.5, 0.9, 0.99]


def _no_span(_name):
    return nullcontext()


class Build:
    name = "build"

    def __init__(self, spark, root: str, data_dir: str, seed: int, span=_no_span) -> None:
        self.spark, self.seed, self.span = spark, seed, span

    def stage(self) -> float:
        """Stage the pages once; returns the seconds spent on the exact
        counts the checks use (not part of set-up). They are computed in
        every run, not cached per seed, so that every process runs the
        same jobs before the timed builds."""
        from heavy_hitters_spark.io import pages_df

        # bench.py's length settings; Zipf(1.0) over a 10k vocabulary
        with self.span("io.stage"):
            self.pages = (
                pages_df(self.spark, PAGES, n_vocab=10_000, alpha=1.0, min_len=100,
                         len_range=300, seed=self.seed, partitions=PARTITIONS)
                .select("text")
                .cache()
            )
            self.pages.count()
        t0 = time.perf_counter()
        self.ids, self.counts = self._exact_counts()
        self.l1 = int(self.counts.sum())
        absent = np.random.default_rng(self.seed).integers(1, 2**32, 512, dtype=np.uint64)
        self.probes = np.concatenate([self.ids, absent[~np.isin(absent, self.ids)]])
        self.probe_exact = np.concatenate(
            [self.counts, np.zeros(len(self.probes) - len(self.ids), np.int64)]
        )
        return time.perf_counter() - t0

    def _exact_counts(self) -> tuple[np.ndarray, np.ndarray]:
        """Exact count of every token id in the staged pages."""
        from pyspark.sql import functions as F

        from heavy_hitters_spark.spark.keys import key_id

        def token_counts(batches):
            import pyarrow as pa
            import pyarrow.compute as pc

            for b in batches:
                vc = pc.value_counts(pc.list_flatten(pc.split_pattern(b.column("text"), " ")))
                yield pa.RecordBatch.from_arrays(vc.flatten(), names=["t", "n"])

        rows = (
            self.pages.mapInArrow(token_counts, "t string, n long")
            .where(F.col("t") != "")
            .groupBy("t")
            .agg(F.sum("n").alias("count"))
            .collect()
        )
        ids, inverse = np.unique(np.array([key_id(r["t"]) for r in rows], dtype=np.uint64), return_inverse=True)
        return ids, np.bincount(inverse, weights=[r["count"] for r in rows]).astype(np.int64)

    def pass_order(self, rng: random.Random) -> list[str]:
        return ["build"]

    def run(self, name: str) -> dict:
        import bench
        from heavy_hitters_spark.spark.fused import build_token_sketch

        t0 = time.perf_counter()
        sk, m = build_token_sketch(self.pages, bench._tmpl(), text_col="text", fanin=64, n_hint=PARTITIONS)
        build_s = time.perf_counter() - t0
        with self.span("core.query"):
            out = {
                "cm": sk["cm"].point(self.probes),
                "cs": sk["cs"].point(self.probes),
                "mg": sk["mg"].candidates(),
                "hll": sk["hll"].estimate(),
                "kll": sk["kll"].quantile(QUANTILES),
            }
        with self.span("hh.query"):
            out["hh"] = sk["hh"].query()
        out["sketch"] = sk
        return {"docs": m["n_rows"], "rows": 1, "build_s": build_s, "out": out}

    def check(self, name: str, res: dict) -> str | None:
        out, sk = res["out"], res["out"]["sketch"]
        mg = np.array(out["mg"], dtype=np.uint64).reshape(-1, 2)
        hh_ids = np.array([i for i, _ in out["hh"]], dtype=np.uint64)
        problems = [
            None if res["docs"] == PAGES else f"folded {res['docs']} docs, staged {PAGES}",
            checks.check_cm(out["cm"], self.probe_exact, self.l1, sk["cm"].w),
            checks.check_hll(out["hll"], len(self.ids), sk["hll"].rel_std_error()),
            checks.check_mg(mg[:, 0], mg[:, 1].astype(np.int64), sk["mg"].decrement, self.ids, self.counts),
            checks.check_kll(out["kll"], QUANTILES, self.ids, self.counts, checks.kll_rank_eps(sk["kll"].k)),
            checks.check_hh(hh_ids, self.ids, self.counts, self.l1, sk["hh"].phi, sk["hh"].epsilon),
        ]
        return "; ".join(p for p in problems if p) or None

    def micro(self) -> dict:
        """Single-thread, in-process layer rates over staged partition 0."""
        import pyarrow.compute as pc
        from pyspark.sql.functions import spark_partition_id

        import bench
        from heavy_hitters_spark.core.base import pack_state, unpack_state
        from heavy_hitters_spark.spark.fused import _fused_fn
        from heavy_hitters_spark.spark.keys import key_id

        part = self.pages.where(spark_partition_id() == 0).toArrow()
        batches = part.to_batches(max_chunksize=8192)
        kernel = _fused_fn(pack_state(bench._tmpl()), "text")

        def timed(fn, reps=3):
            walls, out = [], None
            for _ in range(reps):
                t0 = time.perf_counter()
                out = fn()
                walls.append(time.perf_counter() - t0)
            return float(np.median(walls)), out

        kernel_s, out = timed(lambda: list(kernel(iter(batches))))
        state = out[0].column("state")[0].as_py()

        d = pc.list_flatten(pc.split_pattern(part.column("text"), " ")).combine_chunks().dictionary_encode()
        vocab = d.dictionary.to_pylist()
        lut = np.array([key_id(t) for t in vocab], dtype=np.uint64)
        idx = d.indices.to_numpy()
        if "" in vocab:
            idx = idx[idx != vocab.index("")]
        ids = lut[idx]
        uniq, cnt = np.unique(ids, return_counts=True)
        fresh = iter([bench._tmpl() for _ in range(6)])  # built outside the clock
        raw_s, _ = timed(lambda: next(fresh).update_batch(ids))
        pre_s, _ = timed(lambda: next(fresh).update_batch(uniq, cnt))

        def fold():
            parts = [unpack_state(state) for _ in range(PARTITIONS)]
            t0 = time.perf_counter()
            acc = parts[0]
            for p in parts[1:]:
                acc.merge(p)
            return time.perf_counter() - t0, acc

        merge_s, acc = fold()
        pack_s, packed = timed(lambda: pack_state(acc))
        unpack_s, _ = timed(lambda: unpack_state(packed))
        return {
            "core.update_raw_mupd_per_s": len(ids) / raw_s / 1e6,
            "core.update_preagg_mupd_per_s": len(ids) / pre_s / 1e6,
            "core.merge_ms": merge_s * 1e3,
            "core.pack_ms": pack_s * 1e3,
            "core.unpack_ms": unpack_s * 1e3,
            "core.state_bytes": len(packed),
            "fused.kernel_docs_per_s_1t": part.num_rows / kernel_s,
        }


class Queries:
    """``__spark_entry__`` queries over the fixture tables, each checked against
    its DuckDB oracle."""

    name = "queries"
    # query -> (table it reads, layer of its op spans, ops per pass). One
    # query per mechanism: a fresh process pays 3-13 s of first-call warm-up
    # per query type, and a run must stay near a minute on a 4-CPU host.
    # The pair kernel runs three times a pass, so that the median op is one
    # of its runs: its wall varies least from run to run on a shared host
    # (the stream's micro-batch chain and the many small jobs of the
    # aggregate query slow down most under host load).
    queries = {
        "phi_heavy_users": ("events", "queries", 1),  # aggregate.build_sketch, exact verify
        "topk_tokens_stream": ("documents", "queries", 1),  # streaming sink, merged_sketch
        "jaccard_pairs": ("documents", "functions", 3),  # shingle pair kernel, the largest leaf
    }

    def __init__(self, spark, root: str, data_dir: str, seed: int, span=_no_span) -> None:
        import __spark_entry__

        self.spark, self.span = spark, span
        self.data_dir = data_dir
        self.sf = fixture.ensure_tables(data_dir)
        self.fns = __spark_entry__.queries()
        self.canon = checks.load_canon(root)

    @classmethod
    def oracle_sql(cls) -> dict[str, str]:
        import __spark_entry__

        sql = __spark_entry__.oracle_sql()
        return {n: sql[n] for n in cls.queries}

    def stage(self) -> float:
        t0 = time.perf_counter()
        self.oracles = fixture.ensure_oracles(self.data_dir, self.sf, self.oracle_sql())
        return time.perf_counter() - t0

    def pass_order(self, rng: random.Random) -> list[str]:
        order = [name for name, (_, _, times) in self.queries.items() for _ in range(times)]
        rng.shuffle(order)
        return order

    def run(self, name: str) -> dict:
        table, layer, _ = self.queries[name]
        with self.span(f"{layer}.construct"):
            df = self.fns[name](self.spark, self.sf)
        with self.span(f"{layer}.collect"):
            rows = df.collect()
        return {"docs": fixture.ROWS[table], "rows": len(rows), "layer": layer, "out": (rows, df.schema)}

    def check(self, name: str, res: dict) -> str | None:
        return checks.compare_oracle(self.canon, checks.rows_to_pandas(*res["out"]), self.oracles[name])


WORKLOADS = {w.name: w for w in (Build, Queries)}
