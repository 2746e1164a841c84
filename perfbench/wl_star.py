"""star_analytics: read-only registry queries run to ``collect()``.

Unit op: one query; a pass runs every query once, in a fixed order, and
runs stop on pass boundaries so each run sees the same query mix. The
queries are the star-schema ``pricing_summary`` from
``plans.testdata_queries`` (writes no lake table) and the corpus queries
``dedup_minhash`` and ``ann_ivfsq8_topk`` from ``plans.pipeline_queries``,
which carry the ``dedup`` and ``similarity.index_store`` layers and the
Python-worker (Arrow) path. Every op is a read, so the read
latencies are the query latencies.

Checks: a query with a DuckDB oracle must hash-match the oracle's result
on the same files; ``dedup_minhash`` must return exactly the pairs whose
exact shingle Jaccard reaches its threshold; ``ann_ivfsq8_topk`` must keep
recall@5 against exact cosine top-5 at or above ``RECALL_FLOOR``.

Set-up generates the tables, computes the expected answers and runs one
untimed pass, which warms every query.
"""

from __future__ import annotations

import os
import time

from . import checks, stats
from .harness import Samples

SF = 0.05
QUERIES = ("pricing_summary", "dedup_minhash", "ann_ivfsq8_topk")
MINHASH_THRESHOLD = 0.5  # the threshold dedup_minhash passes
ANN_K = 5
ANN_PROBES = 50  # ann_ivfsq8_topk probes with vec_id < 50
RECALL_FLOOR = 0.3  # the floor tests/test_index_store.py pins for this index


class StarAnalytics:
    name = "star_analytics"
    unit_kinds = QUERIES
    read_kinds = ()
    min_ops = len(QUERIES)
    throughput_reads = False  # the reads are the ops themselves

    def __init__(self, work, seed: int, tracer):
        self.work, self.seed, self.tr = work, seed, tracer
        self.i = 0
        self.recall: list[float] = []

    def boundary(self) -> bool:
        return self.i % len(QUERIES) == 0

    def prepare(self) -> None:
        """Inputs and expected answers; needs no Spark session."""
        import duckdb
        import pyarrow.parquet as pq

        import wrtd_etl_spark.plans.pipeline_queries  # noqa: F401  (registers)
        import wrtd_etl_spark.plans.replay_queries  # noqa: F401
        import wrtd_etl_spark.plans.testdata_queries  # noqa: F401
        from wrtd_etl_spark.plans import REGISTRY

        from .datagen import tables

        self.sf_dir = tables(self.work.path("data"), SF, self.seed)
        self.specs = {q: REGISTRY[q] for q in QUERIES}
        con = duckdb.connect()
        for name in ("region", "nation", "customer", "supplier", "part", "orders",
                     "lineitem", "events", "documents", "embeddings"):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(self.sf_dir, name)}.parquet')")
        self.expected = {}
        for q, spec in self.specs.items():
            if spec.oracle is not None:
                res = con.execute(spec.oracle)
                cols = [d[0] for d in res.description]
                self.expected[q] = checks.result_hash(cols, res.fetchall())
        con.close()
        docs = pq.read_table(os.path.join(self.sf_dir, "documents.parquet"),
                             columns=["doc_id", "text"]).to_pydict()
        self.pairs = checks.exact_near_dup_pairs(
            dict(zip(docs["doc_id"], docs["text"])), MINHASH_THRESHOLD)
        emb = pq.read_table(os.path.join(self.sf_dir, "embeddings.parquet"),
                            columns=["vec_id", "embedding"]).to_pydict()
        vectors = dict(zip(emb["vec_id"], emb["embedding"]))
        self.exact = checks.exact_top_k(
            vectors, [p for p in sorted(vectors) if p < ANN_PROBES], ANN_K)

    def setup(self, spark) -> None:
        self.spark = spark
        warm = Samples()
        for _ in QUERIES:
            self.step(warm)
        if warm.failed:
            raise RuntimeError(f"warm-up pass failed: {warm.errors}")
        self.recall.clear()

    def check(self, q: str, cols: list[str], rows: list) -> str | None:
        if q in self.expected:
            got = checks.result_hash(cols, [tuple(r) for r in rows])
            return None if got == self.expected[q] else "result differs from oracle"
        if q == "dedup_minhash":
            got = {(min(r[0], r[1]), max(r[0], r[1])) for r in rows}
            return None if got == self.pairs else (
                f"{len(got)} pairs, exact {len(self.pairs)}")
        found: dict[int, list[int]] = {}
        for r in rows:
            found.setdefault(r["probe_id"], []).append(r["neighbor_id"])
        recall = checks.recall_at_k(found, self.exact)
        self.recall.append(recall)
        return None if recall >= RECALL_FLOOR else f"recall@{ANN_K} {recall:.3f}"

    def step(self, s: Samples) -> None:
        q = QUERIES[self.i % len(QUERIES)]
        self.i += 1
        t0 = time.perf_counter()
        with self.tr.operation(q):
            try:
                with self.tr.span("plans.build"):
                    df = self.specs[q].fn(self.spark, self.sf_dir)
                rows = df.collect()
                err = None
            except Exception as e:  # one failed op must not end the run
                err = f"{q}: {e!r}"[:300]
        s.op(q, time.perf_counter() - t0)
        s.reads.append(s.ops[-1])  # every query is a read
        if err is None:
            bad = self.check(q, df.columns, rows)
            err = f"{q}: {bad}" if bad else None
        if err:
            s.fail(err)

    def finish(self, s: Samples) -> dict:
        return {}

    def wraps(self):
        import wrtd_etl_spark.plans.pipeline_queries as pq_mod
        import wrtd_etl_spark.similarity.index_store as idx

        return [
            (pq_mod, "minhash_near_dup_pairs", "dedup.minhash_near_dup_pairs"),
            (idx, "write_ivfsq8_index", "similarity.write_ivfsq8_index"),
            (idx, "ivfsq8_query", "similarity.ivfsq8_query"),
        ]

    def layer_metrics(self, tr, ops: list[int], reads: list[int]) -> dict:
        def kind_wall(kind: str) -> float:
            walls = [tr.op_wall(o) for o in ops if tr.op_kind[o] == kind]
            return stats.median(walls) if walls else 0.0

        ann = [o for o in ops if tr.op_kind[o] == "ann_ivfsq8_topk"]
        build = tr.per_op(ann, "similarity.write_ivfsq8_index")
        return {
            "plans.build_s": tr.per_op(ops, "plans.build"),
            "dedup.batch_s": kind_wall("dedup_minhash"),
            "similarity.ivfsq8_build_s": build,
            "similarity.ivfsq8_query_s": kind_wall("ann_ivfsq8_topk") - build,
            "similarity.recall_at_k": stats.median(self.recall) if self.recall else 0.0,
        }
