"""lake_cdc: one writer applies a seeded change stream to a versioned table.

The table starts as the generated ``orders`` (range-partitioned by key into
``gen_cdc.BASE_FILES`` files, key statistics recorded). Unit op: one commit from the cycle in
:mod:`perfbench.gen_cdc` (``merge_into`` cow and dv, ``delete_where`` dv,
``update_where``, append ``write_snapshot``, ``maybe_compact``). After each
commit ``READS_PER_COMMIT`` reads of the cycle's hot key window, taking in
turn: a ``skip_filter`` key range, a ``point_filter`` key list, a
time-travel range read two versions back, and the ``table_changes`` of the
last commit. A run measures at least three whole cycles. Every read and the
final snapshot are compared with the pandas model.

Set-up generates the tables, writes the base table and runs each commit
kind once, with a read after each, untimed: that warms every op kind.
"""

from __future__ import annotations

import os
import time

from . import gen_cdc, stats
from .harness import Samples, walk, written

SF = 0.02
AMP_COMMITS = len(gen_cdc.CYCLE)  # write_amp / space_amp: over one cycle
READS_PER_COMMIT = 2  # timed; warm-up reads once per commit


class LakeCdc:
    name = "lake_cdc"
    unit_kinds = tuple(sorted(set(gen_cdc.CYCLE)))
    read_kinds = gen_cdc.READS
    min_ops = 3 * len(gen_cdc.CYCLE)
    throughput_reads = True  # reads share the table with the writer

    def __init__(self, work, seed: int, tracer):
        self.work, self.seed, self.tr = work, seed, tracer
        self.commits = 0
        self.reads = 0
        self.input_bytes = 0
        self.storage_bytes = 0
        self.amp: dict = {}

    def boundary(self) -> bool:
        return self.commits % len(gen_cdc.CYCLE) == 0

    def prepare(self) -> None:
        from .datagen import tables

        self.sf_dir = tables(self.work.path("data"), SF, self.seed)
        self.base = gen_cdc.orders_frame(os.path.join(self.sf_dir, "orders.parquet"))

    def setup(self, spark) -> None:
        from pyspark.sql import functions as F

        import wrtd_etl_spark.sources.versioned as vs
        from wrtd_etl_spark.catalog import load_table

        self.spark, self.vs, self.F = spark, vs, F
        self.t = self.work.path("orders_lake")
        base = load_table(spark, self.sf_dir, "orders").select(*gen_cdc.COLUMNS)
        v = vs.write_snapshot(
            base.repartitionByRange(gen_cdc.BASE_FILES, "o_orderkey"), self.t,
            stats_cols=["o_orderkey"]
        )
        self.model = gen_cdc.CdcModel(self.base, self.seed, v)
        warm = Samples()
        for kind in dict.fromkeys(gen_cdc.CYCLE):  # each commit kind once
            self.step(warm, kind)
        if warm.failed:
            raise RuntimeError(f"warm-up failed: {warm.errors}")
        self.model.i = 0  # the timed stream starts a fresh cycle
        self.commits = self.reads = self.input_bytes = self.storage_bytes = 0

    # --- commits -------------------------------------------------------------------

    def _frame(self, rows):
        F = self.F
        return self.spark.createDataFrame(rows).select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            # the generated column is a wall-clock timestamp (timestamp_ntz);
            # the session time zone is UTC, so micros map one to one
            F.timestamp_micros("o_orderdate").cast("timestamp_ntz").alias("o_orderdate"),
            "o_orderpriority",
        )

    def _commit(self, op: gen_cdc.Op) -> int | None:
        vs, F, t = self.vs, self.F, self.t
        key = F.col(gen_cdc.KEY)
        if op.kind in ("merge_cow", "merge_dv"):
            return vs.merge_into(self.spark, t, self._frame(op.rows), [gen_cdc.KEY],
                                 strategy="cow" if op.kind == "merge_cow" else "dv")
        if op.kind == "append":
            return vs.write_snapshot(self._frame(op.rows), t, mode="append",
                                     stats_cols=["o_orderkey"])
        prune = {gen_cdc.KEY: (op.lo, op.hi - 1)}
        if op.kind == "delete_dv":
            return vs.delete_where(self.spark, t, key.between(op.lo, op.hi - 1),
                                   prune=prune, strategy="dv")
        if op.kind == "update":
            return vs.update_where(
                self.spark, t,
                key.between(op.lo, op.hi - 1) & (F.col("o_orderstatus") == "O"),
                {"o_orderpriority": F.lit("1-URGENT"),
                 "o_totalprice": F.col("o_totalprice") + F.lit(1.0)},
                prune=prune,
            )
        return vs.maybe_compact(self.spark, t, max_files=8, target_files=8,
                                stats_cols=["o_orderkey"])

    # --- reads -----------------------------------------------------------------------

    def _project(self, df):
        F = self.F
        return df.select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("o_orderdate"),
            "o_orderpriority",
            *(["_change_type"] if "_change_type" in df.columns else []),
        )

    @staticmethod
    def _canon(rows, changes: bool) -> list[tuple]:
        """Collected rows as sorted tuples, the model's layout."""
        rows = [tuple(r) for r in rows]
        if changes:
            rows = [(r[-1], *r[:-1]) for r in rows]
        return sorted(rows)

    def _rows(self, df) -> list[tuple]:
        df = self._project(df)
        return self._canon(df.collect(), "_change_type" in df.columns)

    def _want(self, rd: gen_cdc.Read) -> list[tuple]:
        """The model's answer to a read (computed outside the timed read)."""
        m = self.model
        if rd.kind == "range":
            return m.rows(lo=rd.lo, hi=rd.hi)
        if rd.kind == "point":
            return m.rows(keys=rd.keys)
        if rd.kind == "time_travel":
            return m.rows(version=sorted(m.history)[0], lo=rd.lo, hi=rd.hi)
        return m.changes(sorted(m.history)[-2], m.version)

    def _query(self, rd: gen_cdc.Read):
        """(DataFrame the read collects, the table DataFrame it reads, or
        None for ``table_changes``)."""
        vs, F, m = self.vs, self.F, self.model
        key = F.col(gen_cdc.KEY)
        if rd.kind == "range":
            df = vs.read_snapshot(self.spark, self.t,
                                  skip_filter={gen_cdc.KEY: (rd.lo, rd.hi - 1)})
            return self._project(df.filter(key.between(rd.lo, rd.hi - 1))), df
        if rd.kind == "point":
            df = vs.read_snapshot(self.spark, self.t,
                                  point_filter={gen_cdc.KEY: list(rd.keys)})
            return self._project(df.filter(key.isin(list(rd.keys)))), df
        if rd.kind == "time_travel":
            df = vs.read_snapshot(self.spark, self.t, version=sorted(m.history)[0],
                                  skip_filter={gen_cdc.KEY: (rd.lo, rd.hi - 1)})
            return self._project(df.filter(key.between(rd.lo, rd.hi - 1))), df
        prev = sorted(m.history)[-2]
        return self._project(vs.table_changes(self.spark, self.t, prev, m.version)), None

    # --- the loop --------------------------------------------------------------------

    def step(self, s: Samples, kind: str | None = None) -> None:
        """One commit and its reads; ``kind`` forces the commit kind and
        one read (warm-up)."""
        op = self.model.next_op(kind)
        before = walk(self.t)
        t0 = time.perf_counter()
        err = None
        with self.tr.operation(op.kind) as op_id:
            try:
                version = self._commit(op)
            except Exception as e:  # one failed op must not end the run
                version, err = None, f"{op.kind}: {e!r}"[:300]
        s.op(op.kind, time.perf_counter() - t0)
        after = walk(self.t)
        b, f = written(before, after)
        self.tr.add(op_id, "storage.bytes", b)
        self.tr.add(op_id, "storage.files", f)
        self.commits += 1
        self.input_bytes += op.input_bytes
        self.storage_bytes += b
        if err is None and op.kind != "compact" and version is None:
            err = f"{op.kind}: committed no version"
        self.model.apply(op, version)
        if self.commits == AMP_COMMITS:
            self.amp = {
                "write_amp": self.storage_bytes / self.input_bytes,
                "disk_bytes": sum(sz for sz, _ in after.values()),
                "version": self.model.version,
            }
        if err:
            s.fail(err)
            return
        for _ in range(1 if kind else READS_PER_COMMIT):
            self._timed_read(s, op.kind)

    def _timed_read(self, s: Samples, after_kind: str) -> None:
        """One read; only the engine's part (building the read and
        collecting it) is timed, the model's answer and the comparison
        are not."""
        rd = self.model.next_read(self.reads)
        self.reads += 1
        want = self._want(rd)
        df, err = None, None
        t0 = time.perf_counter()
        with self.tr.operation(rd.kind) as read_id:
            try:
                query, df = self._query(rd)
                rows = query.collect()
            except Exception as e:
                err, df = f"{rd.kind} read: {e!r}"[:300], None
        s.read(rd.kind, time.perf_counter() - t0)
        if err is None:
            got = self._canon(rows, rd.kind == "changes")
            if got != want:
                err = f"{rd.kind} read after {after_kind}: {len(got)} rows, want {len(want)}"
        if df is not None and self.tr.attached:
            files = len(df.inputFiles())
            live = self.vs.history(self.t)[0]["n_files"]
            self.tr.add(read_id, "versioned.files_read", files)
            self.tr.add(read_id, "versioned.files_live", live)
        if err:
            s.fail(err)

    def finish(self, s: Samples) -> dict:
        """Final snapshot equals the model; space_amp at commit
        ``AMP_COMMITS``: table bytes on disk then, over that version's
        rows written once as plain parquet."""
        s.attempted += 1
        got = self._rows(self.vs.read_snapshot(self.spark, self.t))
        if got != self.model.rows():
            s.fail(f"final snapshot: {len(got)} rows, model {len(self.model.rows())}")
        plain = self.work.path("plain")
        self.vs.read_snapshot(self.spark, self.t, version=self.amp["version"]) \
            .write.parquet(plain)
        plain_bytes = sum(sz for sz, _ in walk(plain).values())
        return {
            "write_amp": self.amp["write_amp"],
            "space_amp": self.amp["disk_bytes"] / plain_bytes,
            "files_live": self.vs.history(self.t)[0]["n_files"],
        }

    def wraps(self):
        import wrtd_etl_spark.sources.versioned as vs

        return [(vs, fn, f"versioned.{fn}") for fn in (
            "write_snapshot", "merge_into", "delete_where", "update_where",
            "maybe_compact", "compact", "read_snapshot", "table_changes")]

    def layer_metrics(self, tr, ops: list[int], reads: list[int]) -> dict:
        def kind_wall(kind: str) -> float:
            walls = [tr.op_wall(o) for o in ops if tr.op_kind[o] == kind]
            return stats.median(walls) if walls else 0.0

        read_files = [tr.counts[o]["versioned.files_read"] for o in reads
                      if tr.counts[o]["versioned.files_live"]]
        ratios = [tr.counts[o]["versioned.files_read"] / tr.counts[o]["versioned.files_live"]
                  for o in reads if tr.counts[o]["versioned.files_live"]]
        return {
            "versioned.merge_cow_s": kind_wall("merge_cow"),
            "versioned.merge_dv_s": kind_wall("merge_dv"),
            "versioned.delete_dv_s": kind_wall("delete_dv"),
            "versioned.update_s": kind_wall("update"),
            "versioned.append_s": kind_wall("append"),
            "versioned.compact_s": kind_wall("compact"),
            "versioned.read_s": stats.median([tr.op_wall(o) for o in reads]) if reads else 0.0,
            "versioned.files_read_per_read": stats.median(read_files) if read_files else 0.0,
            "versioned.pruned_ratio": stats.median(ratios) if ratios else 0.0,
        }
