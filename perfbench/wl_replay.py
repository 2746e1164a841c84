"""replay_etl: the reference's production traffic, one new replay at a time.

Unit op: one new replay through ``ReplayWarehouse.load_replay`` ->
``data_message`` -> ``drain_messages`` (building the input DataFrames from
the scraped page and document is part of the op).

Reads: after each replay, ``TICKS_PER_REPLAY`` idle detection ticks. The
reference's first DAG runs every 5 minutes (check_replay_dag.py:17),
reads its high-water mark and looks for listed replay ids above it
(functions.py:12-40); this engine re-provides that as
``streaming.cursor.seed_cursor`` over the loaded replays and
``incremental_after_cursor`` over the listing. A replay is one played
game and a tick comes every 5 minutes, so most ticks find nothing: each
read here is such a tick over a listing of the loaded replays, and must
find no new id. ``TICKS_PER_REPLAY`` is what a run has time for, not the
reference's ratio; the ticks are timed as reads and kept out of
``ops_per_s``.

Set-up loads a seeded history in one batched ``load_replay``, runs
``data_message``/``drain_messages`` on its last replay, then one new
replay and one tick, all untimed.
"""

from __future__ import annotations

import json
import time

from . import checks, gen_replays
from .harness import Samples, walk, written

HISTORY = 1
STREAM = 16  # generated ahead; a run (150 s at most) uses fewer
TICKS_PER_REPLAY = 8


class ReplayEtl:
    name = "replay_etl"
    unit_kinds = ("replay",)
    read_kinds = ("tick",)
    min_ops = 1
    throughput_reads = False  # idle ticks are not the unit op's cost

    def __init__(self, work, seed: int, tracer):
        self.work, self.seed, self.tr = work, seed, tracer
        self.input_bytes = 0
        self.storage_bytes = 0

    def boundary(self) -> bool:
        return True  # every replay is the same kind of op

    def _frames(self, replays):
        h = self.spark.createDataFrame(
            [(r.number, r.html) for r in replays], "replay_number long, html string"
        )
        b = self.spark.createDataFrame(
            [(r.number, r.body) for r in replays], "replay_number long, body string"
        )
        return h, b

    def prepare(self) -> None:
        self.history = gen_replays.generate(self.seed, HISTORY, renames=False)
        self.stream = gen_replays.generate(
            self.seed, STREAM, first=gen_replays.FIRST_REPLAY + HISTORY
        )

    def setup(self, spark) -> None:
        from wrtd_etl_spark.pipeline import ReplayWarehouse

        self.spark = spark
        self.truth = gen_replays.ReplayTruth()
        self.wh = ReplayWarehouse(self.spark, self.work.path("wh"))
        loaded = self.wh.load_replay(*self._frames(self.history))
        if loaded != HISTORY:
            raise RuntimeError(f"history load returned {loaded}, want {HISTORY}")
        for r in self.history:
            self.truth.load(r)
        last = self.history[-1]
        self.wh.data_message(last.number)
        sent: list = []
        self.wh.drain_messages(send=sent.extend)
        if [checks.doc_mismatches(json.loads(m["text_data"]), self.truth.document(last))
                for m in sent] != [[]]:
            raise RuntimeError("warm-up outbox document does not match its truth")
        self.i = 0
        # one new replay and a tick, untimed: the first timed replay then
        # is the pipeline's third run in this JVM (a second run read ~15%
        # slower than later ones, and varied more, while the JIT warmed up)
        warm = Samples()
        self.step(warm, ticks=1)
        if warm.failed:
            raise RuntimeError(f"warm-up replay failed: {warm.errors}")
        self.input_bytes = self.storage_bytes = 0

    def _tick(self, listed) -> list:
        """One detection tick over a listing of ``listed`` replays: the
        listed ids above the cursor of loaded replays."""
        from wrtd_etl_spark.streaming.cursor import incremental_after_cursor, seed_cursor

        listing = self.spark.createDataFrame(
            [(r.number,) for r in listed], "replay_number long"
        )
        cursor = seed_cursor(listing, self.wh.existing_replays(), "replay_number")
        return incremental_after_cursor(listing, cursor, "replay_number").collect()

    def step(self, s: Samples, ticks: int = TICKS_PER_REPLAY) -> None:
        """One new replay, then ``ticks`` idle ticks."""
        r = self.stream[self.i]
        self.i += 1
        before = walk(self.wh.root)
        sent: list = []
        t0 = time.perf_counter()
        with self.tr.operation("replay") as op:
            try:
                n = self.wh.load_replay(*self._frames([r]))
                self.wh.data_message(r.number)
                self.wh.drain_messages(send=sent.extend)
                err = None
            except Exception as e:  # one failed op must not end the run
                n, err = None, f"replay {r.number}: {e!r}"[:300]
        s.op("replay", time.perf_counter() - t0)
        b, f = written(before, walk(self.wh.root))
        self.tr.add(op, "storage.bytes", b)
        self.tr.add(op, "storage.files", f)
        self.storage_bytes += b
        self.input_bytes += r.input_bytes
        self.truth.load(r)
        if err is None:
            docs = [json.loads(m["text_data"]) for m in sent]
            if n != 1:
                err = f"replay {r.number}: load_replay returned {n}"
            elif len(docs) != 1:
                err = f"replay {r.number}: {len(docs)} messages sent"
            elif bad := checks.doc_mismatches(docs[0], self.truth.document(r)):
                err = f"replay {r.number}: wrong {bad}"
        if err:
            s.fail(err)

        for _ in range(ticks):
            self._timed_tick(s)

    def _timed_tick(self, s: Samples) -> None:
        listed = self.history + self.stream[: self.i]
        t0 = time.perf_counter()
        with self.tr.operation("tick"):
            try:
                new = self._tick(listed)
                err = None
            except Exception as e:
                new, err = [], f"tick: {e!r}"[:300]
        s.read("tick", time.perf_counter() - t0)
        if err is None and new:
            err = f"tick: loaded replays {[r[0] for r in new]} listed as new"
        if err:
            s.fail(err)

    def finish(self, s: Samples) -> dict:
        """Idempotency: re-loading a loaded replay loads nothing."""
        again = [self.stream[self.i - 1]]
        s.attempted += 1
        try:
            n = self.wh.load_replay(*self._frames(again))
            if n != 0:
                s.fail(f"re-load of loaded replays returned {n}")
        except Exception as e:
            s.fail(f"re-load: {e!r}"[:300])
        return {
            "write_amp": self.storage_bytes / self.input_bytes,
            "files_live": sum(1 for _ in walk(self.wh.root)),
        }

    def wraps(self):
        import wrtd_etl_spark.pipeline as pl
        import wrtd_etl_spark.plans.replay_core as core
        import wrtd_etl_spark.sinks as sinks
        import wrtd_etl_spark.streaming.cursor as cursor

        out = [
            (pl.ReplayWarehouse, "load_replay", "pipeline.load_replay"),
            (pl.ReplayWarehouse, "data_message", "pipeline.data_message"),
            (pl.ReplayWarehouse, "drain_messages", "pipeline.drain_messages"),
            (pl.ReplayWarehouse, "analytics", "plans.build"),
            (sinks, "append", "sinks.append"),
            (sinks, "append_partitioned", "sinks.append"),
            (pl, "upsert_parquet", "operators.upsert_parquet"),
            (pl, "parse_replay_page", "sources.html_page"),
            (pl, "parse_replay_json", "sources.json_ingest"),
            (pl, "flatten_players", "sources.json_ingest"),
            (pl, "flatten_vehicles", "sources.json_ingest"),
            (pl, "flatten_frags", "sources.json_ingest"),
            (pl, "dedup_against_processed", "streaming.cursor"),
            (pl, "drain_outbox", "streaming.outbox"),
            (cursor, "seed_cursor", "streaming.cursor"),
            (cursor, "incremental_after_cursor", "streaming.cursor"),
        ]
        for q in ("q_vehicles", "q_vehicles_grouped", "q_cutlets",
                  "q_frag_detail", "q_survivors", "q_survivors_group"):
            out.append((core, q, "plans.replay_core"))
        return out

    def layer_metrics(self, tr, ops: list[int], reads: list[int]) -> dict:
        return {
            "pipeline.load_replay_s": tr.per_op(ops, "pipeline.load_replay"),
            "pipeline.data_message_s": tr.per_op(ops, "pipeline.data_message"),
            "pipeline.drain_messages_s": tr.per_op(ops, "pipeline.drain_messages"),
            "sinks.append_s": tr.per_op(ops, "sinks.append"),
            "operators.upsert_parquet_s": tr.per_op(ops, "operators.upsert_parquet"),
        }
