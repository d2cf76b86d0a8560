"""The benchmark workloads and the serial read mix.

Each workload generates its change log from the seed with
``synthetic_change_log`` and writes it as parquet; the pipeline only
ever sees that parquet log. Set-up (log generation, pre-load, untimed
warm-up) ends with :meth:`Ctx.setup_done`; the timed phase follows.
Every workload returns a :class:`Phase` record that ``run.py`` turns
into metrics and checks against the oracle.
"""

from __future__ import annotations

import math
import random
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clinvar_ingest_spark.sources import ChangeLogSource, synthetic_change_log
from clinvar_ingest_spark.streaming import IngestPipeline
from clinvar_ingest_spark.tables import SnapshotTable

from spans import data_files

TABLE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("seq", T.LongType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("lang", T.StringType()),
        T.StructField("text", T.StringType()),
    ]
)
# one batch per run_to_end call: the whole due backlog goes in one range
WHOLE_BACKLOG = 1 << 62


@dataclass
class Phase:
    """What one timed phase did, in the units the metrics need."""

    slice_lo: int  # the timed slice is (slice_lo, hwm]
    hwm: int = -1
    wall_s: float = 0.0  # timed phase start → last commit returned
    rate_events: int = 0  # events counted by events_per_s ...
    rate_s: float = 0.0  # ... and the ingest seconds they took
    amp_lo: int = 0  # write_amp covers the slice (amp_lo, hwm] ...
    amp_bytes: int = 0  # ... and the data-file bytes written for it
    freshness: list = field(default_factory=list)  # numpy arrays, seconds
    lateness: list = field(default_factory=list)  # numpy arrays, seconds
    lag_end_events: int = 0
    bytes_written: int = 0  # whole timed phase
    files_written: int = 0
    batches: int = 0
    compacts: list = field(default_factory=list)  # seconds per compact()
    lookups: list = field(default_factory=list)  # (hwm, url, seq|None, n_rows)
    lookup_s: list = field(default_factory=list)
    scans: list = field(default_factory=list)  # (hwm, live rows counted)
    scan_s: list = field(default_factory=list)


class Ctx:
    """Run-wide state handed to a workload."""

    def __init__(self, spark, work: str, seed: int, seconds: int, wl: dict,
                 read_round: dict, oracle_factory, tracer_factory, clock0: float):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.wl = wl
        self.read_round = read_round
        self.oracle_factory = oracle_factory
        self.tracer_factory = tracer_factory
        self.clock0 = clock0
        self.setup_s = None
        self.gen_s = 0.0
        self.oracle = None
        self.tracer = None
        self.pipe = None
        self.log_dir = f"{work}/log"
        self.marks: dict[str, float] = {}  # set-up step → seconds since start

    def mark(self, name: str) -> None:
        self.marks[name] = round(time.perf_counter() - self.clock0, 3)

    # ---------------------------------------------------------------- setup
    def generate(self, n_events: int) -> None:
        g = self.wl["generator"]
        t0 = time.perf_counter()
        synthetic_change_log(
            self.spark, n_events,
            n_urls=g.get("n_urls") or int(n_events * g["urls_per_event"]),
            n_parts=g["n_parts"], hot_share=g["hot_share"],
            hot_urls=g["hot_urls"], delete_frac=g["delete_frac"],
            seed=self.seed, html_repeat=g["html_repeat"],
        ).write.parquet(self.log_dir)
        self.gen_s = time.perf_counter() - t0
        self.n_events = n_events
        self.oracle = self.oracle_factory(self.log_dir)
        self.mark("generated")

    def make_pipeline(self) -> IngestPipeline:
        t = self.wl["table"]
        table = SnapshotTable(
            self.spark, f"{self.work}/table", key_col="url", n_buckets=t["n_buckets"]
        ).create(TABLE_SCHEMA)
        source = ChangeLogSource(self.spark.read.parquet(self.log_dir))
        self.pipe = IngestPipeline(self.spark, source, table, merge_mode=t["merge_mode"])
        return self.pipe

    def read_keys(self, hwm: int) -> dict[str, list[str]]:
        """Candidate keys per read kind: the hot set, the other urls the
        generator can emit, and keys whose LWW winner at ``hwm`` is a
        tombstone (from the oracle, never from the engine)."""
        g = self.wl["generator"]
        n_urls = g.get("n_urls") or int(self.n_events * g["urls_per_event"])
        hot = [f"https://d0.example.com/page/{u}" for u in range(g["hot_urls"])]
        rng = random.Random(self.seed)
        cold = [
            f"https://d{u % 199 + 1}.example.com/page/{u}"
            for u in (rng.randrange(g["hot_urls"], n_urls) for _ in range(256))
        ]
        return {"hot": hot, "cold": cold, "deleted": self.oracle.deleted_keys(hwm)}

    def setup_done(self) -> None:
        self.mark("setup_done")
        self.setup_s = time.perf_counter() - self.clock0
        if self.tracer_factory is not None:
            self.tracer = self.tracer_factory(self.pipe.target)
            self.tracer.install()

    # ---------------------------------------------------------------- reads
    def read_round_at(self, hwm: int, keys: dict, rng: random.Random,
                      phase: Phase | None) -> None:
        """One serial read round: seeded hot/cold/deleted lookups, then
        the full-state aggregate(s). ``phase=None`` is an untimed warm-up."""
        plan = [k for k in ("hot", "cold", "deleted") for _ in range(self.read_round[k])]
        rng.shuffle(plan)
        n_scans = self.read_round["scans"]
        for kind in plan:
            url = rng.choice(keys[kind])
            with self._traced_read("lookup", phase):
                t0 = time.perf_counter()
                rows = self.pipe.lookup(url).select("seq").collect()
                dt = time.perf_counter() - t0
            if phase is not None:
                phase.lookups.append(
                    (hwm, url, rows[0]["seq"] if rows else None, len(rows))
                )
                phase.lookup_s.append(dt)
        for _ in range(n_scans):
            with self._traced_read("scan", phase):
                t0 = time.perf_counter()
                row = self.pipe.current_state().agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.length("text")).alias("chars"),
                ).collect()[0]
                dt = time.perf_counter() - t0
            if phase is not None:
                phase.scans.append((hwm, int(row["n"])))
                phase.scan_s.append(dt)

    def _traced_read(self, kind: str, phase):
        if self.tracer is None or phase is None:
            return nullcontext()
        return self.tracer.read(kind)

    def compact(self, phase: Phase) -> float:
        t0 = time.perf_counter()
        self.pipe.target.compact()
        dt = time.perf_counter() - t0
        phase.compacts.append(dt)
        return dt

    def after_poll(self) -> None:
        if self.tracer is not None:
            self.tracer.after_poll(self.pipe.source)


def _new_files(before: dict, table_path: str) -> dict[str, int]:
    return {p: n for p, n in data_files(table_path).items() if p not in before}


def _warm_up(ctx: Ctx, pipe: IngestPipeline, batches: list[int]) -> int:
    """Untimed batches at the head of the log: a bootstrap batch into
    the empty table, then merges into the state. Returns the hwm."""
    hwm = -1
    for n in batches:
        pipe.run_to_end(span=n, end_seq=hwm + n)
        hwm += n
    ctx.mark("warmed")
    return hwm


def _tail(ctx: Ctx, phase: Phase, first: int, last: int) -> None:
    """Open-loop tail over seqs ``first..last``: event ``first + k``
    becomes due at ``t0 + k / rate`` whatever the pipeline does. The
    consumer polls on a processing-time trigger every ``trigger_s`` (a
    batch that overruns its slot makes the next poll start at once) and
    passes the last seq due by now as ``end_seq``."""
    wl, pipe = ctx.wl, ctx.pipe
    rate, trigger = wl["tail_rate_events_per_s"], wl["tail_trigger_s"]
    n_polls = round((last - first + 1) / (rate * trigger))
    hwm = first - 1
    t0 = time.perf_counter()
    for i in range(1, n_polls + 1):
        wait = i * trigger - (time.perf_counter() - t0)
        if wait > 0:
            time.sleep(wait)
        el = time.perf_counter() - t0
        due_end = min(first + math.floor(el * rate), last)
        if due_end <= hwm:
            continue
        due_t = np.arange(hwm + 1 - first, due_end - first + 1) / rate
        phase.lateness.append(el - due_t)
        reports = pipe.run_to_end(span=WHOLE_BACKLOG, end_seq=due_end)
        phase.freshness.append(time.perf_counter() - t0 - due_t)
        phase.batches += sum(1 for r in reports if not r.skipped)
        hwm = due_end
        ctx.after_poll()
    # backlog when the tail ends: a rate above capacity makes it grow
    el = time.perf_counter() - t0
    phase.lag_end_events = min(first + math.floor(el * rate), last) - hwm


def replay_tail_cow(ctx: Ctx) -> Phase:
    """CoW catch-up, then the steady tail, on one table. The replay
    applies a due backlog of KB pages with one ``run_to_end`` in a few
    large batches (events_per_s); the tail then feeds the caught-up
    table at a fixed rate in small batches (freshness, write_amp)."""
    wl = ctx.wl
    rate, trigger = wl["tail_rate_events_per_s"], wl["tail_trigger_s"]
    n_replay = int(ctx.seconds * wl["replay_events_per_run_second"])
    n_tail = int(rate * trigger * max(1, round(ctx.seconds / trigger)))
    n_warm = sum(wl["warmup_batches"])
    ctx.generate(n_warm + n_replay + n_tail)
    pipe = ctx.make_pipeline()
    hwm = _warm_up(ctx, pipe, wl["warmup_batches"])
    replay_end = hwm + n_replay
    keys = ctx.read_keys(replay_end)
    rng = random.Random(ctx.seed)
    ctx.read_round_at(hwm, keys, rng, None)
    ctx.setup_done()

    phase = Phase(slice_lo=hwm, amp_lo=replay_end)
    before = data_files(pipe.target.path)
    t0 = time.perf_counter()
    reports = pipe.run_to_end(span=wl["replay_span"], end_seq=replay_end)
    phase.rate_s = time.perf_counter() - t0
    phase.rate_events = n_replay
    phase.batches = sum(1 for r in reports if not r.skipped)
    ctx.after_poll()
    mid = data_files(pipe.target.path)
    _tail(ctx, phase, replay_end + 1, replay_end + n_tail)
    phase.wall_s = time.perf_counter() - t0
    phase.hwm = pipe.global_hwm()
    phase.amp_bytes = sum(_new_files(mid, pipe.target.path).values())
    new = _new_files(before, pipe.target.path)
    phase.files_written, phase.bytes_written = len(new), sum(new.values())
    ctx.compact(phase)
    for _ in range(wl["read_rounds_after"]):
        ctx.read_round_at(phase.hwm, keys, rng, phase)
    return phase


def serve_mor(ctx: Ctx) -> Phase:
    """Closed-loop serving: one merge-on-read batch per ``run_to_end``,
    ``compact()`` every few batches, and a read round after each
    commit. The whole timed slice is due when the phase starts, so an
    event's freshness is when the batch holding it committed. Ingest
    time covers run_to_end and compact, not the reads."""
    wl = ctx.wl
    span = wl["span"]
    n_batches = max(2, round(ctx.seconds * wl["batches_per_run_second"]))
    n_warm = sum(wl["warmup_batches"])
    ctx.generate(n_warm + n_batches * span)
    pipe = ctx.make_pipeline()
    hwm = _warm_up(ctx, pipe, wl["warmup_batches"])
    pipe.target.compact()  # serve from a plain base plus fresh deltas
    keys = ctx.read_keys(hwm)
    rng = random.Random(ctx.seed)
    ctx.read_round_at(hwm, keys, rng, None)
    ctx.setup_done()

    phase = Phase(slice_lo=hwm, amp_lo=hwm)
    before = data_files(pipe.target.path)
    t0 = time.perf_counter()
    for i in range(n_batches):
        start = time.perf_counter()
        phase.lateness.append(np.full(span, start - t0))
        reports = pipe.run_to_end(span=span, end_seq=hwm + span)
        ret = time.perf_counter()
        phase.rate_s += ret - start
        phase.freshness.append(np.full(span, ret - t0))
        phase.batches += sum(1 for r in reports if not r.skipped)
        hwm += span
        ctx.after_poll()
        if (i + 1) % wl["compact_every"] == 0:
            phase.rate_s += ctx.compact(phase)
        ctx.read_round_at(hwm, keys, rng, phase)
    phase.wall_s = time.perf_counter() - t0
    phase.hwm = pipe.global_hwm()
    phase.rate_events = n_batches * span
    new = _new_files(before, pipe.target.path)
    phase.files_written, phase.bytes_written = len(new), sum(new.values())
    phase.amp_bytes = phase.bytes_written
    return phase


WORKLOADS = {"replay_tail_cow": replay_tail_cow, "serve_mor": serve_mor}
