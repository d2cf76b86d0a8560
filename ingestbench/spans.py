"""Tracing for the benchmark's traced run (``--trace 1``).

The wrappers live here, not in the program: :meth:`Tracer.install`
patches the public methods of the change-log source, the pipeline and
the table for the timed phase only, and :meth:`Tracer.uninstall` puts
the originals back. Each wrapped call records a span (name, layer,
start, end, parent, trace id = the batch id of the enclosing
``run_batch``). Around every ``run_batch`` the tracer also takes exact
counts from outside the program: the stage clock of
``clinvar_ingest_spark.metrics`` (reset before the batch), a walk of the
table's data directory, the manifest bucket diff, the ``seq`` and
``_deleted`` columns of the files the batch wrote, and the Spark jobs and
tasks the batch ran (``SparkContext.statusTracker()``, which works with
the UI disabled). Time spent on that bookkeeping is the tracing overhead.

``metrics.snapshot()`` rounds stage seconds to milliseconds, which
flattens sub-millisecond stages such as ``merge.footer_stats`` to 0, so
the tracer also wraps the stage context manager itself (delegating to
the original, so the program's clock keeps counting) and reads the
stage seconds at full precision; ``metrics.counts()`` gives the calls.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

import pyarrow.compute as pc
import pyarrow.parquet as pq

import clinvar_ingest_spark.tables as tables_module
from clinvar_ingest_spark import metrics
from clinvar_ingest_spark.sources.change_log import ChangeLogSource
from clinvar_ingest_spark.streaming.pipeline import IngestPipeline
from clinvar_ingest_spark.tables import SnapshotTable

WRAPPED = (
    (ChangeLogSource, "change_log", ("max_seq", "batch")),
    (IngestPipeline, "pipeline", ("run_batch", "run_to_end", "lookup", "current_state")),
    (SnapshotTable, "tables", ("merge_upsert", "read", "compact")),
)


def data_files(table_path: str) -> dict[str, int]:
    """Every data file under the table's ``data`` directory → its size."""
    out = {}
    for root, _dirs, files in os.walk(os.path.join(table_path, "data")):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


class Tracer:
    def __init__(self, spark, table: SnapshotTable):
        self.sc = spark.sparkContext
        self.table = table
        self.spans: list[dict] = []
        self.batches: list[dict] = []
        self.reads: list[dict] = []
        self.max_seq_s: list[float] = []
        self.overhead_s = 0.0
        self._stage_s: dict[str, float] = {}  # current batch's stage seconds
        self._tls = threading.local()
        self._saved: list[tuple] = []

    # -------------------------------------------------------------- spans
    def _stack(self) -> list:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    @contextmanager
    def span(self, name: str, layer: str):
        stack = self._stack()
        rec = {
            "id": len(self.spans), "name": name, "layer": layer,
            "parent": stack[-1]["id"] if stack else None, "trace": None,
            "thread": threading.get_ident(), "start": time.perf_counter(),
        }
        self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def _wrap(self, cls, layer: str, name: str):
        orig = getattr(cls, name)
        tracer = self

        def wrapper(obj, *args, **kwargs):
            if name == "run_batch":
                return tracer._traced_batch(orig, obj, *args, **kwargs)
            with tracer.span(f"{cls.__name__}.{name}", layer):
                return orig(obj, *args, **kwargs)

        wrapper.__wrapped__ = orig
        self._patch(cls, name, wrapper)

    def _patch(self, owner, name: str, value) -> None:
        self._saved.append((owner, name, getattr(owner, name)))
        setattr(owner, name, value)

    def install(self) -> None:
        for cls, layer, names in WRAPPED:
            for name in names:
                self._wrap(cls, layer, name)
        orig_stage, acc = metrics.stage, self._stage_s

        @contextmanager
        def stage(name: str):
            t0 = time.perf_counter()
            try:
                with orig_stage(name):
                    yield
            finally:
                acc[name] = acc.get(name, 0.0) + time.perf_counter() - t0

        # the pipeline imports metrics.stage per call; tables binds it once
        self._patch(metrics, "stage", stage)
        self._patch(tables_module, "_stage", stage)

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._saved):
            setattr(owner, name, orig)
        self._saved.clear()

    # -------------------------------------------------------- spark jobs
    def _max_job_id(self) -> int:
        ids = self.sc.statusTracker().getJobIdsForGroup(None)
        return max(ids) if ids else -1

    def _jobs_after(self, job0: int, job1: int) -> dict:
        st = self.sc.statusTracker()
        tasks = failed = 0
        for jid in range(job0 + 1, job1 + 1):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is not None:
                    tasks += si.numCompletedTasks + si.numFailedTasks
                    failed += si.numFailedTasks
        return {"jobs": job1 - job0, "tasks": tasks, "failed_tasks": failed}

    # ------------------------------------------------------------ batches
    def _traced_batch(self, orig, pipe, rng, *args, **kwargs):
        p0 = time.perf_counter()
        files0 = data_files(self.table.path)
        m0 = self.table.current_manifest() or {"buckets": {}}
        job0 = self._max_job_id()
        metrics.reset()
        self._stage_s.clear()
        self.overhead_s += time.perf_counter() - p0
        with self.span("IngestPipeline.run_batch", "pipeline") as sp:
            report = orig(pipe, rng, *args, **kwargs)
        p1 = time.perf_counter()
        sp["trace"] = report.batch_id
        stages = dict(self._stage_s)
        job1 = self._max_job_id()
        rec = {
            "batch_id": report.batch_id, "lo": rng.lo, "hi": rng.hi,
            "skipped": report.skipped, "events": rng.hi - rng.lo,
            "span_s": sp["end"] - sp["start"], "stages": stages,
            "stage_calls": metrics.counts(), "job0": job0, "job1": job1,
        }
        if not report.skipped:
            new = {p: s for p, s in data_files(self.table.path).items() if p not in files0}
            m1 = self.table.current_manifest() or {"buckets": {}}
            b0, b1 = m0["buckets"], m1["buckets"]
            rec["touched"] = sum(
                1 for b in set(b0) | set(b1) if b0.get(b) != b1.get(b)
            )
            rec["files"] = len(new)
            rec["bytes"] = sum(new.values())
            rewritten = winners = extracted = 0
            for path in new:
                t = pq.read_table(path, columns=["seq", "_deleted"])
                seq = t.column("seq")
                in_batch = pc.and_(pc.greater(seq, rng.lo), pc.less_equal(seq, rng.hi))
                live = pc.invert(pc.fill_null(t.column("_deleted"), False))
                rewritten += pc.sum(pc.less_equal(seq, rng.lo)).as_py() or 0
                winners += pc.sum(in_batch).as_py() or 0
                extracted += pc.sum(pc.and_(in_batch, live)).as_py() or 0
            rec.update(rewritten=rewritten, winners=winners, extracted=extracted)
        self.batches.append(rec)
        self.overhead_s += time.perf_counter() - p1
        return report

    def after_poll(self, source: ChangeLogSource) -> None:
        """Time one log-end discovery, as a tailing consumer pays per poll."""
        p0 = time.perf_counter()
        source.max_seq()
        dt = time.perf_counter() - p0
        self.max_seq_s.append(dt)
        self.overhead_s += dt

    @contextmanager
    def read(self, kind: str):
        """Bracket one benchmark read (lookup + collect, or a scan)."""
        p0 = time.perf_counter()
        m = self.table.current_manifest()
        n_files = sum(len(fs) for fs in m["buckets"].values())
        n_buckets = max(len(m["buckets"]), 1)
        job0 = self._max_job_id()
        self.overhead_s += time.perf_counter() - p0
        with self.span(f"bench.{kind}", "bench"):
            yield
        p1 = time.perf_counter()
        self.reads.append(
            {"kind": kind, "files_per_bucket": n_files / n_buckets,
             "jobs": self._max_job_id() - job0}
        )
        self.overhead_s += time.perf_counter() - p1

    # ------------------------------------------------------------ results
    def _self_times(self) -> dict[str, float]:
        by_id = {s["id"]: s for s in self.spans if "end" in s}
        child_s = {i: 0.0 for i in by_id}
        for s in by_id.values():
            if s["parent"] in child_s:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in by_id.items():
            own = s["end"] - s["start"] - child_s[i]
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def _propagate_trace_ids(self) -> None:
        by_id = {s["id"]: s for s in self.spans}
        for s in self.spans:
            p = s
            while p is not None and p["trace"] is None:
                p = by_id.get(p["parent"])
            s["trace"] = None if p is None else p["trace"]

    def per_layer(self, timed_wall_s: float) -> dict[str, float]:
        jobs = [self._jobs_after(b["job0"], b["job1"]) for b in self.batches]
        done = [b for b in self.batches if not b["skipped"]]
        events = sum(b["events"] for b in done) or 1

        def stage_sum(name):
            return sum(b["stages"].get(name, 0.0) for b in done)

        merge_spans = [
            s["end"] - s["start"] for s in self.spans
            if s["name"] == "SnapshotTable.merge_upsert" and "end" in s
        ]
        planned = sum(merge_spans) - stage_sum("merge.write") - stage_sum(
            "merge.footer_stats") - stage_sum("merge.commit")
        by_id = {s["id"]: s for s in self.spans}
        read_plan = [
            s["end"] - s["start"] for s in self.spans
            if s["name"] == "SnapshotTable.read" and "end" in s
            and by_id.get(s["parent"], {}).get("name")
            in ("IngestPipeline.lookup", "IngestPipeline.current_state")
        ]
        lookups = [r for r in self.reads if r["kind"] == "lookup"]
        selfs = self._self_times()

        def durations(name):
            return [s["end"] - s["start"] for s in self.spans
                    if s["name"] == name and "end" in s]

        return {
            "change_log.max_seq_s": _median(self.max_seq_s),
            "pipeline.batches": len(done),
            "pipeline.run_batch_p50_s": _median([b["span_s"] for b in done]),
            "pipeline.run_batch_busy_s": sum(b["span_s"] for b in done),
            "pipeline.profile_wait_s": stage_sum("batch.profile"),
            "pipeline.sidecars_s": stage_sum("batch.sidecars"),
            "pipeline.fenced_batches": sum(1 for b in self.batches if b["skipped"]),
            "pipeline.spark_jobs_per_batch": _mean([j["jobs"] for j in jobs]),
            "pipeline.spark_tasks_per_batch": _mean([j["tasks"] for j in jobs]),
            "pipeline.failed_tasks": sum(j["failed_tasks"] for j in jobs),
            "pipeline.lookup_plan_s": _median(durations("IngestPipeline.lookup")),
            "pipeline.spark_jobs_per_lookup": _mean([r["jobs"] for r in lookups]),
            "tables.merge_write_s": stage_sum("merge.write"),
            "tables.merge_plan_s": planned,
            "tables.footer_stats_s": stage_sum("merge.footer_stats"),
            "tables.commit_s": stage_sum("merge.commit"),
            "tables.touched_buckets_per_batch": _mean([b["touched"] for b in done]),
            "tables.rows_rewritten_per_event": sum(b["rewritten"] for b in done) / events,
            "tables.read_plan_s": _median(read_plan),
            "tables.delta_files_per_bucket": _mean([r["files_per_bucket"] for r in self.reads]),
            "tables.compact_s": _median(durations("SnapshotTable.compact")),
            "dedup.winners_per_event": sum(b["winners"] for b in done) / events,
            "extract.rows": sum(b["extracted"] for b in done),
            "self.change_log_s": selfs.get("change_log", 0.0),
            "self.pipeline_s": selfs.get("pipeline", 0.0),
            "self.tables_s": selfs.get("tables", 0.0),
            "trace.overhead_s": self.overhead_s,
            "trace.overhead_share": self.overhead_s / timed_wall_s if timed_wall_s else 0.0,
        }

    def write(self, path: str) -> None:
        """Write every span and per-batch probe record as one JSON file."""
        self._propagate_trace_ids()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "batches": self.batches,
                       "reads": self.reads}, f)
