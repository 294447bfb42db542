"""The two workloads. Each one drives the package through its public
entry points, times its operations, and checks every output afterwards.

A workload is a class with ``prepare`` (make inputs; not timed),
``warmup`` (counted in set-up time), ``run`` (the timed loop) and
``check`` (outside the timed region). ``run`` fills ``self.latencies``
with one value per operation and ``self.work`` with the items each
operation completed. With a tracer, ``trace_hooks`` installs the
wrappers and ``layer_metrics`` reads the spans back.
"""

from __future__ import annotations

import glob
import os
import statistics
import time
from contextlib import contextmanager

import pyarrow.parquet as pq

import checks
import gen_docs
import gen_tables
from tracer import CountingOs, self_times

from etl_pipeline_for_elasticsearch_json_document_spark import jobs
from etl_pipeline_for_elasticsearch_json_document_spark.operators import delta_store, index_maintenance
from etl_pipeline_for_elasticsearch_json_document_spark.sinks.audit import AuditLog
from etl_pipeline_for_elasticsearch_json_document_spark.streaming import index_ingest

# The timed loops run until ``--seconds`` have passed AND a minimum count
# of operations is done; the minimums only matter when the machine is
# slow. Every metric is a median over a run's operations.
#
# Export documents: the golden shape with one claim line (~600 flattened
# columns; the full 12-line width is ~4.4k columns, see gen_docs), so a
# warm job takes 2.5-5 s on a 4-core VM. The first job after the cold
# one is still ~20% slow, so the warm-up is two jobs.
EXPORT_MAX_LINES = 1
EXPORT_DOCS_PER_JOB = 10
EXPORT_PAGE_SIZE = 5
EXPORT_WARMUP_JOBS = 2
EXPORT_MIN_JOBS = 3
UPSERT_BATCH = 100
UPSERT_DUP_SHARE = 0.3
UPSERT_COMPACT_EVERY = 3
UPSERT_MIN_TICKS = 6  # two compaction cycles
UPSERT_WARMUP_TICKS = 3  # with fewer, the first timed ticks run 20-40% slow
UPSERT_PARTITIONS = 8

# Per-layer metric names (every traced run reports all of them; a layer
# the workload never calls reads 0).
LAYER_METRICS = {
    "session.start_s": ("s", "lower"),
    "sources.keyset.page_s": ("s", "lower"),
    "sources.keyset.pages": ("count", "lower"),
    "sources.keyset.rows_collected": ("count", "lower"),
    "plans.flatten.plan_gen_s": ("s", "lower"),
    "plans.flatten.plan_gen_calls": ("count", "lower"),
    "plans.flatten.columns": ("count", "lower"),
    "plans.flatten.apply_s": ("s", "lower"),
    "sinks.tsv.write_s": ("s", "lower"),
    "sinks.tsv.writes": ("count", "lower"),
    "sinks.tsv.bytes": ("bytes", "lower"),
    "sinks.tsv.files": ("count", "lower"),
    "sinks.audit.log_s": ("s", "lower"),
    "sinks.audit.rows": ("count", "lower"),
    "jobs.export_self_s": ("s", "lower"),
    "jobs.residual_s": ("s", "lower"),
    "streaming.batches": ("count", "higher"),
    "streaming.rows_per_batch": ("count", "higher"),
    "streaming.add_batch_s": ("s", "lower"),
    "streaming.latest_offset_s": ("s", "lower"),
    "streaming.wal_commit_s": ("s", "lower"),
    "streaming.queue_wait_s": ("s", "lower"),
    "operators.index_maintenance.ingest_s": ("s", "lower"),
    "operators.index_maintenance.compact_s": ("s", "lower"),
    "operators.delta_store.commit_s": ("s", "lower"),
    "operators.delta_store.read_union_s": ("s", "lower"),
    "operators.delta_store.tail_len": ("count", "lower"),
    "operators.delta_store.files": ("count", "lower"),
    "operators.delta_store.listings": ("count", "lower"),
    "operators.delta_store.bytes_per_fp": ("bytes", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "trace.latency_p50_s": ("s", "lower"),
    "trace.throughput_per_s": ("1/s", "higher"),
}


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, hidden/marker files excluded."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def delta_tail(index: str) -> int:
    """Committed deltas after the store's newest snapshot: the versions a
    read unions besides it. Plain ``os``, so traced listing counts of
    ``delta_store`` are not touched."""
    if not os.path.isdir(index):
        return 0
    versions = sorted(
        int(n[2:]) for n in os.listdir(index)
        if n.startswith("v=") and os.path.exists(os.path.join(index, n, "_COMMITTED"))
    )
    tail = 0
    for v in reversed(versions):
        if os.path.exists(os.path.join(index, f"v={v}", "_SNAPSHOT")):
            break
        tail += 1
    return tail


def group_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages run, tasks run) of one Spark job group."""
    st = sc.statusTracker()
    stages: set = set()
    job_ids = st.getJobIdsForGroup(group)
    for j in job_ids:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = ran = 0
    for s in stages:
        si = st.getStageInfo(s)
        if si is not None and si.numCompletedTasks > 0:
            ran += 1
            tasks += si.numCompletedTasks
    return len(job_ids), ran, tasks


class Workload:
    name = ""

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.work_dir = ctx.work_dir
        self.tracer = ctx.tracer
        self.latencies: list[float] = []  # one per operation
        self.work: list[tuple[float, float]] = []  # (items, seconds) per operation
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.groups: list[str] = []  # Spark job group per traced operation

    @contextmanager
    def operation(self, op: str, span: str, group: bool = True):
        """One timed operation: a tracer span and, when traced, its own
        Spark job group (reset afterwards, so untimed work between
        operations is never counted)."""
        if self.tracer is None:
            yield
            return
        sc = self.spark.sparkContext
        if group:
            sc.setJobGroup(op, op)
            self.groups.append(op)
        try:
            with self.tracer.operation(op, span):
                yield
        finally:
            if group:
                sc.setJobGroup("untimed", "untimed")

    def throughput(self) -> float:
        """Items per second of operation wall time, median over operations."""
        return statistics.median(n / s for n, s in self.work)

    def spark_counts(self) -> dict:
        sc = self.spark.sparkContext
        per = [group_counts(sc, g) for g in self.groups]
        n = max(1, self.ops())
        return {
            "spark.jobs": sum(p[0] for p in per) / n,
            "spark.stages": sum(p[1] for p in per) / n,
            "spark.tasks": sum(p[2] for p in per) / n,
        }

    def ops(self) -> int:
        return len(self.latencies)

    def per_op(self, name: str) -> float:
        return self.tracer.total(name) / max(1, self.ops())

    def count_op(self, name: str) -> float:
        return len(self.tracer.named(name)) / max(1, self.ops())


def _noted(t, name: str, key: str) -> list:
    return [t.notes.get(s.sid, {}).get(key, 0) for s in t.named(name)]


# ---------------------------------------------------------------------------
class ExportPaged(Workload):
    """Closed loop, one client: ``jobs.fetch_and_export_documents`` over
    a fresh document set per job, paged by the keyset source."""

    name = "export_paged"

    def prepare(self) -> None:
        pass  # each job makes its documents just before its timed call

    def _docs(self, k: int) -> tuple[list[dict], str]:
        n = EXPORT_DOCS_PER_JOB
        docs = gen_docs.make_documents(
            self.ctx.seed * 1000 + k, n, first_id=1 + k * n, max_lines=EXPORT_MAX_LINES,
        )
        path = os.path.join(self.work_dir, f"in{k}.json")
        with open(path, "wb") as f:
            f.write(gen_docs.dumps_lines(docs))
        return docs, path

    def _job(self, k: int) -> tuple[list[dict], str, str, float]:
        docs, path = self._docs(k)  # input generation: not timed
        src = self.spark.read.json(path)
        out = os.path.join(self.work_dir, f"out{k}")
        audit = os.path.join(self.work_dir, f"audit{k}")
        with self.operation(f"job-{k}", "jobs.export"):
            t0 = time.perf_counter()
            exported = jobs.fetch_and_export_documents(self.spark, src, out, audit, batch_size=EXPORT_PAGE_SIZE)
            dt = time.perf_counter() - t0
        if exported != len(docs):
            self.errors.append(f"job {k}: exported {exported} of {len(docs)}")
        return docs, out, audit, dt

    def warmup(self) -> None:
        for k in range(EXPORT_WARMUP_JOBS):
            self._job(k)
        self.groups.clear()

    def run(self, deadline: float) -> None:
        self.done = []
        k = EXPORT_WARMUP_JOBS
        while time.perf_counter() < deadline or len(self.done) < EXPORT_MIN_JOBS:
            docs, out, audit, dt = self._job(k)
            self.done.append((docs, out, audit))
            self.latencies.append(dt)
            self.work.append((len(docs), dt))
            k += 1

    def check(self) -> None:
        for docs, out, audit in self.done:
            self.attempted += 1
            batches = [checks.read_tsv_dir(d) for d in sorted(glob.glob(os.path.join(out, "*.tsv")))]
            errs = checks.check_export(docs, batches)
            rows = checks.read_audit(audit)
            if len(rows) != 1:
                errs.append(f"{len(rows)} audit rows for one job")
            else:
                errs += checks.check_audit(rows, {rows[0]["batch_id"]: len(docs)})
            if errs:
                self.failed += 1
                self.errors += errs

    def trace_hooks(self) -> None:
        t = self.tracer

        def tsv_after(span, args, kwargs, result):
            b, f = dir_size(args[1] if len(args) > 1 else kwargs["path"])
            t.note(span, bytes=b, files=f)

        def stages_after(span, args, kwargs, result):
            t.note(span, columns=len(result[-1]))

        t.wrap(jobs, "flatten_stages", "plans.flatten.plan_gen", stages_after)
        t.wrap(jobs, "apply_flatten_stages", "plans.flatten.apply")
        t.wrap(jobs, "write_tsv", "sinks.tsv.write", tsv_after)
        t.wrap(AuditLog, "log", "sinks.audit.log")
        t.wrap(jobs, "paginate", "sources.keyset.page")
        frame = type(self.spark.range(0))  # the concrete (classic) DataFrame
        t.wrap(frame, "collect", "pyspark.collect", lambda s, a, k, rows: t.note(s, rows=len(rows)))
        t.wrap(frame, "count", "pyspark.count")
        t.wrap(frame, "first", "pyspark.first")

    def layer_metrics(self) -> dict:
        t = self.tracer
        n = max(1, self.ops())
        cols = _noted(t, "plans.flatten.plan_gen", "columns")
        m = {
            "plans.flatten.plan_gen_s": self.per_op("plans.flatten.plan_gen"),
            "plans.flatten.plan_gen_calls": self.count_op("plans.flatten.plan_gen"),
            "plans.flatten.columns": statistics.mean(cols) if cols else 0,
            "plans.flatten.apply_s": self.per_op("plans.flatten.apply"),
            "sinks.tsv.write_s": self.per_op("sinks.tsv.write"),
            "sinks.tsv.writes": self.count_op("sinks.tsv.write"),
            "sinks.tsv.bytes": sum(_noted(t, "sinks.tsv.write", "bytes")) / n,
            "sinks.tsv.files": sum(_noted(t, "sinks.tsv.write", "files")) / n,
            "sinks.audit.log_s": self.per_op("sinks.audit.log"),
            "sinks.audit.rows": self.count_op("sinks.audit.log"),
        }
        selfs = self_times(t.spans)
        job_ids = {s.sid for s in t.named("jobs.export")}
        page_ids = {s.sid for s in t.named("sources.keyset.page")}
        collected = sum(
            t.notes.get(s.sid, {}).get("rows", 0) for s in t.named("pyspark.collect") if s.parent in page_ids
        )
        job_self = sum(selfs[i] for i in job_ids)
        own_actions = sum(
            s.dur for s in t.spans
            if s.name in ("pyspark.count", "pyspark.first") and s.parent in job_ids
        )
        m.update({
            "sources.keyset.page_s": self.per_op("sources.keyset.page"),
            "sources.keyset.pages": sum(1 for s in t.named("sources.keyset.page") if not t.notes.get(s.sid)) / n,
            "sources.keyset.rows_collected": collected / n,
            "jobs.export_self_s": own_actions / n,
            "jobs.residual_s": job_self / n,
        })
        m.update(self.spark_counts())
        return m


# ---------------------------------------------------------------------------
class StoreUpsert(Workload):
    """Closed loop of ticks: drop a parquet batch of documents, run the
    fingerprint-index ingest stream with ``availableNow`` to termination;
    compact the store every few ticks."""

    name = "store_upsert"

    def prepare(self) -> None:
        self.batches = gen_tables.upsert_batches(self.ctx.seed, 10_000, UPSERT_BATCH, UPSERT_DUP_SHARE)
        self.in_dir = os.path.join(self.work_dir, "in")
        self.index = os.path.join(self.work_dir, "index")
        self.out = os.path.join(self.work_dir, "out")
        self.ckpt = os.path.join(self.work_dir, "ckpt")
        os.makedirs(self.in_dir)
        self.ticks: list[tuple[list[tuple[int, str]], list[str]]] = []  # (docs, new out dirs)
        self.k = 0

    def _tick(self, timed: bool) -> None:
        table = next(self.batches)
        docs = list(zip(table.column("doc_id").to_pylist(), table.column("text").to_pylist()))
        before = set(os.listdir(self.out)) if os.path.isdir(self.out) else set()
        pq.write_table(table, os.path.join(self.in_dir, f"batch-{self.k:05d}.parquet"))
        self.op = f"tick-{self.k}"
        self.k += 1
        stream = self.spark.readStream.schema(_DOC_SCHEMA).parquet(self.in_dir)
        tail = delta_tail(self.index) if self.tracer is not None else 0
        # the stream's jobs run in the query's own job group (its run id)
        with self.operation(self.op, "streaming.tick", group=False):
            t0 = self.drop_t = time.perf_counter()
            q = index_ingest.run_index_ingest_stream(
                stream, self.index, self.out, self.ckpt, n_partitions=UPSERT_PARTITIONS
            )
            q.awaitTermination()
            dt = time.perf_counter() - t0
        if self.tracer is not None:
            self.tails.append(tail)
            self.groups.append(str(q.runId))
            self.progress.extend(p for p in q.recentProgress if p["numInputRows"] > 0)
        new = sorted(set(os.listdir(self.out)) - before)
        self.ticks.append((docs, new))
        if timed:
            self.latencies.append(dt)
            self.work.append((len(docs), dt))
        if self.k % UPSERT_COMPACT_EVERY == 0:
            index_maintenance.compact_fingerprint_index(self.spark, self.index)

    def warmup(self) -> None:
        self.progress: list = []
        self.tails: list[int] = []  # delta tail each traced tick read
        for _ in range(UPSERT_WARMUP_TICKS):
            self._tick(timed=False)
        self.groups.clear()
        self.progress.clear()
        self.tails.clear()
        if self.tracer is not None:
            self.counting_os.listings = 0

    def run(self, deadline: float) -> None:
        # whole compaction cycles, so every run sees the same delta-tail mix
        while (
            time.perf_counter() < deadline
            or len(self.latencies) < UPSERT_MIN_TICKS
            or len(self.latencies) % UPSERT_COMPACT_EVERY
        ):
            self._tick(timed=True)

    def check(self) -> None:
        corpus: set[str] = set()
        for docs, new_dirs in self.ticks:
            self.attempted += 1
            want = checks.expected_labels(docs, corpus)
            if len(new_dirs) != 1:
                errs = [f"{len(new_dirs)} output batches for one tick"]
            else:
                errs = checks.check_labels(checks.read_labels(os.path.join(self.out, new_dirs[0])), want)
            corpus |= {checks.fingerprint(t) for _, t in docs}
            if errs:
                self.failed += 1
                self.errors += errs
        self.attempted += 1
        got = checks.read_index_fingerprints(self.index)
        if got != corpus:
            self.failed += 1
            self.errors.append(f"index holds {len(got)} fingerprints, expected {len(corpus)}")
        self.n_fps = len(corpus)

    def trace_hooks(self) -> None:
        t = self.tracer
        self.counting_os = CountingOs(os)
        delta_store.os = self.counting_os
        t._patched.append((delta_store, "os", os))
        t.wrap(index_ingest, "_classify", "operators.index_maintenance.classify")
        t.wrap(index_ingest, "_commit_delta", "operators.index_maintenance.commit")
        t.wrap(index_maintenance, "compact_fingerprint_index", "operators.index_maintenance.compact")
        t.wrap(delta_store, "commit_pinned_delta", "operators.delta_store.commit")
        t.wrap(delta_store, "read_union", "operators.delta_store.read_union")
        orig = index_ingest._index_batch_processor
        wl = self
        self.batch_waits: list[float] = []

        def processor(*args, **kwargs):
            body = orig(*args, **kwargs)

            def traced(batch_df, batch_id):
                with t.operation(wl.op, "streaming.batch") as s:
                    wl.batch_waits.append(s.start - wl.drop_t)
                    return body(batch_df, batch_id)

            return traced

        index_ingest._index_batch_processor = processor
        t._patched.append((index_ingest, "_index_batch_processor", orig))

    def layer_metrics(self) -> dict:
        n = max(1, self.ops())
        size, files = dir_size(self.index)
        dur = lambda k: statistics.mean(p["durationMs"].get(k, 0) for p in self.progress) / 1000 if self.progress else 0.0
        m = {
            "operators.index_maintenance.ingest_s": (
                self.tracer.total("operators.index_maintenance.classify")
                + self.tracer.total("operators.index_maintenance.commit")
            ) / n,
            "operators.index_maintenance.compact_s": (
                statistics.mean(s.dur for s in self.tracer.named("operators.index_maintenance.compact"))
                if self.tracer.named("operators.index_maintenance.compact") else 0.0
            ),
            "operators.delta_store.commit_s": self.per_op("operators.delta_store.commit"),
            "operators.delta_store.read_union_s": self.per_op("operators.delta_store.read_union"),
            "operators.delta_store.tail_len": statistics.mean(self.tails) if self.tails else 0.0,
            "operators.delta_store.files": files,
            "operators.delta_store.listings": self.counting_os.listings / n,
            "operators.delta_store.bytes_per_fp": size / max(1, self.n_fps),
            "streaming.batches": len(self.progress),
            "streaming.rows_per_batch": sum(p["numInputRows"] for p in self.progress) / max(1, len(self.progress)),
            "streaming.add_batch_s": dur("addBatch"),
            "streaming.latest_offset_s": dur("latestOffset"),
            "streaming.wal_commit_s": dur("walCommit"),
            "streaming.queue_wait_s": statistics.median(self.batch_waits) if self.batch_waits else 0.0,
        }
        m.update(self.spark_counts())
        return m


_DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"

WORKLOADS = {w.name: w for w in (ExportPaged, StoreUpsert)}
