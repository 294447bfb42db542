"""Self-tests of the benchmark: input generators, output checks, tracer
arithmetic and the runner. No Spark session; run with

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

import checks
import gen_docs
import gen_tables
from tracer import Span, Tracer, self_times

from etl_pipeline_for_elasticsearch_json_document_spark.local import json_to_tsv_in_memory


def _depth(x) -> int:
    """JSON nesting depth, counting objects and arrays as levels."""
    if isinstance(x, dict):
        return 1 + max((_depth(v) for v in x.values()), default=0)
    if isinstance(x, list):
        return 1 + max((_depth(v) for v in x), default=0)
    return 0


# -- generators ------------------------------------------------------------
def test_documents_same_seed_same_bytes():
    a = gen_docs.dumps_lines(gen_docs.make_documents(5, 8))
    assert a == gen_docs.dumps_lines(gen_docs.make_documents(5, 8))
    assert a != gen_docs.dumps_lines(gen_docs.make_documents(6, 8))


def test_documents_golden_shape_and_width():
    docs = gen_docs.make_documents(1, 6)
    assert all(len(d) == 63 for d in docs)
    assert max(_depth(d) for d in docs) == 10
    assert max(d["claimLinesCount"] for d in docs) == gen_docs.MAX_LINES
    edit_data = docs[0]["userConfiguration1"]["rawClaimOutput"]["priceOutput"]["lines"][0]["messages"][0]["editData"]
    assert len(edit_data) == 34
    width = len(json_to_tsv_in_memory(docs).columns)
    assert 4000 <= width <= 6000, width


def test_documents_avoid_default_mode_deviations():
    docs = gen_docs.make_documents(2, 12)

    def walk(x):
        if isinstance(x, dict):
            for k, v in x.items():
                assert not k.isdigit() and "_" not in k, k
                yield from walk(v)
        elif isinstance(x, list):
            if x and isinstance(x[0], dict):
                assert len({tuple(e) for e in x}) == 1  # one key set per array
            else:
                assert len({type(e) for e in x}) <= 1  # no mixed int/float
            for e in x:
                yield from walk(e)
        else:
            yield x

    for d in docs:
        for v in walk(d):
            if isinstance(v, float):
                assert abs(v) < 1e6 and round(v, 2) == v


def test_upsert_batches_dup_share():
    batches = list(gen_tables.upsert_batches(1, 4, 200, 0.3))
    texts = [t for b in batches for t in b.column("text").to_pylist()]
    dup = len(texts) - len(set(texts))
    assert 0.2 < dup / len(texts) < 0.4
    ids = [i for b in batches for i in b.column("doc_id").to_pylist()]
    assert len(ids) == len(set(ids))


# -- export checks ---------------------------------------------------------
def _spark_cell(v: str) -> str:
    """A cell as Spark's to_json/CSV path renders it (compact JSON)."""
    if v.startswith(("[", "{")):
        return json.dumps(json.loads(v), separators=(",", ":"))
    return v


def _export(docs):
    """A correct export of ``docs``: (header, rows) as read back from TSV."""
    want = json_to_tsv_in_memory(docs)
    rows = [[_spark_cell(v) for v in r] for r in want.itertuples(index=False)]
    return list(want.columns), rows


@pytest.fixture(scope="module")
def docs():
    return gen_docs.make_documents(9, 6, max_lines=2)


def test_export_check_accepts_correct_output(docs):
    assert checks.check_export(docs, [_export(docs)]) == []


def test_export_check_rejects_dropped_row(docs):
    header, rows = _export(docs)
    assert any("lost" in e for e in checks.check_export(docs, [(header, rows[1:])]))


def test_export_check_rejects_flipped_cell(docs):
    header, rows = _export(docs)
    j = header.index("TotalCharges")
    rows[2][j] = "0.01"
    errs = checks.check_export(docs, [(header, rows)])
    assert errs and "cells differ" in errs[0]


def test_export_check_rejects_duplicated_row(docs):
    header, rows = _export(docs)
    errs = checks.check_export(docs, [(header, rows), (header, rows[:1])])
    assert any("more than once" in e for e in errs)


def test_read_tsv_dir_parses_spark_quoting(tmp_path):
    d = tmp_path / "batch.tsv"
    d.mkdir()
    (d / "part-00000-x.csv").write_text('A\tB\n1\t"[\\"x\\",\\"y\\"]"\n2\t\n')
    header, rows = checks.read_tsv_dir(str(d))
    assert header == ["A", "B"]
    assert rows == [["1", '["x","y"]'], ["2", ""]]


def test_audit_check_rejects_missing_row():
    rows = [{"batch_id": "0@x", "job_status": "SUCCESS", "record_count_loaded": 5}]
    assert checks.check_audit(rows, {"0@x": 5}) == []
    assert checks.check_audit(rows, {"0@x": 5, "1@x": 3})
    assert checks.check_audit(rows, {"0@x": 4})
    assert checks.check_audit(rows + rows, {"0@x": 5})


# -- fingerprint checks ----------------------------------------------------
def test_fingerprint_labels_and_mislabel():
    corpus = {checks.fingerprint("old")}
    batch = [(1, "new"), (2, "old"), (3, "new"), (4, "other")]
    want = checks.expected_labels(batch, corpus)
    assert want == {1: "ingested", 2: "duplicate_corpus", 3: "duplicate_batch", 4: "ingested"}
    assert checks.check_labels(dict(want), want) == []
    bad = {**want, 3: "ingested"}
    assert checks.check_labels(bad, want) == ["1 documents mislabelled, first 3"]
    assert checks.check_labels({1: "ingested"}, want)


def _store_version(index, v: int, fps: list[str], snapshot: bool = False, committed: bool = True):
    import pyarrow as pa
    import pyarrow.parquet as pq

    part = index / f"v={v}" / "p=0"
    part.mkdir(parents=True)
    pq.write_table(pa.table({"fp": fps, "first_doc_id": list(range(len(fps)))}), part / "part-0.parquet")
    if snapshot:
        (index / f"v={v}" / "_SNAPSHOT").touch()
    if committed:
        (index / f"v={v}" / "_COMMITTED").touch()


def test_index_fingerprints_resolve_latest_snapshot_plus_deltas(tmp_path):
    index = tmp_path / "index"
    _store_version(index, 0, ["a", "b"])
    _store_version(index, 1, ["c"])
    assert checks.read_index_fingerprints(str(index)) == {"a", "b", "c"}
    # a compaction whose snapshot lost "b": older deltas still hold it,
    # but the live store does not
    _store_version(index, 2, ["a", "c"], snapshot=True)
    _store_version(index, 3, ["d"])
    _store_version(index, 4, ["e"], committed=False)
    assert checks.read_index_fingerprints(str(index)) == {"a", "c", "d"}


# -- tracer ----------------------------------------------------------------
def test_self_time_on_synthetic_tree():
    spans = [
        Span(1, "job", 0.0, 10.0, None, "op"),
        Span(2, "page", 1.0, 3.0, 1, "op"),
        Span(3, "write", 2.5, 6.0, 1, "op"),  # overlaps page: counted once
        Span(4, "inner", 3.0, 5.0, 3, "op"),
        Span(5, "late", 9.0, 12.0, 1, "op"),  # clipped at the parent's end
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - (6.0 - 1.0) - 1.0)
    assert st[3] == pytest.approx(3.5 - 2.0)
    assert st[2] == pytest.approx(2.0)


def test_tracer_wraps_and_restores():
    import types

    mod = types.SimpleNamespace()

    def work(x):
        return x + 1

    def pages(n):
        yield from range(n)

    mod.work, mod.pages = work, pages
    t = Tracer()
    t.wrap(mod, "work", "w")
    t.wrap(mod, "pages", "p")
    with t.operation("op-1", "outer"):
        assert mod.work(1) == 2
        assert list(mod.pages(3)) == [0, 1, 2]
    t.unwrap_all()
    assert mod.work is work and mod.pages is pages
    outer = t.named("outer")[0]
    assert len(t.named("w")) == 1
    # one span per yield, plus the call that found the generator exhausted
    assert [bool(t.notes.get(s.sid)) for s in t.named("p")] == [False, False, False, True]
    assert all(s.parent == outer.sid and s.op == "op-1" for s in t.named("w") + t.named("p"))


# -- runner ----------------------------------------------------------------
def test_runner_refuses_a_tree_without_the_package(tmp_path):
    import shutil
    import subprocess
    import sys

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    shutil.copytree(here, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "export_paged", "--seed", "1", "--seconds", "1"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0 and p.stdout == ""


def test_tree_cpu_counts_a_busy_child():
    import subprocess
    import sys
    import time

    import run

    before = run.tree_cpu_s(os.getpid())
    spin = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass\ninput()"
    child = subprocess.Popen([sys.executable, "-c", spin], stdin=subprocess.PIPE)
    try:
        for _ in range(200):  # the child stays alive (blocked on stdin) once it has spun
            if run.tree_cpu_s(os.getpid()) - before >= 0.4:
                break
            time.sleep(0.05)
        assert run.tree_cpu_s(os.getpid()) - before >= 0.4
    finally:
        child.communicate(b"\n", timeout=30)


def test_benchmark_json_names_what_the_runner_reports():
    import run
    from workloads import LAYER_METRICS, WORKLOADS

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == LAYER_METRICS
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
