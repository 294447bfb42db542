"""Output checks. Each returns a list of error strings; empty means correct.

They run outside the timed regions and read the program's artifacts with
plain Python (csv, pyarrow), never through the Spark code under test.
"""

from __future__ import annotations

import csv
import glob
import hashlib
import json
import os
from collections import Counter

import pandas as pd
import pyarrow.parquet as pq

from etl_pipeline_for_elasticsearch_json_document_spark.local import json_to_tsv_in_memory

csv.field_size_limit(1 << 30)
ID_COLUMN = "ClaimRequestId"


# -- exports ---------------------------------------------------------------
def read_tsv_dir(path: str) -> tuple[list[str], list[list[str]]]:
    """Header and rows of one TSV batch directory (Spark part files)."""
    header: list[str] | None = None
    rows: list[list[str]] = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part, newline="") as f:
            reader = csv.reader(f, delimiter="\t", quotechar='"', escapechar="\\", doublequote=False)
            h = next(reader, None)
            if h is None:
                continue
            if header is not None and h != header:
                raise ValueError(f"{path}: part files disagree on the header")
            header = h
            rows.extend(reader)
    return header or [], rows


def _cell_equal(got: str, want: str) -> bool:
    if got == want:
        return True
    # serialized subtrees: compare as JSON (Spark's to_json omits the
    # spaces json.dumps puts after separators)
    if want.startswith(("[", "{")) and got.startswith(("[", "{")):
        try:
            return json.loads(got) == json.loads(want)
        except ValueError:
            return False
    return False


def check_export(docs: list[dict], batches: list[tuple[list[str], list[list[str]]]]) -> list[str]:
    """The union of ``batches`` (header, rows) must equal the in-memory
    flatten of ``docs``: same columns in each batch, one row per document,
    every cell equal."""
    want = json_to_tsv_in_memory(docs)
    want_cols = list(want.columns)
    want_rows = {r[ID_COLUMN]: r for r in want.to_dict("records")}
    errors: list[str] = []
    seen: Counter = Counter()
    for header, rows in batches:
        if sorted(header) != sorted(want_cols):
            missing = set(want_cols) - set(header)
            extra = set(header) - set(want_cols)
            errors.append(f"columns differ: {len(missing)} missing, {len(extra)} extra")
            continue
        idx = header.index(ID_COLUMN)
        for row in rows:
            key = row[idx]
            seen[key] += 1
            exp = want_rows.get(key)
            if exp is None:
                errors.append(f"row {key}: not among the input documents")
                continue
            if len(row) != len(header):
                errors.append(f"row {key}: {len(row)} cells for {len(header)} columns")
                continue
            bad = [c for c, v in zip(header, row) if not _cell_equal(v, exp[c])]
            if bad:
                errors.append(f"row {key}: {len(bad)} cells differ, first {bad[0]}")
    lost = set(want_rows) - set(seen)
    if lost:
        errors.append(f"{len(lost)} documents lost")
    dups = [k for k, n in seen.items() if n > 1]
    if dups:
        errors.append(f"{len(dups)} documents written more than once")
    return errors


def read_audit(path: str) -> list[dict]:
    if not os.path.isdir(path):
        return []
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return []
    return pd.concat([pq.read_table(f).to_pandas() for f in files]).to_dict("records")


def check_audit(rows: list[dict], expected: dict[str, int]) -> list[str]:
    """Exactly one SUCCESS row per expected batch id, with the expected
    ``record_count_loaded``; no FAILED rows."""
    errors = []
    ok = Counter(r["batch_id"] for r in rows if r["job_status"] == "SUCCESS")
    failed = [r["batch_id"] for r in rows if r["job_status"] != "SUCCESS"]
    if failed:
        errors.append(f"{len(failed)} FAILED audit rows")
    counts = {r["batch_id"]: r["record_count_loaded"] for r in rows if r["job_status"] == "SUCCESS"}
    for bid, n in expected.items():
        if ok[bid] != 1:
            errors.append(f"batch {bid}: {ok[bid]} SUCCESS audit rows")
        elif counts[bid] != n:
            errors.append(f"batch {bid}: audit says {counts[bid]} records, expected {n}")
    extra = set(ok) - set(expected)
    if extra:
        errors.append(f"{len(extra)} audit rows for unknown batches")
    return errors


# -- fingerprint store -----------------------------------------------------
def fingerprint(text: str) -> str:
    return hashlib.md5(text.encode()).hexdigest()


def expected_labels(batch: list[tuple[int, str]], corpus: set[str]) -> dict[int, str]:
    """q158's precedence: corpus match > within-batch repeat (the smallest
    doc id is the first occurrence) > ingested."""
    first: dict[str, int] = {}
    for doc_id, text in batch:
        fp = fingerprint(text)
        first[fp] = min(first.get(fp, doc_id), doc_id)
    out = {}
    for doc_id, text in batch:
        fp = fingerprint(text)
        if fp in corpus:
            out[doc_id] = "duplicate_corpus"
        elif first[fp] != doc_id:
            out[doc_id] = "duplicate_batch"
        else:
            out[doc_id] = "ingested"
    return out


def check_labels(got: dict[int, str], want: dict[int, str]) -> list[str]:
    if set(got) != set(want):
        return [f"{len(set(want) ^ set(got))} documents missing or unexpected in the classification"]
    bad = [d for d in want if got[d] != want[d]]
    return [f"{len(bad)} documents mislabelled, first {bad[0]}"] if bad else []


def read_labels(batch_dir: str) -> dict[int, str]:
    t = pq.read_table(batch_dir, columns=["doc_id", "status"]).to_pydict()
    return dict(zip(t["doc_id"], t["status"]))


def read_index_fingerprints(index_dir: str) -> set[str]:
    """The fingerprints of the store as of its latest committed version:
    the newest snapshot (a ``v=N`` with ``_SNAPSHOT``) plus every delta
    committed after it. Versions older than that snapshot are not read,
    so a snapshot that lost a fingerprint shows."""
    committed = sorted(
        int(os.path.basename(v)[2:])
        for v in glob.glob(os.path.join(index_dir, "v=*"))
        if os.path.exists(os.path.join(v, "_COMMITTED"))
    )
    snaps = [v for v in committed if os.path.exists(os.path.join(index_dir, f"v={v}", "_SNAPSHOT"))]
    live = [v for v in committed if not snaps or v >= snaps[-1]]
    fps: set[str] = set()
    for v in live:
        for f in glob.glob(os.path.join(index_dir, f"v={v}", "p=*", "*.parquet")):
            fps.update(pq.read_table(f, columns=["fp"]).column("fp").to_pylist())
    return fps
