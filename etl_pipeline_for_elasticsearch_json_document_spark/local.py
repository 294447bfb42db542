"""Driver-local (in-memory) flatten — the reference's E2 library entry point.

``json_to_tsv_in_memory(data, max_depth)`` (reference ``ElasticSearch
ETL.py:154-195``) is an *in-process* API: it takes an already-in-memory JSON
document (or ES search envelope) and returns a pandas DataFrame of strings.
Re-expressing a one-document call as a Spark job pays ~2.5 s of fixed job
overhead (task-binary broadcast + 5k-expression plan deserialization), which
is the wrong tool for a single in-memory dict. This module provides the same
API driver-locally. ``tests/test_flatten_local_oracle.py`` checks
``plans.flatten`` (the distributed path, with ``bug_compat``) against this one
cell for cell; ``tests/test_local_flatten.py`` checks this one against the
reference itself when its checkout is present.

Use ``plans.flatten`` for DataFrames/datasets; use this for small in-memory
batches, exactly the regime the reference's users call E2 in.

Semantics reproduced (citations into the reference):

- ES envelope vs direct document detect (``ElasticSearch ETL.py:157-163``)
- column discovery: union of per-doc flattened paths, PascalCase segments
  joined by ``sep``, arrays of objects indexed per element, empty /
  primitive arrays as single JSON-cell columns, depth cap
  (``ElasticSearch ETL.py:37-76``), lexicographic order (``:180``)
- extraction by re-parsing the column name (digit → list index, name →
  camel/lower/as-is/capitalize variants, any miss → ``''``) — including
  quirks Q1 (digit map keys) and Q2 (underscore keys)
  (``ElasticSearch ETL.py:79-129``)
- stringify-normalize: ``None``→``''``, bools→``'True'/'False'``,
  dict/list→``json.dumps`` (``ElasticSearch ETL.py:131-151``)

Deliberate deviations: a *list* of documents is accepted directly (the
reference requires re-wrapping in a fake ES envelope), and per-column name
parsing is done once per batch instead of once per cell — a pure-speed
change with identical output.
"""

from __future__ import annotations

import json
from typing import Any, Iterable, Optional

import pandas as pd

from etl_pipeline_for_elasticsearch_json_document_spark.plans.naming import (
    key_variants,
    to_pascal_case,
)


def _doc_column_names(
    doc: dict, sep: str, max_depth: int, pcache: Optional[dict] = None
) -> set:
    """All flattened column names present in one document (pass 1).

    Iterative worklist over (mapping, name-prefix, depth); mirrors the
    reference's recursion (``ElasticSearch ETL.py:37-76``): a node deeper
    than ``max_depth`` contributes its whole subtree as one JSON-cell
    column, arrays of objects fan out one subtree per element index, and
    empty or primitive arrays are single columns.

    ``pcache`` memoizes ``to_pascal_case`` per key — shared across a
    batch's documents, whose key sets overlap almost entirely (a 100-doc
    batch otherwise pays ~5k redundant case conversions per document).
    """
    names: set = set()
    todo: list = [(doc, "", 0)]
    if pcache is None:
        pcache = {}
    while todo:
        node, prefix, depth = todo.pop()
        if depth > max_depth:
            names.add(prefix)
            continue
        for k, v in node.items():
            seg = pcache.get(k)
            if seg is None:
                seg = pcache[k] = to_pascal_case(k)
            name = f"{prefix}{sep}{seg}" if prefix else seg
            if isinstance(v, dict):
                todo.append((v, name, depth + 1))
            elif isinstance(v, list) and v and isinstance(v[0], dict):
                # a null element has no columns, as in the Spark flatten
                todo.extend(
                    (item, f"{name}{sep}{i}", depth + 1)
                    for i, item in enumerate(v)
                    if item is not None
                )
            else:
                # primitive, empty list, or list of primitives → one column
                names.add(name)
    return names


def _parse_column(column: str, sep: str, vcache: dict) -> list:
    """Split a column name into lookup parts — done once per column per
    batch: empty segments skipped, digit segments pre-converted to int,
    name segments pre-expanded to their (deduplicated) case-variant tuple.
    ``vcache`` memoizes variant tuples across columns, which share most
    segments."""
    parts: list = []
    for p in column.split(sep):
        if not p:
            continue
        if p.isdigit():
            parts.append(int(p))
        else:
            v = vcache.get(p)
            if v is None:
                v = vcache[p] = tuple(dict.fromkeys(key_variants(p)))
            parts.append(v)
    return parts


def _build_trie(parsed: list) -> tuple:
    """Shared-prefix extraction trie over the batch's parsed columns.

    Flattened columns overwhelmingly share path prefixes (every
    ``Lines_3_*`` column re-walks ``doc['lines'][3]``), so per-cell
    extraction (columns × depth dict probes per document) re-resolves the
    same step thousands of times. The trie resolves each distinct step
    ONCE per document node and fans out: node = (terminal column indices —
    columns whose path ends here — and child (part, subtrie) pairs). Parts
    are hashable (ints / case-variant tuples) so building it is one dict
    pass per column. Extraction semantics are IDENTICAL to the per-column
    walk (``_extract``): the resolution of one step depends only on the
    part and the current node, never on sibling columns — parity with the
    reference is pinned in tests/test_local_flatten.py."""
    root: dict = {}
    terminals: dict = {}
    for ci, (_, parts) in enumerate(parsed):
        node = root
        for part in parts:
            node = node.setdefault(part, {})
        terminals.setdefault(id(node), (node, []))[1].append(ci)

    def freeze(node: dict) -> tuple:
        term = terminals.get(id(node))
        return (
            tuple(term[1]) if term else (),
            tuple((part, freeze(child)) for part, child in node.items()),
        )

    return freeze(root)


def _extract_rows(sources: list, trie: tuple, n_cols: int) -> list:
    """Pass 2 over the whole batch: one trie walk per document. Misses are
    free — rows start as ``''`` (the miss/None default) and only hits are
    written, matching ``_stringify(_extract(...))`` cell for cell."""
    dumps = json.dumps
    rows: list = []
    for source in sources:
        row = [""] * n_cols
        stack = [(trie, source)]
        while stack:
            (term, children), cur = stack.pop()
            for ci in term:
                # _stringify inlined (the batch's hottest loop: one call
                # per non-miss cell), most-frequent type first
                if isinstance(cur, str):
                    row[ci] = cur
                elif isinstance(cur, bool):
                    row[ci] = "True" if cur else "False"
                elif isinstance(cur, (dict, list)):
                    row[ci] = dumps(cur)
                elif cur is not None:
                    row[ci] = str(cur)
            for part, child in children:
                if isinstance(part, int):
                    if isinstance(cur, list) and part < len(cur):
                        stack.append((child, cur[part]))
                elif isinstance(cur, dict):
                    for key in part:  # pre-expanded case-variant tuple
                        if key in cur:
                            stack.append((child, cur[key]))
                            break
        rows.append(row)
    return rows


def _extract(doc: dict, parts: list) -> Any:
    """Walk one document by parsed parts (pass 2). ``None`` = miss → ``''``.

    Reproduces the reference's path mini-language and its quirks
    (``ElasticSearch ETL.py:79-129``): an int part only indexes a *list*
    (a digit map key is unreachable — Q1); a name part resolves against a
    dict through the four case variants; anything else is a miss.
    """
    cur: Any = doc
    for part in parts:
        if isinstance(part, int):
            if not isinstance(cur, list) or part >= len(cur):
                return None
            cur = cur[part]
        elif isinstance(cur, dict):
            for key in part:  # pre-expanded case-variant tuple
                if key in cur:
                    cur = cur[key]
                    break
            else:
                return None
        else:
            return None
    return cur


def _stringify(value: Any) -> str:
    """Cell normalization (``ElasticSearch ETL.py:131-151``)."""
    if value is None:
        return ""
    if isinstance(value, bool):
        return str(value)  # Python capitalization: 'True' / 'False'
    if isinstance(value, (dict, list)):
        return json.dumps(value)
    return str(value)


def unwrap_envelope_local(data: Any) -> list:
    """Dual-mode source detect, in-memory flavor (``ElasticSearch
    ETL.py:157-163``): an ES search response yields one document per
    ``hits.hits[*]._source``; a plain dict is a single document; a list is
    taken as a batch of documents (extension — see module docstring)."""
    if isinstance(data, dict) and "hits" in data and "hits" in data.get("hits", {}):
        return [hit.get("_source", {}) for hit in data["hits"]["hits"]]
    if isinstance(data, list):
        return list(data)
    return [data]


def json_to_tsv_in_memory(
    data: Any,
    max_depth: int = 20,
    sep: str = "_",
    columns: Optional[Iterable[str]] = None,
) -> pd.DataFrame:
    """Flatten in-memory JSON document(s) to a pandas DataFrame of strings.

    Same signature and output as the reference's ``json_to_tsv_in_memory``
    (``ElasticSearch ETL.py:154-195``). ``columns`` pins the output column
    set (skips discovery) — useful for stable schemas across batches.
    """
    sources = unwrap_envelope_local(data)
    if not sources:
        return pd.DataFrame()

    if columns is None:
        discovered: set = set()
        pcache: dict = {}
        for source in sources:
            if source:
                discovered |= _doc_column_names(source, sep, max_depth, pcache)
        names = sorted(discovered)
    else:
        names = sorted(columns)

    vcache: dict = {}
    parsed = [(n, _parse_column(n, sep, vcache)) for n in names]
    # Extraction via the shared-prefix trie (see _build_trie) — same cells
    # as the per-column _extract walk, built column-list-wise (a list-of-
    # dicts DataFrame constructor re-hashes every column name per row).
    rows = _extract_rows(sources, _build_trie(parsed), len(parsed))
    return pd.DataFrame(rows, columns=names, dtype=object)
