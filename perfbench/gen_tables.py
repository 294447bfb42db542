"""Seeded ``documents`` batches for the fingerprint store.

The batches have the schema of the repository's ``documents`` test table
(FIXTURES.md part B) and a similar text domain. Values are drawn from one
``numpy`` generator, so the same seed gives the same rows.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch spark line "
    "sort window order join dup stream group query data filter customer column "
    "vector big small max"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
DOCUMENTS_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64()),
])


def random_texts(rng, n: int) -> list[str]:
    lengths = rng.integers(8, 90, n)
    return [" ".join(rng.choice(VOCAB, k)) for k in lengths]


def documents_table(ids: np.ndarray, texts: list[str], rng) -> pa.Table:
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": list(rng.choice(LANGS, n, p=LANG_P)),
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }, schema=DOCUMENTS_SCHEMA)


def upsert_batches(seed: int, n_batches: int, batch_size: int, dup_share: float):
    """Document batches for the fingerprint store: each batch holds
    ``dup_share`` exact copies of texts seen earlier in the run (earlier
    batches or this one) and salted new text for the rest."""
    rng = np.random.default_rng(seed + 7919)
    seen: list[str] = []
    next_id = 0
    for b in range(n_batches):
        texts = []
        for _ in range(batch_size):
            pool = seen + texts
            if pool and rng.random() < dup_share:
                texts.append(pool[int(rng.integers(0, len(pool)))])
            else:
                texts.append(f"{random_texts(rng, 1)[0]} salt{seed}x{b}x{next_id + len(texts)}")
        ids = np.arange(next_id, next_id + batch_size)
        next_id += batch_size
        seen.extend(texts)
        yield documents_table(ids, texts, rng)

