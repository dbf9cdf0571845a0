"""Seeded page generator: the only input any workload sees.

Pages mimic the engine's `documents` table (doc_id, text, lang, source,
n_chars): texts are 30-100 words drawn uniformly from a 30-word
vocabulary. A base set of `n_base` pages is drawn from the seed and
replicated `copies` times; every copy gets its own doc_id, offset by
the seed, so geocoding (which hashes doc_id) places each seed's points
differently. With `edit=True` each copy also replaces one word, which
turns every base page into a family of near-duplicates.

Written with pyarrow, outside Spark: the engine only ever reads the
resulting parquet files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
N_BASE = 5000


def id_offset(seed: int) -> int:
    """First doc_id of a seed's pages. Ids stay below 2^31 so the
    geocode hashes never overflow int64."""
    return (seed % 1000) * 2_000_000


def _base_texts(rng: np.random.RandomState, n: int) -> list[list[str]]:
    lengths = rng.randint(30, 101, size=n)
    words = rng.randint(0, len(VOCAB), size=int(lengths.sum()))
    ends = np.cumsum(lengths)
    return [[VOCAB[w] for w in words[e - ln : e]] for e, ln in zip(ends, lengths)]


def write_pages(
    path: str, seed: int, copies: int, n_base: int = N_BASE,
    edit: bool = False, files: int = 4,
) -> int:
    """Write n_base * copies pages as `files` parquet files under
    `path`. Returns the row count."""
    rng = np.random.RandomState(seed)
    texts = _base_texts(rng, n_base)
    langs = [LANGS[i] for i in rng.randint(0, len(LANGS), size=n_base)]
    sources = [f"src{i}" for i in rng.randint(0, 20, size=n_base)]
    joined = [" ".join(t) for t in texts]

    doc_id, text, lang, source = [], [], [], []
    for c in range(copies):
        base = id_offset(seed) + c * n_base
        for i in range(n_base):
            doc_id.append(base + i)
            if edit:
                w = list(texts[i])
                w[(c * 7 + i) % len(w)] = f"e{c}"
                text.append(" ".join(w))
            else:
                text.append(joined[i])
            lang.append(langs[i])
            source.append(sources[i])
    table = pa.table(
        {
            "doc_id": pa.array(doc_id, pa.int64()),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(lang, pa.string()),
            "source": pa.array(source, pa.string()),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = -(-n // files)
    for k in range(files):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k}.parquet"))
    return n


def family_of(doc_id: int, seed: int, n_base: int) -> int:
    """The base page a generated doc_id was copied from."""
    return (doc_id - id_offset(seed)) % n_base
