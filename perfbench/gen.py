"""Seeded input generator for the curation benchmark.

The text is real: ``data/sf01_documents.parquet`` holds the ``text``,
``lang`` and ``source`` columns of the repo's sf0.1 ``documents`` table
(5000 docs, the seed-42 test data the package is developed against),
copied unchanged in row order. Measured on that table: a 31-word
vocabulary, 10 to 100 words per doc, 8 exact duplicates, 256 pairs at
3-gram Jaccard >= 0.2 touching 477 docs, no doc over the repetition
filter's 0.9 thresholds, 27213 distinct 3-grams with at most 25 docs
each (1.27M candidate pairs in the shingle pair fan), 41% ``en``.

A corpus is the first ``docs`` source rows tiled ``copies`` times, and
writes ``documents(doc_id bigint, text string, lang string, source
string, n_chars bigint)``, the schema the package reads. Each copy gets
a seeded word-suffix bijection: every word of copy ``c`` gains the
suffix ``_<xy>`` (two seeded letters, distinct per copy; word
characters only, so text normalisation cannot strip them). N-gram
Jaccard inside a copy is unchanged and no shingle is shared across
copies, so the near-dup pairs and the pair fan grow linearly with
``copies``. Doc ids are a seeded permutation of ``0 .. docs*copies-1``,
which moves the decontamination slice (``doc_id < 20``), the hash split
and the near-dup tie-breaks from seed to seed.
"""

from __future__ import annotations

import os
import string
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf01_documents.parquet")
LETTERS = string.ascii_lowercase


@dataclass(frozen=True)
class Shape:
    docs: int  # source rows per copy
    copies: int = 1

    @property
    def total_docs(self) -> int:
        return self.docs * self.copies


def generate(seed: int, s: Shape) -> pa.Table:
    """The ``documents`` table for ``seed`` and shape ``s``."""
    src = pq.read_table(SOURCE)
    if s.docs > src.num_rows:
        raise ValueError(f"at most {src.num_rows} docs per copy")
    base = src.slice(0, s.docs).to_pydict()
    rng = np.random.default_rng(seed)
    pairs = rng.choice(len(LETTERS) ** 2, s.copies, replace=False)
    texts: list[str] = []
    for p in pairs:
        suf = "_" + LETTERS[p // len(LETTERS)] + LETTERS[p % len(LETTERS)]
        texts.extend(" ".join(w + suf for w in t.split()) for t in base["text"])
    return pa.table(
        {
            "doc_id": pa.array(rng.permutation(s.total_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(base["lang"] * s.copies, pa.string()),
            "source": pa.array(base["source"] * s.copies, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write(seed: int, s: Shape, out_dir: str) -> None:
    """Write ``documents.parquet`` to ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(generate(seed, s), os.path.join(out_dir, "documents.parquet"))
