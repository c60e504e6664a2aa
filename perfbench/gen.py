"""Seeded inputs for the workloads.

Rows are a pure function of ``(n, seed)``: the same seed gives identical
rows. They are staged to parquet, and the program under test only reads
them back.
"""

from __future__ import annotations

import random

# Shape (8-100 words, five languages, twenty sources) follows the
# generated ``documents`` table of the repo's query suite. Words are
# pairs from a 30-word list (900 words): wide enough that unrelated
# documents are never near-duplicates, so the pair graph, and with it
# the job's work, is set by the planted near-dups and not by the seed.
_BASE = (
    "a the data spark batch part line column order small sort fast value "
    "scan hash slow group agg filter query big key window row table "
    "stream merge vector join customer"
).split()
VOCAB = [a + b for a in _BASE for b in _BASE]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
DOCUMENTS_SCHEMA = ("doc_id long, text string, lang string, source string, "
                    "n_chars long")

# URL extension -> kernel class reported by the per-format kernel metrics
KERNEL_CLASS = {"html": "html", "pdf": "pdf", "docx": "docx",
                "xlsx": "xlsx", "pptx": "pptx", "odt": "opendocument",
                "epub": "epub"}
KERNEL_CLASSES = ["html", "pdf", "docx", "xlsx", "pptx", "opendocument",
                  "epub", "other"]


def documents(n: int, seed: int) -> list[tuple]:
    """``(doc_id, text, lang, source, n_chars)`` rows, ids 0..n-1."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(8, 100)))
        rows.append((i, text, rng.choice(LANGS), f"src{rng.randrange(20)}",
                     len(text)))
    return rows


def url_ext(url: str) -> str:
    return url.rsplit(".", 1)[-1]


def kernel_class(url: str) -> str:
    return KERNEL_CLASS.get(url_ext(url), "other")


def write_documents(spark, path: str, rows: list[tuple]) -> None:
    spark.createDataFrame(rows, DOCUMENTS_SCHEMA).write.parquet(path)
