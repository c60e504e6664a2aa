"""The rebatched text-row pass: one Python-boundary envelope for every
text operator whose input is one ``(_id, _t)`` row per document.

Spark hands a ``mapInPandas`` function the session's Arrow batches,
sized for KB-to-MB binary payloads (plans/session.py), and each numpy
kernel has fixed costs per call, so :func:`map_text_rows` gathers the
batches into chunks of up to :data:`CHUNK_ROWS` rows before calling
the kernel.  A chunk also closes at :data:`CHUNK_CHARS` characters of
text, so a worker never holds thousands of long documents (nor the
n-gram strings built from them) at once.  MinHash prep, the n-gram
hash passes of decontamination and the duplicated-span operators, and
quality scoring all run through it, so the boundary format is decided
in one place (the per-payload twin is functions/multimodal.map_payloads).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

if TYPE_CHECKING:
    import pandas as pd

#: rows handed to one kernel call at most (short texts)
CHUNK_ROWS = 8192
#: text characters after which a chunk closes early (long texts), so
#: one chunk, and the n-gram strings a kernel builds from it (about n
#: times its text), stay a few MB per worker
CHUNK_CHARS = 2 << 20


def text_chunks(batches: Iterator["pd.DataFrame"]) -> Iterator[tuple]:
    """``(ids, texts)`` lists gathered from ``(_id, _t)`` pandas
    batches; a chunk closes at the first batch that brings it to
    :data:`CHUNK_ROWS` rows or :data:`CHUNK_CHARS` characters, so it
    exceeds either bound by less than one batch, and the last chunk
    of a partition may be shorter.  NULL texts are ``None``."""
    ids: list = []
    texts: list = []
    chars = 0
    for batch in batches:
        new = batch["_t"].tolist()
        ids.extend(batch["_id"].tolist())
        texts.extend(new)
        chars += sum(map(len, filter(None, new)))
        if len(ids) >= CHUNK_ROWS or chars >= CHUNK_CHARS:
            yield ids, texts
            ids, texts, chars = [], [], 0
    if ids:
        yield ids, texts


def map_text_rows(df: DataFrame,
                  chunk_fn: Callable[[list, list], dict],
                  schema: StructType) -> DataFrame:
    """One ``mapInPandas`` hop over a ``(_id, _t)`` frame.

    ``chunk_fn(ids, texts)`` gets each :func:`text_chunks` chunk and
    returns a dict of columns; the pass yields the columns that
    ``schema`` names, in its order.  A kernel may emit any number of
    rows per document."""
    names = schema.names

    def _run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for ids, texts in text_chunks(batches):
            cols = chunk_fn(ids, texts)
            yield pd.DataFrame({f: cols[f] for f in names})

    return df.mapInPandas(_run, schema=schema)
