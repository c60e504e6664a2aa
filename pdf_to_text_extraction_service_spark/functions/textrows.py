"""The Python row pass: one ``mapInArrow`` envelope behind every batch
boundary of the package, and its rebatched text-row form.

:func:`map_rows` owns the boundary format: each Arrow batch reaches a
pass body as Python lists, one per input column, and the body's
columns leave as one typed ``RecordBatch`` of the declared schema, so
NULL stays NULL and NaN stays NaN in both directions.  The extract
and preview envelope (functions/extract_udf), the per-payload and
frame-sampling passes (functions/multimodal), the OCR and transcript
passes (functions/ocr), the WARC record parser (sources/warc) and the
span rewrite (operators/dupspans) all run through it.

Spark sizes the Arrow batches for KB-to-MB binary payloads
(plans/session.py), and each numpy text kernel has fixed costs per
call, so :func:`map_text_rows` gathers the batches into chunks of up
to :data:`CHUNK_ROWS` rows before calling the kernel.  A chunk also
closes at :data:`CHUNK_CHARS` characters of text, so a worker never
holds thousands of long documents (nor the n-gram strings built from
them) at once.  MinHash prep, the n-gram hash passes of
decontamination and the duplicated-span operators, and quality
scoring all run through it.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

#: rows handed to one kernel call at most (short texts)
CHUNK_ROWS = 8192
#: text characters after which a chunk closes early (long texts), so
#: one chunk, and the n-gram strings a kernel builds from it (about n
#: times its text), stay a few MB per worker
CHUNK_CHARS = 2 << 20


def map_rows(df: DataFrame, schema: StructType,
             fn: Callable[[Iterator[dict]], Iterator[dict]]) -> DataFrame:
    """One ``mapInArrow`` hop over ``df``.

    ``fn`` gets the partition as an iterator of column dicts, one per
    Arrow batch, mapping each input column name to its values as a
    list (``RecordBatch.to_pydict``: NULL is ``None``, binary is
    ``bytes``, a struct is a dict).  It yields dicts of output columns
    keyed by ``schema``'s field names, each a list or a NumPy array;
    every yielded dict becomes one ``RecordBatch`` typed by
    ``schema``.  A one-row-per-row pass is ``lambda batches:
    map(body, batches)``.  The plan names the Python node after
    ``fn``."""
    arrow = to_arrow_schema(schema)

    def _run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for out in fn(b.to_pydict() for b in batches):
            yield pa.RecordBatch.from_arrays(
                [pa.array(out[f.name], type=f.type) for f in arrow],
                schema=arrow)

    _run.__name__ = fn.__name__
    return df.mapInArrow(_run, schema)


def text_chunks(batches: Iterator[dict]) -> Iterator[tuple]:
    """``(ids, texts)`` lists gathered from the :func:`map_rows`
    column dicts of ``(_id, _t)`` Arrow batches; a chunk closes at the
    first batch that brings it to :data:`CHUNK_ROWS` rows or
    :data:`CHUNK_CHARS` characters, so it exceeds either bound by less
    than one batch, and the last chunk of a partition may be shorter.
    NULL texts are ``None``."""
    ids: list = []
    texts: list = []
    chars = 0
    for batch in batches:
        new = batch["_t"]
        ids.extend(batch["_id"])
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
    """One :func:`map_rows` hop over a ``(_id, _t)`` frame.

    ``chunk_fn(ids, texts)`` gets each :func:`text_chunks` chunk and
    returns a dict of columns; the pass yields the columns that
    ``schema`` names, in its order.  A kernel may emit any number of
    rows per document."""
    def _text_rows(batches: Iterator[dict]) -> Iterator[dict]:
        for ids, texts in text_chunks(batches):
            yield chunk_fn(ids, texts)

    return map_rows(df, schema, _text_rows)
