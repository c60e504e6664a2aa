"""The Python row pass: one ``mapInArrow`` envelope behind every batch
boundary of the package, and its text-row form.

:func:`map_rows` owns the boundary format: each Arrow batch reaches a
pass body as Python lists, one per input column, and the body's
columns leave as one typed ``RecordBatch`` of the declared schema, so
NULL stays NULL and NaN stays NaN in both directions.  The extract
and preview envelope (functions/extract_udf), the per-payload and
frame-sampling passes (functions/multimodal), the OCR and transcript
passes (functions/ocr) and the WARC record parser (sources/warc) all
run through it.

Batch size is decided once, by the session's row and byte caps
(plans/session.py): each numpy text kernel's fixed cost per call is
paid once per batch of thousands of short texts, and a batch of long
documents holds about 4 MiB of text, so the n-gram strings a kernel
builds from it (about n times its text) stay bounded per worker.
:func:`map_text_rows` hands each batch to the kernel as it comes;
MinHash prep and the n-gram hash passes of decontamination and the
duplicated-span operators run through it.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


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


def map_text_rows(df: DataFrame,
                  chunk_fn: Callable[[list, list], dict],
                  schema: StructType) -> DataFrame:
    """One :func:`map_rows` hop over a ``(_id, _t)`` frame.

    ``chunk_fn(ids, texts)`` gets the ``_id`` and ``_t`` lists of each
    Arrow batch (NULL texts are ``None``) and returns a dict of
    columns; the pass yields the columns that ``schema`` names, in its
    order.  A kernel may emit any number of rows per document."""
    def _text_rows(batches: Iterator[dict]) -> Iterator[dict]:
        for batch in batches:
            yield chunk_fn(batch["_id"], batch["_t"])

    return map_rows(df, schema, _text_rows)
