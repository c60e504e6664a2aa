"""The plan-contract table: one row per pair, curate and extract
operator, checked against the operator's physical plan.

Each row builds the operator on a small input (the sf0.001 documents
and embeddings, or a few literal rows) with every
``_checkpoint_release`` patched to identity, so the whole lazy plan
stays inspectable (conftest ``lazy_plans``).  The walker reads that
plan and the row pins:

- ``exchanges``: every Exchange, counted, as
  ``"<partitioning> [<cols>]"``.  A shuffle prints Spark's partitioning (``hashpartitioning(_id, 4)``,
  ``RoundRobinPartitioning(4)``, ``SinglePartition``, ...); a broadcast
  prints ``broadcast(<join keys>)``.  ``<cols>`` are the Exchange's
  string, binary, array, map and struct output columns (a struct lists
  its string/binary fields in braces); a ``*`` marks one that carries
  the row's ``seed`` leaf column or a value the JVM derived from it.
- ``python``: every Python node, counted, as ``"<node>(<inputs>) <-
  <partitioning of its input>"``; a scalar UDF node carries its
  PythonEvalType, ``ArrowEvalPython[250]`` for an ``arrow_udf``.
- ``requires`` / ``forbids``: fragments that must / must not appear in
  the plan text (expression ids stripped).

Counting rule: every Exchange node of the plan Spark builds before it
runs counts once; a cached relation is read once, however many scans
read it; a ``ReusedExchange`` (in a plan that has run) is not
counted.  Two identical Exchanges count twice: whether Spark reuses
one at run time depends on adaptive execution, so the row does not
assume it.

A failing row prints the facts the plan has now next to the row.  If
the change is intended, copy the new facts into the row and say in
the operator's docstring what changed; print the plan itself with
``df.explain("formatted")``.
"""

from __future__ import annotations

import json
import re
from collections import Counter
from dataclasses import dataclass, field
from typing import Callable

import pytest
from pyspark.sql import functions as F

from pdf_to_text_extraction_service_spark.functions import (
    extract_udf,
    multimodal as mm,
)
from pdf_to_text_extraction_service_spark.operators import (
    boilerplate,
    components,
    decontam,
    dedup,
    domains,
    dupspans,
    floodcap,
    ivf,
    lmproxy,
    neardup,
    packing,
    pagestats,
    paradedup,
    robots,
    scrub,
    semdedup,
    similarity,
    textstats,
)
from pdf_to_text_extraction_service_spark.plans.pipeline import (
    extract_pipeline,
)
from pdf_to_text_extraction_service_spark.sources.corpus import (
    pages_from_documents,
)

SF = "/root/testdata/sf0.001"
_IDS = re.compile(r"#\d+L?")
_PYTHON = re.compile(r"Python|InPandas|InArrow")
_TEXT = ("string", "binary", "char", "varchar")


def _seq(xs) -> list:
    return [xs.apply(i) for i in range(xs.size())]


def _kind(node) -> str:
    return node.getClass().getSimpleName()


def _wide(dtype) -> bool:
    """String, binary, or any array / map / struct type."""
    t = json.loads(dtype.json())
    return not isinstance(t, str) or t.startswith(_TEXT)


def _column(attr, traced: bool) -> str:
    name = ("*" if traced else "") + attr.name()
    t = json.loads(attr.dataType().json())
    if isinstance(t, dict) and t.get("type") == "struct":
        text = [f["name"] for f in t["fields"]
                if isinstance(f["type"], str) and f["type"].startswith(_TEXT)]
        if text:
            name += "{" + ", ".join(text) + "}"
    return name


def _partitioning(node) -> str:
    if _kind(node) == "BroadcastExchangeExec":
        names = [a.name() for a in _seq(node.child().output())]
        mode = node.mode()
        keys = []
        if _kind(mode) == "HashedRelationBroadcastMode":
            for k in _seq(mode.key()):
                keys += [names[int(i)] for i in
                         re.findall(r"input\[(\d+),", k.toString())
                         if names[int(i)] not in keys]
        return f"broadcast({', '.join(keys)})"
    return _IDS.sub("", node.outputPartitioning().toString())


def plan_facts(plan, seed: str = "text") -> dict:
    """The facts a row pins, read off a physical plan; ``text`` is the
    plan text the ``requires``/``forbids`` fragments are matched in.

    Leaf attributes named ``seed`` are traced bottom-up through every
    wide Alias of a Project, every wide attribute another JVM node
    (Generate, Expand, an aggregate, a join) adds from a traced input,
    across Exchanges and into cached relations.  Scalars computed from
    the seed (lengths, hashes) and a Python node's outputs are not
    traced."""
    from pyspark import SparkContext

    identity = SparkContext._jvm.System.identityHashCode
    ids: set = set()
    visited: set = set()
    exchanges: Counter = Counter()
    python: Counter = Counter()
    text: list = []

    def refs(e) -> set:
        return {r.exprId().id() for r in _seq(e.references().toSeq())}

    def follow(outer, inner) -> None:
        ids.update(a.exprId().id() for a, c in zip(_seq(outer), _seq(inner))
                   if c.exprId().id() in ids)

    def visit(node) -> None:
        name = _kind(node)
        if name == "AdaptiveSparkPlanExec":
            return visit(node.executedPlan())
        if name.endswith("QueryStageExec"):
            return visit(node.plan())
        if name == "ReusedExchangeExec":
            visit(node.child())
            return follow(node.output(), node.child().output())
        if name == "InMemoryTableScanExec":
            rel = node.relation()
            visit(rel.cachedPlan())
            return follow(rel.output(), rel.cachedPlan().output())
        if identity(node) in visited:
            return
        visited.add(identity(node))
        text.append(_IDS.sub("", node.simpleString(1000)))
        kids = _seq(node.children())
        for k in kids:
            visit(k)
        out = _seq(node.output())
        if not kids:
            ids.update(a.exprId().id() for a in out if a.name() == seed)
        elif _PYTHON.search(name):
            inputs = [a.name() for a in _seq(kids[0].output())]
            if name.endswith("EvalPythonExec"):
                inputs = sorted({a.name() for u in _seq(node.udfs())
                                 for a in _seq(u.references().toSeq())})
            node_name = name[:-len('Exec')]
            if name == "ArrowEvalPythonExec":
                node_name += f"[{node.evalType()}]"
            python[f"{node_name}({', '.join(inputs)}) <- "
                   f"{_partitioning(kids[0])}"] += 1
        elif name == "ProjectExec":
            ids.update(e.exprId().id() for e in _seq(node.projectList())
                       if _kind(e) == "Alias" and refs(e) & ids
                       and _wide(e.dataType()))
        else:
            inherited = {a.exprId().id() for k in kids
                         for a in _seq(k.output())}
            if any(refs(e) & ids for e in _seq(node.expressions())):
                ids.update(a.exprId().id() for a in out
                           if a.exprId().id() not in inherited
                           and _wide(a.dataType()))
        if "Exchange" in name:
            cols = ", ".join(_column(a, a.exprId().id() in ids)
                             for a in out if _wide(a.dataType()))
            exchanges[f"{_partitioning(node)} [{cols}]"] += 1

    visit(plan)
    return {"exchanges": dict(exchanges), "python": dict(python),
            "text": "\n".join(text)}


@dataclass(frozen=True)
class Row:
    """One operator's plan contract; ``build(spark, tmp_dir)`` returns
    the operator's output DataFrame."""
    build: Callable
    exchanges: dict
    python: dict = field(default_factory=dict)
    requires: tuple = ()
    forbids: tuple = ()
    seed: str = "text"


def row_facts(spark, name: str, tmp, facts: dict) -> dict:
    """The facts of ``ROWS[name]``'s plan, read once into ``facts``
    (keyed by row name)."""
    if name not in facts:
        row = ROWS[name]
        df = row.build(spark, tmp)
        facts[name] = plan_facts(
            df._jdf.queryExecution().executedPlan(), row.seed)
    return facts[name]


def check_row(spark, name: str, tmp, facts: dict) -> dict:
    """Assert ``ROWS[name]`` against its operator's plan and return the
    plan's facts (:func:`row_facts`)."""
    row = ROWS[name]
    got = row_facts(spark, name, tmp, facts)
    assert {"exchanges": got["exchanges"], "python": got["python"]} == \
        {"exchanges": row.exchanges, "python": row.python}, name
    missing = [s for s in row.requires if s not in got["text"]]
    present = [s for s in row.forbids if s in got["text"]]
    assert not missing and not present, (name, missing, present)
    return got


# ------------------------------------------------------------- inputs


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _vectors(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _pages(spark, dup_factor: int = 1):
    return pages_from_documents(_docs(spark), dup_factor)


def _urls(spark):
    return _docs(spark).select(
        "doc_id", "lang", "n_chars", "text",
        F.concat(F.lit("https://www."), "source", F.lit(".co.uk/p/"),
                 F.col("doc_id").cast("string")).alias("url"))


def _media(spark):
    import __spark_entry__ as entry

    return spark.createDataFrame(
        [(i, entry._multimodal_payload(i)) for i in range(40)],
        "media_id long, payload binary")


def _ivf_topk(spark, tmp):
    ivf.write_ivf_index(_vectors(spark), f"{tmp}/ivf", k=8, iters=3)
    indexed, centroids = ivf.load_ivf_index(spark, f"{tmp}/ivf")
    return ivf.ivf_topk(indexed, centroids, [1.0] * 64, topk=10,
                        nprobe=4)


def _prune_captures(spark, tmp):
    _pages(spark, 2).write.parquet(f"{tmp}/pages")
    return dedup.prune_duplicate_captures(
        spark.read.parquet(f"{tmp}/pages"))


def _join_topk_customers(spark, tmp):
    import __spark_entry__ as entry

    return entry.queries()["join_topk_customers"](spark, SF)


def _media_row(op, key="media_id", payload="payload"):
    """A per-payload pass (functions/multimodal.map_payloads): one
    Python map over (key, payload) only, no Exchange."""
    def build(spark, tmp):
        return op(spark.createDataFrame(
            [(None, bytearray(b"x"), "x")],
            f"{key} string, {payload} binary, extra string"))

    return Row(build, {}, {f"MapInArrow({key}, {payload}) <- "
                           "UnknownPartitioning(0)": 1}, seed=payload)


MEDIA_OPS = (
    "audio_features", "audio_tag_metadata", "container_audio_features",
    "exif_features", "flac_decode_features", "gif_animation_features",
    "image_breadth_features", "image_dhash", "image_features",
    "media_features", "mp3_features", "mp4_features",
    "png_text_metadata", "resize_images", "video_container_features",
    "video_signatures",
)

_NO_WINDOW = ("Window", "row_number")
# The block -> verify -> emit-once pair engine (floodcap.py): the only
# inner join is the per-id band-mask join, no bucket self-join, and no
# aggregate keyed on the pair.
_PAIR_ENGINE = {"requires": ("partial_count", "Join [_id], [_id], Inner"),
                "forbids": _NO_WINDOW + ("[_band, _key], Inner",
                                         "keys=[id_a, id_b]")}
_GUARD = "hashpartitioning(_id, 4)"     # salt.widen_for_python
_MAX_BY = ("hashpartitioning(url, 4) [url, valueWithExtremumOrdering"
           "{lang, format, text, method, file_type, mime_type, error}, "
           "extremumOrdering]")
_EXTRACT = "MapInArrow(url, warc_ts, html, lang) <- "

ROWS: dict[str, Row] = {
    # ---- per-payload media passes
    **{op: _media_row(getattr(mm, op)) for op in MEDIA_OPS},
    "pdf_image_ocr_stats": _media_row(pagestats.pdf_image_ocr_stats,
                                      "url", "html"),

    # ---- pair operators
    "exact_dedup": Row(
        lambda s, t: neardup.exact_dedup(_docs(s)),
        {"hashpartitioning(_h, 4) [*_h]": 1},
        requires=("partial_min",)),
    "minhash_lsh_pairs": Row(
        lambda s, t: neardup.minhash_lsh_pairs(_docs(s)),
        {f"{_GUARD} [*_t]": 1,
         "hashpartitioning(_band, _key, 4) []": 2,
         "broadcast(_band, _key) []": 3,
         "hashpartitioning(id_a, id_b, 4) []": 1,
         "broadcast(id_a) [_h_a]": 1, "broadcast(id_b) [_h_b]": 1},
        {f"MapInArrow(_id, _t) <- {_GUARD}": 1},
        requires=("partial_count",), forbids=_NO_WINDOW),
    "simhash_pairs": Row(
        lambda s, t: neardup.simhash_pairs(_docs(s)),
        {f"{_GUARD} [*_t]": 1, f"{_GUARD} []": 1,
         "broadcast(_id) []": 1,
         "hashpartitioning(_band, _key, 4) []": 1,
         "broadcast(_band, _key) []": 1,
         "hashpartitioning(_band, _key, 4) [buf]": 1},
        {f"ArrowEvalPython[250](_t) <- {_GUARD}": 1,
         "MapInArrow(_band, _members) <- UnknownPartitioning(4)": 1},
        **_PAIR_ENGINE),
    "ngram_jaccard_pairs": Row(
        lambda s, t: neardup.ngram_jaccard_pairs(_docs(s)),
        {"broadcast(_blk) [_blk, *_sh_b]": 1}),
    "embedding_neardup_pairs": Row(
        lambda s, t: similarity.embedding_neardup_pairs(_vectors(s)),
        {f"{_GUARD} [*_v]": 1, f"{_GUARD} []": 1,
         "broadcast(_id) []": 1,
         "hashpartitioning(_band, _key, 4) []": 1,
         "broadcast(_band, _key) []": 1,
         "hashpartitioning(_band, _key, 4) [*buf]": 1},
        {f"ArrowEvalPython[250](_v) <- {_GUARD}": 1,
         "MapInArrow(_band, _members) <- UnknownPartitioning(4)": 1},
        seed="embedding", **_PAIR_ENGINE),
    "dedup_image_dhash": Row(
        lambda s, t: mm.dedup_image_dhash(_media(s)),
        {"hashpartitioning(_id, 4) [_keys]": 1, f"{_GUARD} []": 1,
         "hashpartitioning(_band, _key, 4) []": 2,
         "hashpartitioning(_band, _key, 4) [buf]": 1},
        {"MapInArrow(media_id, payload) <- UnknownPartitioning(0)": 1,
         "MapInArrow(_band, _members) <- UnknownPartitioning(4)": 1},
        seed="payload", **_PAIR_ENGINE),
    "dedup_video_signature": Row(
        lambda s, t: mm.dedup_video_signature(_media(s)),
        {"hashpartitioning(sig, 4) []": 1},
        {"MapInArrow(media_id, payload) <- UnknownPartitioning(0)": 1},
        requires=("partial_min", "partial_count"), seed="payload"),
    # vectors cross one Exchange, the per-cluster grouping
    "semantic_dedup": Row(
        lambda s, t: semdedup.semantic_dedup(_vectors(s)),
        {"hashpartitioning(cluster, 4) [*_v]": 1,
         "hashpartitioning(cluster, 4) []": 1,
         "broadcast(cluster) []": 1},
        {"ArrowEvalPython[250](embedding) <- UnknownPartitioning(0)": 1,
         "FlatMapGroupsInArrow(cluster, cluster, _id, _v) <- "
         "hashpartitioning(cluster, 4)": 1},
        requires=("partial_count",), forbids=_NO_WINDOW, seed="embedding"),
    # at or under DRIVER_EDGES the labels come back as a local table
    "connected_components": Row(
        lambda s, t: components.connected_components(s.createDataFrame(
            [(0, 1), (1, 2), (10, 11)], "id_a long, id_b long")),
        {}, requires=("LocalTableScan [id, component]",)),
    "cap_flooded_buckets": Row(
        lambda s, t: floodcap.cap_flooded_buckets(
            _docs(s).select((F.col("doc_id") % 3).alias("bucket"),
                            F.col("doc_id").alias("id"), "text"),
            ["bucket"], "id", 16),
        {"hashpartitioning(bucket, 4) []": 1, "broadcast(bucket) []": 1},
        requires=("partial_count",), forbids=_NO_WINDOW),
    "brute_force_topk": Row(
        lambda s, t: similarity.brute_force_topk(_vectors(s), [1.0] * 64),
        {}, requires=("TakeOrderedAndProject(limit=10",),
        forbids=_NO_WINDOW, seed="embedding"),
    "lsh_topk": Row(
        lambda s, t: similarity.lsh_topk(_vectors(s), [1.0] * 64), {},
        requires=("TakeOrderedAndProject(limit=10",), seed="embedding"),
    # the nprobe filter prunes cluster= directories of the written index
    "ivf_topk": Row(
        _ivf_topk, {},
        requires=("PartitionFilters: [cluster IN (6,2,7,0)]",
                  "TakeOrderedAndProject(limit=10"), seed="embedding"),

    # ---- curate operators
    # kept positions broadcast back to the documents: at this size the
    # text crosses no Exchange
    "paragraph_dedup": Row(
        lambda s, t: paradedup.paragraph_dedup(_docs(s)),
        {"hashpartitioning(h, 4) [min]": 1,
         "hashpartitioning(doc_id, 4) [buf]": 1,
         "broadcast(doc_id) [keep_pos]": 1},
        requires=("partial_min(struct(doc_id",), forbids=_NO_WINDOW),
    "duplicated_span_stats": Row(
        lambda s, t: dupspans.duplicated_span_stats(_docs(s)),
        {f"{_GUARD} [*_t]": 2, "hashpartitioning(h1, h2, 4) []": 1,
         "broadcast(h1, h2) []": 1, "hashpartitioning(doc_id, 4) []": 1,
         "broadcast(doc_id) []": 1},
        {f"MapInArrow(_id, _t) <- {_GUARD}": 2},
        requires=("partial_count",)),
    # the n-gram pass and the rewrite pass both read the text, and the
    # documents' other columns, behind the width guard: two identical
    # guard Exchanges before the run, one and a ReusedExchange after it
    # (test_span_removal_text_crosses_guard_once); the rewrite is a
    # scalar UDF, so the other columns stay in the JVM there.  Each
    # occurrence crosses the (h1, h2) window's Exchange as its
    # (doc, pos) struct ``_w0``; no per-key occurrence list is built
    "remove_duplicated_spans": Row(
        lambda s, t: dupspans.remove_duplicated_spans(_docs(s)),
        {f"{_GUARD} [*_t, lang, source]": 2,
         "hashpartitioning(h1, h2, 4) [_w0]": 1,
         "hashpartitioning(doc_id, 4) [buf]": 1,
         "broadcast(_id) [rm_pos]": 1},
        {f"MapInArrow(_id, _t, lang, source, n_chars) <- {_GUARD}": 1,
         f"ArrowEvalPython[250](_t, rm_pos) <- {_GUARD}": 1},
        requires=("windowspecdefinition(h1, h2,",),
        forbids=("collect_list",)),
    # the benchmark's n-grams broadcast; its own pass stays narrow
    "benchmark_overlap": Row(
        lambda s, t: decontam.benchmark_overlap(
            _docs(s),
            _docs(s).filter(F.col("doc_id") % 17 == 0).select("text")),
        {f"{_GUARD} [*_t]": 1, f"{_GUARD} []": 1,
         "hashpartitioning(h1, h2, 4) []": 1, "broadcast(h1, h2) []": 1,
         "broadcast(doc_id) []": 1},
        {f"MapInArrow(_id, _t) <- {_GUARD}": 1,
         "MapInArrow(_id, _t) <- UnknownPartitioning(0)": 1},
        requires=("partial_count",), forbids=("CartesianProduct",)),
    "remove_boilerplate_lines": Row(
        lambda s, t: boilerplate.remove_boilerplate_lines(_docs(s)),
        {"hashpartitioning(line, _id, 4) [*line]": 1,
         "hashpartitioning(line, 4) [*line]": 1,
         "broadcast(line) [*line]": 1, "hashpartitioning(_id, 4) [*buf]": 1,
         "broadcast(_id) [*clean_text]": 1},
        requires=("LeftAnti",)),
    "domain_stats": Row(
        lambda s, t: domains.domain_stats(_urls(s)),
        {"hashpartitioning(domain, lang, 4) [domain, lang]": 1,
         "hashpartitioning(domain, host, 4) [domain, host]": 1,
         "hashpartitioning(domain, 4) [domain]": 1,
         "hashpartitioning(domain, 4) [domain, valueWithExtremumOrdering, "
         "extremumOrdering{lang}]": 1,
         "broadcast(domain) [domain]": 1},
        requires=("partial_count", "partial_max_by", "INSET ")),
    # the corpus side never shuffles: only the blocklist's dedup does
    "filter_blocked_domains": Row(
        lambda s, t: domains.filter_blocked_domains(
            _urls(s), s.createDataFrame([("spam.co.nz",)], "domain string")),
        {"hashpartitioning(_bldom, 4) [_bldom]": 1,
         "broadcast(_bldom) [_bldom]": 1},
        requires=("BroadcastHashJoin", "LeftAnti")),
    "drop_noindex": Row(lambda s, t: robots.drop_noindex(_pages(s)), {}),
    # one min/max aggregate's width broadcasts to both reads of the
    # input (counted twice before the run); per-row cumsums are a
    # window partitioned by block, which moves the whole row; the one
    # partition-less window orders the per-block totals
    "pack_sequences": Row(
        lambda s, t: packing.pack_sequences(_docs(s)),
        {"SinglePartition []": 3, "broadcast() []": 2,
         "hashpartitioning(_blk, 4) [*text, lang, source]": 1,
         "hashpartitioning(_blk, 4) []": 1, "broadcast(_blk) []": 1},
        requires=("partial_max(doc_id)", "partial_min(doc_id)",
                  "windowspecdefinition(_blk, doc_id ASC",
                  "windowspecdefinition(_blk ASC"),
        forbids=("windowspecdefinition(doc_id", "_sblk")),
    "unigram_quality": Row(
        lambda s, t: lmproxy.unigram_quality(_docs(s)),
        {"hashpartitioning(tok, 4) [*tok]": 2, "broadcast(tok) [*tok]": 1,
         "SinglePartition []": 1, "broadcast() []": 1,
         "hashpartitioning(doc_id, 4) [buf]": 1},
        requires=("partial_count",)),
    "quality_scores": Row(
        lambda s, t: textstats.quality_scores(_docs(s)), {},
        {"ArrowEvalPython[250](text) <- UnknownPartitioning(0)": 1}),
    "repetition_stats": Row(
        lambda s, t: textstats.repetition_stats(_docs(s)), {}),
    "lang_id": Row(
        lambda s, t: textstats.lang_id(_docs(s)), {},
        {"ArrowEvalPython[250](text) <- UnknownPartitioning(0)": 1}),
    "token_count": Row(lambda s, t: textstats.token_count(_docs(s)), {}),
    "doc_fingerprint": Row(
        lambda s, t: textstats.doc_fingerprint(_docs(s)), {},
        {"ArrowEvalPython[250](text) <- UnknownPartitioning(0)": 1}),
    "scrub_pii": Row(lambda s, t: scrub.scrub_pii(_docs(s)), {}),
    "normalize_nfc": Row(
        lambda s, t: scrub.normalize_nfc(_docs(s)), {},
        {"ArrowEvalPython[250](text) <- UnknownPartitioning(0)": 1}),
    "pdf_page_stats": Row(
        lambda s, t: pagestats.pdf_page_stats(
            extract_udf.extract(_pages(s))), {},
        {f"{_EXTRACT}UnknownPartitioning(0)": 1}),

    # ---- extract operators: html crosses only the salt / width guard
    "extract": Row(
        lambda s, t: extract_udf.extract(_pages(s)), {},
        {f"{_EXTRACT}UnknownPartitioning(0)": 1}),
    "preview": Row(
        lambda s, t: extract_udf.preview(_pages(s)), {},
        {f"{_EXTRACT}UnknownPartitioning(0)": 1}),
    "extract_pipeline": Row(
        lambda s, t: extract_pipeline(_pages(s, 3), keep_pages_col=False),
        {"hashpartitioning(url, 4) [url, *html, lang]": 1, _MAX_BY: 1},
        {f"{_EXTRACT}hashpartitioning(url, 4)": 1},
        requires=("partial_max_by",), forbids=_NO_WINDOW),
    # a scan with fewer splits than cores is widened round-robin
    "extract_pipeline_salt_false": Row(
        lambda s, t: extract_pipeline(_pages(s), salt=False, dedup=False,
                                      keep_pages_col=False),
        {"RoundRobinPartitioning(4) [url, *html, lang]": 1},
        {f"{_EXTRACT}RoundRobinPartitioning(4)": 1}),
    "dedup_latest": Row(
        lambda s, t: dedup.dedup_latest(extract_pipeline(
            _pages(s, 3), salt=False, dedup=False, keep_pages_col=False)),
        {"RoundRobinPartitioning(4) [url, *html, lang]": 1, _MAX_BY: 1},
        {f"{_EXTRACT}RoundRobinPartitioning(4)": 1},
        requires=("partial_max_by",), forbids=_NO_WINDOW),
    # the winners pass reads only the two key columns
    "prune_duplicate_captures": Row(
        _prune_captures,
        {"hashpartitioning(url, 4) [url]": 1,
         "broadcast(url, warc_ts) [url]": 1},
        requires=("ReadSchema: struct<url:string,warc_ts:timestamp>",
                  "partial_max(warc_ts)")),
    # filter and projection pushed into the parquet scan
    "load_documents": Row(
        lambda s, t: _docs(s).filter(F.col("lang") == "en")
        .select("doc_id", "n_chars"), {},
        requires=("FileScan parquet [doc_id,lang,n_chars]",
                  "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]")),
    # broadcast dimension join, partial aggregation, local top-k
    "join_topk_customers": Row(
        _join_topk_customers,
        {"hashpartitioning(o_custkey, 4) []": 1,
         "broadcast(c_custkey) [*c_name]": 1},
        requires=("partial_count", "TakeOrderedAndProject(limit=10"),
        seed="c_name"),
}


@pytest.mark.parametrize("name", sorted(ROWS))
def test_plan_contract(plan_row, name):
    plan_row(name)


#: a Python node that hands its batches to pandas: a map, grouped or
#: co-grouped pandas node, or a scalar pandas UDF (PythonEvalType 200,
#: 204 in iterator form)
_PANDAS_NODE = re.compile(r"InPandas|ArrowEvalPython\[20[04]\]")


def test_no_row_has_a_pandas_node(spark, lazy_plans, tmp_path,
                                  plan_facts_by_row):
    """Every Python node of the table is Arrow in and Arrow out."""
    pandas = {(name, node) for name in sorted(ROWS)
              for node in row_facts(spark, name, tmp_path,
                                    plan_facts_by_row)["python"]
              if _PANDAS_NODE.search(node)}
    assert not pandas, sorted(pandas)


def _carrying(facts) -> int:
    return sum(n for k, n in facts["exchanges"].items() if "*" in k)


def test_walker_traces_text(spark):
    """The walker finds the text behind an Exchange under another name,
    as a token array, exploded, read back from a cache, or broadcast;
    it flags neither a length computed from the text nor a Python
    node's outputs (hashes, or the text passed through under its own
    name); it reads through the AdaptiveSparkPlanExec wrapper and does
    not count a ReusedExchange."""
    from pdf_to_text_extraction_service_spark.functions.textrows import (
        map_text_rows,
    )
    from pdf_to_text_extraction_service_spark.operators.decontam import (
        NGRAM_SCHEMA,
        ngram_rows,
    )

    docs = spark.createDataFrame(
        [(i, f"t{i} u v") for i in range(4)], "doc_id long, text string")
    toks = docs.select("doc_id", F.split("text", " ").alias("toks")) \
        .cache()
    try:
        carried = [
            docs.select(F.col("text").alias("_t")),
            toks,
            docs.select(F.explode(F.split("text", " ")).alias("w")),
        ]
        scalars = [
            docs.select("doc_id", F.length("text").alias("n")),
            map_text_rows(
                docs.select(F.col("doc_id").alias("_id"),
                            F.col("text").alias("_t")),
                ngram_rows(2, distinct=False), NGRAM_SCHEMA),
            docs.mapInArrow(lambda batches: batches, docs.schema),
        ]
        for df, want in [(d, 1) for d in carried] + \
                [(d, 0) for d in scalars]:
            plan = df.repartition(3)._jdf.queryExecution().executedPlan()
            assert _kind(plan) == "AdaptiveSparkPlanExec"
            facts = plan_facts(plan)
            assert sum(facts["exchanges"].values()) == 1, facts
            assert _carrying(facts) == want, facts
    finally:
        toks.unpersist()

    passed = plan_facts(docs.mapInArrow(lambda b: b, docs.schema)
                        .repartition(3)._jdf.queryExecution()
                        .executedPlan())
    assert passed["exchanges"] == {"RoundRobinPartitioning(3) [text]": 1}

    side = docs.select("doc_id", F.col("text").alias("t2"))
    joined = docs.select("doc_id").join(F.broadcast(side), "doc_id")
    assert plan_facts(joined._jdf.queryExecution().executedPlan()) \
        ["exchanges"] == {"broadcast(doc_id) [*t2]": 1}

    once = docs.groupBy("doc_id").agg(F.max("text").alias("m"))
    twice = once.union(once)
    assert plan_facts(twice._jdf.queryExecution().executedPlan()) \
        ["exchanges"] == {"hashpartitioning(doc_id, 4) [*max]": 2}
    twice.collect()
    final = twice._jdf.queryExecution().executedPlan()
    assert "ReusedExchange" in final.toString()
    assert plan_facts(final)["exchanges"] == \
        {"hashpartitioning(doc_id, 4) [*max]": 1}


def test_span_removal_text_crosses_guard_once(spark, lazy_plans):
    """Once span removal has run, its text crosses one width-guard
    Exchange, read by both Python passes; the second guard Exchange of
    the pre-run plan is a ReusedExchange.  The documents' other
    columns cross it with the text."""
    out = dupspans.remove_duplicated_spans(_docs(spark))
    out.collect()
    plan = out._jdf.queryExecution().executedPlan()
    assert "ReusedExchange" in plan.toString()
    carrying = {k: n for k, n in plan_facts(plan)["exchanges"].items()
                if "*" in k}
    assert carrying == {f"{_GUARD} [*_t, lang, source]": 1}
