"""Dump the physical plans of the engine's key operators with
commentary → docs/PLANS.md (the .explain('formatted') audit the
build guide calls for)."""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    from pyspark.sql import functions as F

    import __spark_entry__ as entry_mod
    from pdf_to_text_extraction_service_spark.operators.dedup import (
        dedup_latest,
    )
    from pdf_to_text_extraction_service_spark.plans.pipeline import (
        extract_pipeline,
    )
    from pdf_to_text_extraction_service_spark.plans.session import (
        build_session,
    )
    from pdf_to_text_extraction_service_spark.sources.corpus import (
        load_documents,
        pages_from_documents,
    )

    spark = build_session(master="local[4]", shuffle_partitions=4)
    sections: list[tuple[str, str, str]] = []

    pages = pages_from_documents(load_documents(spark, SF), dup_factor=2)
    sections.append((
        "Extraction pipeline (salt → mapInPandas → dedup)",
        _plan(extract_pipeline(pages, keep_pages_col=False)),
        "One Exchange before the kernel (the size-tiered salt — the "
        "only shuffle that ever moves the html binary), then "
        "MapInPandas, then the dedup SortAggregate with "
        "partial_max_by BELOW its Exchange: the shuffle carries one "
        "candidate row per url per map partition, never the raw "
        "payload. With salt=False the extract stage is map-only "
        "(zero Exchange before the kernel).",
    ))

    ext = extract_pipeline(pages, salt=False, dedup=False,
                           keep_pages_col=False)
    sections.append((
        "Dedup via max_by (partial aggregation)",
        _plan(dedup_latest(ext)),
        "partial_max_by appears under the Exchange — map-side "
        "combine. A window/row_number dedup cannot partially "
        "aggregate; it ships every duplicate through the shuffle "
        "then sorts, which is why max_by is the default.",
    ))

    q = entry_mod.queries()["join_topk_customers"]
    sections.append((
        "Broadcast dim join + deterministic top-k",
        _plan(q(spark, SF)),
        "BroadcastHashJoin with BroadcastExchange on the customer dim "
        "(explicit F.broadcast) — the orders fact side never "
        "reshuffles for the join; the only wide operation is the "
        "revenue aggregation. WindowGroupLimit pushes the top-k "
        "below the final sort.",
    ))

    docs = load_documents(spark, SF)
    sections.append((
        "Scan pruning (filter + projection pushdown)",
        _plan(
            docs.filter(F.col("lang") == "en")
            .select("doc_id", "n_chars")
        ),
        "PushedFilters carries the lang predicate into the parquet "
        "scan and ReadSchema lists only the two projected columns + "
        "filter column — Catalyst prunes both row groups and columns "
        "with no engine code.",
    ))

    q = entry_mod.queries()["ann_ivf_topk"]
    sections.append((
        "IVF ANN over the persisted index (partition pruning)",
        _plan(q(spark, SF)),
        "The query never trains: it reads the prebuilt index "
        "(parquet partitioned by `cluster`) and the nprobe filter "
        "shows up as PartitionFilters on the scan — metadata-only "
        "pruning, unprobed cluster directories are never opened. "
        "Exact rerank runs inside the probed clusters only.",
    ))

    q = entry_mod.queries()["paragraph_dedup"]
    sections.append((
        "Paragraph dedup (text crosses exactly one Exchange)",
        _plan(q(spark, SF)),
        "Paragraphs posexplode in-partition and only (doc_id, pos, "
        "xxhash64) scalars cross the keeper window's Exchange (which "
        "gets WindowGroupLimit pushdown for the rank<=1 filter); "
        "kept positions roll up per doc as a scalar list, and the "
        "document text appears in exactly ONE Exchange input — the "
        "reassembly join on doc_id, the same budget as the salt "
        "repartition.",
    ))

    q = entry_mod.queries()["dup_span_stats"]
    sections.append((
        "Duplicated-span audit (text crosses only the width guards)",
        _plan(q(spark, SF)),
        "The document text crosses exactly two Exchanges: the width "
        "guards (hashpartitioning on _id) ahead of the two n-gram "
        "passes, which emit dual-hash (doc_id, h1, h2) scalars. "
        "Corpus-wide counts and the per-doc rollup shuffle only "
        "(hash, hash) / (doc_id, count) pairs; no other Exchange "
        "carries the text or text derived from it, under any alias, "
        "as tokens or through a cache (asserted by "
        "tests/test_training_ops.py plan audit).",
    ))

    q = entry_mod.queries()["domain_stats"]
    sections.append((
        "Registered-domain rollup (two scalar aggregations)",
        _plan(q(spark, SF)),
        "Host/domain extraction is a JVM projection inside "
        "whole-stage codegen; the (domain, lang) pre-aggregation and "
        "the per-domain argmax/stats both partially aggregate "
        "map-side; urls/text never pass an Exchange.",
    ))

    q = entry_mod.queries()["decontam_benchmark"]
    sections.append((
        "Benchmark decontamination (broadcast n-gram set)",
        _plan(q(spark, SF)),
        "The benchmark side (distinct dual-hashed n-grams) goes "
        "through BroadcastExchange, so the contamination join never "
        "shuffles the document corpus; the document text crosses one "
        "Exchange, the width guard (hashpartitioning on _id) ahead "
        "of the n-gram pass. n-gram STRINGS exist only inside that "
        "pass (8+8 bytes per gram on the wire). Hits and the "
        "distinct-gram total partially aggregate map-side.",
    ))

    q = entry_mod.queries()["pack_sequences"]
    sections.append((
        "Sequence packing (two-level distributed prefix sum)",
        _plan(q(spark, SF)),
        "The per-document cumsum window is PARTITIONED by the id "
        "block; only block totals roll up, and only superblock "
        "totals (rows/block² — thousands at 10^12 docs) cross the "
        "single partition-less window, carrying two longs each. No "
        "global sort or single-task cumsum ever touches the corpus; "
        "integer math makes the assignment bit-exact at any "
        "parallelism.",
    ))

    q = entry_mod.queries()["unigram_lm_quality"]
    sections.append((
        "Unigram-LM quality proxy (two-pass, ordered folds)",
        _plan(q(spark, SF)),
        "Vocabulary counts partially aggregate map-side; the 1-row "
        "total joins back via BroadcastExchange (no driver action); "
        "the per-document logprob sum folds position-sorted structs "
        "(bounded by document length) so the float result is "
        "bit-deterministic under any partitioning — which is what "
        "lets the DuckDB oracle hash-verify a floating-point score.",
    ))

    from pdf_to_text_extraction_service_spark.operators.components import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], "id_a long, id_b long")
    sections.append((
        "Near-dup connected components (CCF round shape)",
        _plan(connected_components(edges)),
        "Two wide shuffles per CCF round (label groupBy + emission dedup) plus the convergence anti-join, over (node, neighbor) "
        "scalars; per-node collect_set is bounded by the upstream "
        "bucket caps. Between rounds the relation is localCheckpointed "
        "— plan lineage stays constant-depth no matter how many "
        "rounds run (persist alone lets Catalyst analysis grow "
        "per-round and eventually fail).",
    ))

    out = ["""# Physical-plan audit

Captured with `tools/plan_audit.py` (`.explain("formatted")` on
local[4], sf0.001 inputs). Each section: what the plan proves about
the engine's scale behavior.
"""]
    for title, plan, commentary in sections:
        out.append(f"\n## {title}\n\n{commentary}\n\n```\n{plan}```\n")
    os.makedirs("docs", exist_ok=True)
    with open("docs/PLANS.md", "w") as f:
        f.write("".join(out))
    print("wrote docs/PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
