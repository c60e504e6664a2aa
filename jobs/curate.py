"""spark-submit training-data CURATION pipeline: extracted pages →
filtered, deduplicated, decontaminated, packed training corpus.

    spark-submit --driver-memory 8g --py-files engine.zip \
        jobs/curate.py \
        --input  /data/extracted 'bucket=*/*.parquet' style dir \
        --output /data/curated \
        --langs en,de --min-words 20 --seq-len 1024 \
        [--benchmark /data/benchmarks.parquet] [--no-span-removal] \
        [--blocklist /data/domains.parquet] [--embeddings /data/emb.parquet]

Chains the engine's training-pipeline operators end-to-end, the way a
100 TB curation run composes them:

1. gate     — success rows with non-empty text
2. language — engine stopword language ID (lang_id), keep --langs
3. quality  — kernel quality scorer (quality.go parity); drop
              needs_ocr and below --min-quality / --min-words
4. exact    — corpus-wide exact dedup (sha2 groupBy, min-id wins)
5. semantic — OPTIONAL (--embeddings): SemDeDup-style cluster-then-
              prune over the surviving docs' embeddings
              (operators/semdedup.py)
6. paras    — paragraph dedup (first corpus-wide occurrence wins)
7. spans    — ExactSubstr removal of duplicated 13-gram windows
8. decontam — drop docs sharing any 13-gram with --benchmark
9. pack     — concat-and-chunk into --seq-len sequences

Every stage filters or rewrites one ``(doc_id, url, text)`` relation
in the row: language and quality are scalar Arrow UDF columns
filtered where they are computed, and paragraph and span dedup
rewrite ``text`` while the row's other columns ride along, and
packing adds its columns to the row.  Only the exact, semantic and
decontamination keep-lists still join on ``doc_id``, and their side
of the join holds ids only.  Each stage the chain reads twice is
persisted lazily, so no Spark job runs until one eager
``localCheckpoint`` at the end materializes the result (one job per
query stage of that action: each shuffle, broadcast and stage cache),
after which the caches are released.

Stage row counts print as one JSON line.  They come from a
CollectMetrics observation (``df.observe``) on each stage, resolved
by that same checkpoint, so they cost no action of their own.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from pyspark.sql import Observation
from pyspark.sql import functions as F

from pdf_to_text_extraction_service_spark.operators.dupspans import (
    remove_duplicated_spans,
)
from pdf_to_text_extraction_service_spark.operators.neardup import (
    exact_dedup,
)
from pdf_to_text_extraction_service_spark.operators.packing import (
    pack_sequences,
)
from pdf_to_text_extraction_service_spark.operators.paradedup import (
    paragraph_dedup,
)
from pdf_to_text_extraction_service_spark.operators.textstats import (
    lang_id,
    quality_udf,
)
from pdf_to_text_extraction_service_spark.plans.session import (
    build_session,
)


def curate(spark, docs, *, langs=None, min_words=20, min_quality=0.0,
           seq_len=1024, benchmark=None, span_removal=True,
           blocklist=None, embeddings=None, sem_threshold=0.95,
           sem_k=64, stats=True):
    """Run the curation chain over ``docs(url, text, ...)``; returns
    (packed DataFrame, stage-stats dict), the DataFrame checkpointed.

    With ``stats`` each stage carries an observation whose row count
    the final checkpoint resolves; without, the dict is empty.  The
    counts equal one ``count()`` per stage (tests/reference/curate.py)
    as long as every partition runs once.  Observation accumulators
    count PARTITION EXECUTIONS, so a partition recomputed after cache
    eviction or by speculative execution is counted again.  With
    ``embeddings``, k-means training and ``semantic_dedup``'s
    checkpoint run jobs before the final checkpoint, so the earlier
    stages' observations resolve in those jobs."""
    st: dict[str, int] = {}
    obs: dict[str, Observation] = {}
    cached = []

    def stage(name, df, persist=True):
        if stats:
            obs[name] = Observation(f"curate_{name}")
            df = df.observe(obs[name], F.count(F.lit(1)).alias("n"))
        if persist:
            # read by two branches below (a keep-list and the join it
            # filters, or a rewrite's two passes): compute it once
            df = df.persist()
            cached.append(df)
        return df

    has_lang = "lang" in docs.columns
    if blocklist is not None:
        from pdf_to_text_extraction_service_spark.operators.domains \
            import filter_blocked_domains

        docs = filter_blocked_domains(docs, blocklist)
    base = docs.filter(
        (F.col("success") if "success" in docs.columns else F.lit(True))
        & F.col("text").isNotNull() & (F.col("text") != "")
    ).select(
        F.xxhash64("url").alias("doc_id"), "url", "text",
        *([F.col("lang").alias("_lang_meta")] if has_lang else []),
    ).dropDuplicates(["doc_id"])
    # dropDuplicates guards every downstream doc_id equi-join against
    # multiplicative blowup from repeated urls (e.g. extract runs with
    # --no-dedup, or unions of runs) and from 64-bit id collisions;
    # a collision conflates two docs (~2^-64/pair) rather than
    # exploding the join
    base = stage("gated", base, persist=False)

    if langs:
        # prefer upstream metadata (crawl header / source label);
        # fall back to the engine's stopword detector per row
        lang_col = F.coalesce(
            F.col("_lang_meta") if has_lang else F.lit(None),
            F.col("lang_guess"))
        base = stage("language", lang_id(base).filter(
            lang_col.isin(*langs)), persist=False)

    q = quality_udf(min_words)(F.col("text"))
    base = stage("quality", base.withColumn("_q", q).filter(
        (~F.col("_q.needs_ocr")) & (F.col("_q.quality") >= min_quality)
        & (F.col("_q.word_count") >= min_words)
    ).select("doc_id", "url", "text"))

    keep_e = exact_dedup(base).select("doc_id")
    base = stage("exact_dedup", base.join(keep_e, "doc_id"))

    if embeddings is not None:
        # SemDeDup-style semantic dedup (operators/semdedup.py):
        # ``embeddings`` maps doc ids to vectors under the SAME id
        # space as `docs.url` hashed above — callers pass
        # (url, embedding) and we key it identically.  Only ids
        # still alive reach the clusterer; the removed set comes
        # back as a broadcast-size scalar list.
        from pdf_to_text_extraction_service_spark.operators.semdedup \
            import semantic_dedup

        emb = embeddings.select(
            F.xxhash64("url").alias("doc_id"), "embedding",
        ).join(base.select("doc_id"), "doc_id")
        removed = semantic_dedup(
            emb, k=sem_k, threshold=sem_threshold,
            id_col="doc_id", vec_col="embedding",
        ).select("doc_id")
        base = stage("semantic_dedup",
                     base.join(removed, "doc_id", "left_anti"))

    def rewritten(df):
        return df.filter(F.col("text_out") != "").select(
            "doc_id", "url", F.col("text_out").alias("text"))

    base = stage("paragraph_dedup", rewritten(paragraph_dedup(base)))
    if span_removal:
        base = stage("span_removal",
                     rewritten(remove_duplicated_spans(base)))

    if benchmark is not None:
        from pdf_to_text_extraction_service_spark.operators.decontam \
            import benchmark_overlap

        flags = benchmark_overlap(base, benchmark)
        clean = flags.filter(~F.col("contaminated")).select("doc_id")
        base = stage("decontam", base.join(clean, "doc_id"))

    out = pack_sequences(base, budget=seq_len).select(
        "seq_id", "seq_offset", "url", "doc_id", "n_tokens", "text")
    if stats:
        # `sequences` = max(seq_id)+1, the number of packed sequences
        # produced (a doc longer than seq_len fills sequences no row
        # starts in, so a distinct count of starts would undercount;
        # max+1 is the physical chunk count and is
        # observation-expressible)
        ob_out = Observation("curate_out")
        out = out.observe(ob_out, F.max("seq_id").alias("max_seq"))
    # the one action: it materializes every stage (each exactly once
    # via its persist), fires every observation, and truncates lineage
    # so the stage caches can be released now
    out = out.localCheckpoint(eager=True)
    for df in cached:
        df.unpersist()
    if stats:
        st = {name: ob.get["n"] for name, ob in obs.items()}
        mx = ob_out.get["max_seq"]
        st["sequences"] = 0 if mx is None else int(mx) + 1
    return out, st


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--langs", default=None,
                    help="comma-separated language allowlist")
    ap.add_argument("--min-words", type=int, default=20)
    ap.add_argument("--min-quality", type=float, default=0.0)
    ap.add_argument("--seq-len", type=int, default=1024)
    ap.add_argument("--benchmark", default=None,
                    help="parquet with a text column to decontaminate "
                         "against")
    ap.add_argument("--embeddings", default=None,
                    help="parquet with (url, embedding) columns; "
                         "enables the SemDeDup-style semantic-dedup "
                         "stage (operators/semdedup.py)")
    ap.add_argument("--sem-threshold", type=float, default=0.95)
    ap.add_argument("--sem-k", type=int, default=64)
    ap.add_argument("--blocklist", default=None,
                    help="parquet with a 'domain' column; docs whose "
                         "registered domain matches are dropped at "
                         "the gate (broadcast anti-join)")
    ap.add_argument("--no-span-removal", action="store_true")
    args = ap.parse_args()

    spark = build_session(app_name="curate-job")
    docs = spark.read.option("recursiveFileLookup", "true") \
        .parquet(args.input)
    bench = spark.read.parquet(args.benchmark) if args.benchmark \
        else None
    out, st = curate(
        spark, docs,
        langs=args.langs.split(",") if args.langs else None,
        min_words=args.min_words, min_quality=args.min_quality,
        seq_len=args.seq_len, benchmark=bench,
        blocklist=(spark.read.parquet(args.blocklist)
                   if args.blocklist else None),
        embeddings=(spark.read.parquet(args.embeddings)
                    if args.embeddings else None),
        sem_threshold=args.sem_threshold, sem_k=args.sem_k,
        span_removal=not args.no_span_removal,
    )
    out.repartition("seq_id").sortWithinPartitions(
        "seq_id", "seq_offset").write.mode("overwrite") \
        .parquet(args.output)
    st["written"] = spark.read.parquet(args.output).count()
    print(json.dumps({"stages": st, "output": args.output}))
    spark.stop()


if __name__ == "__main__":
    main()
