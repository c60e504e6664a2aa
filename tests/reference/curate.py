"""Stage-by-stage reference for ``jobs/curate.py``'s ``curate``: every
stage filters its scores or keep-list out of a separate relation and
joins the survivors back to ``base`` on ``doc_id``, and each stage is
persisted.  ``stats="exact"`` counts every stage with its own
``count()`` action, so the counts do not depend on observation
metrics; the span operator's result is materialized by the caller's
action; packing is the three-level tree of tests/reference/packing.py,
joined back on ``doc_id``.  The package's ``curate`` is pinned to this
chain, rows and stage counts (tests/test_spark_pipeline.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pdf_to_text_extraction_service_spark.operators.dupspans import (
    remove_duplicated_spans,
)
from pdf_to_text_extraction_service_spark.operators.neardup import (
    exact_dedup,
)
from pdf_to_text_extraction_service_spark.operators.paradedup import (
    paragraph_dedup,
)
from pdf_to_text_extraction_service_spark.operators.textstats import (
    lang_id,
    quality_scores,
)
from tests.reference.packing import pack_sequences


def curate(spark, docs, *, langs=None, min_words=20, min_quality=0.0,
           seq_len=1024, benchmark=None, span_removal=True,
           blocklist=None, embeddings=None, sem_threshold=0.95,
           sem_k=64, stats=True):
    """Run the curation chain over ``docs(url, text, ...)``; returns
    (packed DataFrame, stage-stats dict).

    ``stats``:
      True (default) — observation mode: every stage count comes from
        a CollectMetrics node resolved by the ONE materializing action
        (the eager localCheckpoint below), so stats cost nothing extra
        at any scale.  Caveat (ADVICE r7): observation accumulators
        count PARTITION EXECUTIONS — under cache eviction or
        speculative re-execution a recomputed partition is counted
        again, inflating stage stats.  When memory pressure makes
        eviction plausible, validate against --exact-stats on a
        sample (the pytest equality pin covers the no-eviction case);
      "exact" — legacy mode: one count() action per stage (kept for
        the equality pytest and for debugging a single stage);
      False — no stats.
    """
    from pyspark.sql import Observation

    st: dict[str, int] = {}
    _persisted = []
    _obs: dict[str, Observation] = {}
    observe_mode = stats is True or stats == "observe"

    def note(name, df):
        if observe_mode:
            # zero-action stats: a CollectMetrics node above the
            # stage, resolved when the final checkpoint materializes
            # the chain exactly once (each stage is persisted, so its
            # subtree — and its observation — fires once even though
            # dedup stages consume their own input on both join sides)
            ob = Observation(f"curate_{name}")
            df = df.observe(ob, F.count(F.lit(1)).alias("n"))
            _obs[name] = ob
            df = df.persist()
            _persisted.append(df)
        elif stats:
            # persist before counting so each stage count (and the
            # final write) reuses the computed prefix instead of
            # re-running the whole upstream chain per action; once
            # THIS stage is materialized its cache covers the prefix,
            # so the previous stage's cache is released immediately
            # instead of accumulating for the session lifetime
            df = df.persist()
            st[name] = df.count()
            while _persisted:
                _persisted.pop().unpersist()
            _persisted.append(df)
        else:
            # stats off still needs the plan BROKEN per stage: each
            # dedup stage joins a keep-list derived from its own
            # input, so an unpersisted chain re-evaluates the entire
            # upstream tree on BOTH join sides — 2^k duplication
            # (plan audit: 192 source scans / 452 Exchanges for the
            # 6-stage chain; AQE does not dedup them).  A lazy
            # persist makes every stage compute exactly once during
            # the final action; caches are released after the result
            # materializes below.
            df = df.persist()
            _persisted.append(df)
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
    base = note("gated", base)

    if langs:
        # prefer upstream metadata (crawl header / source label);
        # fall back to the engine's stopword detector per row
        guessed = lang_id(base)
        lang_col = F.coalesce(
            F.col("_lang_meta") if has_lang else F.lit(None),
            F.col("lang_guess"))
        base = note("language", guessed.filter(
            lang_col.isin(*langs)).drop("lang_guess"))
    if has_lang:
        base = base.drop("_lang_meta")

    q = quality_scores(base, min_words=min_words)
    keep_q = q.filter(
        (~F.col("needs_ocr")) & (F.col("quality") >= min_quality)
        & (F.col("word_count") >= min_words)
    ).select("doc_id")
    base = note("quality", base.join(keep_q, "doc_id"))

    keep_e = exact_dedup(base).select("doc_id")
    base = note("exact_dedup", base.join(keep_e, "doc_id"))

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
        base = note("semantic_dedup",
                    base.join(removed, "doc_id", "left_anti"))

    paras = paragraph_dedup(base)
    base = note("paragraph_dedup", base.drop("text").join(
        paras.filter(F.col("text_out") != "")
        .select("doc_id", F.col("text_out").alias("text")),
        "doc_id"))

    if span_removal:
        spans = remove_duplicated_spans(base)
        base = note("span_removal", base.drop("text").join(
            spans.filter(F.col("text_out") != "")
            .select("doc_id", F.col("text_out").alias("text")),
            "doc_id"))

    if benchmark is not None:
        from pdf_to_text_extraction_service_spark.operators.decontam \
            import benchmark_overlap

        flags = benchmark_overlap(base, benchmark)
        clean = flags.filter(~F.col("contaminated")).select("doc_id")
        base = note("decontam", base.join(clean, "doc_id"))

    packed = pack_sequences(base, budget=seq_len)
    out = (
        base.join(packed.select("doc_id", "n_tokens", "seq_id",
                                "seq_offset"), "doc_id")
        .select("seq_id", "seq_offset", "url", "doc_id",
                "n_tokens", "text")
    )
    if observe_mode:
        # ONE action total: the eager checkpoint materializes every
        # stage (each exactly once via its persist), fires every
        # observation, and truncates lineage so the stage caches can
        # be released immediately.  `sequences` = max(seq_id)+1, the
        # number of packed sequences produced (a doc longer than
        # seq_len fills sequences no row starts in, so a distinct
        # count of starts would undercount; max+1 is the physical
        # chunk count and is observation-expressible).
        ob_out = Observation("curate_out")
        out = out.observe(ob_out, F.count(F.lit(1)).alias("n"),
                          F.max("seq_id").alias("max_seq"))
        out = out.localCheckpoint(eager=True)
        for name, ob in _obs.items():
            st[name] = ob.get["n"]
        mx = ob_out.get["max_seq"]
        st["sequences"] = 0 if mx is None else int(mx) + 1
        while _persisted:
            _persisted.pop().unpersist()
    elif stats:
        # `out` stays persisted for the caller's write (caller may
        # unpersist after consuming); every intermediate stage cache
        # is released here
        out = out.persist()
        mx = out.agg(F.max("seq_id")).collect()[0][0]
        st["sequences"] = 0 if mx is None else int(mx) + 1
        while _persisted:
            _persisted.pop().unpersist()
    else:
        # materialize the (packed, bounded) result and truncate its
        # lineage so the per-stage caches can be released now rather
        # than leaking for the session lifetime
        out = out.localCheckpoint(eager=True)
        while _persisted:
            _persisted.pop().unpersist()
    return out, st
