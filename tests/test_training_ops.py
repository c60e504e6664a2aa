"""Semantic tests for the training-data operators (dedup family,
similarity search, text stats)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pdf_to_text_extraction_service_spark.operators.neardup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from pdf_to_text_extraction_service_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
)
from pdf_to_text_extraction_service_spark.operators.textstats import (
    doc_fingerprint,
    lang_id,
    quality_scores,
    token_count,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog again and again today"),
    (2, "the quick brown fox jumps over the lazy dog again and again tomorrow"),
    (3, "completely different content about spark partitions and shuffles"),
    (4, "the quick brown fox jumps over the lazy dog again and again today"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup_groups(spark, docs_df):
    rows = {r["doc_id"]: r["dup_count"]
            for r in exact_dedup(docs_df).collect()}
    assert rows == {1: 2, 2: 1, 3: 1}


def test_minhash_finds_planted_pair(spark, docs_df):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in minhash_lsh_pairs(docs_df, threshold=0.5).collect()}
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0
    assert (1, 2) in pairs  # one-word difference → high jaccard
    assert not any({a, b} == {1, 3} for a, b in pairs)


def test_minhash_udf_matches_jvm_signatures(spark):
    """The signature kernel of minhash_prep (_minhash_sig_chunk)
    must be bit-identical to the pure-JVM minhash_signature reference
    (tests/reference/neardup.py) at permutation counts and seeds other
    than the pipeline's, over more shingle ids than one _SIG_BLOCK
    (so a row block boundary is crossed); an empty id array gives
    None."""
    import numpy as np

    from pdf_to_text_extraction_service_spark.operators.neardup import (
        _SIG_BLOCK,
        _minhash_sig_chunk,
        _perm_coeffs,
        shingles_from_tokens,
        tokens_col,
    )
    from pdf_to_text_extraction_service_spark.sources.corpus import (
        load_documents,
    )
    from tests.reference.neardup import minhash_signature, shingle_hashes

    docs = load_documents(spark, "/root/testdata/sf0.001")
    xs = docs.select(
        "doc_id", tokens_col("text").alias("_t")
    ).select(
        "doc_id",
        F.array_distinct(shingles_from_tokens("_t", 3)).alias("_sh"),
    ).select(
        "doc_id", F.array_distinct(shingle_hashes("_sh")).alias("_xs"),
    ).filter(F.size("_xs") > 0)
    for k, seed in ((16, 7), (128, 3)):
        rows = xs.withColumn("jvm", minhash_signature("_xs", k, seed)) \
            .collect()
        # sf0.001 holds < _SIG_BLOCK ids; twice over crosses a block
        rows = rows * 2
        arrays = [np.asarray(r["_xs"], dtype=np.int64) for r in rows]
        assert sum(len(v) for v in arrays) > _SIG_BLOCK
        coeffs = _perm_coeffs(k, seed)
        a = np.array([x for x, _ in coeffs], dtype=np.int64)[:, None]
        b = np.array([y for _, y in coeffs], dtype=np.int64)[:, None]
        got = _minhash_sig_chunk(arrays, a, b)
        assert [list(g) for g in got] == [list(r["jvm"]) for r in rows]
        assert _minhash_sig_chunk(
            [np.array([], dtype=np.int64)], a, b) == [None]


def test_ngram_jaccard_exact(spark, docs_df):
    d = docs_df.withColumn("blk", F.lit(0))
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(d, block_col="blk",
                                          threshold=0.5).collect()}
    assert pairs[(1, 4)] == 1.0
    assert (1, 2) in pairs


def test_simhash_identical_zero_distance(spark, docs_df):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in simhash_pairs(docs_df, max_hamming=10).collect()}
    assert pairs[(1, 4)] == 0
    assert pairs.get((1, 2), 99) <= 10


def test_brute_force_topk_self_first(spark):
    vecs = [(i, [float((i * 7 + j * 3) % 10 - 5) for j in range(8)])
            for i in range(50)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    q = vecs[5][1]
    top = brute_force_topk(df, q, k=5).collect()
    assert top[0]["vec_id"] in (5, 12, 19, 26, 33, 40, 47)  # identical vecs tie
    assert top[0]["cosine"] == pytest.approx(1.0)


def test_lsh_topk_subset_of_brute(spark):
    import random
    rng = random.Random(3)
    vecs = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(200)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    q = vecs[0][1]
    brute = [r["vec_id"] for r in brute_force_topk(df, q, k=20).collect()]
    approx = [r["vec_id"] for r in lsh_topk(df, q, k=5, bits=3).collect()]
    assert approx  # bucket non-empty (query's own vector is in it)
    assert 0 in approx  # self-match survives bucketing
    assert set(approx[:1]) <= set(brute[:1])


def test_lang_id(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog of the house"),
         (2, "der hund und die katze ist nicht da"),
         (3, "xyzzy plugh qwerty")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["lang_guess"] for r in lang_id(df).collect()}
    assert got == {1: "en", 2: "de", 3: "und"}


def test_token_count(spark):
    df = spark.createDataFrame([(1, "ab 12 cd. x")], "doc_id long, text string")
    assert token_count(df).first()["n_tokens"] == 5


def test_fingerprint_stable_under_prefix(spark):
    # min-hash fingerprint of a doc is unchanged when content shifts
    # position (the motivating property for winnowing-style hashing).
    base = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame(
        [(1, base), (2, "zz " + base)], "doc_id long, text string"
    )
    fps = {r["doc_id"]: r["fingerprint"]
           for r in doc_fingerprint(df).collect()}
    # all 4-gram hashes of doc 1 are a subset of doc 2's → min can only
    # decrease; with this fixture the min 4-gram is shared.
    assert fps[1] >= fps[2]


def test_canonical_url_rules(spark):
    from pdf_to_text_extraction_service_spark.operators.urlnorm import (
        with_canonical_url,
    )
    cases = [
        ("HTTPS://WWW.Example.COM:443/A/B?z=1&a=2#frag",
         "https://www.example.com/A/B?a=2&z=1"),
        ("http://host.test:80/", "http://host.test/"),
        ("http://host.test:8080/x", "http://host.test:8080/x"),
        ("https://host.test", "https://host.test/"),
        ("http://h.test/p?utm_source=x&utm_medium=y", "http://h.test/p"),
        ("not a url", "not a url"),  # schemeless passthrough
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r["canonical_url"]
           for r in with_canonical_url(df).collect()]
    assert got == [want for _, want in cases]


def test_quality_scores_batch(spark):
    df = spark.createDataFrame(
        [(1, "The quick brown fox jumps over the lazy dog while the sun "
             "sets behind distant mountains and rivers flow gently."),
         (2, "@#$% ^&*()!!")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in quality_scores(df).collect()}
    assert not got[1]["needs_ocr"]
    assert got[2]["needs_ocr"]


def test_embedding_neardup_pairs_planted(spark):
    """LSH-blocked cosine near-dup must find planted near-identical
    vectors and nothing else (random 8-dim pairs stay far from 0.99)."""
    import random

    from pdf_to_text_extraction_service_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    rng = random.Random(3)
    rows = []
    for i in range(40):
        v = [rng.gauss(0, 1) for _ in range(8)]
        rows.append((i, v))
        rows.append((i + 1000, [x * (1.02 if j == 0 else 1.0)
                                for j, x in enumerate(v)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {(r["id_a"], r["id_b"]): r["cosine"]
             for r in embedding_neardup_pairs(df, threshold=0.99).collect()}
    assert set(pairs) == {(i, i + 1000) for i in range(40)}
    assert all(c >= 0.99 for c in pairs.values())


def test_simhash_udf_matches_jvm_signatures(spark):
    """simhash64_text_udf must be bit-identical to the pure-JVM
    simhash64 expression (tests/reference/neardup.py) on the corpus
    and on empty, all-space, space-run and astral-plane text, one
    20,000-char token and a 5,000-token document; on NULL text the
    JVM gives NULL and the UDF gives -1."""
    from pdf_to_text_extraction_service_spark.operators.neardup import (
        simhash64_text_udf,
    )
    from pdf_to_text_extraction_service_spark.sources.corpus import (
        load_documents,
    )
    from tests.reference.neardup import simhash64

    docs = load_documents(spark, "/root/testdata/sf0.001")
    edge = spark.createDataFrame(
        [(9000, ""), (9001, " "), (9002, "a  b   c"),
         (9003, "emoji 🙂 rocket 🚀 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 end"), (9004, None),
         (9005, "short " + "y" * 20000 + " tail"),
         (9006, " ".join(f"t{i % 97}" for i in range(5000)))],
        "doc_id long, text string")
    rows = docs.select("doc_id", "text").unionByName(edge).select(
        "doc_id",
        simhash64("text").alias("jvm"),
        simhash64_text_udf()(F.col("text")).alias("np"),
    ).collect()
    got = {r["doc_id"]: r["np"] for r in rows}
    want = {r["doc_id"]: r["jvm"] for r in rows}
    assert want.pop(9004) is None and got.pop(9004) == -1
    assert got == want and len(got) == 506


def _peak_mb(udf, texts: list) -> float:
    """Peak traced allocation, in MB, of one call of an Arrow UDF's
    body on ``texts``."""
    import tracemalloc

    import pyarrow as pa

    arr = pa.array(texts, pa.string())
    tracemalloc.start()
    try:
        udf.func(arr)
        return tracemalloc.get_traced_memory()[1] / 2**20
    finally:
        tracemalloc.stop()


def test_simhash_udf_memory_follows_characters(spark):
    """The SimHash fold holds O(characters) whatever the longest
    token: 20 documents of 200 tokens and one 20,000-char token stay
    a few MB (a fold over a tokens x longest-token matrix peaks at
    hundreds of MB on them)."""
    from pdf_to_text_extraction_service_spark.operators.neardup import (
        simhash64_text_udf,
    )

    docs = [" ".join(f"w{i}x{j}" for j in range(200)) for i in range(20)]
    assert _peak_mb(simhash64_text_udf(), docs + ["y" * 20000]) < 32


def test_fingerprint_udf_memory_follows_characters(spark):
    """The fingerprint prefix-hash fold holds O(characters) whatever
    the longest document: 100 documents of 100 tokens and one of
    100,000 chars stay a few MB (two rows x longest-document matrices
    peak at over 150 MB on them)."""
    from pdf_to_text_extraction_service_spark.operators.textstats import (
        fingerprint_udf,
    )

    docs = [" ".join(f"w{i}x{j}" for j in range(100)) for i in range(100)]
    assert _peak_mb(fingerprint_udf(), docs + ["z" * 100000]) < 32


def test_remove_boilerplate_lines(spark):
    from pdf_to_text_extraction_service_spark.operators.boilerplate import (
        frequent_lines,
        remove_boilerplate_lines,
    )

    rows = [(i, f"unique line {i}\nsubscribe now\nmore unique {i}")
            for i in range(12)]
    rows.append((99, "only unique content here"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    freq = {r["line"]: r["n_docs"]
            for r in frequent_lines(df, min_docs=10).collect()}
    assert freq == {"subscribe now": 12}

    out = {r["doc_id"]: r for r in
           remove_boilerplate_lines(df, min_docs=10).collect()}
    assert out[3]["clean_text"] == "unique line 3\nmore unique 3"
    assert out[3]["n_removed"] == 1
    assert out[99]["clean_text"] == "only unique content here"
    assert out[99]["n_removed"] == 0


def test_remove_boilerplate_doc_fully_boilerplate(spark):
    """A document that is nothing but frequent lines must survive as
    an empty clean_text row, not disappear."""
    from pdf_to_text_extraction_service_spark.operators.boilerplate import (
        remove_boilerplate_lines,
    )

    rows = [(i, "spam line") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           remove_boilerplate_lines(df, min_docs=10).collect()}
    assert len(out) == 10
    assert all(r["clean_text"] == "" and r["n_removed"] == 1
               for r in out.values())


def test_scrub_pii_patterns(spark):
    from pdf_to_text_extraction_service_spark.operators.scrub import (
        scrub_pii,
    )

    df = spark.createDataFrame(
        [(1, "mail a.b+c@sub.example.org now"),
         (2, "server at 192.168.001.1 up"),
         (3, "call +44 20 7946 0958 today"),
         (4, "clean text, no pii at all"),
         (5, "version 1.2.3 is not an ip")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["scrubbed"] for r in scrub_pii(df).collect()}
    assert got[1] == "mail <EMAIL> now"
    assert got[2] == "server at <IP> up"
    assert got[3] == "call <PHONE> today"
    assert got[4] == "clean text, no pii at all"
    assert got[5] == "version 1.2.3 is not an ip"


def test_stratified_sample_rates_and_determinism(spark):
    from pdf_to_text_extraction_service_spark.operators.scrub import (
        stratified_sample,
    )

    rows = [(i, "en" if i % 2 == 0 else "de") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = stratified_sample(df, "cast(doc_id as string)", "lang",
                            {"en": 0.25}, default_rate=0.75, salt=3)
    got = {(r["doc_id"], r["lang"]) for r in out.collect()}
    again = {(r["doc_id"], r["lang"])
             for r in stratified_sample(
                 df, "cast(doc_id as string)", "lang",
                 {"en": 0.25}, default_rate=0.75, salt=3).collect()}
    assert got == again  # deterministic: identical rows on rerun
    en = sum(1 for _, lg in got if lg == "en") / 1000
    de = sum(1 for _, lg in got if lg == "de") / 1000
    assert 0.20 < en < 0.30, en
    assert 0.70 < de < 0.80, de
    # a different salt draws a different (but equally sized) sample
    other = {(r["doc_id"], r["lang"])
             for r in stratified_sample(
                 df, "cast(doc_id as string)", "lang",
                 {"en": 0.25}, default_rate=0.75, salt=4).collect()}
    assert other != got


def test_repetition_stats_signals(spark):
    from pdf_to_text_extraction_service_spark.operators.textstats import (
        repetition_stats,
    )

    df = spark.createDataFrame(
        [(1, "a b\na b\nc d"),           # 1 dup line of 3
         (2, "x y x y x y x y"),          # 'y x' appears 3x of 7 bigrams
         (3, "all words unique here ok")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert got[1]["dup_line_frac"] == round(1 / 3, 6)
    assert got[3]["dup_line_frac"] == 0.0
    assert got[3]["dup_trigram_frac"] == 0.0
    # doc 2 bigrams: [x y, y x, x y, y x, x y, y x, x y] → top 'x y' 4/7
    assert got[2]["top_bigram_frac"] == round(4 / 7, 6)
    assert got[2]["dup_trigram_frac"] > 0.5


def test_normalize_nfc(spark):
    from pdf_to_text_extraction_service_spark.operators.scrub import (
        normalize_nfc,
    )

    df = spark.createDataFrame(
        [(1, "café"), (2, "plain"), (3, None)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["nfc_text"] for r in normalize_nfc(df).collect()}
    assert got[1] == "café"    # combining acute composed
    assert got[2] == "plain"
    assert got[3] is None


def test_fingerprint_udf_bit_identical_to_jvm(spark):
    """The vectorized prefix-hash fingerprint must equal the retained
    JVM HOF expression bit-for-bit — including empty strings, space
    runs (empty tokens), nulls, astral codepoints (Java regex
    split('') is codepoint-aware, as is the UTF-32 numpy path), a
    100,000-char token and a 20,000-token document."""
    from pdf_to_text_extraction_service_spark.operators.textstats import (
        doc_fingerprint,
    )
    from tests.reference.textstats import doc_fingerprint_jvm

    rows = [(0, ""), (1, "single"), (2, "a  b   c"),
            (3, " lead and trail "), (4, None),
            (5, "中文 文本 многоязычный тест emoji 🙂 end"),
            (6, "🙂"), (7, "a 🙂 b 🚀 c"), (8, "x" * 500 + " y z w v"),
            (9, "z" * 100000 + " a b c d"),
            (10, " ".join(f"t{i % 97}" for i in range(20000)))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {r["doc_id"]: r["fingerprint"]
         for r in doc_fingerprint(df).collect()}
    b = {r["doc_id"]: r["fingerprint"]
         for r in doc_fingerprint_jvm(df).collect()}
    assert a == b

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
    a = {r["doc_id"]: r["fingerprint"] for r in
         doc_fingerprint(docs).select("doc_id", "fingerprint")
         .collect()}
    b = {r["doc_id"]: r["fingerprint"] for r in
         doc_fingerprint_jvm(docs).select("doc_id", "fingerprint")
         .collect()}
    assert a == b


def test_paragraph_dedup_first_occurrence_wins(spark):
    from pdf_to_text_extraction_service_spark.operators.paradedup import (
        paragraph_dedup,
    )

    docs = spark.createDataFrame(
        [
            (0, "alpha\n\nSHARED\n\nbeta"),
            (1, "SHARED\n\ngamma"),
            (2, "SHARED"),          # every paragraph is a dup
            (3, "delta\n\ndelta"),  # within-doc dup: first pos wins
            (4, ""),                # empty doc: [''] — kept once...
            (5, ""),                # ...second empty doc drops it
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in paragraph_dedup(docs).collect()}
    assert out[0]["text_out"] == "alpha\n\nSHARED\n\nbeta"
    assert out[0]["n_paras"] == 3 and out[0]["n_kept"] == 3
    assert out[1]["text_out"] == "gamma"
    assert out[1]["n_kept"] == 1
    assert out[2]["text_out"] == "" and out[2]["n_kept"] == 0
    assert out[3]["text_out"] == "delta" and out[3]["n_kept"] == 1
    assert out[4]["text_out"] == "" and out[4]["n_kept"] == 1
    assert out[5]["text_out"] == "" and out[5]["n_kept"] == 0


def test_paragraph_dedup_deterministic_across_parallelism(spark):
    from pdf_to_text_extraction_service_spark.operators.paradedup import (
        paragraph_dedup,
    )

    docs = spark.createDataFrame(
        [(i, f"own {i}\n\nbanner {i % 3}\n\ncommon") for i in range(60)],
        "doc_id long, text string",
    )
    a = sorted(paragraph_dedup(docs).collect())
    b = sorted(paragraph_dedup(docs.repartition(7)).collect())
    assert a == b
    # 'common' survives only in doc 0; banners in docs 0,1,2
    rows = {r["doc_id"]: r for r in a}
    assert rows[0]["n_kept"] == 3
    assert rows[1]["n_kept"] == 2 and rows[2]["n_kept"] == 2
    assert all(rows[i]["n_kept"] == 1 for i in range(3, 60))


def test_paragraph_dedup_hotkey_skew_partial_agg(spark):
    """One paragraph repeated 10^5 times must NOT concentrate on a
    single reducer: the keeper decision is a groupBy min(struct),
    which partial-aggregates map-side (the paragraph_dedup row of
    tests/test_plan_contracts.py), unlike a row_number window on the
    paragraph hash."""
    from pdf_to_text_extraction_service_spark.operators.paradedup import (
        paragraph_dedup,
    )

    n = 100_000
    docs = (
        spark.range(n)
        .select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("unique "), F.col("id").cast("string"),
                     F.lit("\n\nHOT BOILERPLATE")).alias("text"),
        )
        .repartition(16)
    )
    rows = paragraph_dedup(docs).agg(
        F.sum("n_kept").alias("kept"),
        F.sum(F.when(F.col("text_out").contains("HOT"), 1)
              .otherwise(0)).alias("hot_survivors"),
    ).collect()[0]
    assert rows["kept"] == n + 1  # every unique para + one HOT
    assert rows["hot_survivors"] == 1


def test_duplicated_span_stats(spark):
    from pdf_to_text_extraction_service_spark.operators.dupspans import (
        duplicated_span_stats,
    )

    shared = " ".join(f"w{i}" for i in range(13))
    unique = lambda s, n: " ".join(f"{s}{i}" for i in range(n))  # noqa: E731
    docs = spark.createDataFrame(
        [
            (0, shared + " " + unique("a", 13)),   # shares w/ doc 1
            (1, unique("b", 13) + " " + shared),
            (2, unique("c", 30)),                  # all unique
            (3, shared),                           # 100% duplicated
            (4, "too short"),                      # < 13 tokens
            (5, shared + " " + shared),            # within-doc repeat
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           duplicated_span_stats(docs, n=13, min_count=2).collect()}
    assert out[3]["dup_windows"] == 1 and out[3]["total_windows"] == 1
    assert out[3]["dup_heavy"]
    assert out[2]["dup_windows"] == 0 and not out[2]["dup_heavy"]
    assert out[4]["total_windows"] == 0 and not out[4]["dup_heavy"]
    # docs 0/1 share the sentinel window; their unique windows are not
    # counted, so they are not dup-heavy
    assert out[0]["dup_windows"] >= 1 and not out[0]["dup_heavy"]
    assert out[1]["dup_windows"] >= 1
    # within-doc repetition alone reaches min_count
    assert out[5]["dup_windows"] >= 1


def test_duplicated_span_text_never_shuffles(plan_row):
    """The document text crosses only the width guard (a hash
    repartition on ``_id`` ahead of the n-gram passes); only hash and
    count scalars shuffle after them."""
    plan_row("duplicated_span_stats")


def test_domain_stats_etld_and_majority(spark):
    from pdf_to_text_extraction_service_spark.operators.domains import (
        domain_stats,
        registered_domain_col,
    )
    from pyspark.sql import functions as F

    rows = [
        ("https://www.bbc.co.uk/news/1", "en", 100),
        ("https://cdn.bbc.co.uk/x", "en", 200),
        ("https://news.bbc.co.uk/y", "fr", 300),
        ("https://example.com/a", "de", 50),
        ("https://www.example.com:8080/b?q=1#f", "de", 150),
        ("https://localhost/c", "en", 10),       # single label
        ("https://sub.deep.example.org/d", "es", 75),
    ]
    df = spark.createDataFrame(rows, "url string, lang string, n_chars long")
    doms = {r["url"]: r["d"] for r in df.select(
        "url", registered_domain_col("url").alias("d")).collect()}
    assert doms["https://www.bbc.co.uk/news/1"] == "bbc.co.uk"
    assert doms["https://example.com/a"] == "example.com"
    # single-label hosts fall under the PSL implicit '*' rule: no
    # registrable domain (r6 — previously aggregated as themselves)
    assert doms["https://localhost/c"] is None
    assert doms["https://sub.deep.example.org/d"] == "example.org"
    # port stripped? host regex keeps ':8080' out of the host
    assert doms["https://www.example.com:8080/b?q=1#f"] == "example.com"

    out = {r["domain"]: r for r in domain_stats(df).collect()}
    bbc = out["bbc.co.uk"]
    assert bbc["n_docs"] == 3 and bbc["n_hosts"] == 3
    assert bbc["top_lang"] == "en"
    assert abs(bbc["avg_chars"] - 200.0) < 1e-9
    ex = out["example.com"]
    assert ex["n_docs"] == 2 and ex["n_hosts"] == 2
    assert ex["top_lang"] == "de"


def test_registered_domain_psl_snapshot_rules(spark):
    """PSL snapshot: 2-label / 3-label rules, wildcard TLDs,
    exception rules, and the hostless-URL drop."""
    from pdf_to_text_extraction_service_spark.operators.domains import (
        domain_stats,
        registered_domain_col,
    )

    cases = {
        "https://shop.trademe.co.nz/a": "trademe.co.nz",
        "https://www.straitstimes.com.sg/b": "straitstimes.com.sg",
        "https://portal.smmusd.k12.ca.us/c": "smmusd.k12.ca.us",
        "https://web.mit.edu/d": "mit.edu",          # unknown 2-label TLD
        "https://x.y.gov.za/e": "y.gov.za",
        # wildcard *.ck: any 2nd-level label is a suffix
        "https://www.cockatoo.bird.ck/f": "cockatoo.bird.ck",
        # exception !www.ck: registrable at 2 labels
        "https://pages.www.ck/g": "www.ck",
        "https://WWW.BBC.CO.UK/h": "bbc.co.uk",      # case folding
        # r6: suffix-only hosts have NO registrable domain (PSL
        # consumer semantics) — NULL, dropped from rollups
        "https://co.uk/i": None,
        "https://k12.ca.us/j": None,
        "https://bird.ck/k": None,                   # *.ck wildcard
        "https://com/l": None,                       # bare TLD
        "https://www.ck/m": "www.ck",                # exception stays
    }
    df = spark.createDataFrame([(u,) for u in cases], "url string")
    got = {r["url"]: r["d"] for r in df.select(
        "url", registered_domain_col("url").alias("d")).collect()}
    for url, want in cases.items():
        assert got[url] == want, (url, got[url], want)

    # hostless inputs and suffix-only hosts never reach the rollup
    rows = [("https://a.example.com/x", "en", 10),
            ("a.example.com/no-scheme", "en", 99),
            ("https://co.uk/suffix-only", "en", 99),
            ("/relative/link", "fr", 99)]
    df2 = spark.createDataFrame(
        rows, "url string, lang string, n_chars long")
    out = domain_stats(df2).collect()
    assert len(out) == 1 and out[0]["domain"] == "example.com"
    assert out[0]["n_docs"] == 1


def test_domain_stats_tie_breaks_to_largest_lang(spark):
    from pdf_to_text_extraction_service_spark.operators.domains import (
        domain_stats,
    )

    rows = [("https://a.test/1", "en", 1), ("https://a.test/2", "fr", 1)]
    df = spark.createDataFrame(rows, "url string, lang string, n_chars long")
    out = domain_stats(df).collect()
    assert out[0]["top_lang"] == "fr"  # max_by struct(cnt, lang) tie rule


def test_remove_duplicated_spans(spark):
    from pdf_to_text_extraction_service_spark.operators.dupspans import (
        remove_duplicated_spans,
    )

    shared = " ".join(f"w{i}" for i in range(13))
    docs = spark.createDataFrame(
        [
            (0, shared + " tail0"),          # canonical copy: kept
            (1, "head1 " + shared),          # later copy removed
            (2, "unique tokens only here"),
            (3, shared + " " + shared),      # fully duplicated
            (4, "short text"),               # < n tokens
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r
           for r in remove_duplicated_spans(docs).collect()}
    assert out[0]["text_out"] == shared + " tail0"
    assert out[0]["n_removed"] == 0
    assert out[1]["text_out"] == "head1" and out[1]["n_removed"] == 13
    assert out[2]["text_out"] == "unique tokens only here"
    assert out[3]["text_out"] == "" and out[3]["n_removed"] == 26
    assert out[4]["text_out"] == "short text"
    assert out[4]["n_removed"] == 0


def test_remove_spans_overlap_merge(spark):
    from pdf_to_text_extraction_service_spark.operators.dupspans import (
        remove_duplicated_spans,
    )

    # overlapping duplicated windows must merge, not double-count
    block = " ".join(f"b{i}" for i in range(14))  # 2 windows, overlap
    docs = spark.createDataFrame(
        [(0, block), (1, "x " + block + " y")],
        "doc_id long, text string")
    out = {r["doc_id"]: r
           for r in remove_duplicated_spans(docs).collect()}
    assert out[1]["text_out"] == "x y"
    assert out[1]["n_removed"] == 14  # merged interval, not 26
    assert out[0]["n_removed"] == 0


def test_robots_meta_gate(spark):
    from pdf_to_text_extraction_service_spark.operators.robots import (
        drop_noindex,
        robots_flags,
    )

    rows = [
        (0, b"<html><head></head><body>x</body></html>"),
        (1, b'<head><meta name="robots" content="index,follow"></head>'),
        (2, b'<head><META NAME="ROBOTS" CONTENT="NOINDEX"></head>'),
        (3, b'<head><meta name="robots" content="none"></head>'),
        (4, b"<head><meta name='robots' content='nofollow, noarchive'>"),
        (5, b'<head><meta name="robots" content="NoIndex , nofollow">'),
        # description meta must NOT match
        (6, b'<head><meta name="description" content="noindex stuff">'),
        # r6: unquoted content value
        (7, b"<head><meta name=robots content=noindex></head>"),
        # r6: reversed attribute order (content before name)
        (8, b'<head><meta content="noindex,nofollow" name="robots">'),
        (9, b"<head><meta content=none name=robots></head>"),
        # unquoted self-closing: '/' must not join the token
        (10, b"<head><meta name=robots content=noindex/></head>"),
        # reversed-order description must NOT match
        (11, b'<head><meta content="noindex" name="description">'),
    ]
    df = spark.createDataFrame(rows, "doc_id long, html binary")
    got = {r["doc_id"]: (r["noindex"], r["nofollow"])
           for r in robots_flags(df).collect()}
    assert got == {0: (0, 0), 1: (0, 0), 2: (1, 0), 3: (1, 1),
                   4: (0, 1), 5: (1, 1), 6: (0, 0), 7: (1, 0),
                   8: (1, 1), 9: (1, 1), 10: (1, 0), 11: (0, 0)}
    kept = sorted(r["doc_id"] for r in drop_noindex(df).collect())
    assert kept == [0, 1, 4, 6, 11]


def test_robots_header_gate(spark):
    from pdf_to_text_extraction_service_spark.operators.robots import (
        drop_noindex,
        robots_flags,
    )

    rows = [
        (0, b"<head></head>", None),
        (1, b"<head></head>", "noindex"),
        (2, b"<head></head>", "NONE"),
        (3, b"<head></head>", "nofollow, noarchive"),
        # meta OR header — either source sets the flag
        (4, b'<head><meta name="robots" content="noindex">', "nofollow"),
        # agent-prefixed forms are out of the gate subset (documented)
        (5, b"<head></head>", "googlebot: noindex"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, html binary, hdr string")
    got = {r["doc_id"]: (r["noindex"], r["nofollow"])
           for r in robots_flags(df, headers_col="hdr").collect()}
    assert got == {0: (0, 0), 1: (1, 0), 2: (1, 1), 3: (0, 1),
                   4: (1, 1), 5: (0, 0)}
    kept = sorted(r["doc_id"] for r in
                  drop_noindex(df, headers_col="hdr").collect())
    assert kept == [0, 3, 5]


def test_filter_blocked_domains_broadcast_anti(spark):
    from pdf_to_text_extraction_service_spark.operators.domains import (
        filter_blocked_domains,
    )

    docs = spark.createDataFrame(
        [(0, "https://www.spam.co.nz/a"),
         (1, "https://cdn.SPAM.co.nz/b"),     # case-folded host
         (2, "https://keep.example.com/c"),
         (3, "https://sub.deep.keep.example.com/d"),  # same eTLD+1 kept
         (4, "https://blocked.com/e")],
        "doc_id long, url string")
    bl = spark.createDataFrame(
        [("spam.co.nz",), ("Blocked.com",)], "domain string")
    out = filter_blocked_domains(docs, bl)
    assert sorted(r["doc_id"] for r in out.collect()) == [2, 3]
