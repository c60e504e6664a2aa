"""JVM-expression reference for ``operators/decontam.ngram_rows`` in
distinct mode."""

from __future__ import annotations


def grams(tokens_col: str, n: int) -> str:
    """Distinct word n-grams of a pre-split token array column; a text
    with fewer than ``n`` tokens has none."""
    return (
        f"case when size({tokens_col}) >= {n} then "
        f"array_distinct(transform("
        f"sequence(0, size({tokens_col}) - {n}), "
        f"i -> array_join(slice({tokens_col}, i + 1, {n}), ' '))) "
        f"else array() end"
    )


def gram_struct(tokens_col: str, n: int) -> str:
    """array<struct<h1,h2>> of the word n-gram hashes."""
    return (
        f"transform({grams(tokens_col, n)}, s -> struct("
        f"xxhash64(s) as h1, xxhash64(s, 's2') as h2))"
    )
