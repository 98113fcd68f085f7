"""Corpus tokenization: the one whitespace tokenizer every text operator
uses, its DuckDB twin for the oracles, the word-3-gram shingles built on
it, and the per-document term-count table the lexical rankers share.

A token is a maximal run of non-whitespace in the lower-cased text, split
on `\\s+` with empty strings kept (a leading or trailing blank yields a
'' token in both engines, so the empty token counts wherever tokens are
counted). `TOKENS` is a Spark SQL expression string: splice it into
`selectExpr`/`F.expr` text, or use `F.expr(TOKENS)` where a Column is
needed. `SQL_TOKENS` is the same split in DuckDB's dialect, for oracle SQL
that interpolates it; oracles that spell the split inline keep their own
text.

The two engines agree exactly on ASCII text without `\\x0b`, which is
what the fixtures hold (tests/test_fixture_contract.py checks it, and
tests/test_expr_properties.py property-tests the agreement). Outside that
domain they diverge:

* `\\x0b` (vertical tab): Java's `\\s` includes it, so Spark splits on it;
  DuckDB's RE2 `\\s` does not, so the token stays whole.
* `İx` (U+0130 then x): DuckDB lowercases it to `ix`, Spark to `i̇x`
  (i + U+0307 combining dot above).
* Unicode spaces (`\\xa0`, `\\u2003`, `\\x85`, `\\x1c`, ...): neither engine
  splits on them. Python's default `re` `\\s` does, so a Python twin must
  compile its pattern with `re.ASCII` (the `[ \\t\\n\\x0b\\f\\r]` set Java
  uses).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cache import scoped_persist

TOKENS = "split(lower(text), '\\\\s+')"
SQL_TOKENS = "regexp_split_to_array(lower(text), '\\s+')"

# Distinct word-3-gram shingles. The Spark form reads a pre-materialized
# `toks` column, NOT the raw split expression: the three array indexes
# inside the lambda would each re-evaluate the split per shingle (Catalyst
# inlines the substituted tree into the lambda body), which measured ~2x
# slower than splitting once in a prior projection. Spark array indexing
# `t[i]` is 0-based; DuckDB list indexing is 1-based.
_SHINGLES_FROM_TOKS = (
    "array_distinct(transform(sequence(0, size(toks) - 3),"
    " i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2])))"
)
_SQL_SHINGLES = (
    "list_distinct(list_transform(range(len({t}) - 2),"
    " i -> {t}[i + 1] || ' ' || {t}[i + 2] || ' ' || {t}[i + 3]))"
).format(t=SQL_TOKENS)


def term_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, token, tf): occurrences of each non-empty token per doc,
    scoped-persisted because every caller reads it more than once (the
    probe and the df build at least; column pruning makes those subtrees
    differ, so exchange reuse never folds them). Per the functions/cache.py
    contract the caller's first statement is `release_persisted()`."""
    return scoped_persist(
        docs.select("doc_id", F.explode(F.expr(TOKENS)).alias("token"))
        .where("token <> ''")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
