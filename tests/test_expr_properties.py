"""Property tests for the per-row expression folds (hypothesis): the Spark
SQL expressions must agree with a plain-Python reference on arbitrary token
lists, not just fixture text. Complements tests/test_extract_properties.py
(AST extractor) per the SURVEY §5 strategy of property-testing the pure
per-row kernels."""

from __future__ import annotations

from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ai_metadata_lineage_pyspark_spark.operators.text import _BIGRAMS, _TOP_RUN_FOLD

_TOKENS_ST = st.lists(
    st.sampled_from(["a", "b", "ab", "x", "long-token", ""]), min_size=1, max_size=30
)

_SETTINGS = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _eval_over_toks(spark, toks, expr):
    df = spark.createDataFrame([(toks,)], "toks: array<string>")
    return df.selectExpr(f"{expr} AS out").collect()[0]["out"]


@given(toks=_TOKENS_ST)
@_SETTINGS
def test_top_run_fold_equals_counter_max(spark, toks):
    got = _eval_over_toks(spark, toks, _TOP_RUN_FOLD)
    assert got == max(Counter(toks).values())


@given(toks=st.lists(st.sampled_from(["a", "b", "c"]), min_size=2, max_size=25))
@_SETTINGS
def test_distinct_bigram_count_matches_python(spark, toks):
    got = _eval_over_toks(spark, toks, f"size(array_distinct({_BIGRAMS}))")
    expect = len({(toks[i], toks[i + 1]) for i in range(len(toks) - 1)})
    assert got == expect


@given(doc_id=st.integers(min_value=0, max_value=2**40))
@_SETTINGS
def test_sample_bucket_in_range_and_deterministic(spark, doc_id):
    from ai_metadata_lineage_pyspark_spark.operators.sampling import _BUCKET_SPARK

    df = spark.createDataFrame([(doc_id,)], "doc_id: long")
    a = df.selectExpr(f"{_BUCKET_SPARK} AS b").collect()[0]["b"]
    b = df.selectExpr(f"{_BUCKET_SPARK} AS b").collect()[0]["b"]
    assert a == b
    assert 0 <= a < 100


# ---------------------------------------------------------------------------
# dot_unrolled_expr ≡ dot_expr (r13): the codegen-unrolled pair-stage dot
# product must be BIT-identical to the HOF fold it replaces — same per-
# element double products, same left-associated IEEE adds. Checked two ways:
# hypothesis-random float vectors (adversarial magnitudes/signs), and the
# full fixture embeddings table against itself shifted (real data, all 64
# dims, exact equality — no tolerance).
# ---------------------------------------------------------------------------

_VEC_ST = st.lists(
    st.floats(
        min_value=-1e6, max_value=1e6, allow_nan=False, width=32
    ),
    min_size=8,
    max_size=8,
)


@given(a=_VEC_ST, b=_VEC_ST)
@_SETTINGS
def test_dot_unrolled_bitwise_equals_fold(spark, a, b):
    from ai_metadata_lineage_pyspark_spark.functions.vectors import (
        dot_expr,
        dot_unrolled_expr,
    )

    df = spark.createDataFrame([(a, b)], "a: array<float>, b: array<float>")
    row = df.selectExpr(
        f"{dot_expr('a', 'b')} AS fold",
        f"{dot_unrolled_expr('a', 'b', dim=8)} AS unrolled",
    ).collect()[0]
    # bit-level: two IEEE doubles compare equal iff same value (+0 == -0 is
    # the one exception, and cannot affect any downstream compare/round)
    assert row["fold"] == row["unrolled"], (a, b)


def test_dot_unrolled_bitwise_equals_fold_on_fixture(spark, sf_dir):
    from pyspark.sql import functions as F

    from ai_metadata_lineage_pyspark_spark.functions.vectors import (
        dot_expr,
        dot_unrolled_expr,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = emb.select(F.col("vec_id").alias("i"), F.col("embedding").alias("a"))
    b = emb.select(
        ((F.col("vec_id") + 7) % 50).alias("i"), F.col("embedding").alias("b")
    )
    mism = (
        a.join(b, "i")
        .selectExpr(
            f"{dot_expr('a', 'b')} AS fold",
            f"{dot_unrolled_expr('a', 'b')} AS unrolled",
        )
        .filter("fold IS DISTINCT FROM unrolled")
        .count()
    )
    assert mism == 0


# ---------------------------------------------------------------------------
# Tokenizer contract: functions/text.TOKENS on Spark and SQL_TOKENS on DuckDB
# return the same token arrays (empty strings included) on ASCII text over
# the whitespace both engines' \s matches. The known divergences outside
# that domain are listed in functions/text.py.
# ---------------------------------------------------------------------------

_TOKENIZER_EDGES = ["", " ", "a", " a", "B\t", "\n Z \r", "a\fB", "\t\t"]


@given(texts=st.lists(st.text(alphabet="aBZ \t\n\r\f", max_size=12), min_size=1, max_size=20))
@_SETTINGS
def test_spark_and_duckdb_tokenizers_agree(spark, texts):
    import duckdb

    from ai_metadata_lineage_pyspark_spark.functions.text import SQL_TOKENS, TOKENS

    texts = _TOKENIZER_EDGES + texts
    got = [
        list(r.toks)
        for r in spark.createDataFrame(list(enumerate(texts)), "i int, text string")
        .selectExpr("i", f"{TOKENS} AS toks")
        .orderBy("i")
        .collect()
    ]
    con = duckdb.connect()
    want = [
        con.execute(f"SELECT {SQL_TOKENS} FROM (SELECT ?::VARCHAR AS text)", [t]).fetchone()[0]
        for t in texts
    ]
    assert got == want, texts
