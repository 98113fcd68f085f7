"""Semantic unit tests for custom operators on tiny hand-built inputs —
independent of the fixture parquet, so failures localize to the operator.
"""

from __future__ import annotations

import hashlib
import math
import re

import pyspark.sql.functions as F
import pytest

from ai_metadata_lineage_pyspark_spark.functions.vectors import cosine_expr, dot_expr


def test_cosine_expr_matches_python(spark):
    a = [1.0, 2.0, 3.0, 0.5]
    b = [-1.0, 0.25, 4.0, 2.0]
    df = spark.createDataFrame([(a, b)], ["a", "b"])
    got = df.select(F.expr(cosine_expr("a", "b")).alias("c")).first().c
    dot = sum(x * y for x, y in zip(a, b))
    want = dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))
    assert got == pytest.approx(want, abs=1e-12)


def test_dot_expr_on_float_arrays_casts_to_double(spark):
    df = spark.createDataFrame([([0.1, 0.2], [0.3, 0.4])], "a array<float>, b array<float>")
    got = df.select(F.expr(dot_expr("a", "b")).alias("d")).first().d
    assert isinstance(got, float)
    assert got == pytest.approx(0.11, abs=1e-6)


def test_exact_dedup_groups_whitespace_and_case_variants(spark, sf_dir, tmp_path):
    # Build a miniature documents table exercising the normalization:
    # same text modulo case/whitespace -> one group, canonical = min(doc_id).
    rows = [
        (3, "Hello   world", 13),
        (1, "hello world", 11),
        (2, "different text", 14),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "n_chars"])
    p = str(tmp_path / "documents.parquet")
    docs.write.parquet(p)
    from ai_metadata_lineage_pyspark_spark.operators.dedup import exact_dedup

    out = {r.canonical_doc_id: r.n_copies for r in exact_dedup(spark, str(tmp_path)).collect()}
    assert out == {1: 2, 2: 1}


def test_minhash_signature_determinism(spark, tmp_path):
    # Identical shingle sets -> identical signatures regardless of doc order.
    rows = [
        (1, "the quick brown fox jumps", 25),
        (2, "the quick brown fox jumps", 25),
        (3, "a completely different document body", 36),
    ]
    spark.createDataFrame(rows, ["doc_id", "text", "n_chars"]).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    from ai_metadata_lineage_pyspark_spark.operators.dedup import minhash_signatures

    sigs = {r.doc_id: tuple(r[f"sig_{j}"] for j in range(8))
            for r in minhash_signatures(spark, str(tmp_path)).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]


def test_simhash_bit_packing_roundtrip(spark, tmp_path):
    spark.createDataFrame(
        [(1, "alpha beta gamma", 16)], ["doc_id", "text", "n_chars"]
    ).write.parquet(str(tmp_path / "documents.parquet"))
    from ai_metadata_lineage_pyspark_spark.operators.dedup import simhash

    r = simhash(spark, str(tmp_path)).first()
    # hex rendering and packed int must encode the same 32 bits
    assert int(r.simhash_hex, 16) == r.simhash_int
    assert 0 <= r.simhash_int < 2**32


def test_sessionization_gap_semantics(spark, tmp_path):
    # Three events for one user: two within 30min, one 31min later ->
    # 2 sessions. Build a nanos-timestamped events.parquet like the fixture.
    base = 1_700_000_000_000_000_000  # nanos
    rows = [
        (1, 10, "view", base),
        (2, 10, "click", base + 60 * 10**9),  # +1 min, same session
        (3, 10, "view", base + (60 + 31 * 60) * 10**9),  # +31 min gap, new
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts long"
    )
    df.write.parquet(str(tmp_path / "events.parquet"))
    from ai_metadata_lineage_pyspark_spark.operators.windows import web_sessionization

    out = web_sessionization(spark, str(tmp_path)).collect()
    assert len(out) == 2
    assert sorted(r.events for r in out) == [1, 2]


def test_fan_out_survives_missing_private_jdf(spark, monkeypatch):
    """fan_out's size probe goes through the private `_jdf` seam; under
    Spark Connect (or a future PySpark) that attribute is gone. The probe
    must degrade to a plain repartition, never crash the caller."""
    from ai_metadata_lineage_pyspark_spark.functions.io import fan_out

    df = spark.range(100)
    real_jdf = df._jdf

    class _NoQueryExecution:
        # models Spark Connect: the plan-stats probe is unavailable but
        # DataFrame operations (repartition etc.) still work
        def queryExecution(self):
            raise RuntimeError("queryExecution unavailable in this session")

        def __getattr__(self, name):
            return getattr(real_jdf, name)

    with monkeypatch.context() as m:
        m.setattr(df, "_jdf", _NoQueryExecution(), raising=False)
        out = fan_out(df, min_partitions=8)
    assert out.rdd.getNumPartitions() == 8
    assert out.count() == 100


def test_sparse_cosine_pair_properties(spark, sf_dir):
    from ai_metadata_lineage_pyspark_spark.operators.search import (
        _SPARSE_R,
        _SPARSE_T,
        sparse_cosine_doc_pairs,
    )

    rows = sparse_cosine_doc_pairs(spark, sf_dir).collect()
    assert rows, "fixture corpus must produce sparse near-dup pairs"
    for r in rows:
        assert r.doc_a < r.doc_b
        # a pair can share at most one signature of terms
        assert 1 <= r.n_shared <= _SPARSE_R
        assert _SPARSE_T <= r.cosine <= 1.0 + 1e-9
        assert r.dot_fp > 0


def test_duplicate_substring_spans_properties(spark, sf_dir):
    from ai_metadata_lineage_pyspark_spark.operators.dedup import (
        _SPAN_W,
        duplicate_substring_spans,
    )

    rows = duplicate_substring_spans(spark, sf_dir).collect()
    assert rows, "fixture corpus must contain cross-doc repeated windows"
    for r in rows:
        assert len(r.window_text) == _SPAN_W
        assert r.n_docs >= 2
        assert r.n_occ >= r.n_docs  # every doc contributes >= 1 occurrence
        assert r.min_doc_id < r.max_doc_id


def test_duplicate_substring_spans_finds_planted_run(spark):
    # two docs sharing a run of exactly W + S - 1 chars must collide on at
    # least one window (the detection guarantee the module note states)
    from ai_metadata_lineage_pyspark_spark.operators import dedup as D

    run = "x" * (D._SPAN_W + D._SPAN_S - 1)
    rows = [
        (1, "A" * 7 + run + "B" * 11),
        (2, "C" * 3 + run + "D" * 23),
        (3, "unrelated " * 10),
    ]
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(
            os.path.join(td, "documents.parquet")
        )
        got = D.duplicate_substring_spans(spark, td).collect()
    assert any(set(r.window_text) == {"x"} for r in got)


def test_semdedup_keeps_cluster_minimum_and_partitions(spark, sf_dir):
    from ai_metadata_lineage_pyspark_spark.operators.similarity import semdedup_prune

    rows = semdedup_prune(spark, sf_dir).collect()
    assert rows
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r.cent_id, []).append(r)
    assert sum(1 for r in rows if not r.kept) > 0, "fixture must prune something"
    for members in by_cluster.values():
        # the lowest-id point of a cluster has no earlier neighbor -> kept
        assert min(members, key=lambda r: r.vec_id).kept


def test_semdedup_blas_scorer_matches_joinpair_restatement(spark, sf_dir):
    """r14: the BLAS applyInPandas pair stage must reproduce the r13
    cent_id self-join semantics value-for-value on the full fixture — the
    join shape (below) is also exactly what the registered DuckDB oracle
    states, so this pins the swap's bit-compatibility in-suite."""
    from pyspark.sql import Window

    from ai_metadata_lineage_pyspark_spark.functions.io import fan_out, load
    from ai_metadata_lineage_pyspark_spark.functions.vectors import (
        cosine_from_norms_unrolled_expr,
        norm_expr,
    )
    from ai_metadata_lineage_pyspark_spark.operators import similarity as S

    got = sorted(tuple(r) for r in S.semdedup_prune(spark, sf_dir).collect())

    emb = fan_out(load(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding", F.expr(norm_expr("embedding")).alias("norm")
    )
    cents = F.broadcast(
        emb.filter(F.col("vec_id") < S._KM_K).select(
            F.col("vec_id").alias("cent_id"),
            F.col("embedding").alias("c_emb"),
            F.col("norm").alias("c_norm"),
        )
    )
    scored = emb.crossJoin(cents).select(
        "vec_id",
        "cent_id",
        F.expr(
            cosine_from_norms_unrolled_expr("embedding", "c_emb", "norm", "c_norm")
        ).alias("cos"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos").desc(), F.col("cent_id").asc()
    )
    assign = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("vec_id", "cent_id")
    )
    pts = assign.join(emb, "vec_id")
    cos_ab = F.round(
        F.expr(
            cosine_from_norms_unrolled_expr(
                "a.embedding", "b.embedding", "a.norm", "b.norm"
            )
        ),
        6,
    )
    pruned = (
        pts.alias("a")
        .join(
            pts.alias("b"),
            (F.col("a.cent_id") == F.col("b.cent_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(cos_ab >= S._SEM_T)
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
    )
    want = sorted(
        tuple(r)
        for r in assign.join(
            pruned.withColumn("p", F.lit(True)), "vec_id", "left"
        )
        .select("vec_id", "cent_id", F.col("p").isNull().alias("kept"))
        .collect()
    )
    assert got == want


def _scorer_brute_force(pdf):
    """Independent restatement of the scorer's contract: exact fold +
    HALF_UP decimal rounding for EVERY pair (no BLAS, no band)."""
    from ai_metadata_lineage_pyspark_spark.operators.similarity import (
        _semdedup_pair_pruned,
    )

    pdf = pdf.sort_values("vec_id").reset_index(drop=True)
    kept = []
    for j in range(len(pdf)):
        pruned = any(
            _semdedup_pair_pruned(
                pdf["embedding"][i],
                pdf["embedding"][j],
                pdf["norm"][i],
                pdf["norm"][j],
            )
            for i in range(j)
        )
        kept.append(not pruned)
    return dict(zip(pdf["vec_id"], kept))


def test_semdedup_scorer_boundary_and_tiling(monkeypatch):
    """Adversarial scorer corpus: exact-boundary cosines (inside the
    recheck band), duplicates, orthogonals, and a tile edge of 4 so the
    10-member cluster spans multiple BLAS tiles incl. a partial diagonal
    tile. The scorer must equal the no-BLAS brute-force restatement."""
    import numpy as np
    import pandas as pd

    from ai_metadata_lineage_pyspark_spark.operators import similarity as S

    def unit(i):
        v = np.zeros(64, dtype=np.float32)
        v[i] = 1.0
        return v

    rows = []
    # v0: anchor e0; v1: exact duplicate of v0 (cos 1.0, pruned);
    # v2: orthogonal e1 (kept); v3: dot(v0,v3)=1 with a norm crafted so
    # cos = 1/(1 * nb) lands within one ulp of the 0.3999995 HALF_UP
    # boundary — forces the exact-recheck band path;
    # v4: cos with v0 just below threshold (0.399999, kept);
    # v5: cos with v0 at 0.41 (pruned); v6..v9: more orthogonal axes.
    boundary_norm = float(np.float64(1.0) / np.float64(0.3999995))
    specs = [
        (0, unit(0), 1.0),
        (1, unit(0), 1.0),
        (2, unit(1), 1.0),
        (3, unit(0), boundary_norm),
        (4, unit(0), float(np.float64(1.0) / np.float64(0.399999))),
        (5, unit(0), float(np.float64(1.0) / np.float64(0.41))),
        (6, unit(2), 1.0),
        (7, unit(3), 1.0),
        (8, unit(4), 1.0),
        (9, unit(5), 1.0),
    ]
    for vid, emb, norm in specs:
        rows.append({"vec_id": vid, "cent_id": 0, "embedding": emb, "norm": norm})
    pdf = pd.DataFrame(rows)

    # sanity: v3's cosine really sits inside the recheck band
    cos3 = 1.0 / (1.0 * boundary_norm)
    assert abs(cos3 - S._SEM_BOUNDARY) <= S._SEM_BAND

    monkeypatch.setattr(S, "_SEM_TILE", 4)  # force multi-tile + partial tiles
    got = S._semdedup_score_cluster(pdf.copy())
    got_map = dict(zip(got["vec_id"], got["kept"]))
    want_map = _scorer_brute_force(pdf)
    assert got_map == want_map
    # the clear-cut expectations, independent of either implementation
    assert got_map[0] and got_map[2] and got_map[4]
    assert not got_map[1] and not got_map[5]


def test_semdedup_pair_pruned_half_up_rounding():
    """_semdedup_pair_pruned must reproduce Spark round(double, 6) HALF_UP
    threshold semantics: 0.3999995 rounds UP to 0.400000 (pruned),
    0.3999994 rounds down (kept), 0.4 exact is pruned."""
    import numpy as np

    from ai_metadata_lineage_pyspark_spark.operators.similarity import (
        _semdedup_pair_pruned,
    )

    a = np.zeros(64, dtype=np.float32)
    a[0] = 1.0
    for target, want in [(0.3999995, True), (0.3999994, False), (0.4, True), (1.0, True), (0.0, False)]:
        # dot(a, a) = 1; cos = 1 / (1 * (1/target)) ~= target
        nb = float(np.float64(1.0) / np.float64(target)) if target else 1e18
        got = _semdedup_pair_pruned(a, a, 1.0, nb)
        # guard the construction: cos must land on the intended side
        from decimal import ROUND_HALF_UP, Decimal

        cos = 1.0 / (1.0 * nb)
        expect = Decimal(repr(cos)).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP
        ) >= Decimal("0.4")
        assert got == expect
        if target in (0.4, 1.0, 0.0):  # away from the half-point: exact
            assert got == want


def test_observed_metrics_agree_with_rollup(spark, sf_dir):
    # the audit columns and the per-type rollup come from ONE observed scan;
    # their mutual consistency is the invariant worth pinning
    from ai_metadata_lineage_pyspark_spark.operators.relational import (
        observed_ingest_metrics,
    )

    rows = observed_ingest_metrics(spark, sf_dir).collect()
    assert rows
    assert sum(r.n_events for r in rows) == rows[0].n_rows
    assert sum(r.type_cents for r in rows) == rows[0].cents_total
    assert len({(r.n_rows, r.cents_total, r.n_null_value) for r in rows}) == 1


def test_grouped_agg_udaf_null_and_salt_semantics(spark, tmp_path):
    # ADVICE r7: NULL values must be dropped BEFORE the floor/int64 cast
    # (np.floor(NaN).astype(int64) is garbage) and an all-NULL group's sum
    # is NULL, while COUNT(*) still counts the null rows — pinned on a
    # null-bearing fixture the parquet tables don't provide. Also pins the
    # salted two-level fold == single-level SQL fold equivalence.
    import datetime

    from ai_metadata_lineage_pyspark_spark.operators.udtfs import (
        grouped_agg_pandas_udf,
    )

    ts = datetime.datetime(2024, 1, 1)
    rows = [
        (1, ts, 10, "click", 1.239, "{}"),
        (2, ts, 11, "click", None, "{}"),
        (3, ts, 12, "click", 2.5, "{}"),
        (4, ts, 13, "refund", None, "{}"),
        (5, ts, 14, "refund", None, "{}"),
        (6, ts, 15, "purchase", -0.015, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string"
    )
    d = str(tmp_path / "events.parquet")
    df.write.mode("overwrite").parquet(d)
    got = {
        r.event_type: (r.cents_total, r.n_events, r.cents_per_event)
        for r in grouped_agg_pandas_udf(spark, str(tmp_path)).collect()
    }
    # click: floor(123.9)+floor(250) = 123+250 = 373 over 3 rows (null counted)
    assert got["click"] == (373, 3, 124)
    # refund: all-NULL values -> SUM is NULL, COUNT(*) is 2
    assert got["refund"][0] is None and got["refund"][1] == 2
    # purchase: floor(-1.5) = -2 (floor, not trunc)
    assert got["purchase"][0] == -2 and got["purchase"][1] == 1


def test_duplicate_span_merge_coalesces_planted_run(spark):
    # gaps-and-islands must merge every duplicated window of one shared run
    # into ONE maximal span per doc, whose characters all lie inside the run
    import os
    import tempfile

    from ai_metadata_lineage_pyspark_spark.operators import dedup as D

    run = "x" * 63
    docs = {1: "A" * 7 + run + "B" * 11, 2: "C" * 3 + run + "D" * 23,
            3: "unrelated " * 10}
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            list(docs.items()), ["doc_id", "text"]
        ).write.parquet(os.path.join(td, "documents.parquet"))
        got = D.duplicate_span_merge(spark, td).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == {1, 2}
    for doc_id, spans in by_doc.items():
        assert len(spans) == 1, "one shared run -> one maximal span"
        (r,) = spans
        covered = docs[doc_id][r.span_start - 1 : r.span_end]
        assert set(covered) == {"x"} and len(covered) == r.span_len
        assert r.span_len >= D._SPAN_W
        assert r.n_windows == (r.span_len - D._SPAN_W) // D._SPAN_S + 1


def test_pq_quantize_invariants(spark, sf_dir):
    from ai_metadata_lineage_pyspark_spark.operators.similarity import (
        _PQ_K,
        _PQ_M,
        embedding_pq_quantize,
    )
    from ai_metadata_lineage_pyspark_spark.functions.io import load

    rows = embedding_pq_quantize(spark, sf_dir).collect()
    n_vec = load(spark, sf_dir, "embeddings").count()
    assert len(rows) == n_vec, "every vector gets a code word"
    for r in rows:
        for m in range(_PQ_M):
            assert 0 <= r[f"code_{m}"] < _PQ_K
        assert r.sq_err_micro2 >= 0
    # quantization must do SOME work: not all vectors share one code word
    assert len({(r.code_0, r.code_1, r.code_2, r.code_3) for r in rows}) > 1


def test_chunk_dedup_reconstruct_drops_repeated_block(spark, tmp_path):
    # Doc 1 and doc 2 share an identical 10-token block; doc 2's copy must
    # be dropped (doc 1 is the global first occurrence) and doc 2 rebuilds
    # from its remaining block only. Doc 3 is untouched.
    block = " ".join(f"tok{i}" for i in range(10))  # exactly one block
    tail2 = " ".join(f"own{i}" for i in range(10))
    rows = [
        (1, block, len(block)),
        (2, block + " " + tail2, len(block) + 1 + len(tail2)),
        (3, "unique words only here", 22),
    ]
    spark.createDataFrame(rows, ["doc_id", "text", "n_chars"]).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    from ai_metadata_lineage_pyspark_spark.operators.dedup import (
        chunk_dedup_reconstruct,
    )

    out = {r.doc_id: r for r in chunk_dedup_reconstruct(spark, str(tmp_path)).collect()}
    import hashlib

    assert out[1].n_chunks == 1 and out[1].n_kept == 1
    assert out[2].n_chunks == 2 and out[2].n_kept == 1
    assert out[2].dedup_hash == hashlib.md5(tail2.encode()).hexdigest()
    assert out[2].dedup_len == len(tail2)
    assert out[3].n_kept == out[3].n_chunks == 1


def test_source_priority_dedup_prefers_lowest_source_number(spark, tmp_path):
    rows = [
        (10, "same body", "src12", 9),
        (11, "Same   Body", "src3", 9),  # normalizes equal; src3 wins
        (12, "other body", "src0", 10),
    ]
    spark.createDataFrame(rows, ["doc_id", "text", "source", "n_chars"]).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    from ai_metadata_lineage_pyspark_spark.operators.dedup import source_priority_dedup

    out = {r.kept_doc_id: r for r in source_priority_dedup(spark, str(tmp_path)).collect()}
    assert set(out) == {11, 12}
    kept = out[11]
    assert kept.kept_source == "src3"
    assert kept.kept_priority == 3
    assert kept.n_copies == 2 and kept.n_sources == 2


def test_embedding_dim_stats_exact_micro_units(spark, tmp_path):
    rows = [
        (1, [0.5, -1.25], 0),
        (2, [1.5, 0.75], 0),
    ]
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    from ai_metadata_lineage_pyspark_spark.operators.profile import embedding_dim_stats

    out = {r.dim: r for r in embedding_dim_stats(spark, str(tmp_path)).collect()}
    d1, d2 = out[1], out[2]
    assert (d1.n_values, d1.sum_micro, d1.min_micro, d1.max_micro) == (
        2,
        2_000_000,
        500_000,
        1_500_000,
    )
    assert d1.mean_micro == 1_000_000.0
    assert d1.var_micro2 == pytest.approx(250_000_000_000.0)
    assert (d2.sum_micro, d2.min_micro) == (-500_000, -1_250_000)


def test_lm_quality_buckets_balanced_and_ordered(spark, sf_dir):
    from ai_metadata_lineage_pyspark_spark.operators.curation import lm_quality_buckets

    df = lm_quality_buckets(spark, sf_dir).cache()
    try:
        sizes = {
            (r.lang, r.tercile): r.n
            for r in df.groupBy("lang", "tercile").agg(F.count("*").alias("n")).collect()
        }
        langs = {lang for lang, _ in sizes}
        for lang in langs:
            per = [sizes.get((lang, t), 0) for t in (1, 2, 3)]
            assert max(per) - min(per) <= 1  # ntile balance
        # head scores dominate tail scores within every language
        agg = df.groupBy("lang", "bucket").agg(
            F.min("avg_bigram_count").alias("lo"), F.max("avg_bigram_count").alias("hi")
        )
        rows = {(r.lang, r.bucket): r for r in agg.collect()}
        for lang in langs:
            assert rows[(lang, "head")].lo >= rows[(lang, "tail")].hi
    finally:
        df.unpersist()


def test_token_simpson_diversity_tiny(spark, tmp_path):
    rows = [(1, "a a b", 5), (2, "x y z", 5)]
    spark.createDataFrame(rows, ["doc_id", "text", "n_chars"]).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    from ai_metadata_lineage_pyspark_spark.operators.text import token_simpson_diversity

    out = {r.doc_id: r for r in token_simpson_diversity(spark, str(tmp_path)).collect()}
    d1 = out[1]
    assert (d1.n_tokens, d1.n_types, d1.sum_k2) == (3, 2, 5)
    assert d1.repeat_prob == pytest.approx(5 / 9)
    assert d1.simpson_diversity == pytest.approx(1 - 5 / 9)
    d2 = out[2]
    assert d2.repeat_prob == pytest.approx(1 / 3)  # all distinct: 3/9


def test_minhash_band_sweep_scurve_monotonicity(spark, sf_dir):
    from ai_metadata_lineage_pyspark_spark.operators.dedup import minhash_band_sweep

    rows = {r.cfg: r for r in minhash_band_sweep(spark, sf_dir).collect()}
    assert set(rows) == {"b8r1", "b4r2", "b2r4", "b1r8"}
    # candidate sets are nested along the halving chain, so counts are
    # monotone; recall is measured against b8r1's verified set
    assert (
        rows["b8r1"].n_candidates
        >= rows["b4r2"].n_candidates
        >= rows["b2r4"].n_candidates
        >= rows["b1r8"].n_candidates
    )
    assert rows["b8r1"].recall_ppm == 1_000_000
    for r in rows.values():
        assert r.n_verified <= r.n_candidates
        assert r.n_true == rows["b8r1"].n_verified


def test_curation_funnel_report_is_monotone_and_consistent(spark, sf_dir):
    from ai_metadata_lineage_pyspark_spark.operators.curation import (
        curation_funnel_report,
    )

    rows = sorted(curation_funnel_report(spark, sf_dir).collect(), key=lambda r: r.stage)
    assert [r.stage_name for r in rows] == [
        "raw",
        "quality_gate",
        "exact_dedup",
        "decontam",
    ]
    for prev, cur in zip(rows, rows[1:]):
        assert cur.n_docs <= prev.n_docs
        assert cur.n_dropped == prev.n_docs - cur.n_docs
        assert cur.drop_ppm == (cur.n_dropped * 1_000_000) // prev.n_docs
    assert rows[0].n_dropped is None and rows[0].drop_ppm is None


def test_embedding_quantile_normalize_ranks(spark, tmp_path):
    rows = [(1, [0.3], 0), (2, [0.1], 0), (3, [0.2], 0)]
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    from ai_metadata_lineage_pyspark_spark.operators.profile import (
        embedding_quantile_normalize,
    )

    out = {r.vec_id: r for r in embedding_quantile_normalize(spark, str(tmp_path)).collect()}
    assert [out[v].rnk for v in (2, 3, 1)] == [1, 2, 3]  # sorted by value
    # midpoint quantiles of n=3: 1/6, 3/6, 5/6
    assert [out[v].quantile_ppm for v in (2, 3, 1)] == [166666, 500000, 833333]


def test_embedding_norm_outliers_flags_extreme_vector(spark, tmp_path):
    rows = [(i, [1.0, 0.0], 0) for i in range(10)] + [(99, [100.0, 0.0], 0)]
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    from ai_metadata_lineage_pyspark_spark.operators.profile import (
        embedding_norm_outliers,
    )

    out = {r.vec_id: r for r in embedding_norm_outliers(spark, str(tmp_path)).collect()}
    assert out[99].is_outlier and out[99].norm_micro == 100_000_000
    assert not out[0].is_outlier and out[0].norm_micro == 1_000_000


def test_langid_confusion_matrix_marginals(spark, sf_dir):
    from ai_metadata_lineage_pyspark_spark.operators.text import langid_confusion_matrix

    rows = langid_confusion_matrix(spark, sf_dir).collect()
    assert sum(r.n for r in rows) == 500
    for r in rows:
        assert r.n <= r.n_actual_total and r.n <= r.n_pred_total
        assert r.recall_ppm <= 1_000_000 and r.precision_ppm <= 1_000_000
    # marginal re-aggregation consistency
    from collections import defaultdict

    actual = defaultdict(int)
    for r in rows:
        actual[r.lang_actual] += r.n
    for r in rows:
        assert actual[r.lang_actual] == r.n_actual_total


def test_simhash_hamming_pairs_identical_docs(spark, tmp_path):
    rows = [
        (1, "alpha beta gamma delta epsilon", 30),
        (2, "alpha beta gamma delta epsilon", 30),  # identical -> distance 0
        (3, "zq wx kv jm plo ytr bnc", 23),
    ]
    spark.createDataFrame(rows, ["doc_id", "text", "n_chars"]).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    from ai_metadata_lineage_pyspark_spark.operators.dedup import simhash_hamming_pairs

    pairs = {(r.doc_a, r.doc_b): r.hamming_distance for r in simhash_hamming_pairs(
        spark, str(tmp_path)
    ).collect()}
    assert pairs[(1, 2)] == 0
    assert all(d <= 3 for d in pairs.values())
    assert all(a < b for a, b in pairs)


def test_decontam_ngram_sweep_monotone_in_n(spark, sf_dir):
    from ai_metadata_lineage_pyspark_spark.operators.decontam import (
        decontam_ngram_sweep,
    )

    rows = {r.ngram_n: r for r in decontam_ngram_sweep(spark, sf_dir).collect()}
    assert set(rows) == {2, 3, 5}
    # sharing a 5-gram implies sharing its constituent 2/3-grams with the
    # same eval doc, so contamination is non-increasing in n
    assert (
        rows[2].n_contaminated >= rows[3].n_contaminated >= rows[5].n_contaminated
    )
    for r in rows.values():
        assert r.n_contaminated <= r.n_train_docs
        assert r.contam_ppm == (r.n_contaminated * 1_000_000) // r.n_train_docs


def test_embedding_power_iteration_finds_dominant_axis(spark, tmp_path):
    # All variance on axis 0 -> the estimated direction concentrates there.
    rows = [
        (1, [2.0] + [0.0] * 63, 0),
        (2, [1.5] + [0.0] * 63, 0),
        (3, [1.0] + [0.01] * 63, 0),
    ]
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    from ai_metadata_lineage_pyspark_spark.operators.profile import (
        embedding_power_iteration,
    )

    out = embedding_power_iteration(spark, str(tmp_path)).collect()
    assert len(out) == 64 * 3
    final = {r.dim: r.v_micro for r in out if r.iteration == 3}
    # dominant component carries (almost) the whole unit norm
    assert abs(final[1]) > 990_000
    assert all(abs(final[d]) < 20_000 for d in range(2, 65))
    # every iteration's direction is (floor-rounded) unit length
    import collections

    norms = collections.defaultdict(int)
    for r in out:
        norms[r.iteration] += r.v_micro * r.v_micro
    for k, n2 in norms.items():
        assert 0.99e12 < n2 <= 1.000001e12, (k, n2)


def test_simhash_hamming_pairs_capped_equals_exact_under_cap(spark, tmp_path):
    # Fixture buckets are far below the cap, so star never triggers and
    # the capped generator must reproduce the exact pair set.
    rows = [
        (1, "alpha beta gamma delta epsilon", 30),
        (2, "alpha beta gamma delta epsilon", 30),
        (3, "alpha beta gamma delta zeta", 27),
        (4, "totally unrelated words qqq www eee", 35),
    ]
    spark.createDataFrame(rows, ["doc_id", "text", "n_chars"]).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    from ai_metadata_lineage_pyspark_spark.operators.dedup import (
        simhash_hamming_pairs,
        simhash_hamming_pairs_capped,
    )

    exact = {(r.doc_a, r.doc_b, r.hamming_distance) for r in simhash_hamming_pairs(
        spark, str(tmp_path)
    ).collect()}
    capped = {(r.doc_a, r.doc_b, r.hamming_distance) for r in simhash_hamming_pairs_capped(
        spark, str(tmp_path)
    ).collect()}
    assert capped == exact
    assert (1, 2, 0) in exact


def test_ivf_nprobe_sweep_monotone(spark, sf_dir):
    from ai_metadata_lineage_pyspark_spark.operators.similarity import ivf_nprobe_sweep

    rows = {r.nprobe: r for r in ivf_nprobe_sweep(spark, sf_dir).collect()}
    assert set(rows) == {1, 2, 4}
    # probing more cells can only add candidates and hits
    assert rows[1].n_candidates <= rows[2].n_candidates <= rows[4].n_candidates
    assert rows[1].n_hits <= rows[2].n_hits <= rows[4].n_hits
    for r in rows.values():
        assert 0 <= r.recall_ppm <= 1_000_000
        assert 0 < r.scan_share_ppm <= 1_000_000
        assert r.n_exact == rows[1].n_exact  # ground truth is config-free


def test_quality_score_rank_correlation_bounds(spark, sf_dir):
    from ai_metadata_lineage_pyspark_spark.operators.curation import (
        quality_score_rank_correlation,
    )

    (row,) = quality_score_rank_correlation(spark, sf_dir).collect()
    assert row.n_docs > 0
    # rho in [-1, 1] (ppm); the floor-div identity ties the three columns
    assert -1_000_000 <= row.spearman_ppm <= 1_000_000
    assert row.spearman_ppm == 1_000_000 - (6_000_000 * row.sum_d2) // (
        row.n_docs * (row.n_docs * row.n_docs - 1)
    )


def test_bloom_m_sweep_monotone_for_nested_m(spark, sf_dir):
    from ai_metadata_lineage_pyspark_spark.operators.decontam import bloom_m_sweep

    rows = {r.m: r for r in bloom_m_sweep(spark, sf_dir).collect()}
    assert set(rows) == {1024, 4096, 16384, 65536}
    # powers of two nest: a positive at larger m projects to a positive at
    # every smaller m (p % small == (p % large) % small), so positives and
    # false positives are monotone non-increasing in m
    ms = [1024, 4096, 16384, 65536]
    for small, large in zip(ms, ms[1:]):
        assert rows[small].n_bloom_positive >= rows[large].n_bloom_positive
        assert rows[small].n_false_positives >= rows[large].n_false_positives
        assert rows[small].fill_ppm >= rows[large].fill_ppm
    for r in rows.values():
        assert r.n_true_members <= r.n_bloom_positive  # no false negatives
        assert r.n_bloom_positive - r.n_true_members == r.n_false_positives


def test_winsorized_mean_between_bounds_and_damped(spark, sf_dir):
    from ai_metadata_lineage_pyspark_spark.operators.profile import (
        winsorized_group_stats,
    )

    for r in winsorized_group_stats(spark, sf_dir).collect():
        assert r.p05_cents <= r.winsorized_mean_cents <= r.p95_cents
        assert r.n_clipped_low + r.n_clipped_high < r.n_rows
        # clipping both tails at symmetric counts moves the mean by less
        # than the clipped span itself
        assert abs(r.winsorized_mean_cents - r.raw_mean_cents) < (
            r.p95_cents - r.p05_cents
        )


def test_stratified_topk_sample_exact_k(spark, sf_dir):
    from ai_metadata_lineage_pyspark_spark.operators.sampling import (
        stratified_topk_sample,
    )

    df = stratified_topk_sample(spark, sf_dir)
    import pyspark.sql.functions as SF

    per = {r.lang: r.n for r in df.groupBy("lang").agg(SF.count("*").alias("n")).collect()}
    assert all(n == 20 for n in per.values())
    ranks = {r.lang: r.mx for r in df.groupBy("lang").agg(SF.max("sample_rank").alias("mx")).collect()}
    assert all(mx == 20 for mx in ranks.values())


def test_dedup_cluster_size_histogram_partitions_the_corpus(spark, sf_dir):
    from ai_metadata_lineage_pyspark_spark.operators.dedup import (
        dedup_cluster_size_histogram,
    )

    rows = dedup_cluster_size_histogram(spark, sf_dir).collect()
    assert sum(r.n_docs for r in rows) == 500  # every doc in exactly one bucket
    assert sum(r.docs_share_ppm for r in rows) <= 1_000_000  # floor-ppm sums under 1
    for r in rows:
        if r.log2_bucket == 0:
            assert r.min_size == r.max_size == 1  # singleton mass
        else:
            assert r.min_size >= 2  # components from pairs are never singletons
            assert (1 << r.log2_bucket) <= r.min_size <= r.max_size < (
                1 << (r.log2_bucket + 1)
            )


def test_simhash64_hi_half_matches_32bit_fingerprint(spark, tmp_path):
    # the 64-bit fingerprint's hi half is md5 hex digits 0-7 — by
    # construction bit-identical to the 32-bit family's simhash_int
    rows = [
        (1, "alpha beta gamma delta epsilon", 30),
        (2, "alpha beta gamma delta epsilon", 30),
        (3, "zq wx kv jm plo ytr bnc", 23),
        (4, "alpha beta gamma delta zeta", 27),
    ]
    spark.createDataFrame(rows, ["doc_id", "text", "n_chars"]).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    from ai_metadata_lineage_pyspark_spark.operators.dedup import _simhash64_fp, simhash

    docs = spark.read.parquet(str(tmp_path / "documents.parquet"))
    fp64 = {r.doc_id: (r.hi, r.lo) for r in _simhash64_fp(docs).collect()}
    fp32 = {
        r.doc_id: r.simhash_int for r in simhash(spark, str(tmp_path)).collect()
    }
    for d, (hi, lo) in fp64.items():
        assert hi == fp32[d]
        assert 0 <= hi < 2**32 and 0 <= lo < 2**32


def test_simhash64_hamming_pairs_pigeonhole_and_blocks(spark, tmp_path):
    rows = [
        (1, "alpha beta gamma delta epsilon", 30),
        (2, "alpha beta gamma delta epsilon", 30),  # identical -> distance 0
        (3, "alpha beta gamma delta zeta", 27),
        (4, "totally unrelated words qqq www eee", 35),
    ]
    spark.createDataFrame(rows, ["doc_id", "text", "n_chars"]).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    from ai_metadata_lineage_pyspark_spark.operators.dedup import (
        simhash64_hamming_pairs,
    )

    pairs = {
        (r.doc_a, r.doc_b): r.hamming_distance
        for r in simhash64_hamming_pairs(spark, str(tmp_path)).collect()
    }
    assert pairs[(1, 2)] == 0
    assert all(d <= 5 for d in pairs.values())
    assert all(a < b for a, b in pairs)
    # pigeonhole completeness: brute-force 64-bit Hamming <= 5 pairs must
    # all be present (block candidates are a provable superset)
    import hashlib

    def fp64(text):
        sums = [0] * 64
        for t in text.lower().split():
            h = hashlib.md5(t.encode()).hexdigest()
            for k in range(64):
                bit = (int(h[k // 4], 16) >> (3 - k % 4)) & 1
                sums[k] += 1 if bit else -1
        hi = sum(1 << (31 - k) for k in range(32) if sums[k] > 0)
        lo = sum(1 << (63 - k) for k in range(32, 64) if sums[k] > 0)
        return hi, lo

    fps = {d: fp64(t) for d, t, _ in rows}
    for a in fps:
        for b in fps:
            if a < b:
                ham = bin(fps[a][0] ^ fps[b][0]).count("1") + bin(
                    fps[a][1] ^ fps[b][1]
                ).count("1")
                if ham <= 5:
                    assert pairs.get((a, b)) == ham


def test_bpe_incremental_prefix_equals_full_trainer(spark, sf_dir):
    # the incremental recurrence must reproduce the full-recount trainer's
    # merge table exactly on their shared 6-round prefix (same corpus, same
    # tie-breaks); rounds 7-24 are covered by the registry oracle, which
    # replays a 24-round full recount in DuckDB
    from ai_metadata_lineage_pyspark_spark.operators.search import (
        _BPE_ROUNDS,
        bpe_train_merges,
        bpe_train_merges_incremental,
    )

    full = {
        r.round: (r.left_tok, r.right_tok, r.merged, r.n_occurrences)
        for r in bpe_train_merges(spark, sf_dir).collect()
    }
    inc = {
        r.round: (r.left_tok, r.right_tok, r.merged, r.n_occurrences)
        for r in bpe_train_merges_incremental(spark, sf_dir).collect()
    }
    assert len(inc) == 24
    for k in range(1, _BPE_ROUNDS + 1):
        assert inc[k] == full[k], k
    # merges are strictly consumptive: each round's count is positive
    assert all(v[3] > 0 for v in inc.values())


def test_bpe_incremental_timings_cover_every_round(spark, sf_dir, monkeypatch, tmp_path):
    # the last round skips its delta build but still logs its wall time
    import json

    from ai_metadata_lineage_pyspark_spark.operators import search

    monkeypatch.setattr(search, "_BPE_INC_ROUNDS", 3)
    timings = tmp_path / "bpe_timings.jsonl"
    monkeypatch.setenv("SPARK_GRAFT_BPE_TIMINGS", str(timings))

    rounds = sorted(r.round for r in search.bpe_train_merges_incremental(spark, sf_dir).collect())
    logged = [json.loads(line)["round"] for line in timings.read_text().splitlines()]
    assert rounds == [1, 2, 3]
    assert logged == rounds


def _simhash_reference(text: str, n_bits: int) -> int:
    # Java's \s is [ \t\n\x0b\f\r]; Python's default \s also matches
    # Unicode spaces, which Spark's split keeps inside a token
    sums = [0] * n_bits
    for tok in re.compile(r"\s+", re.ASCII).split(text.lower()):
        h = int.from_bytes(hashlib.md5(tok.encode("utf-8")).digest()[: n_bits // 8], "big")
        for k in range(n_bits):
            sums[k] += 1 if h >> (n_bits - 1 - k) & 1 else -1
    return sum(1 << (n_bits - 1 - k) for k in range(n_bits) if sums[k] > 0)


def test_simhash_folds_match_a_python_reference(spark, sf_dir):
    # both fingerprint widths against a pure-Python SimHash over the
    # fixture docs plus docs holding every ASCII whitespace character and
    # Unicode spaces that Spark's split keeps inside a token
    from ai_metadata_lineage_pyspark_spark.functions.io import load
    from ai_metadata_lineage_pyspark_spark.operators.dedup import (
        _simhash64_fp,
        _simhash_expr,
    )

    odd = [
        "tab\there new\nline cr\rhere",
        "form\ffeed vertical\x0btab  double  spaces",
        " leading and trailing ",
        "no\xa0break em\u2003space next\x85line",
        "Mixed\xa0Case\u2003WORDS\x85here and\tthere",
    ]
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    docs = docs.unionByName(
        spark.createDataFrame(
            [(-1 - i, t) for i, t in enumerate(odd)], "doc_id long, text string"
        )
    )
    texts = dict(docs.collect())
    assert len(texts) > len(odd)

    fp32 = {r.doc_id: (r.simhash_int, r.simhash_hex) for r in _simhash_expr(docs).collect()}
    want32 = {d: _simhash_reference(t, 32) for d, t in texts.items()}
    assert fp32 == {d: (v, f"{v:08x}") for d, v in want32.items()}

    fp64 = {r.doc_id: (r.hi, r.lo) for r in _simhash64_fp(docs).collect()}
    want64 = {d: _simhash_reference(t, 64) for d, t in texts.items()}
    assert fp64 == {d: (v >> 32, v & 0xFFFFFFFF) for d, v in want64.items()}


def test_chargram_minhash_pairs_subset_of_exact(spark, sf_dir):
    # every LSH-found pair must appear in the exact all-pairs result with
    # the IDENTICAL jaccard (same grams, same verify) — LSH only trades
    # candidate recall, never verified precision
    from ai_metadata_lineage_pyspark_spark.operators.dedup import (
        chargram_minhash_pairs,
        ngram_jaccard_pairs,
    )

    lsh = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in chargram_minhash_pairs(spark, sf_dir).collect()
    }
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(spark, sf_dir).collect()
    }
    assert lsh, "LSH found no pairs — banding broken"
    unmatched = {
        k: v for k, v in lsh.items() if k not in exact or exact[k] != v
    }
    # exact variant also requires same (lang, len_band); LSH has no such
    # constraint, so LSH MAY legitimately find cross-band pairs the exact
    # baseline's pruning skips — those are extra recall, not errors. But
    # any pair in BOTH must agree on jaccard exactly.
    both = set(lsh) & set(exact)
    assert both, "no overlap at all"
    assert all(lsh[k] == exact[k] for k in both)
    # Char-gram similarity at the 0.4 cut is DENSE on this corpus (the
    # exact variant finds ~18 partners/doc), so the true pair set is
    # itself quadratic and the capped star generator's EDGE recall is
    # bounded by design. The operator's contract is node coverage: every
    # doc with a strong exact partner must surface in at least one LSH
    # pair (connectivity preserved — components recoverable downstream).
    strong_docs = {d for (a, b), v in exact.items() if v >= 0.8 for d in (a, b)}
    lsh_docs = {d for k in lsh for d in k}
    if strong_docs:
        covered = len(strong_docs & lsh_docs) / len(strong_docs)
        assert covered >= 0.9, covered
