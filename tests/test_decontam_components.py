"""Semantic invariants for the new curation-support operators:
near-dup connected components and benchmark decontamination."""

from __future__ import annotations

from pyspark.sql import functions as F

from ai_metadata_lineage_pyspark_spark.registry import all_queries


def test_components_are_consistent_with_pairs(spark, sf_dir):
    qs = all_queries()
    pairs = qs["minhash_lsh_pairs"].fn(spark, sf_dir).select("doc_a", "doc_b").collect()
    comp = {
        r["doc_id"]: r["component_id"]
        for r in qs["neardup_components"].fn(spark, sf_dir).collect()
    }
    # every pair endpoint is labeled, both endpoints agree, and the label is
    # the minimum doc_id of the member set (canonical-by-min contract)
    for p in pairs:
        assert comp[p["doc_a"]] == comp[p["doc_b"]]
    members: dict[int, list[int]] = {}
    for doc, c in comp.items():
        members.setdefault(c, []).append(doc)
    for c, docs in members.items():
        assert c == min(docs)


def test_components_sizes_and_canonicals(spark, sf_dir):
    df = all_queries()["neardup_components"].fn(spark, sf_dir)
    # exactly one canonical per component, and component_size counts members
    per_comp = df.groupBy("component_id").agg(
        F.sum(F.col("is_canonical").cast("int")).alias("n_canon"),
        F.count(F.lit(1)).alias("n"),
        F.max("component_size").alias("sz"),
        F.min("component_size").alias("sz_min"),
    )
    bad = per_comp.filter(
        (F.col("n_canon") != 1) | (F.col("n") != F.col("sz")) | (F.col("sz") != F.col("sz_min"))
    ).count()
    assert bad == 0


def test_decontam_only_flags_training_docs(spark, sf_dir):
    df = all_queries()["benchmark_decontam"].fn(spark, sf_dir)
    assert df.filter(F.col("doc_id") % 50 == 0).count() == 0
    # fractions are sane
    assert df.filter((F.col("shared_fraction") <= 0) | (F.col("shared_fraction") > 1)).count() == 0
    assert df.filter(F.col("n_shared_shingles") > F.col("n_shingles")).count() == 0


def test_capped_star_components_match_exact_on_duplicate_cluster(spark, tmp_path):
    """The 100 TB star-topology swap (lsh_pairs_capped): on a true-duplicate
    hot cluster — the only way an LSH bucket gets huge — star edges must
    yield EXACTLY the components the full clique yields, with strictly
    fewer edges."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ai_metadata_lineage_pyspark_spark.operators.dedup import (
        _min_label_components,
        lsh_pairs_capped,
        minhash_lsh_pairs,
    )

    template = " ".join(f"tok{i % 13} word{i}" for i in range(60))
    rows = []
    for i in range(30):  # hot cluster: shared template + unique suffix
        rows.append({"doc_id": i, "text": f"{template} unique{i}"})
    for i in range(30, 50):  # singletons: doc-unique token vocabulary
        rows.append(
            {"doc_id": i, "text": " ".join(f"d{i}w{j}x{(i * j) % 97}" for j in range(40))}
        )
    for r in rows:
        r.update(lang="en", source="probe", n_chars=len(r["text"]))
    schema = pa.schema(
        [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
         ("source", pa.string()), ("n_chars", pa.int64())]
    )
    pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                   str(tmp_path / "documents.parquet"))
    sf = str(tmp_path)

    exact_pairs = {(r["doc_a"], r["doc_b"])
                   for r in minhash_lsh_pairs(spark, sf).collect()}
    exact_comp = {(r["doc_id"], r["label"])
                  for r in _min_label_components(
                      minhash_lsh_pairs(spark, sf).select("doc_a", "doc_b")
                  ).collect()}
    capped = lsh_pairs_capped(spark, sf, bucket_cap=8)
    capped_pairs = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    capped_comp = {(r["doc_id"], r["label"])
                   for r in _min_label_components(
                       lsh_pairs_capped(spark, sf, bucket_cap=8)
                       .select("doc_a", "doc_b")
                   ).collect()}

    # the 30-doc bucket exceeded the cap: star edges are a strict subset
    assert capped_pairs < exact_pairs
    assert len(capped_pairs) < 100 < len(exact_pairs)  # O(k) vs O(k²)
    # ...but the components are identical
    assert capped_comp == exact_comp


def test_min_label_components_raises_when_rounds_run_out(spark):
    """A path of more than _MAX_CC_ITERS + 1 nodes still moves a label in the
    last round: the components are not returned as if converged."""
    import pytest

    from ai_metadata_lineage_pyspark_spark.operators.dedup import (
        _MAX_CC_ITERS,
        ComponentsNotConverged,
        _min_label_components,
    )

    def path(n):
        return spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long")

    # the longest path the rounds cover still converges ...
    labels = _min_label_components(path(_MAX_CC_ITERS + 1)).collect()
    assert {r.label for r in labels} == {0} and len(labels) == _MAX_CC_ITERS + 1
    # ... one more node does not
    with pytest.raises(ComponentsNotConverged):
        _min_label_components(path(_MAX_CC_ITERS + 2))


def test_min_label_components_converges_on_a_clique(spark):
    from ai_metadata_lineage_pyspark_spark.operators.dedup import _min_label_components

    nodes = [3, 5, 8, 13, 21]
    pairs = spark.createDataFrame(
        [(a, b) for a in nodes for b in nodes if a < b] + [(40, 41)], "doc_a long, doc_b long"
    )
    labels = {r.doc_id: r.label for r in _min_label_components(pairs).collect()}
    assert labels == {**{n: 3 for n in nodes}, 40: 40, 41: 40}
