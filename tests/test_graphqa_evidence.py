"""build_evidence caps its script and gold-output lists AFTER ordering them:
above the cap it lists the first names in order, not an arbitrary subset."""

from __future__ import annotations

import re

from ai_metadata_lineage_pyspark_spark.lineage.graphqa import (
    MAX_GOLD_SHOW,
    MAX_SCRIPTS_SHOW,
    build_evidence,
)

_N_WRITERS = 70  # > MAX_GOLD_SHOW gold paths, > MAX_SCRIPTS_SHOW scripts


def _repo(spark):
    writers = [f"s{i:02d}" for i in range(_N_WRITERS)]
    readers = [f"z{i}" for i in range(5)]
    columns = spark.createDataFrame(
        [(s, "amount", []) for s in writers] + [(r, "amount_usd", ["amount"]) for r in readers],
        "script_name string, col_name string, derived_from array<string>",
    )
    edges = spark.createDataFrame(
        [(r, "amount_usd", "amount", "derived") for r in readers],
        "script_name string, target_col string, src_col string, reason string",
    )
    assets = spark.createDataFrame(
        [(s, "write", f"s3a://lake/gold/t{i:02d}/") for i, s in enumerate(writers)]
        + [(r, "read", "s3a://lake/gold/t00/") for r in readers]
        + [(r, "write", f"s3a://lake/silver/{r}/") for r in readers],
        "script_name string, direction string, path string",
    )
    return writers, readers, columns, edges, assets


def _listed(evidence: str, header: str) -> list[str]:
    m = re.search(rf"^{header} \((\d+)\): (.*)$", evidence, re.M)
    assert m, evidence
    names = m.group(2).split(", ")
    assert int(m.group(1)) == len(names)
    return names


def test_capped_lists_are_the_first_in_order(spark):
    writers, readers, columns, edges, assets = _repo(spark)
    assert len(writers) + len(readers) > MAX_SCRIPTS_SHOW
    assert len(writers) > MAX_GOLD_SHOW

    evidence = build_evidence("what breaks if `amount` changes?", columns, edges, assets)

    assert "CANDIDATE COLUMNS: amount" in evidence
    assert _listed(evidence, "IMPACTED SCRIPTS") == sorted(writers + readers)[:MAX_SCRIPTS_SHOW]
    gold = sorted(f"s3a://lake/gold/t{i:02d}/" for i in range(_N_WRITERS))
    assert _listed(evidence, "GOLD OUTPUTS") == gold[:MAX_GOLD_SHOW]


def test_lists_below_the_caps_are_complete(spark):
    _, _, columns, edges, assets = _repo(spark)
    few = ["s03", "s01", "z0"]
    columns = columns.filter(columns.script_name.isin(few))
    assets = assets.filter(assets.script_name.isin(few))

    evidence = build_evidence("what breaks if `amount` changes?", columns, edges, assets)

    assert _listed(evidence, "IMPACTED SCRIPTS") == ["s01", "s03", "z0"]
    assert _listed(evidence, "GOLD OUTPUTS") == ["s3a://lake/gold/t01/", "s3a://lake/gold/t03/"]
