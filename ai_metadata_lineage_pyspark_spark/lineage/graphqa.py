"""Deterministic graph-QA layer: column dependency graph, downstream
closures, asset graph, gold-output filter, candidate-column extraction and
evidence assembly.

Spark-native re-expression of qa/ask.py's deterministic core:
  * build_dependency_graph (qa/ask.py:167-208)  -> column_graph()
  * downstream_closure     (qa/ask.py:211-223)  -> column_closure() via
    iterative frontier joins (operators/graph.py), node cap 2000
  * build_asset_graph      (qa/ask.py:295-322)  -> script_edges()
  * bfs_downstream_scripts (qa/ask.py:325-340)  -> downstream_scripts()
  * gold_outputs_for_scripts (qa/ask.py:343-360) -> gold_outputs()
  * seed_scripts_for_column (qa/ask.py:363-370) -> seed_scripts()
  * extract_candidate_columns (qa/ask.py:226-244) -> candidate_columns()
  * build_evidence (qa/ask.py:391-450)          -> build_evidence()

The LLM answer step stays behind the pluggable client in enrich.py —
deterministic artifacts never depend on it (README.md:111-113 rule).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.graph import bfs_closure

MAX_IMPACT_COLS = 3
BFS_NODE_LIMIT = 2000
MAX_IMPACT_SHOW = 80
MAX_REASON_SHOW = 20
MAX_SCRIPTS_SHOW = 50
MAX_GOLD_SHOW = 60


def column_graph(edges: DataFrame) -> DataFrame:
    """Canonical edge table -> global (src, dst, reason) column graph."""
    return edges.select(
        F.col("src_col").alias("src"),
        F.col("target_col").alias("dst"),
        "reason",
    ).filter(F.col("src") != F.col("dst")).distinct()


def column_closure(graph: DataFrame, start_col: str, max_depth: int = 20) -> DataFrame:
    """Downstream transitive closure from one column, capped at
    BFS_NODE_LIMIT nodes (mirrors qa/ask.py:211 limit=2000)."""
    spark = graph.sparkSession
    seeds = spark.createDataFrame([(start_col,)], ["seed"])
    # two_hop: the column closure's contract depth is 20 — the deep-closure
    # shape where halved rounds pay for the edge doubling (r15 sf0.1 A/B:
    # 2.54s -> 2.47s steady, 35 -> 27 jobs; the win grows with real depth)
    closure = bfs_closure(graph, seeds, max_depth=max_depth, two_hop=True)
    return (
        closure.orderBy("depth", "node")
        .limit(BFS_NODE_LIMIT)
        .select(F.col("node").alias("impacted_col"), "depth")
    )


def known_columns(columns: DataFrame) -> set[str]:
    """All column names in the universe (qa/ask.py:202-207)."""
    rows = columns.select(
        F.explode(F.array_union(F.array("col_name"), "derived_from")).alias("c")
    ).distinct().collect()
    return {r.c for r in rows}


def candidate_columns(question: str, known: set[str], cap: int = MAX_IMPACT_COLS) -> list[str]:
    """Backticked tokens first, then identifier tokens ∩ known columns."""
    out: list[str] = []
    for tok in re.findall(r"`([^`]+)`", question):
        if tok in known and tok not in out:
            out.append(tok)
    for tok in re.findall(r"[A-Za-z_][A-Za-z0-9_]*", question):
        if tok in known and tok not in out:
            out.append(tok)
    return out[:cap]


def script_edges(assets: DataFrame) -> DataFrame:
    """Writer-script -> reader-script edges over shared asset paths."""
    from .stitch import stitch_links

    return stitch_links(assets).select(
        F.col("from_script").alias("src"), F.col("to_script").alias("dst")
    )


def downstream_scripts(assets: DataFrame, seed_scripts_df: DataFrame, max_depth: int = 10) -> DataFrame:
    """Transitive downstream scripts from a seed set (seeds excluded).

    Deliberately 1-hop (two_hop=False): the script wave terminates in a
    couple of hops on any realistic repo DAG, and the r15 A/B measured the
    edge-doubling pass as pure overhead here (1.54s -> 2.31s steady)."""
    closure = bfs_closure(script_edges(assets), seed_scripts_df, max_depth=max_depth)
    return closure.select(F.col("node").alias("script_name")).distinct()


def seed_scripts(columns: DataFrame, col_name: str) -> DataFrame:
    """Scripts whose column universe contains the candidate column."""
    return (
        columns.filter(
            (F.col("col_name") == col_name) | F.array_contains("derived_from", col_name)
        )
        .select(F.col("script_name").alias("seed"))
        .distinct()
    )


def gold_outputs(assets: DataFrame, scripts: DataFrame) -> DataFrame:
    """Write paths of the given scripts containing a /gold/ segment."""
    return (
        assets.filter(F.col("direction") == "write")
        .join(scripts, "script_name", "left_semi")
        .filter(F.array_contains(F.split(F.col("path"), "/"), "gold"))
        .select("script_name", "path")
        .distinct()
    )


def build_evidence(
    question: str,
    columns: DataFrame,
    edges: DataFrame,
    assets: DataFrame,
) -> str:
    """Assemble the capped, ordered evidence text (qa/ask.py:391-450)."""
    known = known_columns(columns)
    cands = candidate_columns(question, known)
    graph = column_graph(edges)
    sections: list[str] = [f"QUESTION: {question}", f"CANDIDATE COLUMNS: {', '.join(cands) or '(none)'}"]
    impacted_scripts = None
    for cand in cands:
        closure = column_closure(graph, cand)
        impacted = [r.impacted_col for r in closure.limit(MAX_IMPACT_SHOW).collect()]
        sections.append(
            f"COLUMN IMPACT {cand} -> ({len(impacted)}): {', '.join(impacted) or '(none)'}"
        )
        reason_rows = (
            graph.filter(F.col("src") == cand)
            .select("dst", "reason")
            .distinct()
            .orderBy("dst", "reason")
            .limit(MAX_REASON_SHOW)
            .collect()
        )
        reasons = [f"{cand} -> {r.dst}: {r.reason}" for r in reason_rows]
        if reasons:
            sections.append(f"ONE-HOP REASONS {cand}: " + " | ".join(reasons))
        seeds = seed_scripts(columns, cand)
        down = downstream_scripts(assets, seeds)
        scripts_all = seeds.select(F.col("seed").alias("script_name")).union(down).distinct()
        impacted_scripts = (
            scripts_all
            if impacted_scripts is None
            else impacted_scripts.union(scripts_all).distinct()
        )
    if impacted_scripts is not None:
        # order, then cap: a cap before the sort would list an arbitrary
        # subset once the set outgrows it
        names = [
            r.script_name
            for r in impacted_scripts.orderBy("script_name").limit(MAX_SCRIPTS_SHOW).collect()
        ]
        sections.append(f"IMPACTED SCRIPTS ({len(names)}): {', '.join(names)}")
        gold = gold_outputs(assets, impacted_scripts)
        paths = [r.path for r in gold.orderBy("path").limit(MAX_GOLD_SHOW).collect()]
        sections.append(f"GOLD OUTPUTS ({len(paths)}): {', '.join(paths)}")
    return re.sub(r"[ \t]+", " ", "\n".join(sections))
