"""Deterministic graph-QA layer: column dependency graph, downstream
closures, asset graph, gold-output filter, candidate-column extraction and
evidence assembly.

Spark-native re-expression of qa/ask.py's deterministic core:
  * build_dependency_graph (qa/ask.py:167-208)  -> column_graph(), cut once
    with its two-hop list by column_edges()
  * downstream_closure     (qa/ask.py:211-223)  -> column_closure(): one
    multi-seed frontier BFS (operators/graph.py) for all of a question's
    candidate columns, node cap 2000 per column
  * build_asset_graph      (qa/ask.py:295-322)  -> script_edges()
  * bfs_downstream_scripts (qa/ask.py:325-340)  -> downstream_scripts()
  * gold_outputs_for_scripts (qa/ask.py:343-360) -> gold_outputs()
  * seed_scripts_for_column (qa/ask.py:363-370) -> seed_scripts()
  * extract_candidate_columns (qa/ask.py:226-244) -> candidate_columns()
  * build_evidence (qa/ask.py:391-450)          -> build_evidence()

The reference loads its lineage outputs once at startup and answers every
question from them (qa/ask.py:457-471). Here that load is prepare_graph():
the known-column set and the lineage-cut column and script edge lists, built
once and shared by every build_evidence() call over the same repository.

The LLM answer step stays behind the pluggable client in enrich.py —
deterministic artifacts never depend on it (README.md:111-113 rule).
"""

from __future__ import annotations

import re
from collections.abc import Sequence, Set
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.graph import PreparedEdges, bfs_closure, prepare_edges
from ..session import checkpoint_scope, iter_checkpoint

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


def column_edges(graph: DataFrame) -> PreparedEdges:
    """The column graph's edge list, lineage-cut with its two-hop list.

    two_hop: the column closure's contract depth is 20 — the deep-closure
    shape where halved rounds pay for the edge doubling (r15 sf0.1 A/B:
    2.54s -> 2.47s steady, 35 -> 27 jobs; the win grows with real depth).
    The doubling is built here, once per repository, not once per closure.
    """
    return prepare_edges(graph, two_hop=True)


def column_closure(graph: PreparedEdges, start_cols: Sequence[str], max_depth: int = 20) -> DataFrame:
    """Downstream transitive closure of each start column, in one BFS.

    Returns (seed, impacted_col, depth, rank): per seed, the first
    BFS_NODE_LIMIT impacted columns by (depth, column), ranked from 1 in
    that order (mirrors qa/ask.py:211 limit=2000, per column)."""
    spark = graph.edges.sparkSession
    seeds = spark.createDataFrame([(c,) for c in start_cols], "seed string")
    closure = bfs_closure(graph, seeds, max_depth=max_depth)
    rank = F.row_number().over(Window.partitionBy("seed").orderBy("depth", "node"))
    return (
        closure.withColumn("rank", rank)
        .filter(F.col("rank") <= BFS_NODE_LIMIT)
        .select("seed", F.col("node").alias("impacted_col"), "depth", "rank")
    )


def known_columns(columns: DataFrame) -> set[str]:
    """All column names in the universe (qa/ask.py:202-207)."""
    rows = columns.select(
        F.explode(F.array_union(F.array("col_name"), "derived_from")).alias("c")
    ).distinct().collect()
    return {r.c for r in rows}


def candidate_columns(question: str, known: Set[str], cap: int = MAX_IMPACT_COLS) -> list[str]:
    """Backticked tokens first, then identifier tokens ∩ known columns."""
    out: list[str] = []
    for tok in re.findall(r"`([^`]+)`", question):
        if tok in known and tok not in out:
            out.append(tok)
    for tok in re.findall(r"[A-Za-z_][A-Za-z0-9_]*", question):
        if tok in known and tok not in out:
            out.append(tok)
    return out[:cap]


def script_edges(assets: DataFrame) -> PreparedEdges:
    """Writer-script -> reader-script edges over shared asset paths,
    lineage-cut.

    Deliberately 1-hop: the script wave terminates in a couple of hops on
    any realistic repo DAG, and the r15 A/B measured the edge-doubling pass
    as pure overhead here (1.54s -> 2.31s steady)."""
    from .stitch import stitch_links

    return prepare_edges(
        stitch_links(assets).select(
            F.col("from_script").alias("src"), F.col("to_script").alias("dst")
        )
    )


def downstream_scripts(graph: PreparedEdges, seed_scripts_df: DataFrame, max_depth: int = 10) -> DataFrame:
    """Transitive downstream scripts from a seed set (seeds excluded)."""
    closure = bfs_closure(graph, seed_scripts_df, max_depth=max_depth)
    return closure.select(F.col("node").alias("script_name")).distinct()


def seed_scripts(columns: DataFrame, col_names: Sequence[str]) -> DataFrame:
    """Scripts whose column universe contains any of the candidate columns."""
    names = F.array(*[F.lit(c) for c in col_names])
    return (
        columns.filter(
            F.col("col_name").isin(list(col_names)) | F.arrays_overlap("derived_from", names)
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


@dataclass(frozen=True)
class LineageGraph:
    """The ask-invariant state of one lineage repository."""

    columns: DataFrame
    assets: DataFrame
    known: frozenset[str]
    column_graph: DataFrame  # (src, dst, reason): the one-hop reasons
    column_edges: PreparedEdges
    script_edges: PreparedEdges


def prepare_graph(columns: DataFrame, edges: DataFrame, assets: DataFrame) -> LineageGraph:
    """Collect the known columns and lineage-cut the column graph, its edge
    lists (one- and two-hop) and the script edge list: the work every
    question over the repository would otherwise repeat."""
    graph = iter_checkpoint(column_graph(edges))
    return LineageGraph(
        columns=columns,
        assets=assets,
        known=frozenset(known_columns(columns)),
        column_graph=graph,
        column_edges=column_edges(graph),
        script_edges=script_edges(assets),
    )


def build_evidence(question: str, lineage: LineageGraph) -> str:
    """Assemble the capped, ordered evidence text (qa/ask.py:391-450).

    All of the question's candidate columns share one column closure, one
    one-hop reasons query and one script closure over the union of their
    seed scripts; the text is the same as column-by-column evidence."""
    cands = candidate_columns(question, lineage.known)
    sections: list[str] = [f"QUESTION: {question}", f"CANDIDATE COLUMNS: {', '.join(cands) or '(none)'}"]
    if cands:
        # the closures' frontier checkpoints are all collected into text
        # here, so they are released on the way out, not at the next JVM GC
        with checkpoint_scope():
            sections += _candidate_sections(lineage, cands)
    return re.sub(r"[ \t]+", " ", "\n".join(sections))


def _candidate_sections(lineage: LineageGraph, cands: list[str]) -> list[str]:
    """The impact, reasons, impacted-script and gold-output lines."""
    # the impact and reason lists are capped per column, so they are ordered
    # on the driver: a global sort would cost a range-sampling job and a
    # shuffle
    impacted: dict[str, list[str]] = {c: [] for c in cands}
    closure = column_closure(lineage.column_edges, cands)
    for r in sorted(closure.filter(F.col("rank") <= MAX_IMPACT_SHOW).collect(), key=lambda r: r.rank):
        impacted[r.seed].append(r.impacted_col)
    reasons: dict[str, list[str]] = {c: [] for c in cands}
    rank = F.row_number().over(Window.partitionBy("src").orderBy("dst", "reason"))
    reason_rows = (
        lineage.column_graph.filter(F.col("src").isin(cands))
        .withColumn("rank", rank)
        .filter(F.col("rank") <= MAX_REASON_SHOW)
        .collect()
    )
    for r in sorted(reason_rows, key=lambda r: r.rank):
        reasons[r.src].append(f"{r.src} -> {r.dst}: {r.reason}")
    lines = []
    for cand in cands:
        cols = impacted[cand]
        lines.append(f"COLUMN IMPACT {cand} -> ({len(cols)}): {', '.join(cols) or '(none)'}")
        if reasons[cand]:
            lines.append(f"ONE-HOP REASONS {cand}: " + " | ".join(reasons[cand]))
    seeds = seed_scripts(lineage.columns, cands)
    down = downstream_scripts(lineage.script_edges, seeds)
    impacted_scripts = seeds.select(F.col("seed").alias("script_name")).union(down).distinct()
    # order, then cap: a cap before the sort would list an arbitrary subset
    # once the set outgrows it
    names = [
        r.script_name
        for r in impacted_scripts.orderBy("script_name").limit(MAX_SCRIPTS_SHOW).collect()
    ]
    lines.append(f"IMPACTED SCRIPTS ({len(names)}): {', '.join(names)}")
    gold = gold_outputs(lineage.assets, impacted_scripts)
    paths = [r.path for r in gold.orderBy("path").limit(MAX_GOLD_SHOW).collect()]
    lines.append(f"GOLD OUTPUTS ({len(paths)}): {', '.join(paths)}")
    return lines
