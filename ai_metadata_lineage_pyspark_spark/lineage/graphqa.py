"""Deterministic graph-QA layer: column dependency graph, downstream
closures, asset graph, gold-output filter, candidate-column extraction and
evidence assembly.

Spark-native re-expression of qa/ask.py's deterministic core:
  * build_dependency_graph (qa/ask.py:167-208)  -> column_graph(), cut once
    with its two-hop list by column_edges()
  * downstream_closure     (qa/ask.py:211-223)  -> column_closure(): one
    multi-seed frontier BFS (operators/graph.py), node cap 2000 per seed
  * build_asset_graph      (qa/ask.py:295-322)  -> script_edges()
  * bfs_downstream_scripts (qa/ask.py:325-340)  -> downstream_scripts()
  * gold_outputs_for_scripts (qa/ask.py:343-360) -> gold_outputs()
  * seed_scripts_for_column (qa/ask.py:363-370) -> column_scripts(), and
    seed_scripts() for a set of columns
  * extract_candidate_columns (qa/ask.py:226-244) -> candidate_columns()
  * build_evidence (qa/ask.py:391-450)          -> build_evidence()

The reference loads its lineage outputs once at startup and answers every
question from them (qa/ask.py:457-471). Here prepare_graph() collects the
known-column set, and a LineageGraph keeps each column's capped evidence
lists on the driver from the first question that names the column: one
column closure seeded with that question's new columns and one script
closure seeded with their scripts compute them. A question whose columns
were all asked about before runs no Spark job in build_evidence().

The LLM answer step stays behind the pluggable client in enrich.py —
deterministic artifacts never depend on it (README.md:111-113 rule).
"""

from __future__ import annotations

import re
from collections.abc import Sequence, Set
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..operators.graph import PreparedEdges, bfs_closure, prepare_edges
from ..session import checkpoint_scope, iter_checkpoint

MAX_IMPACT_COLS = 3
BFS_NODE_LIMIT = 2000
MAX_IMPACT_SHOW = 80
MAX_REASON_SHOW = 20
MAX_SCRIPTS_SHOW = 50
MAX_GOLD_SHOW = 60
MAX_CACHED_COLUMNS = 256


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


def _named_columns() -> Column:
    """The columns a columns-table row names: its own and those it derives
    from."""
    return F.explode(F.array_union(F.array("col_name"), "derived_from"))


def known_columns(columns: DataFrame) -> set[str]:
    """All column names in the universe (qa/ask.py:202-207)."""
    return {r.col for r in columns.select(_named_columns().alias("col")).distinct().collect()}


def column_scripts(columns: DataFrame) -> DataFrame:
    """(col, script_name): each column with every script that names it —
    the seed-script rule of qa/ask.py:363-370."""
    return columns.select(_named_columns().alias("col"), "script_name").distinct()


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
    """(seed, script_name): the transitive downstream scripts of each seed
    script (seeds excluded)."""
    closure = bfs_closure(graph, seed_scripts_df, max_depth=max_depth)
    return closure.select("seed", F.col("node").alias("script_name"))


def seed_scripts(columns: DataFrame, col_names: Sequence[str]) -> DataFrame:
    """Scripts whose column universe contains any of the candidate columns."""
    return (
        column_scripts(columns)
        .filter(F.col("col").isin(list(col_names)))
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
class ColumnEvidence:
    """One column's capped evidence lists, each in show order.

    impact: its first MAX_IMPACT_SHOW downstream columns by (depth, column).
    reasons: its first MAX_REASON_SHOW one-hop edges by (dst, reason), as
      "src -> dst: reason".
    scripts: its first MAX_SCRIPTS_SHOW impacted scripts (seed scripts plus
      their downstream scripts) by name.
    gold: the first MAX_GOLD_SHOW (path, script_name) gold writes of its
      impacted scripts, in that order.
    """

    impact: tuple[str, ...]
    reasons: tuple[str, ...]
    scripts: tuple[str, ...]
    gold: tuple[tuple[str, str], ...]


@dataclass
class LineageGraph:
    """One repository's known columns, and the evidence lists of the
    columns asked about so far.

    A column's lists are computed on the first question that names it and
    kept for at most MAX_CACHED_COLUMNS columns, the least recently asked
    dropped first. The driver holds the |known| column names (the
    reference keeps the same set, qa/ask.py:202-207) and at most
    MAX_CACHED_COLUMNS x (MAX_IMPACT_SHOW + MAX_REASON_SHOW +
    MAX_SCRIPTS_SHOW + MAX_GOLD_SHOW) strings or pairs, whatever the
    repository's edge or link counts. It holds no JVM block: `columns`,
    `edges` and `assets` are the session's own tables.
    """

    columns: DataFrame
    edges: DataFrame
    assets: DataFrame
    known: frozenset[str]
    cached: dict[str, ColumnEvidence] = field(default_factory=dict)

    def evidence(self, cols: Sequence[str]) -> list[ColumnEvidence]:
        """The lists of each of `cols`; those not yet kept are computed in
        one batch."""
        missing = [c for c in cols if c not in self.cached]
        if missing:
            self.cached.update(_column_evidence(self.columns, self.edges, self.assets, missing))
        out = [self.cached.pop(c) for c in cols]
        self.cached.update(zip(cols, out))  # most recently asked last
        while len(self.cached) > MAX_CACHED_COLUMNS:
            del self.cached[next(iter(self.cached))]
        return out


def prepare_graph(columns: DataFrame, edges: DataFrame, assets: DataFrame) -> LineageGraph:
    """Collect the known columns; each column's evidence lists are
    computed when a question first names it."""
    return LineageGraph(columns, edges, assets, frozenset(known_columns(columns)))


def _column_evidence(
    columns: DataFrame, edges: DataFrame, assets: DataFrame, cols: Sequence[str]
) -> dict[str, ColumnEvidence]:
    """Each column's capped lists, collected in one action. The closures'
    checkpoints are released before it returns."""
    lists: dict[str, dict[str, list]] = {c: {"impact": [], "reasons": [], "scripts": [], "gold": []} for c in cols}
    with checkpoint_scope():
        rows = _evidence_lists(columns, edges, assets, cols).collect()
    for r in sorted(rows, key=lambda r: r.rank):
        if r.kind == "reasons":
            value = f"{r.key} -> {r.a}: {r.b}"
        elif r.kind == "gold":
            value = (r.a, r.b)
        else:
            value = r.a
        lists[r.key][r.kind].append(value)
    return {c: ColumnEvidence(**{kind: tuple(v) for kind, v in by_kind.items()}) for c, by_kind in lists.items()}


def _evidence_lists(columns: DataFrame, edges: DataFrame, assets: DataFrame, cols: Sequence[str]) -> DataFrame:
    """(kind, key, rank, a, b): the four capped lists of each column `key`
    of `cols`, ranked from 1 in show order, as one tagged union."""

    def first(df: DataFrame, key: str, order: Sequence[str], cap: int) -> DataFrame:
        rank = F.row_number().over(Window.partitionBy(key).orderBy(*order))
        return df.withColumn("rank", rank).filter(F.col("rank") <= cap)

    def tagged(kind: str, df: DataFrame, key: str, a: str, b: str | None = None) -> DataFrame:
        return df.select(
            F.lit(kind).alias("kind"),
            F.col(key).alias("key"),
            "rank",
            F.col(a).alias("a"),
            (F.col(b) if b else F.lit(None).cast("string")).alias("b"),
        )

    graph = iter_checkpoint(column_graph(edges))
    impact = column_closure(column_edges(graph), cols).filter(F.col("rank") <= MAX_IMPACT_SHOW)
    reasons = first(graph.filter(F.col("src").isin(list(cols))), "src", ["dst", "reason"], MAX_REASON_SHOW)
    # each column's impacted scripts: its seed scripts plus their downstream
    # scripts, from one closure seeded with the seed scripts of all of `cols`
    seeds = column_scripts(columns).filter(F.col("col").isin(list(cols)))
    down = downstream_scripts(
        script_edges(assets), seeds.select(F.col("script_name").alias("seed")).distinct()
    ).select(F.col("seed").alias("script_name"), F.col("script_name").alias("down"))
    impacted = seeds.unionByName(
        seeds.join(down, "script_name").select("col", F.col("down").alias("script_name"))
    ).distinct()
    scripts = first(impacted, "col", ["script_name"], MAX_SCRIPTS_SHOW)
    gold = first(
        impacted.join(gold_outputs(assets, impacted), "script_name"),
        "col",
        ["path", "script_name"],
        MAX_GOLD_SHOW,
    )
    return (
        tagged("impact", impact, "seed", "impacted_col")
        .unionByName(tagged("reasons", reasons, "src", "dst", "reason"))
        .unionByName(tagged("scripts", scripts, "col", "script_name"))
        .unionByName(tagged("gold", gold, "col", "path", "script_name"))
    )


def build_evidence(question: str, lineage: LineageGraph) -> str:
    """Assemble the capped, ordered evidence text (qa/ask.py:391-450) from
    the question's columns' lists; it runs Spark jobs only for columns no
    earlier question named.

    A multi-column question lists each column's impact and reasons, then
    the merged scripts and gold outputs of all its columns. The merge is
    exact: the first N of a union, in one total order, are the first N of
    the union of each set's first N."""
    cands = candidate_columns(question, lineage.known)
    lines = [f"QUESTION: {question}", f"CANDIDATE COLUMNS: {', '.join(cands) or '(none)'}"]
    per_col = lineage.evidence(cands)
    for cand, ev in zip(cands, per_col):
        lines.append(f"COLUMN IMPACT {cand} -> ({len(ev.impact)}): {', '.join(ev.impact) or '(none)'}")
        if ev.reasons:
            lines.append(f"ONE-HOP REASONS {cand}: " + " | ".join(ev.reasons))
    if cands:
        names = sorted({s for ev in per_col for s in ev.scripts})[:MAX_SCRIPTS_SHOW]
        lines.append(f"IMPACTED SCRIPTS ({len(names)}): {', '.join(names)}")
        gold = sorted({g for ev in per_col for g in ev.gold})[:MAX_GOLD_SHOW]
        lines.append(f"GOLD OUTPUTS ({len(gold)}): {', '.join(path for path, _ in gold)}")
    return re.sub(r"[ \t]+", " ", "\n".join(lines))
