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
question by in-process traversal (qa/ask.py:211-223, 325-340, 457-471).
Here prepare_graph() does the same: one action collects the four small
tables the evidence reads (the column graph, column -> scripts, the script
links and the gold writes) into a driver-side LineageGraph, and every
question's evidence is then a BFS over those dicts. build_evidence() runs
no Spark job. The distributed closures above stay for the registered
lineage queries, which run them under DuckDB oracles.

The LLM answer step stays behind the pluggable client in enrich.py —
deterministic artifacts never depend on it (README.md:111-113 rule).
"""

from __future__ import annotations

import functools
import re
from collections.abc import Iterable, Mapping, Sequence, Set
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..operators.graph import PreparedEdges, bfs_closure, prepare_edges

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


class LineageGraphTooLarge(RuntimeError):
    """The lineage tables hold more than `MAX_LINEAGE_ROWS` rows: the
    session's graph stops instead of running the driver out of memory."""


# A row is two or three short strings (column and script names, a reason, a
# path), a few hundred bytes as Python objects, so 1,000,000 rows is a few
# hundred MB of the 8g default driver: about 20x the 49,206 rows of the
# 5,000-script repository of tools/repo_scale_lineage_probe.py.
MAX_LINEAGE_ROWS = 1_000_000


def lineage_rows(columns: DataFrame, edges: DataFrame, assets: DataFrame) -> DataFrame:
    """(kind, a, b, c): the four tables the evidence reads, as one tagged
    union: the column graph ("edge": src, dst, reason), each column's
    scripts ("column": col, script_name), the script links ("link":
    from_script, to_script) and every script's gold writes ("gold":
    script_name, path)."""
    from .stitch import stitch_links

    def tagged(kind: str, df: DataFrame, *cols: str) -> DataFrame:
        return df.select(F.lit(kind).alias("kind"), *(F.col(c).alias(k) for k, c in zip("abc", cols)))

    parts = [
        tagged("edge", column_graph(edges), "src", "dst", "reason"),
        tagged("column", column_scripts(columns), "col", "script_name"),
        tagged("link", stitch_links(assets).select("from_script", "to_script").distinct(), "from_script", "to_script"),
        tagged("gold", gold_outputs(assets, assets), "script_name", "path"),
    ]
    return functools.reduce(lambda x, y: x.unionByName(y, allowMissingColumns=True), parts)


def _reach(adj: Mapping[str, Iterable[str]], seeds: Iterable[str], max_depth: int, cap: int | None = None) -> list[str]:
    """The nodes within `max_depth` hops downstream of `seeds`, seeds
    excluded, by (min depth, node): bfs_closure's closure of the seed set,
    in column_closure's rank order. With `cap`, the first `cap` of them; the
    BFS stops at the first depth that fills it."""
    seen = set(seeds)
    frontier, out = list(seen), []
    for _ in range(max_depth):
        if cap is not None and len(out) >= cap:
            break
        frontier = sorted({v for u in frontier for v in adj.get(u, ()) if v not in seen})
        if not frontier:
            break
        seen.update(frontier)
        out += frontier
    return out[:cap]


@dataclass
class LineageGraph:
    """One repository's lineage on the driver, as prepare_graph() collects
    it: each column's one-hop (dst, reason) edges, sorted, and downstream
    columns; each known column's scripts; each script's downstream scripts
    (those that read a path it writes) and gold write paths.

    A column's evidence lists are computed on the first question that names
    it and kept for at most MAX_CACHED_COLUMNS columns, the least recently
    asked dropped first. It holds no JVM block.
    """

    reasons: dict[str, list[tuple[str, str]]]
    children: dict[str, set[str]]
    column_scripts: dict[str, list[str]]
    links: dict[str, list[str]]
    gold: dict[str, list[str]]
    cached: dict[str, ColumnEvidence] = field(default_factory=dict)

    @property
    def known(self) -> Set[str]:
        """All column names in the universe (qa/ask.py:202-207)."""
        return self.column_scripts.keys()

    def evidence(self, cols: Sequence[str]) -> list[ColumnEvidence]:
        """The lists of each of `cols`; those not yet kept are computed."""
        for c in cols:
            if c not in self.cached:
                self.cached[c] = self._lists(c)
        out = [self.cached.pop(c) for c in cols]
        self.cached.update(zip(cols, out))  # most recently asked last
        while len(self.cached) > MAX_CACHED_COLUMNS:
            del self.cached[next(iter(self.cached))]
        return out

    def _lists(self, col: str) -> ColumnEvidence:
        """One column's capped lists, by in-process BFS: the closures of
        column_closure (depth 20) and downstream_scripts (depth 10)."""
        seeds = self.column_scripts.get(col, [])
        scripts = sorted({*seeds, *_reach(self.links, seeds, 10)})
        gold = sorted((path, s) for s in scripts for path in self.gold.get(s, ()))
        return ColumnEvidence(
            impact=tuple(_reach(self.children, [col], 20, min(BFS_NODE_LIMIT, MAX_IMPACT_SHOW))),
            reasons=tuple(f"{col} -> {dst}: {reason}" for dst, reason in self.reasons.get(col, [])[:MAX_REASON_SHOW]),
            scripts=tuple(scripts[:MAX_SCRIPTS_SHOW]),
            gold=tuple(gold[:MAX_GOLD_SHOW]),
        )


def prepare_graph(columns: DataFrame, edges: DataFrame, assets: DataFrame) -> LineageGraph:
    """Collect the lineage tables to the driver in one action, at most
    MAX_LINEAGE_ROWS rows; raises LineageGraphTooLarge past the cap."""
    rows = lineage_rows(columns, edges, assets).limit(MAX_LINEAGE_ROWS + 1).collect()
    if len(rows) > MAX_LINEAGE_ROWS:
        raise LineageGraphTooLarge(
            f"lineage graph reached {len(rows)} rows, over the driver cap MAX_LINEAGE_ROWS={MAX_LINEAGE_ROWS}"
        )
    tables: dict[str, dict] = {"edge": {}, "column": {}, "link": {}, "gold": {}}
    for r in rows:
        tables[r.kind].setdefault(r.a, []).append((r.b, r.c) if r.kind == "edge" else r.b)
    edge, column, link, gold = tables.values()
    children = {src: {dst for dst, _ in out} for src, out in edge.items()}
    return LineageGraph({src: sorted(out) for src, out in edge.items()}, children, column, link, gold)


def build_evidence(question: str, lineage: LineageGraph) -> str:
    """Assemble the capped, ordered evidence text (qa/ask.py:391-450) from
    the question's columns' lists, on the driver: it runs no Spark job.

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
