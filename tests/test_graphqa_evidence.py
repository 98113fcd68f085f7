"""build_evidence over a prepared lineage graph.

It caps its script and gold-output lists AFTER ordering them: above the cap
it lists the first names in order, not an arbitrary subset. The prepared
graph keeps each asked column's capped lists, no longer than their caps,
for at most MAX_CACHED_COLUMNS columns; a multi-column question's merged
lists equal a column-by-column build, and each column's lists equal those
the distributed closures give. A QASession collects its lineage graph and
its retrieval index once, on its first ask, and holds no checkpoint for
either; no later ask runs a Spark job. Its retrieval equals a brute-force
cosine ranking, and `retrieve_top_k`'s distributed ranking to the bit, ties
included.
"""

from __future__ import annotations

import gc
import hashlib
import itertools
import math
import re
import string
import time

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ai_metadata_lineage_pyspark_spark.ask import QASession
from ai_metadata_lineage_pyspark_spark.lineage import embed, graphqa, queries, stitch
from ai_metadata_lineage_pyspark_spark.lineage.embed import (
    DIM,
    TOP_K,
    RetrievalIndexTooLarge,
    embed_documents,
    hash_embed,
    retrieve_top_k,
)
from ai_metadata_lineage_pyspark_spark.lineage.graphqa import (
    MAX_GOLD_SHOW,
    MAX_IMPACT_SHOW,
    MAX_REASON_SHOW,
    MAX_SCRIPTS_SHOW,
    ColumnEvidence,
    LineageGraphTooLarge,
    build_evidence,
    column_closure,
    column_edges,
    column_graph,
    downstream_scripts,
    gold_outputs,
    prepare_graph,
    script_edges,
    seed_scripts,
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

    evidence = build_evidence("what breaks if `amount` changes?", prepare_graph(columns, edges, assets))

    assert "CANDIDATE COLUMNS: amount" in evidence
    assert _listed(evidence, "IMPACTED SCRIPTS") == sorted(writers + readers)[:MAX_SCRIPTS_SHOW]
    gold = sorted(f"s3a://lake/gold/t{i:02d}/" for i in range(_N_WRITERS))
    assert _listed(evidence, "GOLD OUTPUTS") == gold[:MAX_GOLD_SHOW]


def test_lists_below_the_caps_are_complete(spark):
    _, _, columns, edges, assets = _repo(spark)
    few = ["s03", "s01", "z0"]
    columns = columns.filter(columns.script_name.isin(few))
    assets = assets.filter(assets.script_name.isin(few))

    evidence = build_evidence("what breaks if `amount` changes?", prepare_graph(columns, edges, assets))

    assert _listed(evidence, "IMPACTED SCRIPTS") == ["s01", "s03", "z0"]
    assert _listed(evidence, "GOLD OUTPUTS") == ["s3a://lake/gold/t01/", "s3a://lake/gold/t03/"]


# --- one multi-seed closure per question ------------------------------------

_N_WIDE = MAX_IMPACT_SHOW + 5  # `amount` has more descendants than are shown
_COLUMN_CHAIN = [f"k{i:02d}" for i in range(26)]  # 25 hops, past the depth-20 closure
_SCRIPT_CHAIN = [f"p{i:02d}" for i in range(13)]  # 12 hops, past the depth-10 closure


def _wide_repo(spark):
    """`amount` feeds _N_WIDE columns (one of them back into `amount`);
    `fee` reaches one of them through `fee_usd`. Script `wide` holds the
    `amount` columns, `fees` the `fee` ones, and `report` reads what `fees`
    writes. Column `k00` heads a column chain longer than the column
    closure's depth, and its script `p00` heads a script chain longer than
    the script closure's depth, each script of which writes a gold path."""
    wide = [f"d{i:02d}" for i in range(_N_WIDE)]
    col_edges = (
        [("wide", w, "amount", f"derive {w}") for w in wide]
        + [("wide", "e0", "d00", "deeper"), ("wide", "amount", "d01", "cycle")]
        + [("fees", "fee_usd", "fee", "convert"), ("fees", "fee_usd", "fee", "round")]
        + [("fees", "d03", "fee_usd", "spill")]
        + [("chain", dst, src, "step") for src, dst in zip(_COLUMN_CHAIN, _COLUMN_CHAIN[1:])]
    )
    edges = spark.createDataFrame(
        col_edges, "script_name string, target_col string, src_col string, reason string"
    )
    columns = spark.createDataFrame(
        [("wide", "amount", []), ("fees", "fee", []), ("fees", "fee_usd", ["fee"]),
         ("report", "total", ["fee_usd"]), ("p00", "k00", [])]
        + [("wide", w, ["amount"]) for w in wide]
        + [("chain", dst, [src]) for src, dst in zip(_COLUMN_CHAIN, _COLUMN_CHAIN[1:])],
        "script_name string, col_name string, derived_from array<string>",
    )
    asset_rows = [
        ("wide", "write", "s3a://lake/gold/wide/"),
        ("fees", "write", "s3a://lake/silver/fees/"),
        ("fees", "write", "s3a://lake/gold/fees/"),
        ("report", "read", "s3a://lake/silver/fees/"),
        ("report", "write", "s3a://lake/gold/report/"),
    ]
    for i, script in enumerate(_SCRIPT_CHAIN):
        asset_rows += [(script, "write", f"s3a://lake/silver/{script}/"), (script, "write", f"s3a://lake/gold/{script}/")]
        if i:
            asset_rows.append((script, "read", f"s3a://lake/silver/{_SCRIPT_CHAIN[i - 1]}/"))
    assets = spark.createDataFrame(asset_rows, "script_name string, direction string, path string")
    return col_edges, columns, edges, asset_rows, assets


def _section(evidence: str, *prefixes: str) -> list[str]:
    return [line for line in evidence.split("\n") if line.startswith(prefixes)]


def _bfs(adj: dict, start: str, max_depth: int) -> list[tuple[int, str]]:
    """(depth, node) of every node downstream of `start`, in show order."""
    depth = {start: 0}
    frontier = [start]
    for d in range(1, max_depth + 1):
        frontier = sorted({v for u in frontier for v in adj.get(u, ()) if v not in depth})
        depth.update((v, d) for v in frontier)
    return sorted((d, n) for n, d in depth.items() if n != start)


def _scripts_column_by_column(col_rows, asset_rows, cands):
    """IMPACTED SCRIPTS and GOLD OUTPUTS as a per-column evidence build lists
    them: each column's seed scripts plus their downstream scripts, united,
    under graphqa's caps at call time."""
    writer = {}
    for script, direction, path in asset_rows:
        if direction == "write":
            key = path.rstrip("/")
            writer[key] = max(writer.get(key, script), script)
    links = {}
    for script, direction, path in asset_rows:
        w = writer.get(path.rstrip("/"))
        if direction == "read" and w not in (None, script):
            links.setdefault(w, set()).add(script)
    scripts = set()
    for c in cands:
        seeds = {s for s, col, derived in col_rows if col == c or c in derived}
        scripts |= seeds | {n for s in seeds for _, n in _bfs(links, s, 10)}
    gold = sorted(
        path for script, direction, path in asset_rows
        if direction == "write" and script in scripts and "gold" in path.split("/")
    )
    return sorted(scripts)[: graphqa.MAX_SCRIPTS_SHOW], gold[: graphqa.MAX_GOLD_SHOW]


def test_two_column_question_joins_the_single_column_answers(spark):
    col_edges, columns, edges, asset_rows, assets = _wide_repo(spark)
    lineage = prepare_graph(columns, edges, assets)

    both = build_evidence("how do `amount` and `fee` reach the gold tables?", lineage)
    amount = build_evidence("what breaks if `amount` changes?", lineage)
    fee = build_evidence("what breaks if `fee` changes?", lineage)

    per_column = ("COLUMN IMPACT", "ONE-HOP REASONS")
    assert _section(both, *per_column) == _section(amount, *per_column) + _section(fee, *per_column)
    adj = {}
    for _, dst, src, _ in col_edges:
        adj.setdefault(src, set()).add(dst)
    shown = [n for _, n in _bfs(adj, "amount", 20)][:MAX_IMPACT_SHOW]
    assert _section(amount, "COLUMN IMPACT") == [
        f"COLUMN IMPACT amount -> ({MAX_IMPACT_SHOW}): {', '.join(shown)}"
    ]
    assert _section(fee, "ONE-HOP REASONS") == [
        "ONE-HOP REASONS fee: fee -> fee_usd: convert | fee -> fee_usd: round"
    ]
    col_rows = [tuple(r) for r in columns.collect()]
    names, gold = _scripts_column_by_column(col_rows, asset_rows, ["amount", "fee"])
    assert _listed(both, "IMPACTED SCRIPTS") == names == ["fees", "report", "wide"]
    assert _listed(both, "GOLD OUTPUTS") == gold


_NODES = [f"c{i}" for i in range(7)]
_CLOSURE_CAP = 3  # stands in for BFS_NODE_LIMIT, so random graphs reach it


@given(
    pairs=st.lists(st.tuples(st.sampled_from(_NODES), st.sampled_from(_NODES)), min_size=1, max_size=14),
    seeds=st.lists(st.sampled_from(_NODES), min_size=1, max_size=3, unique=True),
)
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_multi_seed_closure_is_the_union_of_single_seed_closures(spark, monkeypatch, pairs, seeds):
    monkeypatch.setattr(graphqa, "BFS_NODE_LIMIT", _CLOSURE_CAP)
    edges = spark.createDataFrame(
        [("s", dst, src, "r") for src, dst in pairs],
        "script_name string, target_col string, src_col string, reason string",
    )
    prepared = column_edges(column_graph(edges))

    def by_seed(starts):
        out = {}
        for r in column_closure(prepared, starts).collect():
            out.setdefault(r.seed, []).append((r.rank, r.depth, r.impacted_col))
        return {s: sorted(v) for s, v in out.items()}

    adj = {}
    for src, dst in pairs:
        if src != dst:
            adj.setdefault(src, set()).add(dst)
    union = {}
    for s in seeds:
        single = by_seed([s])
        expected = _bfs(adj, s, 20)[:_CLOSURE_CAP]
        assert single.get(s, []) == [(i, d, n) for i, (d, n) in enumerate(expected, 1)]
        union.update(single)
    assert by_seed(seeds) == union


# --- the session-scoped graph -------------------------------------------------

_GROUPS = itertools.count()
_ASKS = (
    "which columns derive from temp_c and what writes to gold alerts",
    "what breaks if `device_id` changes",
    "how do alert_score and n_readings flow into gold",
)


def _jobs_in(spark, fn):
    """Run `fn()` under a fresh job group; return the number of Spark jobs
    it submitted."""
    sc = spark.sparkContext
    group = f"graphqa-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_ask_reuses_the_prepared_graph(spark, monkeypatch):
    qa = QASession.build(spark)
    first = _jobs_in(spark, lambda: qa.ask(_ASKS[2]))
    prepared = qa.lineage

    calls = []

    def spy(fn):
        def wrapped(*args, **kwargs):
            calls.append(fn.__name__)
            return fn(*args, **kwargs)

        return wrapped

    monkeypatch.setattr(stitch, "stitch_links", spy(stitch.stitch_links))
    monkeypatch.setattr(graphqa, "prepare_edges", spy(graphqa.prepare_edges))
    monkeypatch.setattr(graphqa, "known_columns", spy(graphqa.known_columns))
    second = _jobs_in(spark, lambda: qa.ask(_ASKS[2]))
    third = _jobs_in(spark, lambda: qa.ask(_ASKS[2]))

    assert calls == []
    assert qa.lineage is prepared
    assert second == third < first


def _persistent_rdds(spark, collect_garbage: bool) -> set[int]:
    """Ids of the RDDs the JVM holds persisted. With `collect_garbage`, only
    what is still referenced: py4j's finalizer thread releases the JVM
    handles of collected Python objects about once a second."""
    sc = spark.sparkContext
    ids = None
    while True:
        if collect_garbage:
            gc.collect()
            time.sleep(1.2)
            sc._jvm.System.gc()
            time.sleep(0.2)
        last, ids = ids, set(sc._jsc.getPersistentRDDs().keySet())
        if not collect_garbage or ids == last:
            return ids


def test_asks_release_their_checkpoints(spark):
    qa = QASession.build(spark)
    before_index = _persistent_rdds(spark, collect_garbage=True)
    assert qa.index.ids  # collected to the driver, not checkpointed
    assert _persistent_rdds(spark, collect_garbage=False) == before_index

    qa.ask(_ASKS[0])  # prepares the graph, which the session keeps
    after_first = _persistent_rdds(spark, collect_garbage=True)

    for q in _ASKS + _ASKS[:2]:
        qa.ask(q)

    # released when each ask returns, not at the JVM's next garbage collection
    assert _persistent_rdds(spark, collect_garbage=False) == after_first
    assert _persistent_rdds(spark, collect_garbage=True) == after_first


def test_asks_about_asked_columns_run_no_jobs(spark):
    qa = QASession.build(spark)
    for q in _ASKS:
        qa.ask(q)  # computes each named column's lists, and the index once

    for q in _ASKS:
        assert _jobs_in(spark, lambda: build_evidence(q, qa.lineage)) == 0
        assert _jobs_in(spark, lambda: qa.ask(q)) == _jobs_in(spark, lambda: qa.retrieve(q)) == 0


def test_only_a_sessions_first_ask_runs_jobs(spark):
    qa = QASession.build(spark)
    assert _jobs_in(spark, lambda: qa.ask(_ASKS[0])) > 0  # collects the graph and the index

    for q in _ASKS[1:]:
        named = graphqa.candidate_columns(q, qa.lineage.known)
        assert named and not set(named) & set(qa.lineage.cached)  # no earlier ask named them
        assert _jobs_in(spark, lambda: qa.ask(q)) == 0


def _cancelling_tokens() -> str:
    """Two tokens hashed to one bucket with opposite signs: a question of
    both embeds to the zero vector although it has tokens."""
    seen = {}
    for i in itertools.count():
        tok = f"t{i}"
        vec = hash_embed(tok)
        bucket = next(b for b, v in enumerate(vec) if v)
        if -vec[bucket] in seen.get(bucket, {}):
            return f"{seen[bucket][-vec[bucket]]} {tok}"
        seen.setdefault(bucket, {})[vec[bucket]] = tok


def test_a_zero_question_vector_retrieves_nothing(spark):
    qa = QASession.build(spark)
    qa.ask(_ASKS[0])
    for q in ("   ", _cancelling_tokens()):
        assert not any(hash_embed(q))
        hits = []
        assert _jobs_in(spark, lambda: hits.extend(qa.retrieve(q))) == 0
        assert hits == []
        result = qa.ask(q)
        assert result["debug"]["retrieved_docs"] == 0
        assert "CANDIDATE COLUMNS: (none)" in result["evidence"].split("\n")
    with pytest.raises(ValueError, match="zero norm"):
        retrieve_top_k(qa.embedded, [0.0] * DIM)


def test_build_extracts_the_scripts_once(spark, monkeypatch):
    extract, calls = queries.extract_from_dir, []
    monkeypatch.setattr(queries, "extract_from_dir", lambda *a, **k: calls.append(a) or extract(*a, **k))
    QASession.build(spark).ask(_ASKS[0])

    assert len(calls) == 1


def test_column_lists_leave_no_persisted_rdd(spark):
    _, columns, edges, _, assets = _wide_repo(spark)
    lineage = prepare_graph(columns, edges, assets)
    before = _persistent_rdds(spark, collect_garbage=True)

    build_evidence("how do `amount` and `fee` reach the gold tables?", lineage)

    assert lineage.cached["amount"].impact
    assert _persistent_rdds(spark, collect_garbage=False) == before
    assert _persistent_rdds(spark, collect_garbage=True) == before


def _assert_capped(lineage):
    """Every known column's lists, with a script each and none over its cap."""
    for ev in lineage.evidence(sorted(lineage.known)):
        assert ev.scripts
        for kept, cap in (
            (ev.impact, MAX_IMPACT_SHOW),
            (ev.reasons, MAX_REASON_SHOW),
            (ev.scripts, MAX_SCRIPTS_SHOW),
            (ev.gold, MAX_GOLD_SHOW),
        ):
            assert len(kept) <= cap


def test_per_column_lists_stop_at_their_caps(spark):
    _, _, columns, edges, assets = _repo(spark)
    lineage = prepare_graph(columns, edges, assets)
    _assert_capped(lineage)
    assert lineage.known == {"amount", "amount_usd"}
    assert len(lineage.cached["amount"].scripts) == MAX_SCRIPTS_SHOW  # 75 impacted
    assert len(lineage.cached["amount"].gold) == MAX_GOLD_SHOW  # 70 gold writes

    _, columns, edges, _, assets = _wide_repo(spark)
    lineage = prepare_graph(columns, edges, assets)
    _assert_capped(lineage)
    assert len(lineage.cached["amount"].impact) == MAX_IMPACT_SHOW  # _N_WIDE + 1 downstream
    assert len(lineage.cached["amount"].reasons) == MAX_REASON_SHOW  # _N_WIDE one-hop edges


def test_kept_columns_are_the_most_recently_asked(spark, monkeypatch):
    # the driver-side lists stay bounded by MAX_CACHED_COLUMNS x the four caps
    monkeypatch.setattr(graphqa, "MAX_CACHED_COLUMNS", 2)
    _, columns, edges, _, assets = _wide_repo(spark)
    lineage = prepare_graph(columns, edges, assets)
    ask = {c: f"what breaks if `{c}` changes?" for c in ("amount", "fee", "total")}

    first = build_evidence(ask["amount"], lineage)
    assert list(lineage.cached) == ["amount"]  # only the question's columns
    build_evidence(ask["fee"], lineage)
    assert _jobs_in(spark, lambda: build_evidence(ask["amount"], lineage)) == 0
    build_evidence(ask["total"], lineage)  # drops `fee`, asked least recently
    assert list(lineage.cached) == ["amount", "total"]

    assert _jobs_in(spark, lambda: build_evidence(ask["fee"], lineage)) == 0
    assert list(lineage.cached) == ["total", "fee"]
    assert build_evidence(ask["amount"], lineage) == first


def _distributed_evidence(columns, edges, assets, cols) -> dict[str, ColumnEvidence]:
    """Each of `cols`'s lists from the distributed closures: one column
    closure and one script closure, each seeded with all of `cols`."""
    spark = columns.sparkSession
    graph = column_graph(edges)
    impact, reasons = {}, {}
    for r in column_closure(column_edges(graph), cols).filter(F.col("rank") <= graphqa.MAX_IMPACT_SHOW).collect():
        impact.setdefault(r.seed, []).append((r.rank, r.impacted_col))
    for r in graph.filter(F.col("src").isin(cols)).collect():
        reasons.setdefault(r.src, []).append((r.dst, r.reason))
    seeds = {c: set() for c in cols}
    for r in graphqa.column_scripts(columns).filter(F.col("col").isin(cols)).collect():
        seeds[r.col].add(r.script_name)
    down = {}
    for r in downstream_scripts(script_edges(assets), seed_scripts(columns, cols)).collect():
        down.setdefault(r.seed, set()).add(r.script_name)
    impacted = {c: seeds[c].union(*(down.get(s, ()) for s in seeds[c])) for c in cols}
    scripts = spark.createDataFrame([(s,) for c in cols for s in impacted[c]], "script_name string")
    gold = [(r.path, r.script_name) for r in gold_outputs(assets, scripts).collect()]
    return {
        c: ColumnEvidence(
            impact=tuple(n for _, n in sorted(impact.get(c, []))),
            reasons=tuple(f"{c} -> {d}: {why}" for d, why in sorted(reasons.get(c, []))[:MAX_REASON_SHOW]),
            scripts=tuple(sorted(impacted[c])[:MAX_SCRIPTS_SHOW]),
            gold=tuple(sorted(g for g in gold if g[1] in impacted[c])[:MAX_GOLD_SHOW]),
        )
        for c in cols
    }


def _assert_driver_lists_are_distributed(columns, edges, assets) -> graphqa.LineageGraph:
    lineage = prepare_graph(columns, edges, assets)
    cols = sorted(lineage.known)
    assert dict(zip(cols, lineage.evidence(cols))) == _distributed_evidence(columns, edges, assets, cols)
    return lineage


def test_driver_lists_equal_the_distributed_closures_on_the_fixture(spark):
    qa = QASession.build(spark)
    lineage = _assert_driver_lists_are_distributed(qa.columns, qa.edges, qa.assets)
    assert len(lineage.known) > 20


def test_driver_lists_equal_the_distributed_closures_on_deep_and_wide_graphs(spark, monkeypatch):
    _, columns, edges, _, assets = _wide_repo(spark)
    lineage = _assert_driver_lists_are_distributed(columns, edges, assets)
    head = lineage.cached["k00"]
    assert head.impact == tuple(_COLUMN_CHAIN[1:21])  # the chain is cut at depth 20
    assert head.scripts == ("chain", *_SCRIPT_CHAIN[:11])  # p00 and 10 hops downstream
    assert head.gold == tuple((f"s3a://lake/gold/{s}/", s) for s in _SCRIPT_CHAIN[:11])

    # a hub past the per-seed node limit: `amount` reaches _N_WIDE + 1 columns
    monkeypatch.setattr(graphqa, "BFS_NODE_LIMIT", 7)
    lineage = _assert_driver_lists_are_distributed(columns, edges, assets)
    assert len(lineage.cached["amount"].impact) == 7


def test_graph_over_the_row_cap_fails_loudly(spark, monkeypatch):
    _, columns, edges, _, assets = _wide_repo(spark)
    n_rows = graphqa.lineage_rows(columns, edges, assets).count()
    monkeypatch.setattr(graphqa, "MAX_LINEAGE_ROWS", n_rows)
    assert prepare_graph(columns, edges, assets).known

    monkeypatch.setattr(graphqa, "MAX_LINEAGE_ROWS", n_rows - 1)
    with pytest.raises(LineageGraphTooLarge, match=f"reached {n_rows} rows"):
        prepare_graph(columns, edges, assets)


# --- the merge of per-column lists ------------------------------------------

_COLS = [f"c{i}" for i in range(6)]
_SCRIPTS = [f"s{i}" for i in range(5)]
_PATHS = [f"s3a://lake/{layer}/t{i}/" for layer in ("gold", "silver") for i in range(3)]
_CAP = 2  # stands in for all four show caps, so small repositories pass them


def _reference_evidence(question, cands, col_rows, col_edges, asset_rows):
    """The evidence text built column by column in Python."""
    adj, reasons = {}, {}
    for src, dst, reason in col_edges:
        if src != dst:
            adj.setdefault(src, set()).add(dst)
            reasons.setdefault(src, set()).add((dst, reason))
    lines = [f"QUESTION: {question}", f"CANDIDATE COLUMNS: {', '.join(cands)}"]
    for c in cands:
        shown = [n for _, n in _bfs(adj, c, 20)][:_CAP]
        lines.append(f"COLUMN IMPACT {c} -> ({len(shown)}): {', '.join(shown) or '(none)'}")
        if c in reasons:
            first = sorted(reasons[c])[:_CAP]
            lines.append(f"ONE-HOP REASONS {c}: " + " | ".join(f"{c} -> {d}: {r}" for d, r in first))
    names, gold = _scripts_column_by_column(col_rows, asset_rows, cands)
    lines.append(f"IMPACTED SCRIPTS ({len(names)}): {', '.join(names)}")
    lines.append(f"GOLD OUTPUTS ({len(gold)}): {', '.join(gold)}")
    return "\n".join(lines)


@given(
    owners=st.lists(st.sampled_from(_SCRIPTS), min_size=len(_COLS), max_size=len(_COLS)),
    derived=st.lists(st.lists(st.sampled_from(_COLS), max_size=2, unique=True), min_size=len(_COLS), max_size=len(_COLS)),
    col_edges=st.lists(
        st.tuples(st.sampled_from(_COLS), st.sampled_from(_COLS), st.sampled_from(["r0", "r1"])), max_size=14
    ),
    asset_rows=st.lists(
        st.tuples(st.sampled_from(_SCRIPTS), st.sampled_from(["read", "write"]), st.sampled_from(_PATHS)),
        min_size=1,
        max_size=14,
        unique=True,
    ),
    asks=st.lists(st.lists(st.sampled_from(_COLS), min_size=1, max_size=3, unique=True), min_size=1, max_size=3),
)
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_merged_lists_equal_column_by_column_evidence(spark, monkeypatch, owners, derived, col_edges, asset_rows, asks):
    for cap in ("MAX_IMPACT_SHOW", "MAX_REASON_SHOW", "MAX_SCRIPTS_SHOW", "MAX_GOLD_SHOW"):
        monkeypatch.setattr(graphqa, cap, _CAP)
    col_rows = [(s, c, d) for s, c, d in zip(owners, _COLS, derived)]
    columns = spark.createDataFrame(col_rows, "script_name string, col_name string, derived_from array<string>")
    edges = spark.createDataFrame(
        [("s", dst, src, reason) for src, dst, reason in col_edges],
        "script_name string, target_col string, src_col string, reason string",
    )
    assets = spark.createDataFrame(asset_rows, "script_name string, direction string, path string")
    lineage = prepare_graph(columns, edges, assets)

    assert lineage.known == set(_COLS)
    for cands in asks:
        question = "what if " + " and ".join(f"`{c}`" for c in cands) + " change"
        expected = _reference_evidence(question, cands, col_rows, col_edges, asset_rows)
        assert build_evidence(question, lineage) == expected


# --- retrieval: the session index's top-k ------------------------------------


def _fold_cosine(a, b) -> float:
    """cosine_expr in Python: sequential double folds, then one division."""
    dot = na = nb = 0.0
    for x, y in zip(a, b):
        dot = dot + x * y
    for x in a:
        na = na + x * x
    for y in b:
        nb = nb + y * y
    return dot / (math.sqrt(na) * math.sqrt(nb))


@pytest.fixture(scope="module")
def retrieval(spark):
    """A session over the fixture corpus, its embeddings spread over three
    partitions so that the top-k merges partition-local lists; and the
    corpus docs as (doc_id, ref, text, embedding), read without the index."""
    base = QASession.build(spark)
    qa = QASession(
        columns=base.columns,
        edges=base.edges,
        assets=base.assets,
        corpus=base.corpus,
        embedded=base.embedded.repartition(3),
    )
    refs = {r.doc_id: (r.ref, r.text) for r in base.corpus.collect()}
    docs = [(r.doc_id, *refs[r.doc_id], list(r.embedding)) for r in base.embedded.collect()]
    return qa, docs


_FREE_WORDS = st.text(alphabet=string.ascii_lowercase + "_`", min_size=1, max_size=8)


@given(data=st.data())
@settings(max_examples=30, deadline=None)
def test_retrieve_equals_a_brute_force_ranking(retrieval, data):
    qa, docs = retrieval
    assert qa.embedded.rdd.getNumPartitions() > 1
    vocab = sorted({t for _, _, text, _ in docs for t in text.lower().split()})
    words = data.draw(st.lists(st.one_of(st.sampled_from(vocab), _FREE_WORDS), max_size=6))
    question = " ".join(words)

    vec = hash_embed(question)
    expected = []
    if any(vec):
        ranked = sorted((-_fold_cosine(emb, vec), doc_id, ref, text) for doc_id, ref, text, emb in docs)
        expected = [(ref, text) for _, _, ref, text in ranked[:TOP_K]]
    assert qa.retrieve(question) == expected


def _tied_session(spark) -> QASession:
    """A fixture session whose corpus also holds, for two of its docs, a
    copy with the tokens reversed: a different text and doc_id but the same
    embedding, so every question scores the pair exactly alike."""
    base = QASession.build(spark)
    docs = base.corpus.orderBy("doc_id").limit(2).collect()
    copies = [
        (hashlib.sha256(text.encode()).hexdigest(), r.doc_type, r.ref, text)
        for r in docs
        for text in [" ".join(reversed(r.text.split()))]
    ]
    corpus = base.corpus.unionByName(spark.createDataFrame(copies, base.corpus.schema))
    return QASession(
        columns=base.columns,
        edges=base.edges,
        assets=base.assets,
        corpus=corpus,
        embedded=embed_documents(corpus).repartition(3),
    )


def test_index_ranks_as_retrieve_top_k_to_the_bit(spark):
    qa = _tied_session(spark)
    index = qa.index
    n = len(index.ids)
    by_id = {doc_id: i for i, doc_id in enumerate(index.ids)}
    texts = [index.texts[by_id[doc_id]] for doc_id in sorted(by_id)]
    questions = [texts[0], texts[1], " ".join(texts[:2]), _ASKS[0], _ASKS[2], "x"]

    ties = 0
    for question, k in itertools.product(questions, (1, TOP_K, n + 5)):
        vec = hash_embed(question)
        rows = retrieve_top_k(qa.embedded, vec, k=k).orderBy("rank").collect()
        expected = [(r.doc_id, r.score.hex()) for r in rows]
        got = [(index.ids[i], score.hex()) for i, score in index.search(vec, k)]
        assert got == expected
        assert len(got) == min(k, n)
        ties += sum(a[1] == b[1] for a, b in zip(got, got[1:]))
        hits = [(index.refs[by_id[doc_id]], index.texts[by_id[doc_id]]) for doc_id, _ in expected]
        assert qa.retrieve(question, k) == hits
    assert ties

    # every doc's score for every doc's text as the question, against the
    # sequential fold in pure Python: a reassociated or fused sum drifts here
    embeddings = {r.doc_id: list(r.embedding) for r in qa.embedded.collect()}
    for question in texts:
        vec = hash_embed(question)
        got = {index.ids[i]: score.hex() for i, score in index.search(vec, n)}
        assert got == {doc_id: _fold_cosine(emb, vec).hex() for doc_id, emb in embeddings.items()}


def test_index_over_the_doc_cap_fails_loudly(spark, monkeypatch):
    qa = QASession.build(spark)
    n_docs = qa.corpus.count()
    monkeypatch.setattr(embed, "MAX_INDEX_DOCS", n_docs - 1)

    with pytest.raises(RetrievalIndexTooLarge, match=f"reached {n_docs} docs"):
        qa.retrieve(_ASKS[0])


def test_a_zero_doc_vector_fails_the_index_build(spark):
    docs = spark.createDataFrame(
        [("a", "ra", "ta", [1.0] + [0.0] * (DIM - 1)), ("b", "rb", "tb", [0.0] * DIM)],
        "doc_id string, ref string, text string, embedding array<float>",
    )
    with pytest.raises(ValueError, match="doc b has a zero-norm embedding"):
        embed.FlatIndex.collect(docs)
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):  # no cosine in Spark either
        retrieve_top_k(docs, hash_embed(_ASKS[0])).collect()
