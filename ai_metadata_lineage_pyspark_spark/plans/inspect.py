"""Physical-plan inspection helpers.

The scale contract of this engine ("filters reach the scan, dims broadcast,
aggregation is partial, no accidental cartesian blow-ups") is asserted in
tests/test_plans.py with these helpers, so a plan regression fails CI
instead of surfacing as a 100 TB incident. They parse the executed plan's
string form — the same thing `df.explain("formatted")` prints — which is
stable enough for presence checks.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


# An operator line of a plan string: tree-drawing characters, an optional
# whole-stage-codegen stage id `*(N) `, then the operator name.
_OPERATOR_LINE = re.compile(r"^[\s:+\-]*(?:\*\(\d+\) )?(\w[\w.]*)", re.M)


def physical_plan(df: DataFrame) -> str:
    """Executed (AQE-final-ish initial) physical plan as a string."""
    return df._jdf.queryExecution().executedPlan().toString()


def operators(df: DataFrame) -> list[str]:
    """Operator names appearing in the physical plan, outermost first."""
    return _OPERATOR_LINE.findall(physical_plan(df))


def has_operator(df: DataFrame, name: str) -> bool:
    return any(name == op or op.startswith(name) for op in operators(df))


def broadcast_join_count(df: DataFrame) -> int:
    return physical_plan(df).count("BroadcastHashJoin")


def sort_merge_join_count(df: DataFrame) -> int:
    return physical_plan(df).count("SortMergeJoin")


def cartesian_product_count(df: DataFrame) -> int:
    """CartesianProduct operators (unbounded all-pairs shuffles). A
    BroadcastNestedLoopJoin against a deliberately-broadcast tiny side is
    NOT counted — that's the intended shape for small non-equi joins."""
    return physical_plan(df).count("CartesianProduct")


def pushed_filters(df: DataFrame) -> list[str]:
    """All parquet-pushed filter lists, flattened (from `PushedFilters: [...]`)."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", physical_plan(df)):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out


def scan_columns(df: DataFrame) -> list[list[str]]:
    """Columns actually read by each parquet scan, from the FileScan's
    column list (`FileScan parquet [c1#id,c2#id,...]` — printed in full,
    unlike ReadSchema which the plan printer may truncate).

    The judge of a 100 TB scan is this list: a projection of 2 columns that
    reads 12 is a plan bug even when results are correct.
    """
    out: list[list[str]] = []
    for m in re.finditer(r"FileScan \w+ \[([^\]]*)\]", physical_plan(df)):
        cols = [
            c.strip().split("#")[0]
            for c in m.group(1).split(",")
            if c.strip()
        ]
        out.append(cols)
    return out


def equi_join_key_sets(df: DataFrame) -> list[list[str]]:
    """Key column names of each equi-join (SortMergeJoin / ShuffledHashJoin /
    BroadcastHashJoin) in the plan, one list per join side-pair. Lets a test
    assert a candidate join is keyed on a bucket column — i.e. genuinely
    bucketed candidate generation, not an all-pairs join with a filter."""
    out: list[list[str]] = []
    for m in re.finditer(
        r"(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)\w* \[([^\]]*)\], \[([^\]]*)\]",
        physical_plan(df),
    ):
        keys = [
            k.strip().split("#")[0]
            for side in (m.group(1), m.group(2))
            for k in side.split(",")
            if k.strip()
        ]
        out.append(keys)
    return out


def shuffle_exchange_count(df: DataFrame) -> int:
    """Shuffle exchanges in the plan ('Exchange hashpartitioning/range...' —
    excludes broadcast exchanges, which move only tiny sides)."""
    return len(re.findall(r"Exchange (?!SinglePartition)\w*partitioning", physical_plan(df)))


def partial_aggregate_count(df: DataFrame) -> int:
    """Number of map-side partial aggregates (functions=[partial_...]).

    Counts SortAggregate as well as HashAggregate: Spark falls back to
    sort-based aggregation when an aggregate's buffer isn't mutable
    fixed-width (e.g. max_by carrying a string), but the map-side combine —
    the property that bounds shuffle volume to one row per group — is the
    same in both forms.
    """
    return len(re.findall(r"(?:Hash|Sort)Aggregate\([^)]*partial_", physical_plan(df)))


def wholestage_codegen_count(df: DataFrame) -> int:
    """Distinct whole-stage-codegen spans: `*(n)` operator prefixes in the
    compact rendering, `WholeStageCodegen (n)` in the tree rendering."""
    plan = physical_plan(df)
    if "isFinalPlan=false" in plan:
        # AQE renders codegen spans only in the finalized plan — execute to
        # let it finish re-planning (cheap at test scale factors)
        df.collect()
        plan = physical_plan(df)
    ids = set(re.findall(r"\*\((\d+)\)", plan))
    ids |= set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))
    return len(ids)


def global_window_specs(df: DataFrame) -> list[str]:
    """Window / WindowGroupLimit nodes in the OPTIMIZED logical plan whose
    partitionSpec is EMPTY — i.e. the single-task global windows that emit
    `WindowExec: No Partition Defined` at execution time and serialize the
    whole input through one task at cluster scale.

    Returns one compact node string per occurrence (empty list = no global
    window anywhere in the plan). tests/test_plans.py sweeps this over the
    ENTIRE registry against an explicit allowlist (r11 verdict #2): every
    global window must be annotated bounded-input (post-aggregate /
    dimension-sized) or twinned by a registered scalable variant, and any
    NEW unlisted one fails the suite.
    """
    out: list[str] = []

    def walk(node) -> None:
        if node.nodeName() in ("Window", "WindowGroupLimit"):
            if node.partitionSpec().size() == 0:
                out.append(node.simpleString(12))
        for coll in (node.children(), node.innerChildren()):
            for i in range(coll.size()):
                walk(coll.apply(i))

    walk(df._jdf.queryExecution().optimizedPlan())
    return out


# Normalizers that strip the session-/host-/run-specific noise out of a
# physical plan string, leaving only plan STRUCTURE: expression ids, plan
# ids, filesystem paths, Python object addresses, RDD numbers, uuid'd sink
# names, and spark.range's splits (= defaultParallelism, which differs
# between local[4] test sessions and local[32] tool sessions). Partition
# COUNTS in shuffle exchanges are deliberately KEPT — both fingerprint
# contexts pin spark.sql.shuffle.partitions=32, so a count change there is a
# real plan change (an added repartition()), not config noise. The one
# exception is RoundRobinPartitioning: fan_out() sizes it by
# defaultParallelism (4 in test sessions, 32 in tool sessions), which is a
# cluster-shape constant, not plan structure.
_FP_RULES: list[tuple[re.Pattern, str]] = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\bat 0x[0-9a-fA-F]+"), "at 0xN"),
    (re.compile(r"InMemoryFileIndex\(\d+ paths?\)"), "InMemoryFileIndex(N paths)"),
    (re.compile(r"(?:file:)?/[\w.\-/*]+"), "<path>"),
    (re.compile(r"splits=Some\(\d+\)"), "splits=Some(N)"),
    (re.compile(r"splits=\d+"), "splits=N"),
    (re.compile(r"RoundRobinPartitioning\(\d+\)"), "RoundRobinPartitioning(N)"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    # run-unique suffixes on generated table/sink names (sinks.py appends a
    # per-run counter + random 8-hex token to external/bucketed table names
    # so reruns never collide) — normalize the hex THEN the counter
    (re.compile(r"_[0-9a-f]{8}\b"), "_<hex>"),
    (re.compile(r"_\d+_<hex>"), "_N_<hex>"),
    (
        re.compile(
            r"\b[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}\b"
        ),
        "<uuid>",
    ),
]

# RewriteDistinctAggregates groups multiple DISTINCT aggregates via an
# Expand + `gid` discriminator, and assigns gid values / column slots by
# iterating a hash structure keyed on expression ids — so the SAME logical
# query renders `keys=[v#, u#, gid#]` in one analysis and `keys=[u#, v#,
# gid#]` in the next, depending on nothing but the session's exprId counter.
# Canonicalize every gid-bearing line to its SORTED TOKEN MULTISET: a pure
# permutation (the noise) maps to the same string, while any REAL change
# (different columns, different aggregate functions) changes the multiset
# and still drifts the fingerprint.
_GID_TOKEN = re.compile(r"[\w#.$]+")


def _canonicalize_gid_lines(plan: str) -> str:
    lines = []
    for line in plan.splitlines():
        if "gid#" in line:
            line = re.sub(r"(gid# = )\d+", r"\1G", line)
            indent = line[: len(line) - len(line.lstrip())]
            line = indent + "GID| " + " ".join(sorted(_GID_TOKEN.findall(line)))
        lines.append(line)
    return "\n".join(lines)


def normalized_plan(df: DataFrame) -> str:
    """Physical plan string with run-specific noise normalized away.

    Callers that need cross-run-stable output must ALSO raise
    `spark.sql.maxMetadataStringLength` (see fingerprint_conf) BEFORE
    building the DataFrame: Spark's default 100-char metadata cut
    (DataFilters/PushedFilters/Location...) lands at an offset that depends
    on the WIDTH of the raw expression ids, so two analyses of the same
    plan can truncate at different points and hash differently — and the
    limit is captured at plan-build time, not at toString time."""
    plan = physical_plan(df)
    for pat, repl in _FP_RULES:
        plan = pat.sub(repl, plan)
    return _canonicalize_gid_lines(plan)


def fingerprint_conf(spark) -> None:
    """Pin the session confs of the fingerprint determinism contract:
    shuffle partitions (32, the local[32] default — test sessions run 4)
    and untruncated plan-metadata rendering (see normalized_plan). Both the
    ledger tool and the pytest full-registry sweep call this before
    building any query."""
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    spark.conf.set("spark.sql.maxMetadataStringLength", "8192")


def plan_fingerprint(df: DataFrame) -> str:
    """Stable hash of the normalized physical plan (r11 verdict #3).

    The committed ledger (ARTIFACTS/plan_fingerprints_sf0.001.json, written
    by tools/plan_fingerprint.py --write) makes bench host-noise
    adjudication mechanical: if a query's fingerprint is unchanged between
    rounds, a wall-clock move is host variance by construction — the
    physical plan cannot have regressed. Determinism contract: compute under
    spark.sql.shuffle.partitions=32 with cache/model memos released (both
    the tool and the pytest sweep do), at the sf0.001 fixture.
    """
    import hashlib

    return hashlib.md5(normalized_plan(df).encode()).hexdigest()


def operator_histogram(df: DataFrame) -> dict[str, int]:
    """Physical operator name -> count, from the normalized plan. Stored
    next to each ledger fingerprint so a drift diff is readable (which
    NODES changed) without committing full plan texts."""
    hist: dict[str, int] = {}
    for name in _OPERATOR_LINE.findall(normalized_plan(df)):
        hist[name] = hist.get(name, 0) + 1
    return dict(sorted(hist.items()))
