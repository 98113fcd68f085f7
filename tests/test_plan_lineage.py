"""Plan-based lineage (lineage/planlineage.py): parity vs the AST path.

The claim under test (SURVEY.md §4): lineage read from the ANALYZED logical
plan is a superset of what static AST extraction can see, and additionally
resolves the cases the AST pass structurally misses — SQL/CTE blocks, and
full-expression join conditions with positional `how` (reference
static_extract.py:231-248, quirk A11; the reference recovers those only via
its LLM layer).

Comparison is name-level and source-grounded: AST edges are step-level
(target df column <- immediate input df column), plan edges are grounded at
the read boundary (sink column <- source table column). So the AST side is
transitively closed to its terminal ancestor column names first, terminals
are filtered to names the plan run actually saw as input columns (an AST
terminal like `gross_sales` on reference script_05 is an intermediate the
AST mis-grounds — there is no such input column anywhere), and the
remaining set must be contained in the plan's source set for that output
column. Any residue must be named in the explicit divergence allowlist.
"""

from __future__ import annotations

import glob
import os

import pytest

from ai_metadata_lineage_pyspark_spark.lineage.planlineage import (
    FIXTURE_SEEDS,
    run_pipelines,
)
from ai_metadata_lineage_pyspark_spark.lineage.queries import (
    _EDGES_GOLDEN,
    _PLAN_EDGES_GOLDEN,
    FIXTURE_DIR,
)

REFERENCE_EXAMPLES = "/root/reference/examples"

# Trust boundary (r7 advice): run_pipelines exec()s script source
# in-process, and the reference examples are PUBLIC UNTRUSTED CONTENT —
# so the corpus is pinned by sha256 and any drift skips the exec-based
# tests instead of running changed code. Re-pin deliberately (after
# reading the diff) if the reference corpus legitimately changes.
EXAMPLE_SHA256: dict[str, str] = {
    "script_01_bronze_ingest_orders": "7a421747b1d02c8c9e22030823ba1079388ca072ce5b97d2f25213dc0610f324",
    "script_02_dim_customer_latest": "14f08856ce257e12d00686d7db6e0948e69583de8da6aae2b23164e2d8ea5315",
    "script_03_fact_orders_enriched": "e130a99217213dd803496d6c37aebcfb9dad193f58da78479edf75c3226d9a08",
    "script_04_dim_product_sql_cte": "4742999179093992ed699a4ff83cd646ca024a50f0ca8d29c16af6e902db2070",
    "script_05_sales_margin_rank": "25980bf38a39d96db41059c391c643ecf3a0ccad675b6232abdb7a638b352038",
    "script_06_web_sessionization": "8d26b2bc90d77d5b7297b460611ed47c8dc9149988163ec7c6a49465f14013b5",
    "script_07_fraud_scoring": "11f00bbb6485fb45a6efbfacf9138f518292a052cf1549286a3ad3f596e185da",
    "script_08_delta_merge_scd1_customer": "1e51aafaffb5197c425f49c30d33462c3e16f68984375e40544298ec549bdede",
    "script_09_sql_merge_inventory": "829f8303b7c0deffbca549db4ba3a3a46fd2da35f53d98702844590148fc413a",
    "script_10_mart_customer_value": "0fdf22bf8faea58663930435bac53541f21c6524058944f946d5a2ae4a8d82c9",
    "script_a_customer_agg": "423e178c7e759b2eb63143b7e2a9e870761f1fd4c8795a81c61adb7447d2b2c2",
    "script_b_join_products": "37e0d58f2281af81197035b9ada0ada5d6380a5ad09fa4c7a8443f41db658667",
}


def _verify_example_pins() -> None:
    import hashlib

    for name, want in EXAMPLE_SHA256.items():
        p = os.path.join(REFERENCE_EXAMPLES, f"{name}.py")
        got = hashlib.sha256(open(p, "rb").read()).hexdigest()
        if got != want:
            pytest.skip(
                f"reference example {name}.py drifted from its pinned hash;"
                " refusing to exec unreviewed untrusted content"
            )

# schema-only stand-ins for the reference examples' raw inputs (column sets
# read off the scripts; types are whatever the scripts' own casts expect)
EXAMPLE_SEEDS: dict[str, str] = {
    "s3a://my-bucket/raw/orders/": (
        "order_id string, customer_id string, order_ts string, amount string,"
        " currency string, channel string, country string"
    ),
    "s3a://my-bucket/raw/customers/": (
        "customer_id string, email string, lifetime_value double,"
        " updated_at timestamp, version int"
    ),
    "s3a://my-bucket/raw/order_items/": "order_id string, product_id string, qty string",
    "s3a://my-bucket/raw/products/": (
        "product_id string, category string, price string, cost double,"
        " currency string, updated_at string"
    ),
    "s3a://my-bucket/raw/web_clicks/": (
        "customer_id string, event_ts string, url string, referrer string"
    ),
    "s3a://my-bucket/raw/inventory_updates/": (
        "sku string, warehouse string, on_hand int, updated_at string"
    ),
    "s3a://mybucket/landing/customer_landing.parquet": (
        "customer_id string, product_id string, event_date date,"
        " amount double, revenue double"
    ),
    "s3a://mybucket/ref/products.parquet": "product_id string, price double",
}

# dependency order: a script's reads must be seeded or already written
EXAMPLE_ORDER = [
    "script_01_bronze_ingest_orders",
    "script_02_dim_customer_latest",
    "script_03_fact_orders_enriched",
    "script_04_dim_product_sql_cte",
    "script_06_web_sessionization",
    "script_05_sales_margin_rank",
    "script_07_fraud_scoring",
    "script_08_delta_merge_scd1_customer",
    "script_09_sql_merge_inventory",
    "script_10_mart_customer_value",
    "script_a_customer_agg",
    "script_b_join_products",
]

# the two Delta-dependent scripts cannot execute in this sandbox (no
# delta-spark package; ARTIFACTS/r06_delta_attempt.md) — the runner must
# report them as skipped, never silently drop them
EXPECTED_SKIPS = {"script_08_delta_merge_scd1_customer", "script_09_sql_merge_inventory"}

# (script, out_col, ast_terminal) triples where the AST claim is allowed to
# be absent from the plan's source set. Empty today: every AST-derivable
# fact on both corpora is confirmed by the plan path.
DIVERGENCE_ALLOWLIST: set[tuple[str, str, str]] = set()


def _closure_sources(by_target: dict[str, set[str]], target: str) -> set[str]:
    """Terminal ancestor column names of `target` in a name-level
    derivation graph (self-referencing pass-throughs count as terminal)."""
    out: set[str] = set()
    seen: set[str] = set()
    stack = [target]
    while stack:
        t = stack.pop()
        if t in seen:
            continue
        seen.add(t)
        srcs = by_target.get(t)
        if not srcs:
            if t != target:
                out.add(t)
            continue
        for s in srcs:
            if s == t:
                out.add(t)
            else:
                stack.append(s)
    return out


def _assert_plan_superset(
    ast_rows: list[tuple[str, str, str]],  # (script, target_col, src_col)
    plan_rows: list[tuple[str, str, str, str, str]],
    runnable: set[str],
) -> None:
    plan_by_script: dict[str, dict[str, set[str]]] = {}
    plan_inputs: dict[str, set[str]] = {}
    for script, _sink, out_col, _src, src_col in plan_rows:
        plan_by_script.setdefault(script, {}).setdefault(out_col, set()).add(src_col)
        plan_inputs.setdefault(script, set()).add(src_col)

    ast_by_script: dict[str, dict[str, set[str]]] = {}
    for script, target, src in ast_rows:
        # AST join pseudo-columns are per-partner (__join__devices); the
        # plan path has one __join__ bucket per sink
        t = "__join__" if target.startswith("__join__") else target
        ast_by_script.setdefault(script, {}).setdefault(t, set()).add(src)

    residue: set[tuple[str, str, str]] = set()
    for script, by_target in ast_by_script.items():
        if script not in runnable:
            continue
        plan_targets = plan_by_script.get(script, {})
        known = plan_inputs.get(script, set())
        for target in by_target:
            if target not in plan_targets:
                # dropped intermediates (e.g. a window helper column the
                # script never writes) have no sink-level twin
                continue
            grounded = _closure_sources(by_target, target) & known
            missing = grounded - plan_targets[target]
            residue.update((script, target, m) for m in missing)
    unexplained = residue - DIVERGENCE_ALLOWLIST
    assert not unexplained, (
        f"AST-derived lineage not confirmed by the analyzed plan: "
        f"{sorted(unexplained)}"
    )


def test_fixture_plan_edges_superset_of_ast():
    # pure-golden comparison: _PLAN_EDGES_GOLDEN is itself oracle-gated
    # against the live run by the plan_lineage_edges registry entry
    ast_rows = [(s, t, src) for (s, _df, t, _sdf, src) in _EDGES_GOLDEN]
    _assert_plan_superset(
        ast_rows, _PLAN_EDGES_GOLDEN, {s for s, *_ in _PLAN_EDGES_GOLDEN}
    )


def test_fixture_sql_cte_lineage_only_in_plan_path():
    # p04 is a spark.sql CTE pipeline: the AST path has no column facts for
    # it at all, the plan path resolves it fully — the SURVEY §4 win
    ast_scripts = {s for (s, *_rest) in _EDGES_GOLDEN}
    assert "p04_health_sql" not in ast_scripts
    p04 = {
        (out_col, src_col)
        for (s, _sink, out_col, _src, src_col) in _PLAN_EDGES_GOLDEN
        if s == "p04_health_sql"
    }
    assert ("avg_temp", "temp_c") in p04
    assert ("health_state", "is_anomaly") in p04
    assert ("total_anomalies", "is_anomaly") in p04


@pytest.fixture(scope="module")
def example_runs(spark):
    if not os.path.isdir(REFERENCE_EXAMPLES):
        pytest.skip("reference examples not present")
    _verify_example_pins()
    paths = [os.path.join(REFERENCE_EXAMPLES, f"{n}.py") for n in EXAMPLE_ORDER]
    plan_edges, skipped = run_pipelines(spark, paths, EXAMPLE_SEEDS)

    from ai_metadata_lineage_pyspark_spark.lineage.extract import (
        columns_table,
        dataframes_table,
        extract_from_dir,
    )
    from ai_metadata_lineage_pyspark_spark.lineage.postprocess import edges_table

    facts = extract_from_dir(spark, REFERENCE_EXAMPLES).localCheckpoint(eager=False)
    ast = edges_table(columns_table(facts), dataframes_table(facts))
    ast_rows = [
        (r.script_name, r.target_col, r.src_col)
        for r in ast.select("script_name", "target_col", "src_col").collect()
    ]
    return plan_edges, skipped, ast_rows


def test_reference_examples_plan_superset_of_ast(example_runs):
    plan_edges, skipped, ast_rows = example_runs
    assert {name for name, _reason in skipped} == EXPECTED_SKIPS
    runnable = set(EXAMPLE_ORDER) - EXPECTED_SKIPS
    assert {s for s, *_ in plan_edges} == runnable
    _assert_plan_superset(ast_rows, plan_edges, runnable)


def test_expression_join_quirk_a11_resolved_by_plan(example_runs):
    # script_03 joins with a full expression condition and positional how
    # (`F.col("o.customer_id") == F.col("c.customer_id"), "left"`): the AST
    # path emits NO join fact for it (same structural limit as reference
    # static_extract.py:231-248), the analyzer resolves it like any other
    plan_edges, _skipped, ast_rows = example_runs
    ast_joins = {
        (s, t) for (s, t, _src) in ast_rows if t.startswith("__join__")
    }
    assert not any(s == "script_03_fact_orders_enriched" for s, _t in ast_joins)
    plan_joins = {
        (src, src_col)
        for (s, _sink, out_col, src, src_col) in plan_edges
        if s == "script_03_fact_orders_enriched" and out_col == "__join__"
    }
    assert plan_joins == {
        ("s3a://my-bucket/bronze/orders", "customer_id"),
        ("s3a://my-bucket/silver/dim_customer", "customer_id"),
    }
    # same for script_07 (expression condition, positional how)
    assert not any(s == "script_07_fraud_scoring" for s, _t in ast_joins)
    assert any(
        s == "script_07_fraud_scoring" and out_col == "__join__"
        for (s, _sink, out_col, _src, _sc) in plan_edges
    )


def _run_inline(spark, tmp_path, source: str, seeds: dict[str, str]):
    p = os.path.join(str(tmp_path), "inline_script.py")
    with open(p, "w", encoding="utf-8") as fh:
        fh.write(source)
    return run_pipelines(spark, [p], seeds)


def test_union_lineage_reaches_all_children(spark, tmp_path):
    # r7 advice: Union output reuses the FIRST child's exprIds, which are
    # boundary attrs of input A — the tracer must still expand the alias
    # bindings to B, or lineage to every non-first child is dropped
    edges, skipped = _run_inline(
        spark,
        tmp_path,
        "a = spark.read.parquet('in://a')\n"
        "b = spark.read.parquet('in://b')\n"
        "a.unionByName(b).write.parquet('out://u')\n",
        {"in://a": "k long, v double", "in://b": "k long, v double"},
    )
    assert not skipped
    srcs = {(src, src_col) for (_s, _sink, out, src, src_col) in edges if out == "v"}
    assert srcs == {("in://a", "v"), ("in://b", "v")}


def test_generate_explode_lineage_bound(spark, tmp_path):
    # r7 advice: Generate output attrs had no alias binding and dead-ended
    edges, skipped = _run_inline(
        spark,
        tmp_path,
        "from pyspark.sql import functions as F\n"
        "df = spark.read.parquet('in://arr')\n"
        "df.select(df.k, F.explode(df.items).alias('item'))"
        ".write.parquet('out://x')\n",
        {"in://arr": "k long, items array<string>"},
    )
    assert not skipped
    srcs = {(src, src_col) for (_s, _sink, out, src, src_col) in edges if out == "item"}
    assert srcs == {("in://arr", "items")}


def test_script_registered_temp_view_via_spark_table(spark, tmp_path):
    # r7 advice: spark.table(view) on a view the script itself registered
    # previously raised the seed-schema KeyError and skipped the script
    edges, skipped = _run_inline(
        spark,
        tmp_path,
        "df = spark.read.parquet('in://t')\n"
        "df.createOrReplaceTempView('my_view_planlineage')\n"
        "spark.table('my_view_planlineage').write.parquet('out://y')\n",
        {"in://t": "k long, v double"},
    )
    assert not skipped
    assert {(src, src_col) for (_s, _sink, out, src, src_col) in edges if out == "k"} == {
        ("in://t", "k")
    }


def test_option_path_save_and_writer_v2_captured(spark, tmp_path):
    # r7 advice: .option('path', ...).save() recorded sink ''; writeTo()
    # writes vanished entirely
    edges, skipped = _run_inline(
        spark,
        tmp_path,
        "df = spark.read.parquet('in://t')\n"
        "df.write.format('parquet').option('path', 'out://via_option').save()\n"
        "df.writeTo('cat.db.tbl').using('parquet').append()\n",
        {"in://t": "k long, v double"},
    )
    assert not skipped
    sinks = {sink for (_s, sink, *_rest) in edges}
    assert sinks == {"out://via_option", "cat.db.tbl"}
