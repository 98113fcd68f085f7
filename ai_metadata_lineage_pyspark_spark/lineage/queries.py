"""Registry entries for the lineage engine (SURVEY.md §2A surface).

Inputs are the repo's own fixture pipelines (tests/fixtures/pipelines/*.py,
written fresh for this engine); the extraction -> facts -> edges -> stitch ->
closure -> corpus chain runs live on Spark for every call.

Oracle strategy: the fact/edge/stitch/corpus entries check against golden
VALUES (hand-verified against the fixture scripts — the reference's own
golden-artifact test model, SURVEY.md §5). The closure entry is an
algorithmic check: Spark's iterative-frontier BFS vs a DuckDB recursive CTE
over the same edge list — the one genuinely recursive operator (A31/A33).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from .extract import assets_table, columns_table, dataframes_table, extract_from_dir
from .postprocess import edges_table
from .stitch import stitch_links

FIXTURE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "tests",
    "fixtures",
    "pipelines",
)


def _facts(spark: SparkSession) -> DataFrame:
    # lazily checkpointed: every registered query derives several tables from
    # the same facts DataFrame (assets/dataframes/columns/edges), and without
    # truncation each table re-runs the AST-extraction UDF chain.
    return extract_from_dir(spark, FIXTURE_DIR).localCheckpoint(eager=False)


def _values_sql(rows: list[tuple], cols: list[str]) -> str:
    def lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, int):
            return str(v)
        return "'" + str(v).replace("'", "''") + "'"

    body = ",\n      ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    return f"SELECT * FROM (VALUES\n      {body}\n    ) AS t({', '.join(cols)})"


# --- golden fact rows (verified by hand against tests/fixtures/pipelines) ---

_ASSETS_GOLDEN = [
    ("p01_ingest_readings", "read", "csv", "s3a://fleet-lake/raw/readings/", "readings"),
    ("p01_ingest_readings", "write", "parquet", "s3a://fleet-lake/bronze/readings/", "bronze"),
    ("p02_device_latest", "read", "parquet", "s3a://fleet-lake/raw/device_registry/", "registry"),
    ("p02_device_latest", "write", "parquet", "s3a://fleet-lake/silver/device_dim/", "device_dim"),
    ("p03_readings_enriched", "read", "parquet", "s3a://fleet-lake/bronze/readings/", "readings"),
    ("p03_readings_enriched", "read", "parquet", "s3a://fleet-lake/silver/device_dim/", "devices"),
    ("p03_readings_enriched", "write", "parquet", "s3a://fleet-lake/gold/readings_enriched/", "enriched"),
    ("p04_health_sql", "read", "parquet", "s3a://fleet-lake/gold/readings_enriched/", "enriched"),
    ("p04_health_sql", "write", "parquet", "s3a://fleet-lake/gold/device_health/", "health"),
    ("p05_alerts", "read", "parquet", "s3a://fleet-lake/gold/device_health/", "health"),
    ("p05_alerts", "read", "parquet", "s3a://fleet-lake/gold/readings_enriched/", "enriched"),
    ("p05_alerts", "write", "parquet", "s3a://fleet-lake/gold/alerts/", "alerts"),
    ("p06_fleet_agg", "read", "parquet", "s3a://fleet-lake/gold/alerts/", "alerts"),
    ("p06_fleet_agg", "write", "parquet", "s3a://fleet-lake/gold/fleet_rollup/", "fleet"),
]

_DATAFRAMES_GOLDEN = [
    ("p01_ingest_readings", "bronze", "sink", "readings", 2),
    ("p01_ingest_readings", "readings", "source", None, 1),
    ("p02_device_latest", "device_dim", "sink", "registry", 2),
    ("p02_device_latest", "registry", "source", None, 1),
    ("p03_readings_enriched", "devices", "source", None, 2),
    ("p03_readings_enriched", "enriched", "sink", "joined", 4),
    ("p03_readings_enriched", "joined", "intermediate", "readings", 3),
    ("p03_readings_enriched", "readings", "source", None, 1),
    ("p04_health_sql", "enriched", "source", None, 1),
    ("p04_health_sql", "health", "sink", None, 2),
    ("p05_alerts", "alerts", "sink", "enriched", 3),
    ("p05_alerts", "enriched", "source", None, 2),
    ("p05_alerts", "health", "source", None, 1),
    ("p06_fleet_agg", "alerts", "source", None, 1),
    ("p06_fleet_agg", "fleet", "sink", "alerts", 2),
]

_COLUMNS_GOLDEN = [
    ("p01_ingest_readings", "bronze", "device_id", "withColumn", "device_id"),
    ("p01_ingest_readings", "bronze", "is_anomaly", "withColumn", "temp_c"),
    ("p01_ingest_readings", "bronze", "reading_date", "withColumn", "reading_ts"),
    ("p01_ingest_readings", "bronze", "reading_ts", "withColumn", "reading_ts"),
    ("p01_ingest_readings", "bronze", "site", "withColumn", "site"),
    ("p01_ingest_readings", "bronze", "temp_c", "withColumn", "temp_c"),
    ("p02_device_latest", "device_dim", "rn", "withColumn", ""),
    ("p02_device_latest", "device_dim", "site_code", "withColumn", "site_uri"),
    ("p02_device_latest", "device_dim", "support_tier", "withColumn", "contract_value"),
    ("p03_readings_enriched", "enriched", "prev_temp", "withColumn", "temp_c"),
    ("p03_readings_enriched", "enriched", "rolling_24_avg", "withColumn", "temp_c"),
    ("p03_readings_enriched", "enriched", "temp_delta", "withColumn", "temp_c,prev_temp"),
    ("p03_readings_enriched", "joined", "__join__devices", "join", "device_id"),
    ("p05_alerts", "alerts", "__join__health", "join", "device_id"),
    ("p05_alerts", "alerts", "alert_flag", "withColumn", "alert_score"),
    ("p05_alerts", "alerts", "alert_score", "withColumn", "support_tier,health_state,temp_delta"),
    ("p06_fleet_agg", "fleet", "n_readings", "aggregation", "device_id"),
    ("p06_fleet_agg", "fleet", "reading_date", "groupByKey", "reading_date"),
    ("p06_fleet_agg", "fleet", "score_per_reading", "withColumn", "site_alert_score,n_readings"),
    ("p06_fleet_agg", "fleet", "site", "groupByKey", "site"),
    ("p06_fleet_agg", "fleet", "site_alert_score", "aggregation", "alert_score"),
]

_EDGES_GOLDEN = [
    ("p01_ingest_readings", "bronze", "device_id", "readings", "device_id"),
    ("p01_ingest_readings", "bronze", "is_anomaly", "readings", "temp_c"),
    ("p01_ingest_readings", "bronze", "reading_date", "readings", "reading_ts"),
    ("p01_ingest_readings", "bronze", "reading_ts", "readings", "reading_ts"),
    ("p01_ingest_readings", "bronze", "site", "readings", "site"),
    ("p01_ingest_readings", "bronze", "temp_c", "readings", "temp_c"),
    ("p02_device_latest", "device_dim", "site_code", "registry", "site_uri"),
    ("p02_device_latest", "device_dim", "support_tier", "registry", "contract_value"),
    ("p03_readings_enriched", "enriched", "prev_temp", "joined", "temp_c"),
    ("p03_readings_enriched", "enriched", "rolling_24_avg", "joined", "temp_c"),
    ("p03_readings_enriched", "enriched", "temp_delta", "joined", "prev_temp"),
    ("p03_readings_enriched", "enriched", "temp_delta", "joined", "temp_c"),
    ("p03_readings_enriched", "joined", "__join__devices", "readings", "device_id"),
    ("p05_alerts", "alerts", "__join__health", "enriched", "device_id"),
    ("p05_alerts", "alerts", "alert_flag", "enriched", "alert_score"),
    ("p05_alerts", "alerts", "alert_score", "enriched", "health_state"),
    ("p05_alerts", "alerts", "alert_score", "enriched", "support_tier"),
    ("p05_alerts", "alerts", "alert_score", "enriched", "temp_delta"),
    ("p06_fleet_agg", "fleet", "n_readings", "alerts", "device_id"),
    ("p06_fleet_agg", "fleet", "reading_date", "alerts", "reading_date"),
    ("p06_fleet_agg", "fleet", "score_per_reading", "alerts", "n_readings"),
    ("p06_fleet_agg", "fleet", "score_per_reading", "alerts", "site_alert_score"),
    ("p06_fleet_agg", "fleet", "site", "alerts", "site"),
    ("p06_fleet_agg", "fleet", "site_alert_score", "alerts", "alert_score"),
]

_LINKS_GOLDEN = [
    ("p01_ingest_readings", "p03_readings_enriched", "s3a://fleet-lake/bronze/readings"),
    ("p02_device_latest", "p03_readings_enriched", "s3a://fleet-lake/silver/device_dim"),
    ("p03_readings_enriched", "p04_health_sql", "s3a://fleet-lake/gold/readings_enriched"),
    ("p03_readings_enriched", "p05_alerts", "s3a://fleet-lake/gold/readings_enriched"),
    ("p04_health_sql", "p05_alerts", "s3a://fleet-lake/gold/device_health"),
    ("p05_alerts", "p06_fleet_agg", "s3a://fleet-lake/gold/alerts"),
]


@register(
    "lineage_extract_assets",
    oracle=_values_sql(
        _ASSETS_GOLDEN, ["script_name", "direction", "format", "path", "df_name"]
    ),
)
def lineage_extract_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-A7/A12: script scan + read/write asset detection."""
    return assets_table(_facts(spark)).select(
        "script_name", "direction", "format", "path", "df_name"
    )


@register(
    "lineage_extract_dataframes",
    oracle=_values_sql(
        _DATAFRAMES_GOLDEN,
        ["script_name", "df_name", "df_type", "primary_input", "df_order"],
    ),
)
def lineage_extract_dataframes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 (fixed semantics): source/sink by actual read/write usage."""
    return dataframes_table(_facts(spark)).select(
        "script_name",
        "df_name",
        "df_type",
        F.get("input_dfs", 0).alias("primary_input"),
        F.col("order").alias("df_order"),
    )


@register(
    "lineage_extract_columns",
    oracle=_values_sql(
        _COLUMNS_GOLDEN,
        ["script_name", "df_name", "col_name", "transformation", "derived_from_csv"],
    ),
)
def lineage_extract_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8-A11: withColumn / groupBy / agg-alias / join column records."""
    return columns_table(_facts(spark)).select(
        "script_name",
        "df_name",
        "col_name",
        "transformation",
        F.array_join("derived_from", ",").alias("derived_from_csv"),
    )


@register(
    "lineage_edges",
    bench=True,
    oracle=_values_sql(
        _EDGES_GOLDEN, ["script_name", "df_name", "target_col", "src_df", "src_col"]
    ),
)
def lineage_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17-A19: canonical edge derivation + dedup."""
    facts = _facts(spark)
    return edges_table(columns_table(facts), dataframes_table(facts)).select(
        "script_name", "df_name", "target_col", "src_df", "src_col"
    )


@register(
    "lineage_repo_stitch",
    oracle=_values_sql(_LINKS_GOLDEN, ["from_script", "to_script", "asset"]),
)
def lineage_repo_stitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A20: write-path == read-path broadcast equi-join."""
    return stitch_links(assets_table(_facts(spark)))


# --- evidence assembly (A29 + A37) ------------------------------------------

_EVIDENCE_QUESTION = "which columns derive from temp_c and what writes to gold alerts"

_EVIDENCE_GOLDEN = [
    (1, "QUESTION: which columns derive from temp_c and what writes to gold alerts"),
    (2, "CANDIDATE COLUMNS: temp_c"),
    (3, "COLUMN IMPACT temp_c -> (8): is_anomaly, prev_temp, rolling_24_avg, temp_delta, alert_score, alert_flag, site_alert_score, score_per_reading"),
    (4, "ONE-HOP REASONS temp_c: temp_c -> is_anomaly: p01_ingest_readings: withColumn temp_c | temp_c -> prev_temp: p03_readings_enriched: withColumn temp_c | temp_c -> rolling_24_avg: p03_readings_enriched: withColumn temp_c | temp_c -> temp_delta: p03_readings_enriched: withColumn temp_c"),
    (5, "IMPACTED SCRIPTS (5): p01_ingest_readings, p03_readings_enriched, p04_health_sql, p05_alerts, p06_fleet_agg"),
    (6, "GOLD OUTPUTS (4): s3a://fleet-lake/gold/alerts/, s3a://fleet-lake/gold/device_health/, s3a://fleet-lake/gold/fleet_rollup/, s3a://fleet-lake/gold/readings_enriched/"),
]


@register(
    "lineage_evidence",
    oracle=_values_sql(_EVIDENCE_GOLDEN, ["line_no", "line"]),
)
def lineage_evidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A29 + A37: candidate-column extraction from a question plus the full
    capped, ordered evidence assembly (column impact / one-hop reasons /
    impacted scripts / gold outputs; qa/ask.py:226-244, 391-450). The LLM
    answer step (A38) stays behind the pluggable client — deterministic
    evidence never depends on it (README.md:111-113 rule)."""
    from .graphqa import build_evidence, prepare_graph

    facts = _facts(spark)
    cols, dfs = columns_table(facts), dataframes_table(facts)
    lineage = prepare_graph(cols, edges_table(cols, dfs), assets_table(facts))
    evidence = build_evidence(_EVIDENCE_QUESTION, lineage)
    rows = [(i, line) for i, line in enumerate(evidence.split("\n"), 1)]
    return spark.createDataFrame(rows, "line_no int, line string")


# --- closure: algorithmic BFS-vs-recursive-CTE check -----------------------

_COLUMN_GRAPH = [
    ("temp_c", "is_anomaly"),
    ("reading_ts", "reading_date"),
    ("site_uri", "site_code"),
    ("contract_value", "support_tier"),
    ("temp_c", "prev_temp"),
    ("temp_c", "rolling_24_avg"),
    ("prev_temp", "temp_delta"),
    ("temp_c", "temp_delta"),
    ("device_id", "__join__devices"),
    ("device_id", "__join__health"),
    ("alert_score", "alert_flag"),
    ("health_state", "alert_score"),
    ("support_tier", "alert_score"),
    ("temp_delta", "alert_score"),
    ("device_id", "n_readings"),
    ("n_readings", "score_per_reading"),
    ("site_alert_score", "score_per_reading"),
    ("alert_score", "site_alert_score"),
]

_CLOSURE_SEED = "temp_c"


# --- corpus + retrieval (A24-A28, A36) -------------------------------------

_CORPUS_ROLLUP_GOLDEN = [
    ("aggregation", 2, "40247f5d4462bbfde1c2a0978fc52d527cd6a59d3ba1bf2690e451676543153c", "51b327b47a6b2a7472e8da7e756f1273decd5c59ddb60fc6caee3340a5f03c53"),
    ("derived", 15, "09f14c20f7614943a7e2ab18a93ad1d3a9bf6976616c03722fcd932ad7ee24c5", "ebeb211571f560059f6a5eb84066c657399a6aeaf6a947ae61837865d3f1b238"),
    ("join", 2, "04a98af69089bdc6158f1435ec72cac2000e389191cef7a5cb44afa5e91eb332", "6cf5804c638b820089cd27a0bdbf7a746f75a94ee384003ec772926b356b49be"),
    ("lineage_edge", 24, "08d1e76d1c6b8dc382ea0365ce0f77f0e88c2b890487b8f515e8d37316fa4dfa", "eda7a692c0c947ed649d067826b7a9f65b5956bd07b0de3f6f59bb9f2c15c4b5"),
    ("script", 6, "9e81212e9de48849fdac323d7dc91c7d1d8b2cbcc93fff8e6debb88e265ff635", "fd0926308fc3cacdaf18b6d8935f5585c85f29b5cdc76fa28e15ae964a2368c7"),
]


def _corpus(spark: SparkSession) -> DataFrame:
    from .corpus import build_corpus

    facts = _facts(spark)
    cols, dfs = columns_table(facts), dataframes_table(facts)
    return build_corpus(assets_table(facts), dfs, cols, edges_table(cols, dfs))


@register(
    "lineage_corpus_stats",
    oracle=_values_sql(
        _CORPUS_ROLLUP_GOLDEN, ["doc_type", "n_docs", "min_doc_id", "max_doc_id"]
    ),
)
def lineage_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A24-A27: corpus builder (script/edge/derived/aggregation/join docs
    with sha256 content ids), checked as a per-type rollup whose min/max
    content hashes pin the full document text (golden-artifact model,
    SURVEY.md §5). Note: implements the INTENDED lineage_edge docs — the
    reference's builder is schema-mismatched and ships 0 of them (A25)."""
    corpus = _corpus(spark)
    return corpus.groupBy("doc_type").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


_RETRIEVAL_GOLDEN = [
    (1, "aggregation", "p06_fleet_agg.fleet.site_alert_score"),
    (2, "lineage_edge", "p01_ingest_readings.bronze.temp_c"),
    (3, "lineage_edge", "p03_readings_enriched.enriched.temp_delta"),
    (4, "lineage_edge", "p06_fleet_agg.fleet.site_alert_score"),
    (5, "lineage_edge", "p06_fleet_agg.fleet.score_per_reading"),
    (6, "lineage_edge", "p01_ingest_readings.bronze.is_anomaly"),
    (7, "lineage_edge", "p03_readings_enriched.enriched.prev_temp"),
    (8, "lineage_edge", "p03_readings_enriched.enriched.rolling_24_avg"),
    (9, "derived", "p01_ingest_readings.bronze.reading_date"),
    (10, "aggregation", "p06_fleet_agg.fleet.n_readings"),
]

_RETRIEVAL_QUESTION = "which columns derive from temp_c and what writes to gold alerts"


@register(
    "lineage_retrieval_topk",
    oracle=_values_sql(_RETRIEVAL_GOLDEN, ["rank", "doc_type", "ref"]),
)
def lineage_retrieval_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A28+A36: hash-embed the corpus (batched mapInPandas — the pluggable
    stand-in for Titan), embed the question, exact cosine top-10 with
    doc_id tie-break. Ranking is pinned by golden values; scores are pure
    double folds and deterministic but excluded to keep the golden readable."""
    from .embed import embed_documents, hash_embed, retrieve_top_k

    corpus = _corpus(spark).localCheckpoint(eager=False)
    emb = embed_documents(corpus)
    top = retrieve_top_k(emb, hash_embed(_RETRIEVAL_QUESTION), k=10)
    return (
        top.join(corpus, "doc_id")
        .select(F.col("rank").cast("int").alias("rank"), "doc_type", "ref")
    )


# --- asset graph: script BFS + gold outputs (A32-A35) ----------------------

_IMPACT_COLUMN = "temp_c"

_GOLD_GOLDEN = [
    ("p03_readings_enriched", "s3a://fleet-lake/gold/readings_enriched/"),
    ("p04_health_sql", "s3a://fleet-lake/gold/device_health/"),
    ("p05_alerts", "s3a://fleet-lake/gold/alerts/"),
    ("p06_fleet_agg", "s3a://fleet-lake/gold/fleet_rollup/"),
]


def _impacted_scripts(spark: SparkSession):
    """seed scripts for _IMPACT_COLUMN (A35) ∪ downstream closure (A33)."""
    from .graphqa import downstream_scripts, script_edges, seed_scripts

    facts = _facts(spark)
    assets = assets_table(facts)
    seeds = seed_scripts(columns_table(facts), [_IMPACT_COLUMN])
    down = downstream_scripts(script_edges(assets), seeds).select("script_name").distinct()
    scripts = seeds.select(F.col("seed").alias("script_name")).union(down).distinct()
    return assets, scripts


@register(
    "lineage_downstream_scripts",
    oracle=f"""
    WITH RECURSIVE cols AS (
      {_values_sql(_COLUMNS_GOLDEN, ['script_name', 'df_name', 'col_name', 'transformation', 'derived_from_csv'])}
    ),
    seeds AS (
      SELECT DISTINCT script_name AS node FROM cols
      WHERE col_name = '{_IMPACT_COLUMN}'
         OR list_contains(string_split(derived_from_csv, ','), '{_IMPACT_COLUMN}')
    ),
    e AS (
      SELECT from_script AS src, to_script AS dst
      FROM ({_values_sql(_LINKS_GOLDEN, ['from_script', 'to_script', 'asset'])})
    ),
    c AS (
      SELECT node, 0 AS depth FROM seeds
      UNION ALL
      SELECT e.dst AS node, c.depth + 1 AS depth
      FROM c JOIN e ON c.node = e.src
      WHERE c.depth < 10
    )
    SELECT DISTINCT node AS script_name FROM c WHERE depth > 0
    """,
)
def lineage_downstream_scripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A32/A33/A35: seed-script lookup for a candidate column + iterative
    script-level BFS over the stitched asset graph (qa/ask.py:295-340),
    checked against a DuckDB recursive CTE over the same seed rule + links."""
    from .graphqa import downstream_scripts, script_edges, seed_scripts

    facts = _facts(spark)
    seeds = seed_scripts(columns_table(facts), [_IMPACT_COLUMN])
    return downstream_scripts(script_edges(assets_table(facts)), seeds).select("script_name").distinct()


@register(
    "lineage_gold_outputs",
    oracle=_values_sql(_GOLD_GOLDEN, ["script_name", "path"]),
)
def lineage_gold_outputs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A34: write paths with a /gold/ path segment among the scripts impacted
    by _IMPACT_COLUMN (qa/ask.py:343-360), via semi-join against the
    seed ∪ downstream script set."""
    from .graphqa import gold_outputs

    assets, scripts = _impacted_scripts(spark)
    return gold_outputs(assets, scripts)


@register(
    "lineage_column_closure",
    oracle=f"""
    WITH RECURSIVE e(src, dst) AS (
      {_values_sql(_COLUMN_GRAPH, ['src', 'dst']).replace('SELECT * FROM ', 'SELECT src, dst FROM ')}
    ),
    c AS (
      SELECT '{_CLOSURE_SEED}' AS node, 0 AS depth
      UNION ALL
      SELECT e.dst AS node, c.depth + 1 AS depth
      FROM c JOIN e ON c.node = e.src
      WHERE c.depth < 20
    )
    SELECT node AS impacted_col, MIN(depth) AS depth
    FROM c WHERE depth > 0 GROUP BY node
    """,
)
def lineage_column_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A31: downstream column closure — iterative frontier BFS on Spark
    checked against DuckDB's recursive CTE over the same edge list."""
    from .graphqa import column_closure, column_edges, column_graph

    facts = _facts(spark)
    edges = edges_table(columns_table(facts), dataframes_table(facts))
    closure = column_closure(column_edges(column_graph(edges)), [_CLOSURE_SEED])
    return closure.select("impacted_col", F.col("depth").cast("int").alias("depth"))


# --- plan-based lineage (SURVEY.md §4 Spark-native path, added r7) ----------

_PLAN_EDGES_GOLDEN = [
    ('p01_ingest_readings', 's3a://fleet-lake/bronze/readings', 'device_id', 's3a://fleet-lake/raw/readings', 'device_id'),
    ('p01_ingest_readings', 's3a://fleet-lake/bronze/readings', 'is_anomaly', 's3a://fleet-lake/raw/readings', 'temp_c'),
    ('p01_ingest_readings', 's3a://fleet-lake/bronze/readings', 'reading_date', 's3a://fleet-lake/raw/readings', 'reading_ts'),
    ('p01_ingest_readings', 's3a://fleet-lake/bronze/readings', 'reading_ts', 's3a://fleet-lake/raw/readings', 'reading_ts'),
    ('p01_ingest_readings', 's3a://fleet-lake/bronze/readings', 'site', 's3a://fleet-lake/raw/readings', 'site'),
    ('p01_ingest_readings', 's3a://fleet-lake/bronze/readings', 'temp_c', 's3a://fleet-lake/raw/readings', 'temp_c'),
    ('p02_device_latest', 's3a://fleet-lake/silver/device_dim', 'contract_value', 's3a://fleet-lake/raw/device_registry', 'contract_value'),
    ('p02_device_latest', 's3a://fleet-lake/silver/device_dim', 'device_id', 's3a://fleet-lake/raw/device_registry', 'device_id'),
    ('p02_device_latest', 's3a://fleet-lake/silver/device_dim', 'site_code', 's3a://fleet-lake/raw/device_registry', 'site_uri'),
    ('p02_device_latest', 's3a://fleet-lake/silver/device_dim', 'site_uri', 's3a://fleet-lake/raw/device_registry', 'site_uri'),
    ('p02_device_latest', 's3a://fleet-lake/silver/device_dim', 'support_tier', 's3a://fleet-lake/raw/device_registry', 'contract_value'),
    ('p02_device_latest', 's3a://fleet-lake/silver/device_dim', 'updated_at', 's3a://fleet-lake/raw/device_registry', 'updated_at'),
    ('p03_readings_enriched', 's3a://fleet-lake/gold/readings_enriched', '__join__', 's3a://fleet-lake/bronze/readings', 'device_id'),
    ('p03_readings_enriched', 's3a://fleet-lake/gold/readings_enriched', '__join__', 's3a://fleet-lake/silver/device_dim', 'device_id'),
    ('p03_readings_enriched', 's3a://fleet-lake/gold/readings_enriched', 'contract_value', 's3a://fleet-lake/silver/device_dim', 'contract_value'),
    ('p03_readings_enriched', 's3a://fleet-lake/gold/readings_enriched', 'device_id', 's3a://fleet-lake/bronze/readings', 'device_id'),
    ('p03_readings_enriched', 's3a://fleet-lake/gold/readings_enriched', 'is_anomaly', 's3a://fleet-lake/bronze/readings', 'is_anomaly'),
    ('p03_readings_enriched', 's3a://fleet-lake/gold/readings_enriched', 'prev_temp', 's3a://fleet-lake/bronze/readings', 'device_id'),
    ('p03_readings_enriched', 's3a://fleet-lake/gold/readings_enriched', 'prev_temp', 's3a://fleet-lake/bronze/readings', 'reading_ts'),
    ('p03_readings_enriched', 's3a://fleet-lake/gold/readings_enriched', 'prev_temp', 's3a://fleet-lake/bronze/readings', 'temp_c'),
    ('p03_readings_enriched', 's3a://fleet-lake/gold/readings_enriched', 'reading_date', 's3a://fleet-lake/bronze/readings', 'reading_date'),
    ('p03_readings_enriched', 's3a://fleet-lake/gold/readings_enriched', 'reading_ts', 's3a://fleet-lake/bronze/readings', 'reading_ts'),
    ('p03_readings_enriched', 's3a://fleet-lake/gold/readings_enriched', 'rolling_24_avg', 's3a://fleet-lake/bronze/readings', 'device_id'),
    ('p03_readings_enriched', 's3a://fleet-lake/gold/readings_enriched', 'rolling_24_avg', 's3a://fleet-lake/bronze/readings', 'reading_ts'),
    ('p03_readings_enriched', 's3a://fleet-lake/gold/readings_enriched', 'rolling_24_avg', 's3a://fleet-lake/bronze/readings', 'temp_c'),
    ('p03_readings_enriched', 's3a://fleet-lake/gold/readings_enriched', 'site', 's3a://fleet-lake/bronze/readings', 'site'),
    ('p03_readings_enriched', 's3a://fleet-lake/gold/readings_enriched', 'site_code', 's3a://fleet-lake/silver/device_dim', 'site_code'),
    ('p03_readings_enriched', 's3a://fleet-lake/gold/readings_enriched', 'site_uri', 's3a://fleet-lake/silver/device_dim', 'site_uri'),
    ('p03_readings_enriched', 's3a://fleet-lake/gold/readings_enriched', 'support_tier', 's3a://fleet-lake/silver/device_dim', 'support_tier'),
    ('p03_readings_enriched', 's3a://fleet-lake/gold/readings_enriched', 'temp_c', 's3a://fleet-lake/bronze/readings', 'temp_c'),
    ('p03_readings_enriched', 's3a://fleet-lake/gold/readings_enriched', 'temp_delta', 's3a://fleet-lake/bronze/readings', 'device_id'),
    ('p03_readings_enriched', 's3a://fleet-lake/gold/readings_enriched', 'temp_delta', 's3a://fleet-lake/bronze/readings', 'reading_ts'),
    ('p03_readings_enriched', 's3a://fleet-lake/gold/readings_enriched', 'temp_delta', 's3a://fleet-lake/bronze/readings', 'temp_c'),
    ('p03_readings_enriched', 's3a://fleet-lake/gold/readings_enriched', 'updated_at', 's3a://fleet-lake/silver/device_dim', 'updated_at'),
    ('p04_health_sql', 's3a://fleet-lake/gold/device_health', 'avg_temp', 's3a://fleet-lake/gold/readings_enriched', 'temp_c'),
    ('p04_health_sql', 's3a://fleet-lake/gold/device_health', 'device_id', 's3a://fleet-lake/gold/readings_enriched', 'device_id'),
    ('p04_health_sql', 's3a://fleet-lake/gold/device_health', 'health_state', 's3a://fleet-lake/gold/readings_enriched', 'is_anomaly'),
    ('p04_health_sql', 's3a://fleet-lake/gold/device_health', 'total_anomalies', 's3a://fleet-lake/gold/readings_enriched', 'is_anomaly'),
    ('p05_alerts', 's3a://fleet-lake/gold/alerts', '__join__', 's3a://fleet-lake/gold/device_health', 'device_id'),
    ('p05_alerts', 's3a://fleet-lake/gold/alerts', '__join__', 's3a://fleet-lake/gold/readings_enriched', 'device_id'),
    ('p05_alerts', 's3a://fleet-lake/gold/alerts', 'alert_flag', 's3a://fleet-lake/gold/device_health', 'health_state'),
    ('p05_alerts', 's3a://fleet-lake/gold/alerts', 'alert_flag', 's3a://fleet-lake/gold/readings_enriched', 'support_tier'),
    ('p05_alerts', 's3a://fleet-lake/gold/alerts', 'alert_flag', 's3a://fleet-lake/gold/readings_enriched', 'temp_delta'),
    ('p05_alerts', 's3a://fleet-lake/gold/alerts', 'alert_score', 's3a://fleet-lake/gold/device_health', 'health_state'),
    ('p05_alerts', 's3a://fleet-lake/gold/alerts', 'alert_score', 's3a://fleet-lake/gold/readings_enriched', 'support_tier'),
    ('p05_alerts', 's3a://fleet-lake/gold/alerts', 'alert_score', 's3a://fleet-lake/gold/readings_enriched', 'temp_delta'),
    ('p05_alerts', 's3a://fleet-lake/gold/alerts', 'avg_temp', 's3a://fleet-lake/gold/device_health', 'avg_temp'),
    ('p05_alerts', 's3a://fleet-lake/gold/alerts', 'contract_value', 's3a://fleet-lake/gold/readings_enriched', 'contract_value'),
    ('p05_alerts', 's3a://fleet-lake/gold/alerts', 'device_id', 's3a://fleet-lake/gold/readings_enriched', 'device_id'),
    ('p05_alerts', 's3a://fleet-lake/gold/alerts', 'health_state', 's3a://fleet-lake/gold/device_health', 'health_state'),
    ('p05_alerts', 's3a://fleet-lake/gold/alerts', 'is_anomaly', 's3a://fleet-lake/gold/readings_enriched', 'is_anomaly'),
    ('p05_alerts', 's3a://fleet-lake/gold/alerts', 'prev_temp', 's3a://fleet-lake/gold/readings_enriched', 'prev_temp'),
    ('p05_alerts', 's3a://fleet-lake/gold/alerts', 'reading_date', 's3a://fleet-lake/gold/readings_enriched', 'reading_date'),
    ('p05_alerts', 's3a://fleet-lake/gold/alerts', 'reading_ts', 's3a://fleet-lake/gold/readings_enriched', 'reading_ts'),
    ('p05_alerts', 's3a://fleet-lake/gold/alerts', 'rolling_24_avg', 's3a://fleet-lake/gold/readings_enriched', 'rolling_24_avg'),
    ('p05_alerts', 's3a://fleet-lake/gold/alerts', 'site', 's3a://fleet-lake/gold/readings_enriched', 'site'),
    ('p05_alerts', 's3a://fleet-lake/gold/alerts', 'site_code', 's3a://fleet-lake/gold/readings_enriched', 'site_code'),
    ('p05_alerts', 's3a://fleet-lake/gold/alerts', 'site_uri', 's3a://fleet-lake/gold/readings_enriched', 'site_uri'),
    ('p05_alerts', 's3a://fleet-lake/gold/alerts', 'support_tier', 's3a://fleet-lake/gold/readings_enriched', 'support_tier'),
    ('p05_alerts', 's3a://fleet-lake/gold/alerts', 'temp_c', 's3a://fleet-lake/gold/readings_enriched', 'temp_c'),
    ('p05_alerts', 's3a://fleet-lake/gold/alerts', 'temp_delta', 's3a://fleet-lake/gold/readings_enriched', 'temp_delta'),
    ('p05_alerts', 's3a://fleet-lake/gold/alerts', 'total_anomalies', 's3a://fleet-lake/gold/device_health', 'total_anomalies'),
    ('p05_alerts', 's3a://fleet-lake/gold/alerts', 'updated_at', 's3a://fleet-lake/gold/readings_enriched', 'updated_at'),
    ('p06_fleet_agg', 's3a://fleet-lake/gold/fleet_rollup', 'n_readings', 's3a://fleet-lake/gold/alerts', 'device_id'),
    ('p06_fleet_agg', 's3a://fleet-lake/gold/fleet_rollup', 'reading_date', 's3a://fleet-lake/gold/alerts', 'reading_date'),
    ('p06_fleet_agg', 's3a://fleet-lake/gold/fleet_rollup', 'score_per_reading', 's3a://fleet-lake/gold/alerts', 'alert_score'),
    ('p06_fleet_agg', 's3a://fleet-lake/gold/fleet_rollup', 'score_per_reading', 's3a://fleet-lake/gold/alerts', 'device_id'),
    ('p06_fleet_agg', 's3a://fleet-lake/gold/fleet_rollup', 'site', 's3a://fleet-lake/gold/alerts', 'site'),
    ('p06_fleet_agg', 's3a://fleet-lake/gold/fleet_rollup', 'site_alert_score', 's3a://fleet-lake/gold/alerts', 'alert_score'),
]


@register(
    "plan_lineage_edges",
    oracle=_values_sql(
        _PLAN_EDGES_GOLDEN, ["script_name", "sink", "out_col", "src", "src_col"]
    ),
)
def plan_lineage_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan-based column lineage (SURVEY.md §4): execute the six fixture
    pipelines against schema-only stand-ins under the read/write-capturing
    shim and read source-grounded column lineage off each sink's ANALYZED
    logical plan (lineage/planlineage.py). This is the deterministic
    resolution of everything the static AST pass (lineage/extract.py)
    cannot see — SQL/CTE blocks (p04's health rollup appears here with
    avg_temp <- temp_c and health_state <- is_anomaly, invisible to the
    Python AST), window partition/order dependencies, drops and
    star-expansion — and of the expression-join / positional-`how` cases
    the reference recovers only via its LLM layer (reference
    static_extract.py:231-248, quirk A11): join keys surface as `__join__`
    pseudo-rows regardless of how the join was spelled. Golden rows
    hand-verified against tests/fixtures/pipelines/*.py; superset parity
    vs the AST path is asserted in tests/test_plan_lineage.py. Driver-side
    by design: inputs are empty stand-ins, so each script costs Catalyst
    analysis only (metadata, no data pass); a large repo parallelizes
    across scripts exactly like the AST extractor."""
    import glob as _glob

    from .planlineage import FIXTURE_SEEDS, run_pipelines

    scripts = sorted(_glob.glob(os.path.join(FIXTURE_DIR, "p0*.py")))
    edges, skipped = run_pipelines(spark, scripts, FIXTURE_SEEDS)
    if skipped:
        raise RuntimeError(f"fixture pipelines failed under plan capture: {skipped}")
    return spark.createDataFrame(
        edges, "script_name string, sink string, out_col string, src string, src_col string"
    )
