"""Repo-scale lineage extraction probe (r12 verdict #5).

The lineage path (extract -> enrich-mock -> postprocess -> stitch -> corpus
-> closure) is value-checked on dozen-script corpora — the reference ships
12 example pipelines (static_extract.py:77-89 + stitch_repo.py:7-30 are
designed for whole-repo sweeps), and this engine's fixture corpus is 6
scripts. This probe commits evidence at real-monorepo scale: it generates a
~5,000-script synthetic corpus (parameterized clones of the 6 fixture
pipeline shapes — each replica gets its own `fleet-lake-r<NNNN>` data-lake
root, so every replica is an independent medallion chain) and runs the full
chain once, recording per-stage walls plus STRUCTURAL invariants that make
the run self-checking rather than merely big:

* replica-equality: every clone's per-template fact counts
  (assets/dataframes/columns/edges rows per script) must be IDENTICAL to
  the template's — a single divergent script fails the probe. This extends
  the hand-verified golden facts (lineage/queries.py) and the plan⊇AST
  invariant (tests/test_plan_lineage.py, which exercises the same 6 source
  shapes) from the templates to all N clones, since a clone differs from
  its template only in path-literal strings.
* stitch isolation: stitched script-DAG links must number exactly
  replicas x per-replica links, with zero cross-replica links (distinct
  path roots cannot collide) — the broadcast equi-join scales by corpus
  size, not corpus^2.
* enrich-mock: every script must come back enrich_ok=true (per-row fault
  containment is separately fault-injected in tests/test_enrich_seam.py).
* closure spot-hash: the downstream closure from the templates' root
  column, run over the FULL stitched corpus graph, must hash to the same
  value as over the single-template graph — node identity is the global
  column name (the reference's qa/ask.py design), so 834 path-disjoint
  replicas must not perturb it.

A last stage times an interactive Q&A session over the full corpus: two
asks, the first of which prepares the lineage graph and collects the
retrieval index. Per ask it prints the wall time, the Spark jobs and a
hash of the evidence text, which an evidence change must keep. It also
prints the Spark jobs of one repeated retrieval per question (0: the index
answers on the driver), the median latency of a repeated ask, and a hash
of the retrieved refs, which a retrieval change must keep.

Usage: python tools/repo_scale_lineage_probe.py [n_scripts] [workdir]
Emits one JSON line per stage + a final summary; exit 1 on any invariant
failure.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from ai_metadata_lineage_pyspark_spark.lineage.corpus import (  # noqa: E402
    build_corpus,
)
from ai_metadata_lineage_pyspark_spark.lineage.enrich import (  # noqa: E402
    MockModelClient,
    enrich_scripts,
)
from ai_metadata_lineage_pyspark_spark.lineage.extract import (  # noqa: E402
    assets_table,
    columns_table,
    dataframes_table,
    extract_from_dir,
)
from ai_metadata_lineage_pyspark_spark.lineage.graphqa import (  # noqa: E402
    column_closure,
    column_edges,
    column_graph,
    lineage_rows,
)
from ai_metadata_lineage_pyspark_spark.lineage.postprocess import (  # noqa: E402
    edges_table,
)
from ai_metadata_lineage_pyspark_spark.lineage.queries import (  # noqa: E402
    FIXTURE_DIR,
)
from ai_metadata_lineage_pyspark_spark.lineage.stitch import (  # noqa: E402
    stitch_links,
)
from ai_metadata_lineage_pyspark_spark.session import get_spark  # noqa: E402

N_SCRIPTS = int(sys.argv[1]) if len(sys.argv) > 1 else 5000
WORKDIR = sys.argv[2] if len(sys.argv) > 2 else "/tmp/lineage_repo_5k"
CLOSURE_START = "temp_c"  # deepest fixture column: 8 downstream nodes
ASK_QUESTIONS = (
    "what breaks downstream if `temp_c` changes",
    "how do alert_score and n_readings flow into the gold outputs",
)


def _emit(**kv) -> None:
    print(json.dumps(kv), flush=True)


def _sha16(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def generate_corpus() -> tuple[str, int, int]:
    """Clone the fixture templates with per-replica data-lake roots."""
    templates = sorted(glob.glob(os.path.join(FIXTURE_DIR, "*.py")))
    assert templates, FIXTURE_DIR
    replicas = (N_SCRIPTS + len(templates) - 1) // len(templates)
    dst = os.path.join(WORKDIR, "scripts")
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    n = 0
    for t in templates:
        with open(t) as fh:
            src = fh.read()
        assert "fleet-lake" in src, t
        base = os.path.splitext(os.path.basename(t))[0]
        for r in range(replicas):
            clone = src.replace("fleet-lake", f"fleet-lake-r{r:04d}")
            with open(os.path.join(dst, f"{base}_r{r:04d}.py"), "w") as fh:
                fh.write(clone)
            n += 1
    return dst, n, replicas


def main() -> int:
    scripts_dir, n_scripts, replicas = generate_corpus()
    _emit(stage="generate", scripts=n_scripts, replicas=replicas, dir=scripts_dir)

    spark = get_spark("repo-scale-lineage-probe")
    failures = []

    # -- extract ----------------------------------------------------------
    t0 = time.time()
    facts = extract_from_dir(spark, scripts_dir).localCheckpoint(eager=True)
    assets = assets_table(facts).localCheckpoint(eager=True)
    dataframes = dataframes_table(facts).localCheckpoint(eager=True)
    columns = columns_table(facts).localCheckpoint(eager=True)
    n_facts = facts.count()
    _emit(stage="extract", wall_sec=round(time.time() - t0, 1), scripts=n_facts,
          assets=assets.count(), dataframes=dataframes.count(),
          columns=columns.count())
    if n_facts != n_scripts:
        failures.append(f"extract rows {n_facts} != scripts {n_scripts}")

    # -- replica-equality invariant: per-script counts must take exactly
    # ONE distinct value per template (every clone identical), per table
    t0 = time.time()
    for label, df in (("assets", assets), ("dataframes", dataframes),
                      ("columns", columns)):
        distinct_shapes = (
            df.groupBy("script_name")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.regexp_replace("script_name", r"_r\d{4}$", "").alias("tpl"), "n"
            )
            .distinct()
            .groupBy("tpl")
            .agg(F.count(F.lit(1)).alias("shapes"))
            .filter(F.col("shapes") > 1)
            .count()
        )
        if distinct_shapes:
            failures.append(f"replica-equality violated in {label}")
    _emit(stage="replica_equality", wall_sec=round(time.time() - t0, 1),
          ok=not failures)

    # -- edges + stitch ----------------------------------------------------
    t0 = time.time()
    edges = edges_table(columns, dataframes).localCheckpoint(eager=True)
    n_edges = edges.count()
    _emit(stage="edges", wall_sec=round(time.time() - t0, 1), edges=n_edges)
    if n_edges % replicas:
        failures.append(f"edge count {n_edges} not a multiple of {replicas}")

    t0 = time.time()
    links = stitch_links(assets).localCheckpoint(eager=True)
    n_links = links.count()
    cross = links.filter(
        F.regexp_extract("from_script", r"_r(\d{4})$", 1)
        != F.regexp_extract("to_script", r"_r(\d{4})$", 1)
    ).count()
    _emit(stage="stitch", wall_sec=round(time.time() - t0, 1), links=n_links,
          cross_replica=cross, per_replica=n_links / replicas)
    if cross:
        failures.append(f"{cross} cross-replica stitch links")
    if n_links % replicas:
        failures.append(f"link count {n_links} not a multiple of {replicas}")

    # -- enrich (mock client) ----------------------------------------------
    t0 = time.time()
    from ai_metadata_lineage_pyspark_spark.sources.scripts import read_scripts_dir

    scripts_df = read_scripts_dir(spark, scripts_dir).select(
        F.col("script_name").alias("script_path"),
        "source",
        F.lit("{}").alias("base_facts_json"),
    )
    enriched = enrich_scripts(scripts_df, MockModelClient)
    not_ok = enriched.filter(~F.col("enrich_ok")).count()
    n_enriched = enriched.count()
    _emit(stage="enrich_mock", wall_sec=round(time.time() - t0, 1),
          scripts=n_enriched, faults=not_ok)
    if not_ok or n_enriched != n_scripts:
        failures.append(f"enrich: {not_ok} faults, {n_enriched} rows")

    # -- corpus -------------------------------------------------------------
    t0 = time.time()
    corpus = build_corpus(assets, dataframes, columns, edges)
    n_docs = corpus.count()
    _emit(stage="corpus", wall_sec=round(time.time() - t0, 1), docs=n_docs)
    if n_docs % replicas:
        failures.append(f"corpus docs {n_docs} not a multiple of {replicas}")

    # -- closure over the FULL graph vs the single-template graph -----------
    t0 = time.time()
    full = sorted(
        tuple(r)
        for r in column_closure(column_edges(column_graph(edges)), [CLOSURE_START])
        .select("impacted_col", "depth").collect()
    )
    full_hash = hashlib.sha256(json.dumps(full).encode()).hexdigest()[:16]
    base_facts = extract_from_dir(spark, FIXTURE_DIR)
    base_edges = edges_table(
        columns_table(base_facts), dataframes_table(base_facts)
    )
    base = sorted(
        tuple(r)
        for r in column_closure(column_edges(column_graph(base_edges)), [CLOSURE_START])
        .select("impacted_col", "depth").collect()
    )
    base_hash = hashlib.sha256(json.dumps(base).encode()).hexdigest()[:16]
    _emit(stage="closure", wall_sec=round(time.time() - t0, 1),
          impacted=len(full), sha256_16=full_hash, template_sha256_16=base_hash)
    if full_hash != base_hash:
        failures.append(
            f"closure hash {full_hash} != single-template {base_hash} — "
            "path-disjoint replicas perturbed global column closure"
        )

    # -- Q&A session: two asks, then repeats ----------------------------
    from ai_metadata_lineage_pyspark_spark.ask import QASession
    from ai_metadata_lineage_pyspark_spark.lineage.embed import embed_documents

    qa = QASession(columns=columns, edges=edges, assets=assets, corpus=corpus,
                   embedded=embed_documents(corpus).localCheckpoint(eager=True))
    sc = spark.sparkContext

    def in_group(group, fn, *args):
        """fn(*args) under its own job group: its result, wall seconds and
        the number of Spark jobs it ran."""
        sc.setJobGroup(group, group)
        t1 = time.perf_counter()
        try:
            out = fn(*args)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        wall = time.perf_counter() - t1
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, wall, len(sc.statusTracker().getJobIdsForGroup(group))

    ask_s, ask_jobs, evidence = [], [], []
    for i, q in enumerate(ASK_QUESTIONS):
        result, wall, jobs = in_group(f"probe-ask-{i}", qa.ask, q)
        ask_s.append(round(wall, 2))
        ask_jobs.append(jobs)
        evidence.append(_sha16(result["evidence"]))
    retrieve_jobs, refs = [], []
    for i, q in enumerate(ASK_QUESTIONS):
        hits, _, jobs = in_group(f"probe-retrieve-{i}", qa.retrieve, q)
        refs.append([ref for ref, _ in hits])
        retrieve_jobs.append(jobs)
    repeat_ask_s = []
    for q in ASK_QUESTIONS * 10:
        t1 = time.perf_counter()
        qa.ask(q)
        repeat_ask_s.append(time.perf_counter() - t1)
    _emit(stage="ask", ask_s=ask_s, ask_jobs=ask_jobs,
          evidence_sha256_16=evidence, indexed_docs=len(qa.index.ids),
          repeat_ask_ms_p50=round(statistics.median(repeat_ask_s) * 1e3, 3),
          known_columns=len(qa.lineage.known),
          lineage_rows=lineage_rows(columns, edges, assets).count(),
          retrieve_jobs=retrieve_jobs,
          retrieved_sha256_16=_sha16(json.dumps(refs)))

    _emit(stage="summary", scripts=n_scripts, failures=failures,
          ok=not failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
