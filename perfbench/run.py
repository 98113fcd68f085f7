"""Repository benchmark: runs one workload against the engine, checks its
outputs and prints every metric by name with its unit.

    python3 perfbench/run.py --workload registry_mix --seed 1 --seconds 16 --trace 0

Workloads (closed loop, one client, one process, local[nproc]):

* registry_mix  registered analytic queries over a seeded TPC-H-shaped
                fixture, each once per pass in a seeded order, ending in
                count(); results are hashed against the DuckDB oracles.
* lineage_ask   a seeded script repository is extracted, stitched, turned
                into a corpus and embedded (set-up), then a seeded question
                stream is asked through QASession (retrieval + evidence).

Each run sets up, warms up untimed, then times whole passes: --seconds
divided by the workload's nominal pass time, so every run does the same
work however fast the host is. With --trace 0 the last stdout line carries
the end-to-end metrics; with --trace 1 timed passes alternate untraced and
traced, the event log is on, and the last line carries the per-layer
metrics (spans are written to .perfbench_out/).
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager, nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

REGISTRY_QUERIES = (
    "pricing_summary",
    "local_supplier_volume",
    "product_type_profit",
    "streaming_session_window",
    "image_meta_extract",
)
STREAMING_QUERIES = ("streaming_session_window",)
REPLICAS = 4  # lineage_ask repository: REPLICAS x 6 templates scripts
# Wall time of one settled pass on a 4-vCPU x86 host. A run makes
# round(--seconds / NOMINAL_PASS_S) timed passes, at least MIN_TIMED_PASSES:
# a fixed count, so the pooled sample count (and the tail percentile it
# allows) does not change with the speed of the host or of the code.
NOMINAL_PASS_S = {"registry_mix": 4.0, "lineage_ask": 12.5}
MIN_TIMED_PASSES = 2  # every op gets more than one sample

# Set-up runs this many times and setup_s takes the median of one set-up:
# fixture generation (registry_mix), or repository generation plus the
# lineage build (lineage_ask).
SETUPS = {"registry_mix": 3, "lineage_ask": 2}

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    _SPEC = json.load(_fh)
E2E_UNITS = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
LAYER_UNITS = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}


def tail(samples: dict[str, list[float]]) -> tuple[float, str]:
    """(value, label) of the op-latency tail: the highest nearest-rank
    percentile, p50 or above, with at least 10 pooled samples beyond it.
    Below 20 samples no such percentile exists; then the slowest op's
    median stands in, which one slow sample cannot move."""
    s = sorted(x for v in samples.values() for x in v)
    n = len(s)
    for p in range(99, 49, -1):
        k = math.ceil(p * n / 100)
        if n - k >= 10:
            return s[k - 1], f"p{p} of n={n}"
    return max(statistics.median(v) for v in samples.values()), f"slowest op median, n={n}"


class Run:
    """State of one benchmark run: the session, counters and samples."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.samples: dict[str, dict[str, list[float]]] = {"untraced": {}, "traced": {}}
        self.setup_s = 0.0
        self.cold_pass_s = 0.0
        self.layer: dict[str, float] = {}
        self.stage_s: dict[str, list[float]] = {}  # build stage -> one time per set-up
        self.setups_s: list[float] = []
        self.spark = None
        self.tracer = None  # a Tracer in traced runs
        self.pass_walls = {"warmup": [], "untraced": [], "traced": []}

    def check(self, ok: bool, what: str) -> bool:
        """Count one op; a failed check fails the op."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
            print(f"CHECK FAILED: {what}", file=sys.stderr, flush=True)
        return ok

    def timed_passes(self, run_pass) -> None:
        """Warm-up is done; run the timed passes. With tracing, passes
        alternate untraced and traced, so warm-up drift splits between the
        two."""
        first_rdd = self.spark.sparkContext.emptyRDD().id()
        passes = max(
            MIN_TIMED_PASSES, round(self.args.seconds / NOMINAL_PASS_S[self.args.workload])
        )
        modes = ("untraced", "traced") if self.args.trace else ("untraced",)
        for i in range(passes):
            mode = modes[i % len(modes)]
            if mode == "traced":
                self.install_tracing()
            t0 = time.perf_counter()
            try:
                run_pass(mode)
            finally:
                if mode == "traced":
                    self.tracer.unwrap_all()
            self.pass_walls[mode].append(time.perf_counter() - t0)
        # persistent RDDs the timed ops left behind
        self.layer["cache.persisted_after_release"] = self.persistent_rdds(first_rdd)

    def persistent_rdds(self, after_id: int) -> int:
        """Persistent RDDs newer than RDD `after_id` that the JVM holds after
        `release_persisted`. The JVM keeps them in a weak-value map, and
        Spark's cleaner unpins the RDDs of finished shuffles only after a
        collection, so garbage is collected on both sides until two counts
        agree."""
        from ai_metadata_lineage_pyspark_spark.functions.cache import release_persisted

        release_persisted()
        sc = self.spark.sparkContext
        counts = [-1]
        for _ in range(5):
            gc.collect()
            sc._jvm.System.gc()
            time.sleep(0.1)  # the cleaner thread polls its queue every 0.1 s
            ids = sc._jsc.getPersistentRDDs().keySet()
            counts.append(sum(1 for i in ids if i > after_id))
            if counts[-1] == counts[-2]:
                break
        return counts[-1]

    @contextmanager
    def stage(self, name: str):
        """Time a set-up stage into `stage_s`; a span too when tracing."""
        t0 = time.perf_counter()
        with self.tracer.span(name) if self.tracer else nullcontext():
            yield
        self.stage_s.setdefault(name, []).append(time.perf_counter() - t0)

    def warmup(self, run_pass) -> None:
        """One untimed pass."""
        t0 = time.perf_counter()
        run_pass("warmup")
        self.pass_walls["warmup"].append(time.perf_counter() - t0)

    def record(self, op: str, mode: str, seconds: float) -> None:
        self.samples[mode].setdefault(op, []).append(seconds)

    def install_tracing(self) -> None:
        from ai_metadata_lineage_pyspark_spark.ask import QASession
        from ai_metadata_lineage_pyspark_spark.functions import io
        from ai_metadata_lineage_pyspark_spark.lineage import graphqa
        from ai_metadata_lineage_pyspark_spark.operators import graph

        t = self.tracer
        t.wrap_everywhere(io.load, "io.load")
        t.wrap_everywhere(io.load_events, "io.load")
        t.wrap_everywhere(graph.bfs_closure, "bfs")
        t.wrap_everywhere(graphqa.known_columns, "graphqa.known_columns")
        t.wrap_everywhere(graphqa.column_closure, "graphqa.closure")
        t.wrap_everywhere(graphqa.downstream_scripts, "graphqa.downstream")
        t.wrap_everywhere(graphqa.gold_outputs, "graphqa.gold")
        t.wrap_everywhere(graphqa.build_evidence, "graphqa.evidence")
        t.wrap_method(QASession, "retrieve", "ask.retrieve")


# ---------------------------------------------------------------------------
# registry_mix
# ---------------------------------------------------------------------------


def registry_mix(run: Run, spark) -> None:
    import duckdb

    from ai_metadata_lineage_pyspark_spark.functions.cache import release_persisted
    from ai_metadata_lineage_pyspark_spark.registry import all_queries
    from perfbench import fixtures
    from tools.check_oracle import TABLES, table_hash

    fx = os.path.join(run.work, "fixture")
    gen_s = []
    for _ in range(SETUPS["registry_mix"]):
        t0 = time.perf_counter()
        fixtures.write_fixture(run.args.seed, fx)
        gen_s.append(time.perf_counter() - t0)
    run.setups_s = gen_s
    run.setup_s += statistics.median(gen_s)

    registry = all_queries()
    order = list(REGISTRY_QUERIES)
    random.Random(run.args.seed).shuffle(order)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fx}/{t}.parquet')")
    expected: dict[str, int] = {}

    def oracle_check(name: str, cols: list[str], rows: list[tuple]) -> None:
        res = con.execute(registry[name].oracle)
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        ok = sorted(cols) == sorted(dcols) and len(rows) == len(drows)
        ok = ok and table_hash(cols, rows) == table_hash(dcols, drows)
        if run.check(ok, f"{name}: result differs from its DuckDB oracle"):
            expected[name] = len(rows)

    def op(name: str, mode: str, collect: bool = False):
        fn = registry[name].fn
        if mode != "traced":
            t0 = time.perf_counter()
            df = fn(spark, fx)
            out = [tuple(r) for r in df.collect()] if collect else df.count()
            dt = time.perf_counter() - t0
        else:
            tr = run.tracer
            with tr.op_span(name, "op") as rec:
                with tr.span("reg.build"):
                    df = fn(spark, fx)
                with tr.span("plan"):
                    df._jdf.queryExecution().executedPlan()
                with tr.span("exec"):
                    out = df.count()
            dt = rec["end"] - rec["start"]
        release_persisted()
        return df, out, dt

    # warm-up 1: cold, collected and hashed against the oracle
    t0 = time.perf_counter()
    for name in order:
        try:
            df, rows, dt = op(name, "warmup", collect=True)
        except Exception as e:  # noqa: BLE001 - a failing op is counted, not fatal
            run.check(False, f"{name}: {type(e).__name__}: {e}")
            continue
        run.cold_pass_s += dt
        oracle_check(name, df.columns, rows)
    run.pass_walls["warmup"].append(time.perf_counter() - t0)

    def run_pass(mode: str) -> None:
        for name in order:
            if name not in expected:
                continue
            try:
                _, n, dt = op(name, mode)
            except Exception as e:  # noqa: BLE001
                run.check(False, f"{name}: {type(e).__name__}: {e}")
                continue
            ok = run.check(n == expected[name], f"{name}: {n} rows, oracle has {expected[name]}")
            if ok and mode != "warmup":
                run.record(name, mode, dt)

    # warm-up 2: the pass after the cold one still runs ~1.3x a timed one
    run.warmup(run_pass)
    run.timed_passes(run_pass)


# ---------------------------------------------------------------------------
# lineage_ask
# ---------------------------------------------------------------------------


def build_lineage(run: Run, spark, scripts_dir: str) -> dict:
    """Full lineage build, each stage materialized and timed into `run.layer`."""
    from ai_metadata_lineage_pyspark_spark.lineage.corpus import build_corpus
    from ai_metadata_lineage_pyspark_spark.lineage.embed import embed_documents
    from ai_metadata_lineage_pyspark_spark.lineage.extract import (
        assets_table,
        columns_table,
        dataframes_table,
        extract_from_dir,
    )
    from ai_metadata_lineage_pyspark_spark.lineage.postprocess import edges_table
    from ai_metadata_lineage_pyspark_spark.lineage.stitch import stitch_links

    t: dict = {}
    with run.stage("extract.s"):
        t["facts"] = extract_from_dir(spark, scripts_dir).localCheckpoint(eager=True)
    with run.stage("tables.s"):
        for name, f in (
            ("assets", assets_table),
            ("dataframes", dataframes_table),
            ("columns", columns_table),
        ):
            t[name] = f(t["facts"]).localCheckpoint(eager=True)
    with run.stage("edges.s"):
        t["edges"] = edges_table(t["columns"], t["dataframes"]).localCheckpoint(eager=True)
    with run.stage("stitch.s"):
        t["links"] = stitch_links(t["assets"]).localCheckpoint(eager=True)
    with run.stage("corpus.s"):
        corpus = build_corpus(t["assets"], t["dataframes"], t["columns"], t["edges"])
        t["corpus"] = corpus.localCheckpoint(eager=True)
    with run.stage("embed.s"):
        t["embedded"] = embed_documents(t["corpus"]).localCheckpoint(eager=True)
    return t


def _replica(script: str) -> tuple[str, int]:
    tpl, _, r = script.rpartition("_r")
    return tpl, int(r)


def check_build(repo, t: dict) -> tuple[list[str], dict]:
    """Structural checks of the build: (problems, column graph and counts)."""
    from perfbench.inputs import HUB_LAYERS, HUB_TEMPLATE, KNOWN_COLUMNS

    problems = []
    n_facts = t["facts"].count()
    if n_facts != repo.n_scripts:
        problems.append(f"{n_facts} fact rows for {repo.n_scripts} scripts")
    per_script: dict[str, dict[str, int]] = {}
    rows = {}
    for name in ("assets", "dataframes", "columns", "edges"):
        rows[name] = t[name].collect()
        counts: dict[str, int] = {}
        for r in rows[name]:
            counts[r.script_name] = counts.get(r.script_name, 0) + 1
        per_script[name] = counts
    # replica equality: every clone of a template has the template's counts
    for name, counts in per_script.items():
        shapes: dict[str, set] = {}
        for script, n in counts.items():
            shapes.setdefault(_replica(script)[0], set()).add(n)
        uneven = sorted(tpl for tpl, s in shapes.items() if len(s) > 1)
        if uneven:
            problems.append(f"replica equality violated in {name}: {uneven}")
    links = t["links"].collect()
    docs = t["corpus"].count()
    embedded = t["embedded"].count()
    if len(links) % repo.replicas:
        problems.append(f"{len(links)} links, not a multiple of {repo.replicas}")
    if docs % repo.replicas:
        problems.append(f"{docs} docs, not a multiple of {repo.replicas}")
    if embedded != docs:
        problems.append(f"{embedded} embedded docs for {docs} corpus docs")
    cross = {
        (r.from_script, r.to_script)
        for r in links
        if _replica(r.from_script)[1] != _replica(r.to_script)[1]
    }
    hub_writers = {a.script_name for a in rows["assets"] if a.direction == "write"
                   and _replica(a.script_name)[1] == 0
                   and any(f"/{layer}/" in a.path for layer in HUB_LAYERS)}
    expected = {(w, f"{HUB_TEMPLATE}_r{h:04d}") for h in repo.hubs for w in hub_writers}
    if cross != expected or len(hub_writers) != len(HUB_LAYERS):
        problems.append(
            f"cross-replica links: {len(cross - expected)} unexpected, "
            f"{len(expected - cross)} missing"
        )
    known = set()
    for r in rows["columns"]:
        known.add(r.col_name)
        known.update(r.derived_from)
    if known != set(KNOWN_COLUMNS):
        problems.append(f"column universe differs: {sorted(known ^ set(KNOWN_COLUMNS))}")
    graph: dict[str, set] = {}
    for e in rows["edges"]:
        if e.src_col != e.target_col:
            graph.setdefault(e.src_col, set()).add(e.target_col)
    return problems, {
        "graph": graph,
        "facts": n_facts,
        "edges": len(rows["edges"]),
        "links": len(links),
        "docs": docs,
    }


def impact_list(graph: dict[str, set], start: str, max_depth: int = 20) -> list[str]:
    """Min-depth downstream closure, ordered by (depth, node), as the
    evidence block shows it."""
    from ai_metadata_lineage_pyspark_spark.lineage.graphqa import BFS_NODE_LIMIT, MAX_IMPACT_SHOW

    depth = {start: 0}
    frontier = [start]
    for d in range(1, max_depth + 1):
        nxt = sorted({v for u in frontier for v in graph.get(u, ()) if v not in depth})
        for v in nxt:
            depth[v] = d
        frontier = nxt
    found = sorted((d, n) for n, d in depth.items() if n != start)
    return [n for _, n in found[:BFS_NODE_LIMIT]][:MAX_IMPACT_SHOW]


def answer_problems(q, result: dict, graph: dict, n_docs: int) -> list[str]:
    from ai_metadata_lineage_pyspark_spark.lineage.embed import TOP_K

    lines = result["evidence"].split("\n")
    problems = []
    want = ", ".join(q.columns) or "(none)"
    if f"CANDIDATE COLUMNS: {want}" not in lines:
        problems.append(f"candidates are not {want}")
    for col in q.columns:
        impacted = impact_list(graph, col)
        line = f"COLUMN IMPACT {col} -> ({len(impacted)}): {', '.join(impacted) or '(none)'}"
        if line not in lines:
            problems.append(f"impact of {col} differs from BFS")
    got = result["debug"]["retrieved_docs"]
    if got != min(TOP_K, n_docs):
        problems.append(f"{got} docs retrieved")
    return problems


def lineage_ask(run: Run, spark) -> None:
    from ai_metadata_lineage_pyspark_spark.ask import QASession
    from perfbench import inputs

    questions = inputs.question_pass(run.args.seed)
    # The first build in a process is mostly JIT, codegen and Python worker
    # start-up; it runs untimed. It is full-size: after a one-replica warm-up
    # build the first timed build still ran 15-25% slower than the second.
    t0 = time.perf_counter()
    cold = inputs.write_repository(run.args.seed, os.path.join(run.work, "repo-cold"), REPLICAS)
    build_lineage(run, spark, cold.scripts_dir)
    run.layer["build.cold_s"] = time.perf_counter() - t0
    run.stage_s.clear()
    setup_s, build_s = [], []
    for i in range(SETUPS["lineage_ask"]):
        t0 = time.perf_counter()
        repo = inputs.write_repository(run.args.seed, os.path.join(run.work, f"repo{i}"), REPLICAS)
        t1 = time.perf_counter()
        tables = build_lineage(run, spark, repo.scripts_dir)
        t2 = time.perf_counter()
        setup_s.append(t2 - t0)
        build_s.append(t2 - t1)
    run.setups_s = setup_s
    run.setup_s += statistics.median(setup_s)
    run.layer["build.scripts_per_s"] = repo.n_scripts / statistics.median(build_s)
    problems, built = check_build(repo, tables)
    run.check(not problems, "build: " + "; ".join(problems))
    for rows in ("facts", "edges", "links", "docs"):
        run.layer[f"{rows}.rows"] = built[rows]

    qa = QASession(
        columns=tables["columns"],
        edges=tables["edges"],
        assets=tables["assets"],
        corpus=tables["corpus"],
        embedded=tables["embedded"],
    )

    def run_pass(mode: str, asked: list = questions) -> None:
        for q in asked:
            op = f"ask_{q.kind}"
            try:
                if mode == "traced":
                    with run.tracer.op_span(op, "op") as rec:
                        result = qa.ask(q.text)
                    dt = rec["end"] - rec["start"]
                else:
                    t0 = time.perf_counter()
                    result = qa.ask(q.text)
                    dt = time.perf_counter() - t0
            except Exception as e:  # noqa: BLE001 - a failing op is counted, not fatal
                run.check(False, f"{op}: {type(e).__name__}: {e}")
                continue
            problems = answer_problems(q, result, built["graph"], built["docs"])
            if run.check(not problems, f"{op}: " + "; ".join(problems)):
                if mode == "warmup":
                    run.cold_pass_s += dt
                else:
                    run.record(op, mode, dt)

    # Warm-up: the two-column question, which asks about both columns of the
    # pass and runs every call the other kinds run. The first ask in a
    # process takes ~1.7x a settled one; after a single-column warm-up the
    # first timed two-column ask still did.
    run.warmup(lambda mode: run_pass(mode, [q for q in questions if q.kind == "pair"]))
    run.timed_passes(run_pass)


WORKLOADS = {"registry_mix": registry_mix, "lineage_ask": lineage_ask}


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def pass_s(samples: dict[str, list[float]]) -> float:
    return sum(statistics.median(v) for v in samples.values())


def end_to_end(run: Run) -> tuple[dict, dict]:
    samples = run.samples["untraced"]
    pooled = [x for v in samples.values() for x in v]
    total = pass_s(samples)
    value, label = tail(samples)
    m = {
        "setup_s": run.setup_s,
        "pass_s": total,
        "op_p50_s": statistics.median(pooled),
        "op_tail_s": value,
    }
    info = {
        "op_tail": label,
        "pass_walls_s": {k: [round(x, 2) for x in v] for k, v in run.pass_walls.items()},
        "op_samples_s": {k: [round(x, 3) for x in v] for k, v in samples.items()},
        "setups_s": [round(x, 2) for x in run.setups_s],
        "cold_build_s": round(run.layer.get("build.cold_s", 0.0), 2),
    }
    return m, info


def per_layer(run: Run, event_dir: str) -> dict:
    from perfbench.trace import event_log_records, in_spans

    m = dict.fromkeys(LAYER_UNITS, 0.0)
    m.update({k: v for k, v in run.layer.items() if k in m})
    m.update({k: statistics.median(v) for k, v in run.stage_s.items()})
    m["cold_pass_s"] = run.cold_pass_s
    m["error_rate"] = run.failed / max(run.attempted, 1)

    traced = run.samples["traced"]
    untraced = run.samples["untraced"]
    m["trace.pass_s"] = pass_s(traced)
    m["trace.untraced_pass_s"] = pass_s(untraced)
    m["trace.overhead_s"] = m["trace.pass_s"] - m["trace.untraced_pass_s"]

    passes = max(len(run.pass_walls["traced"]), 1)
    spans = run.tracer.spans
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def total(name: str, op: str | None = None) -> float:
        return sum(s["end"] - s["start"] for s in by_name.get(name, []) if op in (None, s["op"]))

    loads = by_name.get("io.load", [])
    m["io.load_calls"] = len(loads) / passes
    m["io.load_s"] = total("io.load") / passes
    if loads:
        m["io.load_ms_p50"] = 1000 * statistics.median(s["end"] - s["start"] for s in loads)
    for q in REGISTRY_QUERIES:
        m[f"reg.build_s.{q}"] = total("reg.build", q) / passes
        m[f"plan.s.{q}"] = total("plan", q) / passes
        m[f"exec.s.{q}"] = total("exec", q) / passes
    m["stream.s"] = sum(total("op", q) for q in STREAMING_QUERIES) / passes
    m["bfs.calls"] = len(by_name.get("bfs", [])) / passes
    m["bfs.s"] = total("bfs") / passes
    for name in ("known_columns", "closure", "downstream", "gold"):
        m[f"graphqa.{name}_s"] = total(f"graphqa.{name}") / passes
    m["ask.retrieve_s"] = total("ask.retrieve") / passes

    jobs, stages, failed = event_log_records(event_dir)
    ops = by_name.get("op", [])
    op_jobs: dict[int, str] = {}
    for j in jobs:
        s = in_spans(j["submitted"], ops)
        if s is not None:
            op_jobs[j["job"]] = s["op"]
            m[f"exec.jobs.{s['op']}"] += 1 / passes
            if s["op"] in STREAMING_QUERIES:
                m["stream.job_wall_s"] += j["wall_ms"] / 1000 / passes
            if in_spans(j["submitted"], by_name.get("bfs", [])) is not None:
                m["bfs.jobs"] += 1 / passes
    asks = sum(len(v) for k, v in traced.items() if k.startswith("ask_"))
    if asks:
        m["ask.jobs"] = sum(
            1 for op in op_jobs.values() if op.startswith("ask_")
        ) / asks
    for st in stages:
        if st["job"] in op_jobs:
            m["exec.stages"] += 1 / passes
            m["exec.tasks"] += (st["tasks"] or 0) / passes
            m["exec.failed_tasks"] += failed.get(st["stage"], 0) / passes
            m["exec.stage_cpu_s"] += st["cpu_ms"] / 1000 / passes
            m["exec.shuffle_mb"] += (st["sh_write_b"] or 0) / 1e6 / passes
            m["exec.spill_mb"] += (st["spill_b"] or 0) / 1e6 / passes
    return m


# ---------------------------------------------------------------------------
# process set-up and teardown
# ---------------------------------------------------------------------------


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(work: str, trace: bool) -> str:
    """Pin the run shape and keep every file the run writes under `work`."""
    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "events")
    for d in (tmp, events):
        os.makedirs(d, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    confs = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if trace:
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{events}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    args = " ".join(f"--conf {k}={v}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"
    return events


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its files (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, ROOT)
    # Fail before starting anything when the engine or its tools are absent.
    import pyspark

    from ai_metadata_lineage_pyspark_spark.session import get_spark
    from perfbench.inputs import load_probe
    from tools import check_oracle, opt_measure  # noqa: F401

    load_probe()

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    event_dir = configure_env(work, bool(args.trace))
    run = Run(args, work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        run.layer["session.start_s"] = time.perf_counter() - t0
        run.setup_s = run.layer["session.start_s"]
        if args.trace:
            from perfbench.trace import Tracer

            run.tracer = Tracer(spark.sparkContext)
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        run.spark = spark
        WORKLOADS[args.workload](run, spark)
        run.layer["cache.stream_tables_alive"] = sum(
            t.name.startswith("stream_result_") for t in spark.catalog.listTables()
        )
        run.layer["session.jvm_peak_rss_mb"] = vm_hwm_mb(jvm_pid)
        e2e, info = end_to_end(run)
        stop_spark(spark)
        spark = None
        info.update(
            {
                "workload": args.workload,
                "seed": args.seed,
                "cpus": nproc(),
                "pyspark": pyspark.__version__,
                "fixture": "generated from --seed under " + os.path.relpath(work, ROOT),
                "failures": run.failures[:5],
            }
        )
        if args.trace:
            metrics = per_layer(run, event_dir)
            units = LAYER_UNITS
            out = os.path.join(ROOT, ".perfbench_out", f"spans-{args.workload}-{args.seed}.jsonl")
            run.tracer.write(out)
            info["spans"] = os.path.relpath(out, ROOT)
        else:
            metrics, units = e2e, E2E_UNITS
        print("info: " + json.dumps(info), flush=True)
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
        print(json.dumps(result), flush=True)
        return 0
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
