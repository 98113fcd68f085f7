"""Seeded generators for the lineage workload: a script repository and a
question stream.

The repository clones the pipeline templates in `tests/fixtures/pipelines`
with the cloning scheme of `tools/repo_scale_lineage_probe.py` (imported, not
copied): replica `r` of each template gets its own `fleet-lake-rNNNN` lake
root, so replicas are disjoint medallion chains. A seeded set of replicas
(a fixed share of them) then reads its bronze and silver inputs from replica
0's root instead of its own, so the script graph has a hub (replica 0's
writers) as well as disjoint chains.

The question stream mixes the three question kinds an interactive lineage
session asks: one backticked column (asked for two columns), two candidate
columns (those two together), and free text that names no known column
(retrieval only). Every seed asks about the same two columns, so every seed
asks for the same work.
"""

from __future__ import annotations

import os
import random
import sys
from dataclasses import dataclass

HUB_SHARE = 0.25
HUB_TEMPLATE = "p03_readings_enriched"  # reads bronze (p01) and silver (p02)
HUB_LAYERS = ("bronze", "silver")

# Column universe of the templates (what `known_columns` must return).
KNOWN_COLUMNS = (
    "__join__devices __join__health alert_flag alert_score contract_value "
    "device_id health_state is_anomaly n_readings prev_temp reading_date "
    "reading_ts rn rolling_24_avg score_per_reading site site_alert_score "
    "site_code site_uri support_tier temp_c temp_delta"
).split()
# The two columns every pass asks about; a single-column ask about either runs
# 47-48 Spark jobs. The four columns with that job count took settled times
# up to ~10% apart, which a seeded choice among them turned into spread
# between seeds: the seed changes the wording, the order and which column
# comes first, not the work.
QUESTION_COLUMNS = ("alert_flag", "n_readings")
# Words for free-text questions: none is an identifier of the column universe.
FREE_WORDS = (
    "dashboard weekly trend report owner latency freshness pipeline upstream "
    "gold fleet monitoring quality budget retention summary export audit"
).split()

_SINGLE_FORMS = (
    "what breaks downstream if `{a}` changes",
    "which gold tables depend on `{a}`",
    "trace the impact of `{a}` through the lake",
)
_PAIR_FORMS = (
    "how do {a} and {b} flow into the gold outputs",
    "what depends on {a} or {b}",
    "show the lineage of {a} and {b}",
)


@dataclass(frozen=True)
class Question:
    kind: str  # "single" | "pair" | "free"
    text: str
    columns: tuple[str, ...]  # candidate columns the question names, in order


@dataclass(frozen=True)
class Repository:
    scripts_dir: str
    n_scripts: int
    replicas: int
    hubs: tuple[int, ...]  # replicas whose hub template reads replica 0's root


def load_probe():
    """Import the probe module; it reads its CLI arguments at import time,
    so hide this process's arguments while it loads."""
    saved = sys.argv
    sys.argv = saved[:1]
    try:
        from tools import repo_scale_lineage_probe
    finally:
        sys.argv = saved
    return repo_scale_lineage_probe


def write_repository(seed: int, work_dir: str, replicas: int) -> Repository:
    """Generate `replicas` clones of every template under `work_dir`."""
    probe = load_probe()
    probe.N_SCRIPTS = replicas * len(os.listdir(probe.FIXTURE_DIR))
    probe.WORKDIR = work_dir
    scripts_dir, n_scripts, reps = probe.generate_corpus()
    rng = random.Random(seed)
    hubs = tuple(sorted(rng.sample(range(1, reps), round(HUB_SHARE * reps))))
    for r in hubs:
        path = os.path.join(scripts_dir, f"{HUB_TEMPLATE}_r{r:04d}.py")
        with open(path) as fh:
            src = fh.read()
        for layer in HUB_LAYERS:
            own = f"fleet-lake-r{r:04d}/{layer}/"
            if src.count(own) != 1:
                raise RuntimeError(f"{path}: expected one read of {own}")
            src = src.replace(own, f"fleet-lake-r0000/{layer}/")
        with open(path, "w") as fh:
            fh.write(src)
    return Repository(scripts_dir, n_scripts, reps, hubs)


def question_pass(seed: int) -> list[Question]:
    """One pass of the seeded question stream, in seeded order: a free-text
    question, a single-column question for each of two columns, and a
    two-column question on both, as an interactive session follows up."""
    rng = random.Random(seed)
    a, b = rng.sample(QUESTION_COLUMNS, 2)
    pair = tuple(rng.sample((a, b), 2))
    free = " ".join(rng.sample(FREE_WORDS, 6))
    qs = [
        Question("free", f"which {free}", ()),
        Question("single", rng.choice(_SINGLE_FORMS).format(a=a), (a,)),
        Question("single", rng.choice(_SINGLE_FORMS).format(a=b), (b,)),
        Question("pair", rng.choice(_PAIR_FORMS).format(a=pair[0], b=pair[1]), pair),
    ]
    rng.shuffle(qs)
    return qs
