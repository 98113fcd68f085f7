"""The BPE fit behind the three registered trainers (operators/search.py::
_bpe_fit): its Spark job budget, the fitted-model memo that serves
bpe_apply_encode, and the driver pair-table cap."""

from __future__ import annotations

import itertools
import re

import pytest

from ai_metadata_lineage_pyspark_spark.functions.cache import release_models
from ai_metadata_lineage_pyspark_spark.functions.io import load
from ai_metadata_lineage_pyspark_spark.operators import search

_GROUPS = itertools.count()
_TRAINERS = ("bpe_train_merges", "bpe_train_merges_incremental", "bpe_train_merges_batched")


def _jobs_in(spark, fn):
    """Run `fn()` under a fresh job group; return the number of Spark jobs
    it submitted."""
    sc = spark.sparkContext
    group = f"bpe-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_six_round_fit_runs_at_most_16_jobs(spark, sf_dir):
    # one vocab checkpoint, one base pair count and one delta per round but
    # the last; the distributed full-recount trainer this replaced ran 35
    load(spark, sf_dir, "documents")  # schema inference is not the fit's
    assert _jobs_in(spark, lambda: search.bpe_train_merges(spark, sf_dir).collect()) <= 16


def test_a_second_encode_runs_no_fit_jobs(spark, sf_dir):
    release_models()
    load(spark, sf_dir, "documents")
    assert _jobs_in(spark, lambda: search.bpe_apply_encode(spark, sf_dir)) > 0
    # the memoized merge table serves the second encode: building its plan
    # runs no job at all
    assert _jobs_in(spark, lambda: search.bpe_apply_encode(spark, sf_dir)) == 0
    release_models()


@pytest.mark.parametrize("name", _TRAINERS)
def test_pair_table_cap_fails_the_base_count(spark, sf_dir, monkeypatch, name):
    monkeypatch.setattr(search, "_BPE_MAX_PAIRS", 50)
    with pytest.raises(search.BpePairTableTooLarge, match=r"holds \d+ pairs before round 1,"):
        getattr(search, name)(spark, sf_dir)


def test_pair_table_cap_fails_a_folded_table(spark, sf_dir, monkeypatch):
    # a cap the base table just fits: a later round's fold grows the table
    # past it (each merge mints pairs around its new token)
    monkeypatch.setattr(search, "_BPE_MAX_PAIRS", 0)
    with pytest.raises(search.BpePairTableTooLarge) as base:
        search.bpe_train_merges_incremental(spark, sf_dir)
    n_base = int(re.search(r"holds (\d+) pairs", str(base.value)).group(1))
    monkeypatch.setattr(search, "_BPE_MAX_PAIRS", n_base)
    with pytest.raises(search.BpePairTableTooLarge) as folded:
        search.bpe_train_merges_incremental(spark, sf_dir)
    n, r = map(int, re.search(r"holds (\d+) pairs before round (\d+)", str(folded.value)).groups())
    assert n > n_base and r > 1
