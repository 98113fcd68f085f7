"""The benchmark's generators are pure functions of the seed.

    python3 -m pytest perfbench/test_inputs.py -q
"""

from __future__ import annotations

import hashlib
import os

from perfbench import fixtures, inputs


def _digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_fixture_is_byte_identical_per_seed(tmp_path):
    a, b, c = (str(tmp_path / d) for d in "abc")
    fixtures.write_fixture(7, a)
    fixtures.write_fixture(7, b)
    fixtures.write_fixture(8, c)
    assert _digest(a) == _digest(b)
    assert len(_digest(a)) == 10
    assert _digest(a) != _digest(c)


def test_repository_is_byte_identical_per_seed(tmp_path):
    a = inputs.write_repository(7, str(tmp_path / "a"), replicas=8)
    b = inputs.write_repository(7, str(tmp_path / "b"), replicas=8)
    assert _digest(a.scripts_dir) == _digest(b.scripts_dir)
    assert a.hubs == b.hubs and len(a.hubs) == 2 and 0 not in a.hubs
    assert a.n_scripts == 48 == len(_digest(a.scripts_dir))
    hubs = {inputs.write_repository(s, str(tmp_path / "c"), replicas=8).hubs for s in range(5)}
    assert len(hubs) > 1


def test_question_stream_is_identical_per_seed():
    assert inputs.question_pass(7) == inputs.question_pass(7)
    qs = inputs.question_pass(7)
    assert sorted(q.kind for q in qs) == ["free", "pair", "single", "single"]
    known = set(inputs.KNOWN_COLUMNS)
    for q in qs:
        assert set(q.columns) <= known
        words = set(q.text.replace("`", " ").split())
        assert words & known == set(q.columns)
