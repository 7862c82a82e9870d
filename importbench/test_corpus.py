"""The benchmark's own checks, without Spark:

    python3 -m pytest importbench/test_corpus.py -q

The corpus generator is deterministic for a seed; each workload's
``corpus.dict_path_share`` and ``corpus.top_tenant_share`` match what its
``why`` in BENCHMARK.json states; the oracle over a substituted event
relation equals the package's oracle; the gate accepts the oracle tables
and rejects a corrupted row and a dropped wave.
"""

from __future__ import annotations

import json
import os
import re
import sys

import pandas as pd
import pytest

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

from importbench import gate  # noqa: E402
from importbench.corpus import ORACLES, WORKLOADS, Corpus  # noqa: E402

SEEDS = range(1, 11)


def _whys() -> dict[str, str]:
    with open(os.path.join(_ROOT, "BENCHMARK.json")) as f:
        return {w["name"]: w["why"] for w in json.load(f)["workloads"]}


def test_same_seed_same_corpus_and_other_seed_differs():
    for name in WORKLOADS:
        a, b, c = Corpus(name, 7), Corpus(name, 7), Corpus(name, 8)
        assert a.envelopes == b.envelopes and a.waves == b.waves
        assert a.envelopes != c.envelopes
        assert a.properties() == b.properties()


@pytest.mark.parametrize("name", sorted(_whys()))
def test_shares_match_the_stated_why(name):
    why = _whys()[name]
    dict_share = float(re.search(r"dict-path share ([0-9.]+)", why).group(1))
    top_share = float(re.search(r"top tenant share ([0-9.]+)", why).group(1))
    for seed in SEEDS:
        props = Corpus(name, seed).properties()
        # the stated values are means over these seeds; a workload of a
        # few hundred orders moves them by up to these margins
        assert props["corpus.dict_path_share"] == pytest.approx(dict_share, abs=0.015)
        assert props["corpus.top_tenant_share"] == pytest.approx(top_share, abs=0.1)
        assert props["corpus.envelopes"] >= 1000  # >= 10 samples beyond p99


def test_substituted_oracle_equals_package_oracle():
    c = Corpus("import_waves", 1)
    got = c.expected()
    for table, (sql, renames) in ORACLES.items():
        want = c.con.execute(sql).fetchdf().rename(columns={v: k for k, v in renames.items()})
        cols = list(want.columns)
        pd.testing.assert_frame_equal(
            got[table][cols].sort_values(cols).reset_index(drop=True),
            want.sort_values(cols).reset_index(drop=True),
        )


def test_gate_accepts_oracle_and_rejects_corruption_and_a_dropped_wave():
    c = Corpus("import_waves", 1)
    want = c.expected()
    assert gate.diff(want, want) == {}
    assert gate.diff(gate.corrupted(want), want)
    assert gate.diff(c.expected(drop=(c.waves[0], c.waves[1])), want)
