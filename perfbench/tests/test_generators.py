"""Seeded inputs: one seed gives identical inputs, and every seed makes
all five rules fire together with the reference's quirks."""

import filecmp
import os

import pytest

from perfbench import catalogs, corpus, rule_oracle


def _quirks_fire(catalog):
    issues = rule_oracle.detect(*catalog)
    _, _, fks = catalog
    tails = {(t, cols[1]) for _, t, _, cols, _, _ in fks if len(cols) > 1}
    rule2 = {(r[0], r[1]) for r in issues if r[5] == 2}
    return (
        {r[5] for r in issues} == {1, 2, 3, 4, 5},
        bool(tails & rule2),
        any(c.lower().startswith("id") and not c.lower().endswith("id") for _, c in rule2),
    )


@pytest.mark.parametrize("seed", range(40))
def test_every_interactive_seed_fires_all_rules_and_quirks(seed):
    n_tables = 4 + seed % 33
    assert _quirks_fire(catalogs.generate(seed, n_tables)) == (True, True, True)


def test_same_seed_same_catalog():
    a, b, c = (repr(catalogs.generate(seed, 36)).encode() for seed in (5, 5, 6))
    assert a == b and a != c


def test_same_seed_same_corpus_bytes(tmp_path):
    rows = corpus.generate(str(tmp_path / "a"), 3, sf=0.001)
    corpus.generate(str(tmp_path / "b"), 3, sf=0.001)
    corpus.generate(str(tmp_path / "c"), 4, sf=0.001)
    names = sorted(os.listdir(tmp_path / "a"))
    assert names == sorted(f"{t}.parquet" for t in rows)
    for n in names:
        assert filecmp.cmp(tmp_path / "a" / n, tmp_path / "b" / n, shallow=False)
    assert not filecmp.cmp(tmp_path / "a" / "lineitem.parquet", tmp_path / "c" / "lineitem.parquet",
                           shallow=False)
