"""Tests for the benchmark's own pieces (no Spark session needed).

    python -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import gen, stats  # noqa: E402
from perfbench import workloads as wl  # noqa: E402


def _digests(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _generate(root, seed: int) -> dict:
    return {
        "star": gen.write_star(os.path.join(root, "star"), seed, 0.001),
        "corpus": gen.write_corpus(os.path.join(root, "corpus"), seed, 200, 50),
        "saaf": gen.write_saaf(os.path.join(root, "runs"), seed, 2, 20),
    }


def test_same_seed_gives_identical_bytes(tmp_path):
    _generate(tmp_path / "a", 7)
    _generate(tmp_path / "b", 7)
    a, b = _digests(tmp_path / "a"), _digests(tmp_path / "b")
    assert a and a == b


def test_two_seeds_give_same_row_counts_different_values(tmp_path):
    ta, tb = _generate(tmp_path / "a", 1), _generate(tmp_path / "b", 2)
    for part in ta:
        assert ta[part]["rows"] == tb[part]["rows"]
    assert _digests(tmp_path / "a") != _digests(tmp_path / "b")


def test_corpus_plants_fixture_dup_shares(tmp_path):
    t = gen.write_corpus(str(tmp_path), 3, 4000, 10)
    assert 0.03 < t["near_dup_share"] < 0.07
    assert 0 < t["exact_dup_share"] < 0.01


@pytest.mark.parametrize(
    "n, p", [(9, None), (20, 50), (39, 50), (40, 75), (100, 90), (200, 95), (1000, 99)]
)
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p
    if p is not None:
        rank = -(-p * n // 100)
        assert n - rank >= 10


def test_percentile_nearest_rank():
    vals = list(range(1, 101))
    assert stats.percentile(vals, 50) == 50
    assert stats.percentile(vals, 90) == 90
    assert stats.percentile([3.0], 99) == 3.0


def test_failed_frac_arithmetic():
    assert stats.failed_frac(10, 0) == 0.0
    assert stats.failed_frac(4, 1) == 0.25
    assert stats.failed_frac(3, 3) == 1.0
    with pytest.raises(ValueError):
        stats.failed_frac(0, 0)
    with pytest.raises(ValueError):
        stats.failed_frac(2, 3)


def test_geomean_weighs_ops_equally():
    assert stats.geomean([0.5, 2.0]) == pytest.approx(1.0)
    assert stats.geomean([0.5, 4.0]) / stats.geomean([0.5, 2.0]) == pytest.approx(2 ** 0.5)


def test_iqr_share():
    assert stats.iqr_share([10.0] * 10) == 0.0
    assert stats.iqr_share([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) == pytest.approx(5.5 / 5.5)


def _write_sections(root: str, sections: dict, raw_rows: int) -> dict[str, str]:
    """Lay out report sections the way Engine.write_report does."""
    paths = {}
    for key, df in sections.items():
        p = os.path.join(root, key)
        os.makedirs(p)
        df[sorted(df.columns)].to_csv(os.path.join(p, "part-00000.csv"), index=False)
        paths[key] = p
    raw = os.path.join(root, "raw")
    os.makedirs(raw)
    pd.DataFrame({"x": range(raw_rows)}).to_csv(os.path.join(raw, "part-00000.csv"), index=False)
    paths["raw"] = raw
    return paths


def test_saaf_check_accepts_oracle_and_flags_a_wrong_value(tmp_path):
    gen.write_saaf(str(tmp_path / "runs"), 5, 2, 60)
    files = sorted(str(p) for p in (tmp_path / "runs").rglob("*.json"))
    want = wl.saaf_report_oracle(files)
    groups = {k: want[k] for k in wl.SAAF_REPORT["output_groups"]}
    assert want["raw_rows"] > 0 and all(len(df) for df in groups.values())

    ok = _write_sections(str(tmp_path / "ok"), groups, want["raw_rows"])
    assert wl.check_saaf_report(ok, want) is None

    bad = {k: df.copy() for k, df in groups.items()}
    key = wl.SAAF_REPORT["output_groups"][0]
    bad[key].loc[0, "avg_runtime"] = bad[key].loc[0, "avg_runtime"] + 0.01
    paths = _write_sections(str(tmp_path / "bad"), bad, want["raw_rows"])
    assert "section" in wl.check_saaf_report(paths, want)

    short = _write_sections(str(tmp_path / "short"), groups, want["raw_rows"] - 1)
    assert "raw section" in wl.check_saaf_report(short, want)


def test_registry_fingerprint_flags_a_wrong_row():
    df = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    wrong = df.copy()
    wrong.loc[1, "v"] = 1.25
    assert wl.frame_fingerprint(df) == wl.frame_fingerprint(df.iloc[::-1])
    assert wl.frame_fingerprint(df) != wl.frame_fingerprint(wrong)
