"""Tests of the benchmark's seeded input generators.

Run from the repository root:  python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import hashlib
import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dp3_spark.sources.mcap_codec import iter_mcap  # noqa: E402

from perfbench import corpus, gen  # noqa: E402


def _fleet(root, seed):
    out = root / f"seed{seed}"
    out.mkdir()
    files, truth = gen.write_fleet(str(out), seed, producers=2, seconds=3)
    digests = {p: hashlib.sha256(open(path, "rb").read()).hexdigest() for path, p in files}
    return files, truth, digests


def test_same_seed_gives_identical_files(tmp_path):
    a = tmp_path / "a"
    b = tmp_path / "b"
    a.mkdir()
    b.mkdir()
    assert _fleet(a, 5)[2] == _fleet(b, 5)[2]


def test_different_seeds_give_different_files(tmp_path):
    da = _fleet(tmp_path, 5)[2]
    db = _fleet(tmp_path, 6)[2]
    assert all(da[p] != db[p] for p in da)


def test_ground_truth_matches_file_contents(tmp_path):
    files, truth, _ = _fleet(tmp_path, 7)
    for path, producer in files:
        with open(path, "rb") as f:
            got = [(ch.topic, m.log_time, m.sequence) for _sc, ch, m in iter_mcap(f)]
        want = truth[truth.producer == producer]
        assert sorted(got) == sorted(zip(want.topic, want.log_time, want.sequence))
        rates = dict((t, hz) for t, hz, _ in gen.TOPICS)
        assert Counter(t for t, _, _ in got) == {t: 3 * hz for t, hz in rates.items()}


def test_corpus_is_seeded(tmp_path):
    def digest(seed, name):
        d = tmp_path / f"{name}-{seed}"
        corpus.write(str(d), seed, docs=50, vectors=20)
        return {t: hashlib.sha256((d / f"{t}.parquet").read_bytes()).hexdigest()
                for t in ("documents", "embeddings")}

    assert digest(3, "x") == digest(3, "y")
    assert digest(3, "x") != digest(4, "z")
