"""tools/scaling_bench.py without Spark: the N -> 4N levels it derives
from the host, its paired summary, and its fingerprint check."""
import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))

import scaling_bench  # noqa: E402


@pytest.mark.parametrize("nproc, want", [(4, (1, 4)), (32, (8, 32)), (2, (1, 4)), (1, (1, 4))])
def test_levels_follow_the_host(nproc, want):
    assert scaling_bench.levels(nproc) == want


def _pair(lo_sec, hi_sec, fp="10:7"):
    return ({"cores": 1, "sec": lo_sec, "fingerprint": fp},
            {"cores": 4, "sec": hi_sec, "fingerprint": fp})


def test_summary_is_the_median_paired_speedup():
    pairs = [_pair(4.0, 2.0), _pair(3.0, 1.0), _pair(6.0, 2.5), _pair(3.3, 3.0), _pair(5.0, 1.0)]
    out = scaling_bench.summarize(pairs)
    assert out["levels"] == ["local[1]", "local[4]"]
    assert out["pair_speedups"] == [2.0, 3.0, 2.4, 1.1, 5.0]
    # the median of the pair ratios, not the ratio of the level medians
    # (4.0 / 2.0 = 2.0)
    assert out["speedup"] == 2.4
    assert out["scaling_efficiency"] == 0.6
    assert out["low_sec"] == [4.0, 3.0, 6.0, 3.3, 5.0]
    assert out["high_sec"] == [2.0, 1.0, 2.5, 3.0, 1.0]
    assert out["fingerprint"] == "10:7"


def test_summary_fails_on_mismatched_fingerprints():
    lo, hi = _pair(4.0, 2.0)
    hi["fingerprint"] = "10:8"
    with pytest.raises(scaling_bench.bench.CheckFailed, match="fingerprints differ"):
        scaling_bench.summarize([_pair(3.0, 1.0), (lo, hi)])
