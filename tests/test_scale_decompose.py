"""tools/scale_decompose.py efficiency math: engine time = gate wall − near-zero
wall, N→4N efficiency over it, and "n/a" when engine time is not positive."""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from scale_decompose import efficiencies  # noqa: E402


def test_efficiencies_engine_time_and_ratios():
    engine, raw, eng = efficiencies({1: 40.0, 4: 16.0}, {1: 8.0, 4: 8.0})
    assert engine == {1: 32.0, 4: 8.0}
    assert raw == {"1->4": 0.625}
    assert eng == {"1->4": 1.0}


def test_efficiencies_non_positive_engine_time_is_na():
    engine, raw, eng = efficiencies({1: 10.0, 4: 9.0}, {1: 8.0, 4: 9.5})
    assert engine == {1: 2.0, 4: -0.5}
    assert raw == {"1->4": round(10.0 / 9.0 / 4.0, 3)}
    assert eng == {"1->4": "n/a"}
    _, _, eng = efficiencies({1: 8.0, 4: 3.0}, {1: 8.0, 4: 1.0})
    assert eng == {"1->4": "n/a"}


def test_efficiencies_only_pairs_present_levels():
    _, raw, eng = efficiencies({2: 10.0, 4: 6.0}, {2: 1.0, 4: 1.0})
    assert raw == {} and eng == {}
