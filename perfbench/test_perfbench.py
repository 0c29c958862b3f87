"""Self-tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import random
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import measure  # noqa: E402
import run  # noqa: E402


def _inputs_bytes(seed: int) -> bytes:
    history, cycles = gen.post_hourly_inputs(random.Random(seed), 30)
    files, gets = gen.stream_drop_inputs(random.Random(seed), 30)
    parts = [history.text()]
    for posts, window in cycles:
        parts += [b.text() for b in posts] + [repr(window).encode()]
    parts += [b.text() for b in files] + [repr(gets).encode()]
    return b"\0".join(parts)


def test_same_seed_gives_identical_inputs():
    assert _inputs_bytes(7) == _inputs_bytes(7)


def test_different_seed_gives_different_inputs():
    assert _inputs_bytes(7) != _inputs_bytes(8)


def test_inputs_mix_valid_sci_and_blank_lines():
    files, _ = gen.stream_drop_inputs(random.Random(3), 30)
    kinds = {m is None and bool(ln.strip()) for b in files
             for ln, (m, _v) in zip(b.lines, b.kept)}
    assert kinds == {True, False}
    assert any(not ln.strip() for b in files for ln in b.lines)


def test_percentile_needs_ten_samples_beyond():
    xs = [float(i) for i in range(99)]
    with pytest.raises(ValueError):
        measure.percentile(xs, 90)  # 9.9 samples beyond
    assert measure.percentile(xs + [99.0], 90) == pytest.approx(89.1)
    with pytest.raises(ValueError):
        measure.percentile([float(i) for i in range(199)], 95)
    assert measure.percentile([float(i) for i in range(200)], 95) > 188


def test_expected_model_gold_and_get_rows():
    m = gen.Expected()
    for metric, value in [("Voltage", 1.0), ("Voltage", 3.0), ("Current", 10.0),
                          ("Temperature", 20.0), (None, 0.0)]:
        m.add(gen.DAY0, metric, value)
    m.add(gen.DAY0 + 1, "Voltage", 2.0)  # no Current: no gold row
    assert m.gold(gen.DAY0) == 20.0
    assert m.gold(gen.DAY0 + 1) is None
    assert m.get_rows(gen.DAY0, gen.DAY0 + 1) == 4 + 1 + 1
    assert m.silver_rows() == 5


def test_traced_slots_alternate_evenly():
    slots = [measure.traced_slot(k) for k in range(8)]
    assert slots == [True, False, False, True] * 2
    assert sum(slots[1:5]) == 2


def test_tracing_overhead_compares_traced_with_untraced_ops():
    op_s = [1.1, 1.0, 1.0, 1.1, 1.1, 1.0]
    traced = [measure.traced_slot(k) for k in range(6)]
    assert run.tracing_overhead_pct(op_s, traced) == pytest.approx(10.0)


def test_metric_names_and_benchmark_file_agree():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.PER_LAYER
    for name in [*e2e, *layer, *(w["name"] for w in bench["workloads"])]:
        assert measure.NAME_RE.fullmatch(name), name
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
