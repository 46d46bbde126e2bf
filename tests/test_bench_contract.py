"""Driver bench-contract guard (r11 verdict item 1, r13 verdict item 1):
the driver keeps only the TAIL (~2000 chars) of bench.py's stdout and
json-parses the LAST line. History: at 69 headline queries the final
summary embedding the full-precision per-query map overflowed the window
(BENCH_r11.parsed null); the r11 fix made the line a bounded scalar
summary, which parses but carries NO per-query map, so PERF_r12/r13
per_query came back empty and two rounds were judged per-query-blind.
The final line is now built by bench._final_line -- it EMBEDS the wall
map at the finest precision ladder that fits bench._FINAL_LINE_BUDGET
(1990 chars) -- and
this test pins that length against worst-plausible magnitudes so
headline-set growth or a degraded host can never overflow the window
again."""

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import HEADLINE, _FINAL_LINE_BUDGET, _bounded_summary, _final_line


def test_final_line_fits_driver_window_worst_case():
    # Worst-plausible per-query walls: every headline query at ~100 s
    # (a 2-hour bench; every committed artifact's worst query is <7 s)
    # at the longest real sf label. The map must still reach the driver.
    timings = {name: 99.949 for name in HEADLINE}
    line = _final_line(9999.99, timings, "0.001", 99999.9, 128.123)
    assert len(line) <= _FINAL_LINE_BUDGET, len(line)
    assert _FINAL_LINE_BUDGET + 1 <= 2000  # line + newline inside the window
    parsed = json.loads(line)
    # The whole point: the per-query WALL map reaches the driver.
    assert set(parsed["queries"]) == set(HEADLINE)
    assert parsed["metric"] == "headline_query_wall_clock"
    assert parsed["unit"] == "sec"
    assert parsed["sf"] == "0.001"


def test_final_line_carries_host_drift_scalars_at_worst_case_magnitudes():
    # cpu_total / loadavg_start separate host load from plan regressions,
    # so they ride in the parsed final line whenever the map at its
    # finest ladder leaves room: worst-plausible magnitudes (a 32-core
    # host busy for a day, load 128) print rounded next to the full map.
    timings = {name: float(1 + i % 9) for i, name in enumerate(HEADLINE)}
    line = _final_line(sum(timings.values()), timings, "0.001", 99999.9, 128.123)
    assert len(line) <= _FINAL_LINE_BUDGET, len(line)
    parsed = json.loads(line)
    assert parsed["queries"] == {k: int(v) for k, v in timings.items()}
    assert parsed["cpu_total"] == 100000
    assert parsed["loadavg_start"] == 128.1


def test_final_line_absurd_magnitudes_fall_back_to_parse_safe_scalars():
    # Past any plausible magnitude the line must STILL parse (the r11
    # guarantee): the scalar fallback drops the map, never the parse.
    timings = {name: 99999.999 for name in HEADLINE}
    line = _final_line(9999999.9, timings, 0.1, 99999.9, 128.123)
    assert len(line) < 1500, len(line)
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_query_wall_clock"
    assert "queries" not in parsed


def test_final_line_realistic_walls_keep_usable_precision():
    # Realistic magnitudes (every query 0.5-6 s, as in every committed
    # bench artifact) must keep at least the 1dp ladder: values within
    # max(0.05 s, 5%) of truth. The host-drift scalars never buy their
    # room with map precision.
    timings = {name: 0.567 if i % 2 else 5.678 for i, name in enumerate(HEADLINE)}
    line = _final_line(sum(timings.values()), timings, 0.1, 512.3, 3.42)
    assert len(line) <= _FINAL_LINE_BUDGET, len(line)
    parsed = json.loads(line)
    for name, v in parsed["queries"].items():
        truth = timings[name]
        assert abs(v - truth) <= max(0.05, 0.05 * truth), (name, v, truth)


def test_final_line_first_two_ladders_quantization_bounded():
    # Ladder 0 keeps every value within max(0.005 s, 5%); ladder 1
    # within max(0.05 s, 5%). (Ladder 2 is a last resort before the
    # scalar fallback and is only reachable ~25 headline queries from
    # now.)
    import bench

    vals = [0.031, 0.09, 0.51, 0.999, 1.0, 1.049, 5.55, 9.94, 10.1, 43.6]
    for v in vals:
        got0 = bench._PRECISION_LADDERS[0](v)
        assert abs(got0 - v) <= max(0.005, 0.05 * v), (0, v, got0)
        got1 = bench._PRECISION_LADDERS[1](v)
        assert abs(got1 - v) <= max(0.05, 0.05 * v), (1, v, got1)


def test_fallback_summary_is_bounded_and_scalar():
    summary = _bounded_summary(
        total=99999.999,
        n=99999,
        cpu_total=999999.999,
        load_start=128.123456789,
        sf_val="0.123456789",
    )
    line = json.dumps(summary)
    assert len(line) < 1500, line
    assert "queries" not in summary
    assert all(not isinstance(v, dict) for v in summary.values())
    for key in ("metric", "value", "unit", "sf"):
        assert key in summary
    assert summary["unit"] == "sec"
