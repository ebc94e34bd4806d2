"""Tests of the benchmark's own pieces (no Spark session needed).

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402
import season  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402
import tables  # noqa: E402

SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


# -- percentile helper --------------------------------------------------

def test_median_needs_ten_samples_beyond_it():
    assert stats.percentile(list(range(19)), 0.5) is None
    assert stats.percentile(list(range(20)), 0.5) == pytest.approx(9.5)


def test_p90_needs_a_hundred_samples():
    assert stats.percentile(list(range(99)), 0.9) is None
    assert stats.percentile(list(range(100)), 0.9) == pytest.approx(89.1)


def test_percentile_ignores_input_order():
    xs = [float(x) for x in range(40)]
    assert stats.percentile(xs[::-1], 0.5) == stats.percentile(xs, 0.5)


def test_percentile_rejects_out_of_range_q():
    with pytest.raises(ValueError):
        stats.percentile(list(range(100)), 1.0)


# -- failure counting -----------------------------------------------------

def test_every_failed_run_of_a_query_counts():
    import suite

    def broken(spark, data):
        raise RuntimeError("boom")

    work = suite.Suite.__new__(suite.Suite)
    work.names, work.builders = ["q"], {"q": broken}
    work.spark = work.data = None
    work.tally = stats.Tally()
    work.serial_pass()
    work.serial_pass()
    assert (work.tally.attempted, work.tally.failed) == (2, 2)
    assert work.tally.messages == {"q": "RuntimeError: boom"}


# -- generators -----------------------------------------------------------

def test_tables_are_deterministic_per_seed():
    a, b = tables.generate(7), tables.generate(7)
    assert all(a[t].equals(b[t]) for t in tables.TABLES)
    c = tables.generate(8)
    assert not a["lineitem"].equals(c["lineitem"])


def test_documents_count_their_characters():
    docs = tables.generate(3)["documents"].to_pydict()
    assert docs["n_chars"] == [len(t) for t in docs["text"]]


def test_season_is_deterministic_per_seed():
    a, b = season.generate(5, 3, 4, 6), season.generate(5, 3, 4, 6)
    assert all(a[k].equals(b[k]) for k in a)
    c = season.generate(6, 3, 4, 6)
    assert not a["tracking_before"].equals(c["tracking_before"])


def test_season_shape():
    t = season.generate(1, weeks=3, plays=4, frames=6)
    n_play = 3 * 4
    assert t["plays"].num_rows == n_play
    assert t["tracking_before"].num_rows == n_play * 3 * 6
    assert t["tracking_after"].num_rows == n_play * 2 * season.AFTER_FRAMES
    keys = set(zip(*(t["plays"].column(c).to_pylist() for c in ("game_id", "play_id"))))
    assert len(keys) == n_play


def test_season_matches_the_pipeline_schemas():
    pytest.importorskip("pyspark")
    sys.path.insert(0, str(HERE.parent))
    from big_data_bowl_2026_analytics_spark.schemas import (
        PLAYS_SCHEMA,
        TRACKING_AFTER_SCHEMA,
        TRACKING_BEFORE_SCHEMA,
    )

    t = season.generate(1, 2, 2, 3)
    for name, schema in (
        ("tracking_before", TRACKING_BEFORE_SCHEMA),
        ("tracking_after", TRACKING_AFTER_SCHEMA),
        ("plays", PLAYS_SCHEMA),
    ):
        assert t[name].column_names == schema.fieldNames()


# -- spans ----------------------------------------------------------------

def test_self_time_subtracts_children():
    tr = spans.Tracer()
    with tr.span("op", "q") as op:
        with tr.span("plans", "q"):
            pass
        with tr.span("exec", "q") as ex:
            pass
    tr.child(ex, "catalyst", "q", ex["dur"] / 2)
    selfs = spans.self_times(tr.spans)
    total = sum(selfs.values())
    assert total == pytest.approx(op["dur"])
    assert selfs["catalyst"] == pytest.approx(ex["dur"] / 2)


def test_sql_metric_strings_parse():
    assert spans.parse_seconds("174 ms") == pytest.approx(0.174)
    assert spans.parse_seconds(
        "total (min, med, max (stageId: taskId))\n6.4 s (1.5 s, 1.6 s, 1.7 s (stage 0.0: task 2))"
    ) == pytest.approx(6.4)
    assert spans.parse_count("100,000") == 100_000


def test_layer_metrics_cover_every_per_layer_metric_but_the_run_level_ones():
    tr = spans.Tracer()
    with tr.span("pass", "suite"):
        pass
    names = set(spans.layer_metrics(tr.spans))
    run_level = {"setup.session_s", "setup.index_build_s", "setup.warmup_s",
                 "trace.overhead_ratio"}
    assert names | run_level == {m["name"] for m in SPEC["per_layer"]}


def test_union_counts_overlapping_intervals_once():
    assert spans.union_ms([(0, 10), (5, 20), (30, 35)]) == 25
    assert spans.union_ms([(0, 10), (2, 3)]) == 10
    assert spans.union_ms([]) == 0


# -- BENCHMARK.json -------------------------------------------------------

def test_benchmark_json_keys_and_limits():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert 1 <= len(SPEC["end_to_end"]) <= 16
    assert 1 <= len(SPEC["per_layer"]) <= 128
    assert 2 <= len(SPEC["workloads"]) <= 8
    assert isinstance(SPEC["run_seconds"], int) and 1 <= SPEC["run_seconds"] <= 60
    assert len(json.dumps(SPEC)) <= 64 * 1024
    assert len(SPEC["command"]) <= 32
    assert all(len(a) <= 200 and not a.startswith("/") and ".." not in a
               for a in SPEC["command"])


def test_benchmark_json_names_are_valid_and_unique():
    names = [w["name"] for w in SPEC["workloads"]]
    names += [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert len(names) == len(set(names))
    for w in SPEC["workloads"]:
        assert set(w) == {"name", "why"}
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
        assert 0 < m["bound"] <= 0.25
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")


def test_benchmark_json_matches_the_program():
    setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower",
                      "bound": max(m["bound"] for m in SPEC["end_to_end"])}]
    assert {w["name"] for w in SPEC["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.E2E_UNITS
    for p in SPEC["paths"]:
        assert re.match(r"^[A-Za-z0-9_./-]{1,200}$", p) and (HERE.parent / p).is_dir()
