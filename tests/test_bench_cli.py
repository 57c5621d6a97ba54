"""bench.py as a CLI: scale-factor parsing, named-mode argument
checks and the shared timer. None of these start Spark."""

from __future__ import annotations

import time

import pytest

import bench


@pytest.mark.parametrize(
    "sf_dir, sf",
    [
        ("/data/testdata/sf0.1", 0.1),
        ("/data/testdata/sf0.1/", 0.1),
        ("sf10", 10.0),
        ("/data/sf0.1_x10", -1.0),
        ("/tmp/sfx/data", -1.0),
        ("/data/tpch", -1.0),
    ],
)
def test_sf_of_reads_only_an_exact_sf_component(sf_dir, sf):
    assert bench.sf_of(sf_dir) == sf


def test_unknown_query_fails_before_load_gate_and_spark(monkeypatch):
    def must_not_run(*_a, **_k):
        raise AssertionError("reached past the name check")

    monkeypatch.setattr(bench, "wait_for_idle", must_not_run)
    monkeypatch.setattr(bench, "get_spark", must_not_run)
    with pytest.raises(SystemExit) as exc:
        bench.main(["k1_uuid5", "no_such_query"])
    assert "no_such_query" in str(exc.value.code)
    assert "k1_uuid5" not in str(exc.value.code)


class _SlowUi:
    """Stands in for UiMetrics: each poll sleeps (as the stabilized
    REST poll does) and the totals grow by a fixed step."""

    def __init__(self) -> None:
        self.polls = 0

    def shuffle_totals(self) -> tuple[int, int]:
        time.sleep(0.3)
        self.polls += 1
        return (100 * self.polls, 10 * self.polls)


def test_timed_stops_the_clock_before_the_shuffle_poll():
    ui = _SlowUi()
    stats, out = bench.timed(lambda: "value", ui)
    assert out == "value"
    assert ui.polls == 2
    assert stats["shuffle_bytes"] == 110
    assert stats["sec"] < 0.3


def test_timed_without_ui_reports_seconds_only():
    stats, out = bench.timed(lambda: time.sleep(0.05) or 7)
    assert out == 7
    assert set(stats) == {"sec"}
    assert 0.05 <= stats["sec"] < 1.0
