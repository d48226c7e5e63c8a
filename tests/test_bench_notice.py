"""bench.py says on stderr why it did not write bench_summary.json."""

from __future__ import annotations

import os

import pytest

import bench


@pytest.mark.parametrize(
    "full_run, no_summary, cpus, reason",
    [
        (False, False, None, "a --queries subset run"),
        (True, True, None, "--no-summary"),
        (True, False, "1" if os.cpu_count() != 1 else "2", "SPARK_GRAFT_CPUS="),
    ],
)
def test_skipped_summary_write_names_its_reason(
    monkeypatch, capsys, full_run, no_summary, cpus, reason
):
    if cpus is None:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", cpus)
    bench.emit({"q": 1.0}, {}, "sf0.1", full_run=full_run, no_summary=no_summary)
    err = capsys.readouterr().err.strip().splitlines()
    assert len(err) == 1
    assert err[0].startswith("bench_summary.json not written: " + reason)
