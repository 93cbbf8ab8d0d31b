"""tools/perfbench_ab.py verdicts: a failed run must never turn into a win."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from perfbench_ab import report

SPEC = {"end_to_end": [{"name": "first_ms", "better": "lower", "bound": 0.25}]}


def _run(ms, failed=0):
    return {"correct": not failed, "attempted": 1, "failed": failed,
            "metrics": {} if ms is None else {"first_ms": ms}}


def _pairs(change_ms):
    return [{"seed": i, "first": "parent", "parent": _run(1000 + i),
             "change": _run(ms, failed=int(ms is None))} for i, ms in enumerate(change_ms)]


def test_clear_gain_is_claimed():
    assert report(_pairs([500 + i for i in range(10)]), SPEC) == {"first_ms": ["claim"]}


def test_crashed_run_gives_no_verdict(capsys):
    # 8 wins, 1 loss and 1 crash: counting the crash's missing latency as 0
    # would make it the ninth win and print a claim
    verdicts = report(_pairs([500] * 8 + [2000, None]), SPEC)
    out = capsys.readouterr().out
    assert verdicts == {"first_ms": []}
    assert "1 of 10 pairs left out" in out and "claim" not in out
    assert "first_ms=1009->-" in out
