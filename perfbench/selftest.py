"""Self-test of the event-log fold on a tiny committed log
(testdata/eventlog_v2_selftest): exact task-interval union, driver gap,
CPU, shuffle and Python bytes.

    python3 perfbench/selftest.py

The log holds three tasks in job group span-1 (two overlapping) and one in
span-2, plus one ungrouped task that no span may count.  Span 1 covers
[999.5, 1007] s with span 2 = [1004.5, 1006.5] s as its child.
"""

from __future__ import annotations

import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from tracing import Span, Tracer, covered, fold_event_log, span_stats  # noqa: E402


def expected_failures() -> list[str]:
    tracer = Tracer()
    tracer.spans = [
        Span(0, "pass", 999.0, 1010.0),
        Span(1, "stage", 999.5, 1007.0, parent=0),
        Span(2, "write", 1004.5, 1006.5, parent=1),
    ]
    groups = fold_event_log(os.path.join(HERE, "testdata"))
    kids = tracer.children()
    got = {sid: span_stats(tracer, groups, sid, kids) for sid in (0, 1, 2)}
    want = {
        # [1000, 1002] u [1001, 1003.5] u [1005, 1006] = 3.5 + 1.0 s
        (1, "task_covered_s"): 4.5,
        (1, "driver_gap_s"): 7.5 - 4.5,
        (1, "cpu_s"): 2.25,
        (1, "tasks"): 3,
        (1, "jobs"): 2,
        (1, "shuffle_read_b"): 190,
        (1, "shuffle_write_b"): 300,
        (1, "spill_b"): 15,
        (1, "py_s"): 0.3,
        (1, "py_sent_b"): 1024,
        (1, "py_returned_b"): 500,
        (2, "task_covered_s"): 1.0,
        (2, "driver_gap_s"): 1.0,
        (2, "cpu_s"): 0.25,
        (2, "py_sent_b"): 24,
        (0, "task_covered_s"): 4.5,
        (0, "driver_gap_s"): 11.0 - 4.5,
        (0, "tasks"): 3,
    }
    bad = [
        f"span {sid} {key}: got {got[sid][key]!r}, want {v!r}"
        for (sid, key), v in want.items()
        if not math.isclose(got[sid][key], v, rel_tol=0, abs_tol=1e-9)
    ]
    # clipping: intervals are cut to the span, overlaps counted once
    c = covered([(0.0, 2.0), (1.0, 3.0), (5.0, 6.0)], 0.5, 5.5)
    if not math.isclose(c, 3.0, abs_tol=1e-12):
        bad.append(f"covered clip: got {c}, want 3.0")
    return bad


def main() -> int:
    bad = expected_failures()
    for line in bad:
        print(line, file=sys.stderr)
    print("selftest:", "FAILED" if bad else "ok")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
