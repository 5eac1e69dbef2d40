"""The end-to-end metrics run.py derives from a worker's result.

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import run  # noqa: E402


def test_relative_metrics_cancel_host_speed():
    res = {"latencies": [2.0, 4.0, 3.0], "attempted": 3, "failed": 0, "setup_s": 5.0,
           "throughput_per_s": 100.0, "throughput_n": 3, "peak_rss_mb": 1.0}
    m = run.named_metrics("elt_bulk", res, probe=[0.2, 0.1, 0.3])
    assert m["op_p50_s"]["value"] == 3.0 and m["host_probe_s"]["value"] == 0.2
    assert m["op_p50_rel"]["value"] == 3.0 / 0.2
    assert m["throughput_rel"]["value"] == 100.0 * 0.2
    # a host twice as slow doubles every time and the probe: _rel unchanged
    slow = dict(res, latencies=[4.0, 8.0, 6.0], throughput_per_s=50.0)
    m2 = run.named_metrics("elt_bulk", slow, probe=[0.4, 0.2, 0.6])
    assert m2["op_p50_rel"]["value"] == m["op_p50_rel"]["value"]
    assert m2["throughput_rel"]["value"] == m["throughput_rel"]["value"]
    assert set(run.GATED) <= set(m)
