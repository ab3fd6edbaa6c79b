"""Ungated reproduction of ROADMAP defect C1 (heap sized beyond the host).

    python3 perfbench/c1_repro.py

Runs the knn_hotspot workload once at POINTS points, without a reference
check, and writes the record (RSS trail, job outcome, host stamp) to
perfbench/records/c1_knn_1m.json. session.get_spark sets
spark.driver.memory=24g even on hosts with less RAM than that. The child's
session is killed when its RSS passes the cap, so the run ends as a failed
job with its RSS trail instead of waking the kernel's OOM killer on a
shared host.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import run  # noqa: E402

POINTS = 1_000_000
RSS_CAP_MB = 6144.0
SEED = 1


def main() -> int:
    rec = run.run("knn_hotspot", SEED, 1.0, False, points=POINTS, rss_cap_mb=RSS_CAP_MB)
    rec["note"] = "ungated C1 reproduction: no reference check; a job killed at the RSS cap counts as failed"
    os.makedirs(os.path.join(HERE, "records"), exist_ok=True)
    with open(os.path.join(HERE, "records", "c1_knn_1m.json"), "w") as f:
        json.dump(rec, f, indent=1)
    print(json.dumps({k: v for k, v in rec.items() if k != "rss_trail_mb"}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
