"""Summarize or compare sets of benchmark records.

    python3 perfbench/compare.py summary RECORD_DIR > perfbench/records/baseline.json
    python3 perfbench/compare.py diff BASE NEW

`summary` prints the median, quartiles and spread (IQR / median) of each
end-to-end metric per workload, the number of runs flagged `noisy` (CPU
steal above run.STEAL_FLAG_SHARE) and the number whose CPU probe shifted
(see probe_shift), followed by the runs themselves with their
RSS trails thinned to one sample a second. BASE and NEW are each a record
directory (run.py writes to .perfbench_scratch/records/) or a summary
file. Runs are only comparable on identical
inputs: `diff` refuses when a (workload, seed) pair has different input
digests on the two sides, because the image bytes come from the engine's
own encoders and a codec change silently changes the workload.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

PROBE_SHIFT = 0.25


def load(path: str) -> list[dict]:
    if os.path.isfile(path):
        with open(path) as f:
            data = json.load(f)
        return data["runs"] if isinstance(data, dict) and "runs" in data else [data]
    recs = []
    for f in sorted(glob.glob(os.path.join(path, "*.json"))):
        recs.extend(load(f))
    return recs


def _stats(xs: list[float]) -> dict:
    med = statistics.median(xs)
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [med, med, med]
    return {"n": len(xs), "q1": q[0], "median": med, "q3": q[2],
            "iqr_share": (q[2] - q[0]) / med if med else 0.0}


def probe_shift(r: dict) -> bool:
    """The single-core CPU probe moved by more than PROBE_SHIFT between the
    start and the end of the run: the neighbours' load changed during it,
    which CPU steal does not always show."""
    a, b = r["host_before"]["cpu_probe_s"], r["host_after"]["cpu_probe_s"]
    return abs(b - a) / min(a, b) > PROBE_SHIFT


def summary(recs: list[dict]) -> dict:
    out, flags = {}, {}
    for r in recs:
        if r.get("trace"):
            continue
        w = out.setdefault(r["workload"], {})
        for k, v in r["end_to_end"].items():
            w.setdefault(k, []).append(v["value"])
        f = flags.setdefault(r["workload"], {"noisy_runs": 0, "probe_shift_runs": 0})
        f["noisy_runs"] += bool(r.get("noisy"))
        f["probe_shift_runs"] += probe_shift(r)
    return {w: {**{k: _stats(xs) for k, xs in ms.items()}, **flags[w]} for w, ms in out.items()}


def check_digests(a: list[dict], b: list[dict]) -> list[str]:
    seen = {(r["workload"], r["seed"]): r["input_digest"] for r in a}
    return [f"{r['workload']} seed {r['seed']}" for r in b
            if seen.get((r["workload"], r["seed"]), r["input_digest"]) != r["input_digest"]]


def main(argv: list[str]) -> int:
    if len(argv) == 2 and argv[0] == "summary":
        recs = load(argv[1])
        for r in recs:
            r["rss_trail_mb"] = r.get("rss_trail_mb", [])[::10]
        print(json.dumps({"summary": summary(recs), "runs": recs}, indent=1))
        return 0
    if len(argv) == 3 and argv[0] == "diff":
        a, b = load(argv[1]), load(argv[2])
        bad = check_digests(a, b)
        if bad:
            print("refusing to compare: input digests differ for " + ", ".join(bad), file=sys.stderr)
            return 1
        sa, sb = summary(a), summary(b)
        for w in sorted(set(sa) & set(sb)):
            for k in sa[w]:
                if k in ("noisy_runs", "probe_shift_runs"):
                    continue
                x, y = sa[w][k], sb[w][k]
                ratio = y["median"] / x["median"] if x["median"] else float("nan")
                print(f"{w:12s} {k:12s} base {x['median']:.4g} (iqr {x['iqr_share']:.1%})  "
                      f"new {y['median']:.4g} (iqr {y['iqr_share']:.1%})  new/base {ratio:.3f}")
        return 0
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
