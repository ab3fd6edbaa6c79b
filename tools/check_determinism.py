"""Two-parallelism determinism evidence (north-rule invariant: results
identical at any executor count). Runs representative queries at
local[1] and local[nproc], hashes the sorted result rows, and writes
BENCH/determinism.json.

Run: python tools/check_determinism.py [sf_dir]
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

QUERIES = [
    "tile_assign",
    "pip_counts",
    # pip_join on its own and after a source or an aggregate
    "pip_pairs",
    "geojson_pip",
    "geoparquet_pip",
    "zonal_event_stats",
    "knn_k5",
    "grid_agg_mean_of_means",
    "minhash_lsh_pairs",
    "dedup_clusters",
    "balanced_sample",
    "mosaic_composite",   # bytes pipeline: tile md5s must match bit-for-bit
    "seamless_mosaic",
    "reproject_rpc",
    "las_ground_stats",
    "utm_forward_coords",
    "rpc_image_coords",
    "hamming256_neardup",  # multiword band join incl. word-boundary extraction
    "exif_gps_zonal",     # EXIF byte path: splice/IFD/rational roundtrip
    "phash_neardup_pairs",  # bytes pipeline: DCT pHash bit-for-bit
    "streaming_windowed_zonal",  # micro-batched stream: event-time result is parallelism-invariant
    "simhash_pairs",      # one-word band join: refine inside the join stage
    # per-row rowmap.map_rows stages: warp, decode/encode, sampling, STFT
    "reproject_utm",
    "image_pipeline_zonal",
    "cog_roundtrip",
    "video_frames",
    "audio_spectral",
]


def result_hash(df) -> tuple[int, str]:
    cols = sorted(df.columns)
    rows = [tuple(str(r[c]) for c in cols) for r in df.select(*cols).collect()]
    rows.sort()
    h = hashlib.md5(repr(rows).encode()).hexdigest()
    return len(rows), h


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from gis_scripts_spark import queries as Q
    from gis_scripts_spark.session import get_spark, stop_spark

    levels = (1, os.cpu_count() or 1)
    results: dict = {"sf_dir": sf_dir, "levels": list(levels), "queries": {}}
    hashes: dict[str, dict[int, tuple[int, str]]] = {}
    for cores in levels:
        stop_spark()
        spark = get_spark(f"determinism-{cores}", cores=cores)
        spark.sparkContext.setLogLevel("ERROR")
        for name in QUERIES:
            n, h = result_hash(Q.QUERIES[name](spark, sf_dir))
            hashes.setdefault(name, {})[cores] = (n, h)
    stop_spark()
    all_ok = True
    lo, hi = levels
    for name, by_cores in hashes.items():
        ok = by_cores[lo] == by_cores[hi]
        all_ok &= ok
        results["queries"][name] = {
            "rows": by_cores[lo][0], f"hash{lo}": by_cores[lo][1],
            f"hash{hi}": by_cores[hi][1], "identical": ok,
        }
    results["all_identical"] = all_ok
    out = os.path.join(REPO, "BENCH", "determinism.json")
    with open(out, "w") as f:
        json.dump(results, f, indent=1)
    print(json.dumps({"all_identical": all_ok,
                      "queries": {k: v["identical"] for k, v in results["queries"].items()}}))


if __name__ == "__main__":
    main()
