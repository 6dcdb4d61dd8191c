"""Known-defect probe: one ``CoverageIndex.query`` batch against a
polygon with many holes, in a memory-capped process.

``CoverageIndex.query`` expands every (point, polygon-with-holes) pair
to all of that polygon's hole rings, with no per-hole bbox filter, so
a batch of probes inside a shell with thousands of holes allocates
points × holes ray-cast rows. The probe builds such a polygon (a square
shell with a seeded grid of small square holes), caps its own address
space to 1 GiB, and queries 8,192 uniform points. It exits 0 when the
query fits under the cap and 3 when it runs out of memory.

    python3 perfbench/defect_probe.py --seed 1
"""

from __future__ import annotations

import argparse
import resource
import sys
from pathlib import Path

N_HOLES_SIDE = 100  # 10,000 holes
N_PROBES = 8192
CAP_MB = 1024  # address-space cap; keeps the points × holes allocation off the host


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    import numpy as np

    from geo_polygonize_spark.kernels.coverage import CoverageIndex

    rng = np.random.default_rng(args.seed)
    side = float(N_HOLES_SIDE)
    c = (np.arange(N_HOLES_SIDE) + 0.5)[:, None] + rng.uniform(-0.2, 0.2, (N_HOLES_SIDE, N_HOLES_SIDE))
    cx, cy = c.ravel(), c.T.ravel()
    h = 0.1
    hole_xs = [[x - h, x + h, x + h, x - h, x - h] for x in cx]
    hole_ys = [[y - h, y - h, y + h, y + h, y - h] for y in cy]
    poly = {
        "tile_i": 0, "tile_j": 0, "poly_id": 0,
        "shell_xs": [0.0, side, side, 0.0, 0.0], "shell_ys": [0.0, 0.0, side, side, 0.0],
        "hole_xs": hole_xs, "hole_ys": hole_ys,
        "area": side * side - len(hole_xs) * (2 * h) ** 2,
    }
    index = CoverageIndex([poly], use_f32=False)
    px = rng.uniform(0.0, side, N_PROBES)
    py = rng.uniform(0.0, side, N_PROBES)
    cap = CAP_MB * 2**20
    resource.setrlimit(resource.RLIMIT_AS, (cap, cap))
    try:
        found = index.query(px, py)[0]
    except MemoryError:
        print(f"MemoryError: {N_PROBES} probes x {len(hole_xs)} holes over a {CAP_MB} MB cap")
        return 3
    print(f"query fit under {CAP_MB} MB: {int(found.sum())} of {N_PROBES} probes found")
    return 0


if __name__ == "__main__":
    sys.exit(main())
