#!/usr/bin/env python
"""Assemble BENCH_local_sf1_headline.json (r11 VERDICT ask #1) from two
bench.py JSON lines: the sf1 run at SPARK_GRAFT_CPUS=32 and at 8.

Usage: python tools/make_sf1_headline_artifact.py C32.json C8.json [OUT]

The per-query ratio_c8_over_c32 reads core scaling directly: ~4x means
ideal scaling for a 4x core cut, ~1 means the slot is fixed-overhead or
split-count-bound at this SF.
"""

from __future__ import annotations

import json
import sys


def main() -> None:
    if len(sys.argv) < 3:
        print(__doc__)
        raise SystemExit(2)
    c32 = json.loads(open(sys.argv[1]).read().strip().splitlines()[-1])
    c8 = json.loads(open(sys.argv[2]).read().strip().splitlines()[-1])
    out_path = sys.argv[3] if len(sys.argv) > 3 else "BENCH_local_sf1_headline.json"
    ratio = {
        q: round(c8["queries"][q] / c32["queries"][q], 2)
        for q in c32["queries"]
        if q in c8["queries"] and c32["queries"][q] > 0
    }
    out = {
        "note": (
            "sf1 headline probe (r11 VERDICT ask #1): bench.py run at "
            "SPARK_GRAFT_SF_DIR=.localdata/sf1 with SPARK_GRAFT_CPUS=32 and 8; "
            "ratio_c8_over_c32 ~4x means ideal core scaling, ~1 means the slot "
            "is fixed-overhead/split-count-bound at this SF.  Regenerated under "
            "final r12 code (adaptive scan fan + fact persist live); the "
            "pre-fan capture is retained in git history at e6cae51."
        ),
        "c32": c32,
        "c8": c8,
        "ratio_c8_over_c32": ratio,
        "total_c32": c32["value"],
        "total_c8": c8["value"],
        # null on a zero c32 total, as the per-query ratios omit zero slots
        "total_ratio": round(c8["value"] / c32["value"], 2) if c32["value"] > 0 else None,
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({"out": out_path, "total_c32": c32["value"],
                      "total_c8": c8["value"], "ratio": out["total_ratio"]}))


if __name__ == "__main__":
    main()
