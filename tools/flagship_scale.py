"""Measure the EP-2 greedy match's wall-clock against left-side rows
(r12 verdict item 7): the flagship is the one headline query with an
inherently sequential driver stage, and every other family has a
measured scale row — this tool turns the "sub-linear per-iteration
cost" claim into numbers.

Method: tile the sf0.1 documents table N× with disjoint doc_id ranges
(scale_stress's tiler), score both sides with the production scorer,
and time ``greedy_match_without_replacement`` end-to-end (the ONE
distributed prefix pass + the sequential driver replay), min-of-2.
The left side grows N×500 rows and the prefix depth k1 + n_left − 1
grows with it, so the measurement covers both the distributed pass
and the driver loop's claimed-set bookkeeping.

Usage: python tools/flagship_scale.py [--mults=1,10,100] [--out=PATH]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = "/root/testdata/sf0.1"


def main() -> None:
    mults = [1, 10, 100]
    out_path = None
    for a in sys.argv[1:]:
        if a.startswith("--mults="):
            mults = [int(x) for x in a.split("=", 1)[1].split(",")]
        elif a.startswith("--out="):
            out_path = a.split("=", 1)[1]

    from rick_and_morty_data_pipeline_project_spark.operators.matching import (
        greedy_match_without_replacement,
    )
    from rick_and_morty_data_pipeline_project_spark.queries.reference import (
        _scored_sides,
    )
    from rick_and_morty_data_pipeline_project_spark.session import get_spark
    from tools.scale_stress import _scale_documents

    spark = get_spark(app_name="flagship-scale")
    results: dict[str, dict] = {}
    for mult in mults:
        if mult == 1:
            sf_dir = BASE
            tmp = None
        else:
            tmp = tempfile.mkdtemp(prefix=f"flagship_x{mult}_")
            _scale_documents(spark, BASE, tmp, mult)
            # the scorer only reads documents; other tables unused
            sf_dir = tmp
        walls = []
        n_left = n_out = 0
        for _ in range(2):
            t0 = time.time()
            episodes, strains = _scored_sides(spark, sf_dir)
            out = greedy_match_without_replacement(
                spark,
                episodes,
                strains,
                left_id="doc_id",
                right_id="doc_id",
                k1=100,
                # the guard exists against ACCIDENTAL large collects;
                # this measurement raises it deliberately
                max_left_rows=mult * 500 + 1,
            )
            n_out = out.count()
            walls.append(time.time() - t0)
        n_left = mult * 500
        results[f"x{mult}"] = {
            "n_left": n_left,
            "n_out": n_out,
            "wall_s": round(min(walls), 3),
            "per_left_ms": round(min(walls) / n_left * 1000, 3),
        }
        print(f"x{mult}: {results[f'x{mult}']}", flush=True)
        if tmp:
            shutil.rmtree(tmp, ignore_errors=True)

    base_key = f"x{mults[0]}"
    for k, r in results.items():
        r["wall_ratio_vs_base"] = round(
            r["wall_s"] / results[base_key]["wall_s"], 2
        )
    payload = {"base": BASE, "k1": 100, "results": results}
    print(json.dumps(payload))
    if out_path:
        with open(out_path, "w") as f:
            json.dump(payload, f, indent=1)


if __name__ == "__main__":
    main()
