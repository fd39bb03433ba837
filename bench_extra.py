#!/usr/bin/env python
"""Per-query isolation bench (guide §1.4): times individual declared
queries with the noop sink in the SAME session shape as the frozen
``bench.py`` (local[$SPARK_GRAFT_CPUS], shuffle=2x cores, identical
warm-up), and captures ``.explain('formatted')`` plans.

Usage:
  python bench_extra.py q1 q2 ...       # time the named queries (cold then warm)
  python bench_extra.py --all           # every headline query
  python bench_extra.py --explain q1    # write plans/r06/<q>_<tag>.txt
  H2D_EXPLAIN_TAG=before|after          # plan file suffix (default 'now')

Numbers printed here are CITED in OPTIMIZATION_r06.md; the official
artifact remains the round-start bench.py run by the driver.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main() -> None:
    import __spark_entry__ as entry_mod
    from html_to_document_spark.plans.job import build_session

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    do_explain = "--explain" in sys.argv
    do_all = "--all" in sys.argv
    repeats = int(os.environ.get("H2D_EXTRA_REPEATS", "2"))

    spark = build_session(cpus=CPUS, shuffle_partitions=CPUS * 2,
                          app="h2d-bench-extra")
    qs = entry_mod.queries()
    names = list(qs) if do_all else args
    # identical warm-up to bench.run_headline_queries
    qs["extract_multi_block"](spark, SF_DIR).count()

    out: dict[str, list[float]] = {}
    for name in names:
        if do_explain:
            tag = os.environ.get("H2D_EXPLAIN_TAG", "now")
            os.makedirs(os.path.join(REPO, "plans", "r06"), exist_ok=True)
            df = qs[name](spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(REPO, "plans", "r06", f"{name}_{tag}.txt")
            with open(path, "w") as f:
                f.write(plan)
            print(f"wrote {path}")
            continue
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        times = []
        for _ in range(repeats):
            t0 = time.time()
            # the noop sink computes every column; a count() lets
            # Catalyst prune the plan down to the row-determining ones
            qs[name](spark, SF_DIR).write.format("noop").mode(
                "overwrite").save()
            times.append(round(time.time() - t0, 2))
        spark.sparkContext.setJobDescription(None)
        out[name] = times
        print(f"TIME {name} {times}")
    if out:
        print("EXTRA " + json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
