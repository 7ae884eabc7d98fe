#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at tiny sizes (about 3 minutes).

    python3 perfbench/smoke.py

Checks that
- every workload, untraced and traced, emits exactly the metrics that
  BENCHMARK.json names, each with its declared unit, and passes its
  correctness gates;
- each correctness gate fires on a planted mismatch: a changed
  ``pages.text``, a URL missing from the oracle's schedule, a wrong
  article count and a foreign URL in the oracle's seen set.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import copy
import dataclasses
import json
import os
import shutil
import sys
import tempfile

import run

TINY = {
    "crawl_bulk": dict(n_pages=240, n_hosts=16, n_seeds=24),
    "crawl_aged": dict(n_pages=240, n_hosts=16, n_seeds=24,
                       n_backlog=2500, n_cold_hosts=50),
}


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"smoke: FAILED: {what}")
    print(f"smoke: ok: {what}", file=sys.stderr)


def check_metrics(spark, spec: dict, run_dir: str) -> None:
    import crawl
    for wl in spec["workloads"]:
        shape = dataclasses.replace(crawl.SHAPES[wl["name"]],
                                    **TINY[wl["name"]])
        for trace, key in ((False, "end_to_end"), (True, "per_layer")):
            rss = crawl.RssWatch()
            rss.start()
            try:
                res = crawl.run_workload(spark, shape, 3, 0.0, trace,
                                         run_dir, 1.0, rss)
            finally:
                rss.stop()
                spark.catalog.clearCache()   # as a fresh driver starts
            line = json.loads(run.result_line(res.correct, res.attempted,
                                              res.failed, res.metrics))
            tag = f"{wl['name']} trace={int(trace)}"
            check(line["correct"] and line["failed"] == 0
                  and line["attempted"] >= 1, f"{tag} passes its gates")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in line["metrics"].items()}
            check(got == want, f"{tag} emits every {key} metric with its "
                  f"unit (missing {sorted(set(want) - set(got))}, "
                  f"extra {sorted(set(got) - set(want))})")
            check(all(isinstance(v["value"], (int, float))
                      for v in line["metrics"].values()),
                  f"{tag} values are numbers")


def check_gates(spark, run_dir: str) -> None:
    import crawl
    import gates
    from pyspark.sql import functions as F
    shape = dataclasses.replace(crawl.SHAPES["crawl_bulk"],
                                **TINY["crawl_bulk"])
    wl = crawl.Workload(spark, shape, 3, run_dir)
    wl.load_corpus()
    oracle = gates.oracle_for(wl)
    expected = wl.expected_content(oracle)
    eng, cat, wh, _ = wl.setup()
    res = crawl.run_pass(wl, eng)
    n = len(res.walls)
    prefixes = crawl.COLD_HOST_URL

    def failures(want=expected, orc=oracle):
        obs = gates.observe(cat, res.round_metrics, want, prefixes)
        return gates.compare(obs, orc, n)

    check(not res.raised and failures() == {}, "clean crawl passes")

    art = cat.read("articles").select("url", "round") \
             .join(wl.pages.where(F.col("text").isNotNull()), "url") \
             .orderBy("url").first()
    planted = dict(expected)
    planted[art["url"]] += "x"
    check(art["round"] in failures(want=planted),
          "content gate fires on a changed pages.text")

    orc = copy.deepcopy(oracle)
    orc.scheduled[0].discard(sorted(orc.scheduled[0])[0])
    check(0 in failures(orc=orc), "schedule gate fires on a missing URL")

    orc = copy.deepcopy(oracle)
    r = max(range(n), key=lambda k: orc.articles[k])
    orc.articles[r] += 1
    check(r in failures(orc=orc), "article-count gate fires")

    orc = copy.deepcopy(oracle)
    orc.seen.add("0" * 16)
    check(n - 1 in failures(orc=orc), "seen-set gate fires")
    shutil.rmtree(wh, ignore_errors=True)
    spark.catalog.clearCache()


def main() -> int:
    run.prepare_env()
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    run_dir = tempfile.mkdtemp(prefix="smoke-", dir=run.CACHE)
    spark = run.build_spark()
    try:
        check_gates(spark, run_dir)
        check_metrics(spark, spec, run_dir)
    finally:
        run.stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print("smoke: all checks passed", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
