#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload images_pipeline --seed 1 \\
        --seconds 20 --trace 0

Run from the root of a checkout.  Inputs are generated from --seed and
cached under .perfbench/ (gitignored); every scratch file stays there.
The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end metrics, with --trace 1 the per-layer
metrics of a traced run (spans are written to .perfbench/traces/).
Logs, per-sample host context and check failures go to stderr.
"""

from __future__ import annotations

import argparse
import json
import math
import sys
import time
import warnings
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ENGINE = ROOT / "deduplication_and_compression_spark"
WORKLOAD_NAMES = ("images_pipeline", "docs_dense")


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="length of the measuring window")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor (the smoke test uses a small one)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ENGINE / "__init__.py").is_file() or not (ROOT / "main.py").is_file():
        print(f"perfbench: engine sources not found next to {ROOT / 'perfbench'}",
              file=sys.stderr)
        return 2

    sys.path.insert(0, str(ROOT))
    from perfbench import harness

    work = ROOT / ".perfbench"
    harness.launch_env(ROOT, work)
    context = harness.host_context(ROOT)

    from perfbench import workloads

    ctx = workloads.Ctx(work=work, seed=args.seed,
                        seconds=args.seconds, scale=args.scale,
                        trace=bool(args.trace))
    out = workloads.Outcome()
    hashes = workloads.Hashes(ctx, context["source_sha256"])
    t0, jiffies0 = time.perf_counter(), harness.cpu_jiffies()
    try:
        # run_pipeline's tier threads warn that job tags are not
        # inherited; the traced run composes the tiers on one thread, so
        # attribution does not depend on it.  Count it for the record.
        with harness.RssSampler() as rss, warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            workloads.WORKLOADS[args.workload](ctx, out, hashes)
    finally:
        harness.stop_spark()
    out.info["tags_not_inherited_warnings"] = sum(
        "Tags will not be inherited" in str(w.message) for w in caught)
    wall = time.perf_counter() - t0
    steal, total = (b - a for a, b in zip(jiffies0, harness.cpu_jiffies()))
    context["steal_share"] = round(steal / total, 4) if total else None
    workloads.log(f"stopped; run wall {wall:.1f} s, steal {context['steal_share']}")

    # per-sample context, not a metric: JVM heap growth makes the peak
    # spread too widely between runs to bound
    out.info["peak_rss_mb"] = rss.peak_mb
    values = out.metrics if args.trace else {
        n: {"value": out.metrics[n], "unit": u} for n, u, _, _ in workloads.END_TO_END}
    bad = [n for n, m in values.items() if not math.isfinite(m["value"])]
    if bad:
        print(f"perfbench: no measurement for {bad}", file=sys.stderr)
        return 1

    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "scale": args.scale,
              "run_wall_s": wall, "context": context, "info": out.info,
              "failures": out.failures, "metrics": values}
    results = work / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(record, indent=1, default=str))
    print(json.dumps({"context": context, "info": out.info}, default=str),
          file=sys.stderr)
    print(json.dumps({"correct": out.failed == 0, "attempted": out.attempted,
                      "failed": out.failed, "metrics": values}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
