#!/usr/bin/env python
"""Scaling-efficiency evidence: the same job at local[N] and local[4N]
on IDENTICAL input, throughput at both plus efficiency
= thr(4N) / (4 * thr(N)).

The BASELINE.json rule targets >= 0.8 between N- and 4N-executor
cluster runs; this sandbox has one machine, so two local parallelism
levels are the sanctioned proxy (see BASELINE.md).  N is the largest N
with 4N <= the cores this process may run on (1 on a 4-core host).
The full-pipeline rows come from bench.py, the signature headline and
the per-stage table from ``bench_extra.py stages``.  Each run appends
a dated section to BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from datetime import datetime, timezone
from pathlib import Path

REPO = Path(__file__).resolve().parent
# images per bench.py pipeline run: a compute-dominated size
_SCALE_ROWS = 100_000
# interleaved runs per level: bench.py pipeline runs, signature runs
_PIPE_RUNS = 2
_SCALE_RUNS = 3


def run_bench(cpus: int) -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_BENCH_ROWS=str(_SCALE_ROWS),
        # the fixed-size docs queries would only add constant wall
        SPARK_GRAFT_BENCH_SKIP_DOCS="1",
    )
    out = subprocess.run(
        [sys.executable, str(REPO / "bench.py")],
        env=env, capture_output=True, text=True, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def run_stages(cpus: int, replicate: int = 1, tiers: str = "",
               stop_after: str = "") -> dict:
    """``bench_extra.py stages``' JSON line; ``stop_after`` needs ``tiers``."""
    args = [str(cpus), str(replicate), *filter(None, (tiers, stop_after))]
    out = subprocess.run(
        [sys.executable, str(REPO / "bench_extra.py"), "stages", *args],
        capture_output=True, text=True, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def calibrate_host(workers_list) -> dict[int, float]:
    """Raw CPU-parallel efficiency of THIS host via multiprocessing —
    published alongside the Spark numbers: it is the most any engine
    can show at each worker count under the current ambient load."""
    import multiprocessing as mp
    import time as _t

    def run(w):
        t0 = _t.perf_counter()
        with mp.Pool(w) as p:
            # ~2.5s/worker: the burn must dwarf Pool fork/teardown for
            # the ratio to mean CPU (BENCH/BASELINE.md, round-6 host
            # decomposition)
            p.map(_burn, [30_000_000] * w)
        return _t.perf_counter() - t0

    base = run(1)
    return {w: round(base / run(w), 3) for w in workers_list}


def _burn(n):
    s = 0
    for i in range(n):
        s += i * i
    return s


def main() -> None:
    cores = len(os.sched_getaffinity(0))
    n = max(1, cores // 4)
    cal = calibrate_host(sorted({1, n, 4 * n}))
    pipe_n, pipe_4n = [], []
    for _ in range(_PIPE_RUNS):
        pipe_n.append(run_bench(n))
        pipe_4n.append(run_bench(4 * n))
    r_n = max(pipe_n, key=lambda r: r["images_per_sec"])
    r_4n = max(pipe_4n, key=lambda r: r["images_per_sec"])
    thr_n = r_n["images_per_sec"]
    thr_4n = r_4n["images_per_sec"]
    eff = thr_4n / (4.0 * thr_n)
    pipe_spread = {
        f"local[{n}]": [r["images_per_sec"] for r in pipe_n],
        f"local[{4*n}]": [r["images_per_sec"] for r in pipe_4n],
    }
    # headline: the sig_minhash stage of a minhash-only run at 4x
    # replicated rows, so fixed stage latency amortizes; the run stops
    # after that stage.  Best-of-K with INTERLEAVED legs: co-tenant load
    # on a shared host drifts on multi-minute scales, so single-shot
    # legs compare two different machines in effect; min-wall per level
    # estimates uncontended capability.
    sig_runs_n, sig_runs_4n = [], []
    for _ in range(_SCALE_RUNS):
        sig_runs_n.append(run_stages(n, 4, "minhash", "sig_minhash"))
        sig_runs_4n.append(run_stages(4 * n, 4, "minhash", "sig_minhash"))

    def sig_wall(r):
        return r["stages"]["sig_minhash"]

    sig_n = min(sig_runs_n, key=sig_wall)
    sig_4n = min(sig_runs_4n, key=sig_wall)
    sig_thr_n = round(sig_n["rows"] / sig_wall(sig_n), 1)
    sig_thr_4n = round(sig_4n["rows"] / sig_wall(sig_4n), 1)
    s_eff = sig_thr_4n / (4.0 * sig_thr_n)
    sig_spread = {
        f"local[{n}]": [sig_wall(r) for r in sig_runs_n],
        f"local[{4*n}]": [sig_wall(r) for r in sig_runs_4n],
    }
    # host ceiling for this N->4N pair at the CURRENT ambient load:
    # even pure-CPU multiprocessing only scales by cal(4n)*4n/(cal(n)*n)
    ceil_eff = (cal[4 * n] * 4 * n) / (cal[n] * n) / 4.0
    s_eff_norm = s_eff / ceil_eff if ceil_eff > 0 else float("nan")
    # per-stage attribution sweep
    s_n = run_stages(n)
    s_4n = run_stages(4 * n)
    stage_rows = "\n".join(
        f"| {name} | {s_n['stages'][name]} | {s_4n['stages'][name]} | "
        f"{s_n['stages'][name] / (4.0 * max(s_4n['stages'][name], 1e-9)):.3f} |"
        for name in s_n["stages"]
    )

    bench_dir = REPO / "BENCH"
    bench_dir.mkdir(exist_ok=True)
    stamp = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M UTC")
    md = f"""## Scaling sweep, {stamp}

Generated by bench_scaling.py.

Sandbox proxy for the N vs 4N **executor** rule (BASELINE.md): the
identical job (full 4-tier image dedup pipeline, signature→cluster,
{r_n['n_images']} images) run at two local parallelism levels on
identical input.

### Host calibration (why N={n})

N is the largest N with 4N <= the {cores} cores this process may run
on.  Pure-CPU multiprocessing efficiency of this host at those worker
counts (same work per worker, ideal = 1.0): {json.dumps(cal)}.

### Full 4-tier pipeline (shuffle/IO-heavy)

Best of {_PIPE_RUNS} interleaved bench.py runs per level (max
images/sec; all runs: {json.dumps(pipe_spread)}).

| parallelism | pipeline wall (s) | images/sec | suite wall (s) |
|---|---|---|---|
| local[{n}]  | {r_n['queries']['image_pipeline']} | {thr_n} | {r_n['value']} |
| local[{4*n}] | {r_4n['queries']['image_pipeline']} | {thr_4n} | {r_4n['value']} |

**Pipeline scaling efficiency** thr({4*n}) / (4 x thr({n})) = **{eff:.3f}**

### Signature stage (compute-heavy, {sig_n['rows']} rows)

The `sig_minhash` stage of a minhash-only `bench_extra.py stages`
run that stops after it: signatures plus their checkpoint write, no
banding.  Best of {_SCALE_RUNS} interleaved runs per level (min wall; all walls:
{json.dumps(sig_spread)}).

| parallelism | wall (s) | rows/sec |
|---|---|---|
| local[{n}]  | {sig_wall(sig_n)} | {sig_thr_n} |
| local[{4*n}] | {sig_wall(sig_4n)} | {sig_thr_4n} |

**Stage scaling efficiency** = **{s_eff:.3f}** raw (target >= 0.8).
Host ceiling at this moment's ambient load (pure-CPU multiprocessing,
same {n}→{4*n} workers, from the calibration above) = **{ceil_eff:.3f}**;
host-normalized stage efficiency = **{s_eff_norm:.3f}**.

### Per-stage walls at both parallelism levels ({s_n['rows']} rows)

`bench_extra.py stages`: each stage's input is a written checkpoint
table, so every row attributes its own scaling (efficiency =
wall[{n}] / (4 x wall[{4*n}])).

| stage | local[{n}] (s) | local[{4*n}] (s) | efficiency |
|---|---|---|---|
{stage_rows}
| **total** | {s_n['total_sec']} | {s_4n['total_sec']} | {s_n['total_sec'] / (4 * s_4n['total_sec']):.3f} |

Per-query seconds at local[{4*n}]:

```json
{json.dumps(r_4n['queries'], indent=2)}
```

Raw JSON:

```json
{json.dumps(r_n)}
{json.dumps(r_4n)}
```
"""
    # append a dated section: the file also keeps earlier sweeps and
    # hand-written pins, which a rewrite would erase
    path = bench_dir / "BASELINE.md"
    head = "" if path.exists() else "# BENCH/BASELINE — throughput & scaling efficiency\n"
    with path.open("a") as f:
        f.write(f"{head}\n{md}")
    print(json.dumps({"eff": round(eff, 3), "thr_n": thr_n, "thr_4n": thr_4n,
                      "sig_eff": round(s_eff, 3)}))


if __name__ == "__main__":
    main()
