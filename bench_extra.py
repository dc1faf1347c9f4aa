#!/usr/bin/env python
"""The measurement harness: plans, query walls and per-stage walls of
the real operators.  bench.py is frozen for measurement; new
measurements go here.

Modes:
  python bench_extra.py plans <outdir> [names...]  # .explain("formatted") per query, ids normalised
  python bench_extra.py time [names...]            # noop-sink walls, repeats round-robin
  python bench_extra.py stages <cores> [replicate] [tiers] [stop_after]  # per-stage pipeline walls

``plans`` and ``time`` cover every contract query (__spark_entry__)
plus the two Zipf-corpus Jaccard plans, at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS] (default: the cores this process may run on).
The noop sink computes every column of every row and discards it
(guide §1.4), so these walls time the computation, not the sink or the
driver-side count() pruning.  ``time`` runs repeat r of every named
query before repeat r+1 of any, so host-load drift hits each query
alike, and gives each repeat its own job group, so every wall is
printed with the Spark jobs its query ran (plan-build jobs included):
``time bigram_jaccard_ppjoin bigram_jaccard_pairs zipf_bigram_ppjoin
zipf_bigram_allpairs`` is the PPJoin vs exact-entry A/B on both
corpora.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import time
from contextlib import redirect_stdout
from io import StringIO
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

from deduplication_and_compression_spark.config import DEFAULT_CONFIG as CFG
from deduplication_and_compression_spark.fixtures.generator import (
    write_fixture, write_zipf_docs,
)
from deduplication_and_compression_spark.persistence import (
    persist_scope, scoped_persist,
)
from deduplication_and_compression_spark.plans.pipeline import (
    ALL_TIERS, IMAGES, _Checkpointer, tier_frames,
)
from deduplication_and_compression_spark.session import build_session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# cores this process may run on (what `nproc` prints) unless overridden
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or len(os.sched_getaffinity(0))
CACHE = Path(os.environ.get("SPARK_GRAFT_BENCH_CACHE", str(REPO / ".bench_cache")))
# image rows per replicate in `stages`: enough that fixed stage latency
# does not dominate the walls
STAGE_ROWS = 100_000


def _spark(cores: int = CPUS):
    spark = build_session(app_name="dedup-bench-extra", cores=cores,
                          shuffle_partitions=max(cores, 8))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _builders(spark, names: list[str]) -> dict:
    """{name: () -> DataFrame} for the contract queries (all of
    __spark_entry__.queries()) plus the two Zipf-corpus Jaccard plans,
    restricted to ``names`` when given (an unknown name is a KeyError).

    The contract's result memo is bypassed in this process: every call
    rebuilds the operator plan, so the walls time the computation, not
    a cached result.  Each memoized step still persists its result in
    the caller's persist_scope, so a chain such as pairs -> CC -> split
    reads its intermediates once per call."""
    import __spark_entry__ as E
    from deduplication_and_compression_spark.operators.textops import (
        bigram_jaccard_pairs, bigram_jaccard_pairs_allpairs,
    )

    E._memo_query = lambda s, sf, name, build: scoped_persist(build())
    builders = {name: (lambda q=q: q(spark, SF_DIR))
                for name, q in E.queries().items()}
    if not names or any(n.startswith("zipf") for n in names):
        zd = _zipf_docs(spark)
        builders["zipf_bigram_ppjoin"] = (
            lambda: bigram_jaccard_pairs(zd, threshold_bp=5000))
        builders["zipf_bigram_allpairs"] = (
            lambda: bigram_jaccard_pairs_allpairs(zd, threshold_bp=5000))
    # in the order named: `time` interleaves its repeats in this order
    return {n: builders[n] for n in names} if names else builders


def _zipf_docs(spark):
    sf = float(Path(SF_DIR).name.replace("sf", "") or 0.1)
    n_zipf = max(1000, int(round(300_000 * sf)))
    z_path, _ = write_zipf_docs(CACHE / f"zipf_{n_zipf}_seed11", n_zipf, seed=11)
    z = spark.read.parquet(str(z_path)).repartition(max(CPUS, 8)).cache()
    z.count()
    return z


# run-to-run ids of a formatted plan: expression, AQE query-stage
# (numbered in stage completion order), codegen and exchange ids
_PLAN_IDS = [(re.compile(p), r) for p, r in (
    (r"#\d+", "#N"), (r"(QueryStage\n(?:[^\n]+\n)*?Arguments: )\d+", r"\1N"),
    (r"\[codegen id : \d+\]", "[codegen id : N]"), (r"plan_id=\d+", "plan_id=N"))]


def cmd_plans(outdir: str, names: list[str]) -> None:
    spark = _spark()
    out = Path(outdir)
    out.mkdir(parents=True, exist_ok=True)
    for name, build in _builders(spark, names).items():
        with persist_scope():
            df = build()
            buf = StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
        plan = buf.getvalue()
        for pat, rep in _PLAN_IDS:
            plan = pat.sub(rep, plan)
        (out / f"{name}.txt").write_text(plan)
        print(f"wrote {out / (name + '.txt')}")
    spark.stop()


def cmd_time(names: list[str], repeats: int = 3) -> None:
    spark = _spark()
    builders = _builders(spark, names)
    walls: dict[str, list[float]] = {name: [] for name in builders}
    jobs: dict[str, list[int]] = {name: [] for name in builders}
    tracker = spark.sparkContext.statusTracker()
    for r in range(repeats):
        for name, build in builders.items():
            group = f"extra:{name}:{r}"
            spark.sparkContext.setJobGroup(group, group)
            t0 = time.perf_counter()
            with persist_scope():
                build().write.format("noop").mode("overwrite").save()
            walls[name].append(round(time.perf_counter() - t0, 3))
            jobs[name].append(len(tracker.getJobIdsForGroup(group)))
            print(json.dumps({"query": name, "repeat": r, "wall": walls[name][-1],
                              "jobs": jobs[name][-1]}), flush=True)
    print(json.dumps({"metric": "noop_walls", "walls": walls, "jobs": jobs,
                      "best": {n: min(w) for n, w in walls.items()}}))
    spark.stop()


class _StopAfter(Exception):
    """Raised by cmd_stages once its ``stop_after`` stage is written."""


def cmd_stages(cores: int, replicate: int = 1,
               tiers: tuple[str, ...] = ALL_TIERS,
               stop_after: str | None = None) -> None:
    """Per-stage walls of the image pipeline at local[cores], on the
    cached STAGE_ROWS-row image fixture replicated ``replicate`` times
    (each copy under its own ids).

    The pipeline's own stages run through its _Checkpointer: tier_frames
    without ``spark``, so the tiers run one after another, then pair
    union, connected components and assignments.  Every stage reads its
    input from a written checkpoint table, so each wall is that stage's
    own time; run_pipeline's concurrent tier walls include cross-tier
    contention.  With ``stop_after`` (a stage name, e.g. sig_minhash)
    no later stage runs.  Prints one JSON line {"cores", "rows",
    "stages": {stage: wall_sec}, "jobs": {stage: spark_jobs},
    "total_sec"} over the stages that ran."""
    from pyspark.sql import functions as F

    from deduplication_and_compression_spark.operators.assign import (
        assignments_from_labels,
    )
    from deduplication_and_compression_spark.operators.components import (
        connected_components,
    )
    from deduplication_and_compression_spark.operators.pairs import union_pairs

    img_path, _ = write_fixture(
        CACHE / f"images_{STAGE_ROWS}_seed42_{CFG.fingerprint()}",
        STAGE_ROWS, seed=42, cfg=CFG)
    spark = _spark(cores)
    base = spark.read.parquet(str(img_path))
    df = base
    for i in range(1, replicate):
        df = df.union(
            base.withColumn("image_id", F.concat(F.lit(f"r{i}_"), "image_id")))
    df = df.repartition(cores * 4).cache()
    n = df.count()

    def stage(name, build):  # one job group per stage: its job count
        spark.sparkContext.setJobGroup(name, name)
        out = ck.stage(name, build)
        if name == stop_after:
            raise _StopAfter
        return out

    work = tempfile.mkdtemp(prefix="dedup_stages_")
    try:
        ck = _Checkpointer(spark, work, CFG, resume=False, input_fp="")
        frames = tier_frames(df, IMAGES, CFG, tiers, stage, n)
        pairs = stage("pairs_union", lambda: union_pairs(**frames))
        labels = stage("cc_labels", lambda: connected_components(pairs, CFG))
        stage("assignments", lambda: assignments_from_labels(df, labels))
    except _StopAfter:
        pass
    finally:
        shutil.rmtree(work, ignore_errors=True)
    walls = {m["stage"]: round(m["wall_ms"] / 1000.0, 2)
             for m in ck.metrics if m["partition_id"] == -1}
    tracker = spark.sparkContext.statusTracker()
    jobs = {s: len(tracker.getJobIdsForGroup(s)) for s in walls}
    print(json.dumps({"cores": cores, "rows": n, "stages": walls, "jobs": jobs,
                      "total_sec": round(sum(walls.values()), 2)}))
    spark.stop()


if __name__ == "__main__":
    mode, args = (sys.argv[1], sys.argv[2:]) if len(sys.argv) > 1 else ("time", [])
    if mode == "plans":
        cmd_plans(args[0], args[1:])
    elif mode == "time":
        cmd_time(args)
    elif mode == "stages":
        cmd_stages(int(args[0]), int(args[1]) if len(args) > 1 else 1,
                   tuple(args[2].split(",")) if len(args) > 2 else ALL_TIERS,
                   args[3] if len(args) > 3 else None)
    else:
        raise SystemExit(f"unknown mode {mode!r}")
