#!/usr/bin/env python
"""Optimization-round measurement harness (guide §1) — NOT the driver
bench.  bench.py is frozen for measurement; this file exists so the
round's before/after evidence (noop-sink isolation, .explain capture,
per-stage pipeline walls) never touches it.

Modes:
  python bench_extra.py plans <outdir>   # .explain("formatted") per query
  python bench_extra.py time [names...]  # noop-sink best-of-N per query
  python bench_extra.py stages           # image-pipeline per-stage walls

The noop sink computes every column of every row and discards it
(guide §1.4), so these walls time the computation, not the sink or the
driver-side count() pruning.
"""

from __future__ import annotations

import json
import os
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
from deduplication_and_compression_spark.session import build_session
from deduplication_and_compression_spark.persistence import (
    persist_scope, scoped_persist,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# cores this process may run on (what `nproc` prints) unless overridden
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or len(os.sched_getaffinity(0))


def _spark():
    spark = build_session(app_name="dedup-bench-extra", cores=CPUS,
                          shuffle_partitions=max(CPUS, 8))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _builders(spark, names: list[str]) -> dict:
    """{name: () -> DataFrame} for the contract queries (all of
    __spark_entry__.queries()) plus the two Zipf-corpus Jaccard plans,
    restricted to ``names`` when given.

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
    return {n: b for n, b in builders.items() if not names or n in names}


def _zipf_docs(spark):
    from deduplication_and_compression_spark.fixtures.generator import (
        write_zipf_docs,
    )

    sf = float(Path(SF_DIR).name.replace("sf", "") or 0.1)
    n_zipf = max(1000, int(round(300_000 * sf)))
    zcache = Path(
        os.environ.get("SPARK_GRAFT_BENCH_CACHE", str(REPO / ".bench_cache"))
    ) / f"zipf_{n_zipf}_seed11"
    z_path, _ = write_zipf_docs(zcache, n_zipf, seed=11)
    z = spark.read.parquet(str(z_path)).repartition(max(CPUS, 8)).cache()
    z.count()
    return z


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
        (out / f"{name}.txt").write_text(buf.getvalue())
        print(f"wrote {out / (name + '.txt')}")
    spark.stop()


def cmd_time(names: list[str], repeats: int = 3) -> None:
    spark = _spark()
    builders = _builders(spark, names)
    walls: dict[str, list[float]] = {}
    for name, build in builders.items():
        spark.sparkContext.setJobDescription(f"extra:{name}")
        ws = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            with persist_scope():
                build().write.format("noop").mode("overwrite").save()
            ws.append(round(time.perf_counter() - t0, 3))
        walls[name] = ws
        print(json.dumps({"query": name, "walls": ws, "best": min(ws)}),
              flush=True)
        spark.sparkContext.setJobDescription(None)
    print(json.dumps({"metric": "noop_walls", "walls": walls}))
    spark.stop()


def cmd_stages(repeats: int = 2) -> None:
    """Per-stage image-pipeline walls (the bench flagship), fixture and
    methodology identical to bench.py's untimed-generation setup."""
    from deduplication_and_compression_spark.fixtures.generator import (
        write_fixture,
    )
    from deduplication_and_compression_spark.plans.pipeline import run_pipeline

    sf = float(Path(SF_DIR).name.replace("sf", "") or 0.1)
    n_images = max(1000, int(round(200_000 * sf)))
    cache = Path(
        os.environ.get("SPARK_GRAFT_BENCH_CACHE", str(REPO / ".bench_cache"))
    ) / f"images_{n_images}_seed42_{CFG.fingerprint()}"
    img_path, _ = write_fixture(cache, n_images, seed=42, cfg=CFG)
    spark = _spark()
    images = spark.read.parquet(str(img_path))
    images = images.repartition(max(CPUS, 8)).cache()
    images.count()
    for r in range(repeats):
        workdir = tempfile.mkdtemp(prefix="dedup_extra_")
        try:
            t0 = time.perf_counter()
            with persist_scope():
                res = run_pipeline(spark, images, workdir, CFG, resume=False)
            wall = round(time.perf_counter() - t0, 3)
            stages = {
                m["stage"]: round(m["wall_ms"] / 1000.0, 3)
                for m in res.metrics if m["partition_id"] == -1
            }
            print(json.dumps({"run": r, "wall": wall, "stages": stages}),
                  flush=True)
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "time"
    if mode == "plans":
        cmd_plans(sys.argv[2], sys.argv[3:])
    elif mode == "time":
        cmd_time(sys.argv[2:])
    elif mode == "stages":
        cmd_stages()
    else:
        raise SystemExit(f"unknown mode {mode!r}")
