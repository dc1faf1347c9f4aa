#!/usr/bin/env python
"""Measured shuffle bytes for the two near-dup screen dataflows
(VERDICT r5 Next #6): the r5 keys-only foreachBatch plan
(streaming/ingest.py:screen_batch_edges) vs the stateless full-carry
plan (streaming_near_dup_screen), at reference-corpus scale — 100k-doc
static side, ~10k-row micro-batch — so the "~bands× fewer band-join
shuffle bytes" claim is a recorded number, not a plan-shape assertion.

Bytes come from the Spark UI REST API (stage-level shuffle write,
summed over the stages each plan creates); walls are interleaved
best-of-N for load fairness.  Prints ONE JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F

from deduplication_and_compression_spark.config import DEFAULT_CONFIG as CFG
from deduplication_and_compression_spark.fixtures.generator import write_fixture
from deduplication_and_compression_spark.persistence import persist_scope
from deduplication_and_compression_spark.session import build_session
from deduplication_and_compression_spark.streaming.ingest import (
    build_screen_reference, screen_batch_edges, streaming_near_dup_screen,
)


def _stage_metrics(ui: str, app_id: str) -> dict[tuple[int, int], int]:
    stages = json.load(
        urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/stages")
    )
    return {
        (s["stageId"], s["attemptId"]): s.get("shuffleWriteBytes", 0)
        for s in stages
    }


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_ref = int(os.environ.get("SPARK_GRAFT_SCREEN_REF_ROWS", "100000"))
    rounds = int(os.environ.get("SPARK_GRAFT_PIN_ROUNDS", "2"))
    spark = build_session(
        app_name="bench-screen-shuffle", cores=cpus,
        shuffle_partitions=max(cpus, 8),
        extra_conf={"spark.ui.enabled": "true"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    ui = spark.sparkContext.uiWebUrl
    app_id = json.load(
        urllib.request.urlopen(f"{ui}/api/v1/applications"))[0]["id"]

    cache = Path(
        os.environ.get("SPARK_GRAFT_BENCH_CACHE", str(REPO / ".bench_cache"))
    ) / f"images_{n_ref}_seed42_{CFG.fingerprint()}"
    img_path, _ = write_fixture(cache, n_ref, seed=42, cfg=CFG)
    ref = spark.read.parquet(str(img_path)).repartition(max(cpus, 8))
    # ~10% deterministic sample as the arriving micro-batch — drawn
    # from the same corpus so band matches actually occur
    batch = (
        ref.where(F.pmod(F.xxhash64("image_id"), F.lit(10)) == 0)
        .select("image_id", "caption")
    ).cache()
    n_batch = batch.count()

    # the static side is built ONCE and reused across micro-batches in
    # production (accumulator-proven in tests); build it outside the
    # per-plan timed/measured regions for the same reason
    ref_side = build_screen_reference(ref.select("image_id", "caption"), CFG)
    ref_side.base.persist()  # persist() mutates the frame in place
    ref_side.base.count()

    def keys_only():
        return screen_batch_edges(batch, ref_side, CFG).count()

    def full_carry():
        return streaming_near_dup_screen(
            batch, cfg=CFG, ref_side=ref_side
        ).dropDuplicates(["id", "ref_id"]).count()

    # Two broadcast regimes: default (the static side may broadcast at
    # this fixture size — it never can at 10^12 rows) and broadcast
    # DISABLED, which forces every band join through a real exchange —
    # the regime the keys-only plan's shuffle-bytes claim is about.
    plans = {"keys_only": keys_only, "full_carry": full_carry}
    walls: dict[str, list[float]] = {}
    sbytes: dict[str, list[int]] = {}
    edges: dict[str, int] = {}
    for regime, bcast in (("default", str(64 * 1024 * 1024)),
                          ("no_broadcast", "-1")):
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
        for name in plans:
            walls[f"{name}_{regime}"] = []
            sbytes[f"{name}_{regime}"] = []
        for _ in range(rounds):
            for name, fn in plans.items():
                key = f"{name}_{regime}"
                before = _stage_metrics(ui, app_id)
                t0 = time.perf_counter()
                with persist_scope():
                    edges[key] = fn()
                walls[key].append(round(time.perf_counter() - t0, 3))
                after = _stage_metrics(ui, app_id)
                sbytes[key].append(
                    sum(v for k, v in after.items() if k not in before)
                )

    best_bytes = {k: min(v) for k, v in sbytes.items()}
    print(json.dumps({
        "n_ref": n_ref, "n_batch": n_batch, "cpus": cpus,
        "edges": edges,
        "walls": walls, "best_wall": {k: min(v) for k, v in walls.items()},
        "shuffle_write_bytes": sbytes,
        "bytes_ratio_full_over_keys_no_broadcast": round(
            best_bytes["full_carry_no_broadcast"]
            / max(1, best_bytes["keys_only_no_broadcast"]), 2),
        "load1": round(os.getloadavg()[0], 2),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
