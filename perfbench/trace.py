"""Spans around the benchmark's calls into the engine's layers.

Each span runs its calls under its own Spark job group, so the stages
those calls launch can be read back from Spark's status store (the UI
REST API, enabled in the traced run only) and attributed to the span.
Spans are kept in memory and written out when the run ends.

A span's self time is its wall time minus its child spans' walls
(children never overlap: the traced run is sequential).  Stage metrics
are attributed to the span whose job group ran the stage, so they are
self metrics too.
"""

from __future__ import annotations

import json
import time
import urllib.request
import uuid
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import DataFrame

from deduplication_and_compression_spark.persistence import scoped_persist

# the session's own warm-up jobs carry this description (session.py)
_WARMUP_DESCRIPTION = "session warmup"

# spans whose stages never shuffle or spill: only busy_s and cpu_s
NO_SHUFFLE_SPANS = (
    "session.build_session",
    "plans.pipeline.checkpoint",
    "assign.leakage_safe_split",
    "textops.quality_scores",
)

# every span name a workload may open; per-layer metrics are reported
# for all of them on every workload (0 where the workload never calls
# the layer)
SPANS = (
    "session.build_session",
    "sources.read_table",
    "sources.read_documents",
    "exact.exact_pairs",
    "minhash_lsh.minhash_signatures",
    "minhash_lsh.band_keys",
    "minhash_lsh.candidate_pairs_from_buckets.minhash",
    "minhash_lsh.candidate_pairs_from_buckets.simhash",
    "minhash_lsh.candidate_pairs_from_buckets.substring",
    "minhash_lsh.estimate_filter",
    "minhash_lsh.verify_jaccard",
    "simhash.hamming_block_keys",
    "simhash.verify_hamming",
    "substring.winnow_keys",
    "substring.verify_substring",
    "pairs.union_pairs",
    "components.connected_components",
    "assign.assignments_from_labels",
    "assign.savings",
    "assign.elect_representatives",
    "assign.leakage_safe_split",
    "plans.docs.docs_tier_pairs.exact",
    "plans.docs.docs_tier_pairs.minhash",
    "plans.docs.docs_tier_pairs.simhash",
    "plans.docs.docs_tier_pairs.substring",
    "textops.bigram_jaccard_pairs_auto",
    "textops.quality_scores",
    "plans.pipeline.checkpoint",
    "streaming.ingest.build_screen_reference",
    "streaming.ingest.screen_batch_edges",
)

SKEW_SPANS = (
    "minhash_lsh.candidate_pairs_from_buckets.minhash",
    "minhash_lsh.candidate_pairs_from_buckets.simhash",
    "minhash_lsh.candidate_pairs_from_buckets.substring",
    "components.connected_components",
)

# (metric, numerator span, denominator span): rows out / rows in
YIELDS = (
    ("minhash_lsh.estimate_yield", "minhash_lsh.estimate_filter",
     "minhash_lsh.candidate_pairs_from_buckets.minhash"),
    ("minhash_lsh.verify_yield", "minhash_lsh.verify_jaccard",
     "minhash_lsh.estimate_filter"),
    ("simhash.verify_yield", "simhash.verify_hamming",
     "minhash_lsh.candidate_pairs_from_buckets.simhash"),
    ("substring.verify_yield", "substring.verify_substring",
     "minhash_lsh.candidate_pairs_from_buckets.substring"),
)


def span_fields(name: str) -> tuple[str, ...]:
    if name in NO_SHUFFLE_SPANS:
        return ("busy_s", "cpu_s")
    return ("busy_s", "cpu_s", "shuffle_mb", "spill_mb")


def per_layer_names() -> list[tuple[str, str, str]]:
    """(metric name, unit, better) for every per-layer metric."""
    out = []
    units = {"busy_s": "s", "cpu_s": "s", "shuffle_mb": "MB", "spill_mb": "MB"}
    for s in SPANS:
        out += [(f"{s}.{f}", units[f], "lower") for f in span_fields(s)]
    out += [(f"{s}.task_skew", "ratio", "lower") for s in SKEW_SPANS]
    out += [(m, "ratio", "higher") for m, _, _ in YIELDS]
    out += [("textops.pair_yield", "ratio", "higher"),
            ("components.edges_in", "count", "lower"),
            ("textops.join_rows", "count", "lower"),
            ("trace.overhead_s", "s", "lower")]
    return out


class Tracer:
    def __init__(self):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None
        self._ui = None

    def attach(self, spark) -> None:
        """Bind to a session whose UI is enabled."""
        self._sc = spark.sparkContext
        self._ui = self._sc.uiWebUrl
        if not self._ui:
            raise RuntimeError("the traced run needs spark.ui.enabled=true")

    @contextmanager
    def span(self, name: str, **attrs):
        # "op.*" spans are the benchmark's own jobs (roots); every other
        # span is a layer call and must be one of SPANS
        if name not in SPANS and not name.startswith("op."):
            raise ValueError(f"unknown span {name!r}")
        rec = {
            "id": len(self.spans), "name": name, "run_id": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "group": f"pb-{self.run_id}-{len(self.spans)}",
            "start": time.time(), "attrs": dict(attrs),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        sc = self._sc
        prev = sc.getLocalProperty("spark.jobGroup.id") if sc else None
        if sc:
            sc.setJobGroup(rec["group"], name)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._stack.pop()
            if sc:
                sc.setLocalProperty("spark.jobGroup.id", prev)
                sc.setLocalProperty("spark.job.description", None)

    def materialize(self, name: str, fn, **attrs) -> DataFrame:
        """Call one public function under a span and compute its output
        there (scoped persist + count), so the function's work is timed
        in its own span; consumers then read the cached rows."""
        with self.span(name, **attrs) as rec:
            df = scoped_persist(fn())
            rec["attrs"]["rows_out"] = df.count()
        return df

    def rows(self, name: str) -> int:
        return sum(s["attrs"].get("rows_out", 0) for s in self.spans if s["name"] == name)

    # ---- status store ----------------------------------------------

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self._ui}/api/v1{path}", timeout=30) as r:
            return json.load(r)

    def collect_stage_metrics(self) -> dict:
        """Attach cpu/shuffle/spill/skew to every span from the status
        store.  A stage is claimed by the first job (lowest id) that
        lists it: later jobs list it only as skipped."""
        app = self._get("/applications")[0]["id"]
        # the listener bus updates the store asynchronously: wait until
        # no job or stage is still running and two reads agree
        prev = None
        for _ in range(50):
            jobs = self._get(f"/applications/{app}/jobs")
            stages = self._get(f"/applications/{app}/stages")
            state = (len(jobs), len(stages),
                     sum(s.get("executorRunTime", 0) for s in stages))
            busy = any(j["status"] == "RUNNING" for j in jobs) or any(
                s["status"] == "ACTIVE" for s in stages)
            if not busy and state == prev:
                break
            prev = state
            time.sleep(0.2)
        by_group = {s["group"]: s for s in self.spans}
        session_span = next(
            (s for s in self.spans if s["name"] == "session.build_session"), None)
        stage_owner: dict[int, dict] = {}
        unattributed = 0
        for job in sorted(jobs, key=lambda j: j["jobId"]):
            owner = by_group.get(job.get("jobGroup"))
            if owner is None and job.get("description") == _WARMUP_DESCRIPTION:
                owner = session_span
            if owner is None:
                unattributed += 1
                continue
            for sid in job["stageIds"]:
                stage_owner.setdefault(sid, owner)
        for s in self.spans:
            s.update(cpu_s=0.0, shuffle_mb=0.0, spill_mb=0.0, _heavy=None)
        for st in stages:
            owner = stage_owner.get(st["stageId"])
            if owner is None or st["status"] not in ("COMPLETE", "FAILED"):
                continue
            owner["cpu_s"] += st.get("executorCpuTime", 0) / 1e9
            owner["shuffle_mb"] += st.get("shuffleWriteBytes", 0) / 1e6
            owner["spill_mb"] += (st.get("memoryBytesSpilled", 0)
                                  + st.get("diskBytesSpilled", 0)) / 1e6
            heavy = owner["_heavy"]
            if heavy is None or st.get("executorRunTime", 0) > heavy.get("executorRunTime", 0):
                owner["_heavy"] = st
        for s in self.spans:
            heavy = s.pop("_heavy")
            s["task_skew"] = None
            if s["name"] in SKEW_SPANS and heavy is not None:
                s["task_skew"] = self._task_skew(app, heavy)
        return {"jobs": len(jobs), "stages": len(stages),
                "unattributed_jobs": unattributed}

    def _task_skew(self, app: str, stage: dict) -> float:
        """max / median task duration of the span's heaviest stage."""
        summ = self._get(
            f"/applications/{app}/stages/{stage['stageId']}/{stage['attemptId']}"
            "/taskSummary?quantiles=0.5,1.0")
        med, mx = (summ.get("duration") or summ["executorRunTime"])[:2]
        return mx / med if med > 0 else 1.0

    # ---- results -----------------------------------------------------

    def finish(self) -> None:
        for s in self.spans:
            child = sum(c["wall_s"] for c in self.spans if c["parent"] == s["id"])
            s["self_s"] = max(0.0, s["wall_s"] - child)

    def per_layer_metrics(self, overhead_s: float) -> dict:
        vals: dict[str, float] = {}
        for name in SPANS:
            mine = [s for s in self.spans if s["name"] == name]
            for f in span_fields(name):
                key = "self_s" if f == "busy_s" else f
                vals[f"{name}.{f}"] = sum((s.get(key, 0.0) for s in mine), 0.0)
        for name in SKEW_SPANS:
            skews = [s["task_skew"] for s in self.spans
                     if s["name"] == name and s.get("task_skew") is not None]
            vals[f"{name}.task_skew"] = max(skews) if skews else 0.0
        for metric, num, den in YIELDS:
            d = self.rows(den)
            vals[metric] = self.rows(num) / d if d else 0.0
        jr = sum(s["attrs"].get("join_rows", 0) for s in self.spans
                 if s["name"] == "textops.bigram_jaccard_pairs_auto")
        vals["textops.join_rows"] = float(jr)
        vals["textops.pair_yield"] = (
            self.rows("textops.bigram_jaccard_pairs_auto") / jr if jr else 0.0)
        vals["components.edges_in"] = float(sum(
            s["attrs"].get("edges_in", 0) for s in self.spans
            if s["name"] == "components.connected_components"))
        vals["trace.overhead_s"] = overhead_s
        units = {n: u for n, u, _ in per_layer_names()}
        return {n: {"value": vals[n], "unit": units[n]} for n in units}

    def write(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"run_id": self.run_id, **extra,
                                    "spans": self.spans}, indent=1, default=str))
