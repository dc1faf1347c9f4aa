"""The benchmark's workloads.

Each workload sets up a session in a fresh JVM and runs its main job
there, as a spark-submit user would; ``cold_job_s`` is the set-up plus
that job, so warm-up work moved between the two stays inside it.  It
then sets up SETUPS - 1 more times in the same JVM (``setup_s`` is the
median of all set-ups) and runs its second job until the measuring
window has passed.  Every output is checked.  A traced run
(``trace=True``) runs the same jobs untraced, as the baseline, then
decomposed into the layers' public functions under spans, and reports
per-layer metrics.

End-to-end metrics, one meaning per workload:

    metric            images_pipeline        docs_dense
    cold_job_s        cold set-up +          cold set-up +
                      run_pipeline           run_docs_mode
    second_job_cpu_s  CPU of a screen drain  median CPU of an exact-
                      per micro-batch        Jaccard chain run (the
                                             first CHAIN_WARMUP runs
                                             left out)

The second job's metric is CPU time, not wall: its wall is a few
seconds of short Spark jobs, and on a shared host the vCPU time the
hypervisor steals in a busy minute moved the chain's wall by up to 2x
between runs, while its CPU time moved by about a tenth.  The walls are
recorded with each run, and so is the host's steal share.
"""

from __future__ import annotations

import argparse
import json
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime
from pathlib import Path

import pandas as pd
import pyarrow.parquet as pq

from pyspark.sql.streaming import StreamingQueryListener

from deduplication_and_compression_spark.config import DEFAULT_CONFIG as CFG
from deduplication_and_compression_spark.operators import textops
from deduplication_and_compression_spark.operators.assign import (
    assignments_from_labels, elect_representatives, leakage_safe_split,
    payload_bytes, savings,
)
from deduplication_and_compression_spark.operators.components import (
    connected_components,
)
from deduplication_and_compression_spark.operators.exact import exact_pairs
from deduplication_and_compression_spark.operators.minhash_lsh import (
    band_keys, candidate_pairs_from_buckets, estimate_filter,
    minhash_signatures, verify_jaccard,
)
from deduplication_and_compression_spark.operators.pairs import union_pairs
from deduplication_and_compression_spark.operators.simhash import (
    hamming_block_keys, verify_hamming,
)
from deduplication_and_compression_spark.operators.substring import (
    verify_substring, winnow_keys,
)
from deduplication_and_compression_spark.persistence import persist_scope
from deduplication_and_compression_spark.plans.docs import DOC_TIERS, docs_tier_pairs
from deduplication_and_compression_spark.plans.pipeline import run_pipeline
from deduplication_and_compression_spark.session import build_session
from deduplication_and_compression_spark.sources.tables import (
    normalize_parallelism, read_documents, read_table,
)
from deduplication_and_compression_spark.streaming.ingest import (
    build_screen_reference, run_screen_once, screen_batch_edges, stream_images,
)
from main import run_docs_mode

from . import checks, inputs
from .harness import host_cores, tree_cpu_s
from .inputs import log
from .trace import Tracer

SETUPS = 3           # set-ups per run (the first cold); setup_s is their median
# exact-Jaccard chain runs left out of second_job_cpu_s: the chain keeps
# getting faster over its first runs in a process while the JIT compiles
# its code paths in the background (and the first run in a new session
# pays for that session's first queries), so the measured runs sit at a
# fixed place after them
CHAIN_WARMUP = 5
CHAIN_MEASURED = 5   # least measured chain runs
MIN_RECALL = 0.99    # planted-pair recall below this fails the job

END_TO_END = (
    # name, unit, better, bound (share of the parent's median)
    ("setup_s", "s", "lower", 0.25),
    ("cold_job_s", "s", "lower", 0.25),
    ("second_job_cpu_s", "s", "lower", 0.25),
    ("dup_pair_recall", "ratio", "higher", 0.05),
    ("dup_pair_precision", "ratio", "higher", 0.25),
)


@dataclass
class Ctx:
    work: Path        # gitignored scratch area inside the checkout
    seed: int
    seconds: float
    scale: float
    trace: bool

    @property
    def cache(self) -> Path:
        return self.work / "cache"

    @property
    def runs(self) -> Path:
        return self.work / "runs"

    def scaled(self, n: int, floor: int = 1) -> int:
        return max(floor, int(round(n * self.scale)))


@dataclass
class Outcome:
    """Per-run accounting: every job (pipeline run, docs job,
    micro-batch) is one attempted operation; a job whose output fails a
    check is a failed operation."""

    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    metrics: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)

    def job(self, what: str, problems: list[str], wall: float | None = None) -> None:
        self.attempted += 1
        if wall is not None:
            log(f"{what}: {wall:.3f} s")
        if problems:
            self.failed += 1
            self.failures.append(f"{what}: {'; '.join(problems)}")
            log(f"FAILED {what}: {'; '.join(problems)}")


class Hashes:
    """Output content hashes by (output, input, engine code), kept in
    the cache: a later run on the same input must reproduce them."""

    def __init__(self, ctx: Ctx, code: str):
        self.cache = ctx.cache
        self.path = ctx.cache / "output_hashes.json"
        self.code = code

    def check(self, label: str, source: Path, digest: str) -> list[str]:
        """``source`` is the input's cache directory, whose path carries
        the seed, sizes, generator version and config fingerprint."""
        try:
            known = json.loads(self.path.read_text())
        except (OSError, ValueError):
            known = {}
        key = f"{label}:{source.relative_to(self.cache).as_posix()}:{self.code}"
        if known.setdefault(key, digest) != digest:
            return [f"{label} hash {digest} != {known[key]} from an earlier run"]
        self.path.parent.mkdir(parents=True, exist_ok=True)
        self.path.write_text(json.dumps(known, indent=1, sort_keys=True))
        return []


# ---------------------------------------------------------------------
# set-up
# ---------------------------------------------------------------------

def _session(ctx: Ctx, name: str):
    conf = {"spark.ui.showConsoleProgress": "false"}
    if ctx.trace:
        # the traced run reads every stage back from the status store
        conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0",
                     "spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000"})
    spark = build_session(app_name=f"perfbench-{name}", cores=host_cores(),
                          extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _join_warmup(timeout_s: float = 60.0) -> None:
    """Wait for the session's background warm-up (session.py): set-up
    ends when the session is ready, and stopping a session must never
    abort the warm-up's jobs half-way."""
    for t in threading.enumerate():
        if t.name == "spark-graft-warmup":
            t.join(timeout_s)


def _cached(df):
    df = normalize_parallelism(df).persist()
    df.count()
    return df


def _setup(ctx: Ctx, name: str, read):
    """Build the session (the first one also launches the JVM), read +
    cache the input and let the session's warm-up finish.  Returns the
    session, its input and the set-up wall."""
    t0 = time.perf_counter()
    spark = _session(ctx, name)
    data = read(spark)
    _join_warmup()
    return spark, data, time.perf_counter() - t0


def _more_setups(ctx: Ctx, name: str, read, spark, data):
    """The other SETUPS - 1 set-ups, after the main job: each stops the
    session and sets up again in the same JVM.  Returns the last session,
    its input and the set-up walls."""
    walls = []
    for _ in range(SETUPS - 1):
        data.unpersist()
        spark.stop()
        spark, data, wall = _setup(ctx, name, read)
        walls.append(wall)
    return spark, data, walls


def _traced_setup(ctx: Ctx, name: str, tracer: Tracer, read_span: str, read):
    with tracer.span("session.build_session"):
        spark = _session(ctx, name)
        _join_warmup()
    tracer.attach(spark)
    with tracer.span(read_span) as rec:
        data = read(spark)
        rec["attrs"]["rows_out"] = data.count()
    return spark, data


def _window_open(ctx: Ctx, t_start: float, done: int, minimum: int) -> bool:
    """Run another job while fewer than ``minimum`` ran or the
    measuring window is still open."""
    return done < minimum or time.perf_counter() - t_start < ctx.seconds


def _parquet_rows(path: Path) -> int:
    return sum(pq.read_metadata(f).num_rows for f in sorted(path.glob("*.parquet")))


def _finish_trace(ctx: Ctx, out: Outcome, tracer: Tracer, workload: str,
                  traced_wall: float, base_wall: float) -> None:
    summary = tracer.collect_stage_metrics()
    tracer.finish()
    overhead = traced_wall - base_wall
    out.metrics.update(tracer.per_layer_metrics(overhead))
    path = ctx.work / "traces" / f"{workload}-seed{ctx.seed}-{tracer.run_id}.json"
    tracer.write(path, {
        "workload": workload, "seed": ctx.seed, "traced_wall_s": traced_wall,
        "untraced_wall_s": base_wall, "overhead_s": overhead, **summary,
    })
    out.info.update(spans_file=str(path), traced_wall_s=traced_wall,
                    untraced_wall_s=base_wall, **summary)
    for s in tracer.spans:
        log(f"  span {s['name']:<52} self {s['self_s']:7.3f} s  "
            f"cpu {s['cpu_s']:7.3f} s  {json.dumps(s['attrs'], default=str)}")
    log(f"tracing overhead {overhead:.3f} s (traced {traced_wall:.3f} s, "
        f"untraced {base_wall:.3f} s); spans written to {path}")


def _traced_cc(T: Tracer, edges):
    n_edges = edges.count()
    return T.materialize(
        "components.connected_components",
        lambda: connected_components(edges.select("a", "b"), CFG),
        edges_in=n_edges,
        solve="local" if n_edges <= CFG.cc_local_max_edges else "distributed",
    )


# ---------------------------------------------------------------------
# images_pipeline: run_pipeline over the images fixture, then screen
# arriving images against the table with run_screen_once
# ---------------------------------------------------------------------

IMAGES_ROWS = 1000
SCREEN_FILES = 6      # one micro-batch each
SCREEN_ROWS = 100     # arriving rows per micro-batch

_ASG_COLS = ["image_id", "cluster_id", "is_duplicate", "representative_id"]


def _check_pipeline(out: Path, ratio: dict, fx: pd.DataFrame, truth: pd.DataFrame):
    asg = pd.read_parquet(out / "chk_assignments" / "data")
    cluster_of = dict(zip(asg["image_id"], asg["cluster_id"]))
    problems = []
    recall = checks.pair_recall(truth, cluster_of)
    if recall < MIN_RECALL:
        problems.append(f"recall {recall:.4f} < {MIN_RECALL}")
    # dedup_ratio's accounting, recomputed from assignments + payloads
    m = asg.merge(fx, on="image_id")
    uniq = m[~m["is_duplicate"]]
    expect = {
        "rows_total": len(fx), "rows_unique": len(uniq),
        "bytes_total": int(m["payload"].sum()),
        "bytes_after_dedup": int(uniq["payload"].sum()),
    }
    problems += [f"{k} {ratio[k]} != recomputed {v}"
                 for k, v in expect.items() if int(ratio[k]) != v]
    saved = int(pd.read_parquet(out / "chk_savings" / "data")["bytes_saved"].sum())
    if saved != expect["bytes_total"] - expect["bytes_after_dedup"]:
        problems.append(f"savings bytes_saved {saved} != recomputed "
                        f"{expect['bytes_total'] - expect['bytes_after_dedup']}")
    return problems, {
        "recall": recall,
        "precision": checks.pair_precision(cluster_of, truth),
        "hash": checks.frame_hash(asg, _ASG_COLS),
    }


def _check_screen(edges: pd.DataFrame, arrivals: pd.DataFrame, table: dict,
                  truth: pd.DataFrame):
    """Problems per arriving file (one file is one micro-batch): every
    emitted edge re-verified with set Jaccard, every planted edge
    emitted.  Also the edge recall and an output hash."""
    texts = dict(zip(arrivals["image_id"], arrivals["caption"]))
    file_of = dict(zip(arrivals["image_id"], arrivals["file"]))
    planted = set(zip(truth["id"], truth["ref_id"]))
    emitted = set(zip(edges["id"], edges["ref_id"]))
    problems: dict[int, list[str]] = {f: [] for f in sorted(set(arrivals["file"]))}
    for i, r, j in zip(edges["id"], edges["ref_id"], edges["jaccard"]):
        true_j = checks.kgram_jaccard(texts[i], table[r], CFG.shingle_k)
        if true_j < CFG.jaccard_threshold or abs(true_j - j) > 1e-9:
            problems[file_of[i]].append(f"edge {i}-{r} J={j} (set Jaccard {true_j})")
    if len(emitted) != len(edges):
        problems[min(problems)].append("duplicate edges emitted")
    for i, r in sorted(planted - emitted):
        problems[file_of[i]].append(f"planted edge {i}-{r} missing")
    return problems, {
        "edge_recall": len(planted & emitted) / len(planted) if planted else 1.0,
        "hash": checks.frame_hash(edges.assign(jaccard=edges["jaccard"].round(12)),
                                  ["id", "ref_id", "jaccard"]),
    }


class _Progress:
    """StreamingQueryListener keeping the query's start time and every
    micro-batch's progress (triggerExecution, input rows)."""

    def __init__(self):
        outer = self
        self.started: float | None = None
        self.batches: list[dict] = []
        self.terminated = False

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                outer.started = datetime.fromisoformat(
                    event.timestamp.replace("Z", "+00:00")).timestamp()

            def onQueryProgress(self, event):
                p = event.progress
                outer.batches.append({
                    "batch": p.batchId, "rows": p.numInputRows,
                    "trigger_s": p.durationMs.get("triggerExecution", 0) / 1000.0,
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                outer.terminated = True

        self.listener = Listener()

    def wait(self, n_batches: int, timeout_s: float = 30.0) -> list[dict]:
        """Listener events arrive asynchronously: wait for all of them."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline and not (
                self.terminated and len(self.data()) >= n_batches):
            time.sleep(0.05)
        return self.data()

    def data(self) -> list[dict]:
        return sorted((b for b in self.batches if b["rows"] > 0), key=lambda b: b["batch"])


def images_pipeline(ctx: Ctx, out: Outcome, hashes: Hashes) -> None:
    inp = inputs.images_input(ctx.cache, ctx.seed, ctx.scaled(IMAGES_ROWS, 300))
    arr = inputs.arrivals_input(inp, ctx.seed, SCREEN_FILES, ctx.scaled(SCREEN_ROWS, 10))
    truth = pd.read_parquet(inp.truth)
    fx = pd.read_parquet(inp.images, columns=["image_id", "bytes", "caption"])
    table = dict(zip(fx["image_id"], fx["caption"]))
    fx["payload"] = [len(b or b"") + len((c or "").encode("utf-8"))
                     for b, c in zip(fx["bytes"], fx["caption"])]
    fx = fx[["image_id", "payload"]]
    arrivals = pd.concat(
        [pd.read_parquet(p, columns=["image_id", "caption"]).assign(file=i)
         for i, p in enumerate(sorted(arr.files.glob("*.parquet")))],
        ignore_index=True)
    arr_truth = pd.read_parquet(arr.truth)
    read = lambda spark: _cached(read_table(spark, str(inp.images)))

    def pipeline(spark, images, label: str, resume_dir: Path | None = None):
        d = resume_dir or ctx.runs / f"pipeline-{label}"
        if resume_dir is None:
            shutil.rmtree(d, ignore_errors=True)
        # run_pipeline unpersists its input when it ends: re-cache it
        # before every job, outside the timed region
        images.persist().count()
        t0 = time.perf_counter()
        res = run_pipeline(spark, images, d, CFG, resume=resume_dir is not None)
        ratio = res.ratio.collect()[0].asDict()
        wall = time.perf_counter() - t0
        problems, q = _check_pipeline(d, ratio, fx, truth)
        problems += hashes.check("assignments", inp.images.parent, q["hash"])
        out.job(f"run_pipeline[{label}]", problems, wall)
        return wall, q, d

    def screen(spark, images, label: str, tracer: Tracer | None = None):
        d = ctx.runs / f"screen-{label}"
        shutil.rmtree(d, ignore_errors=True)
        images.persist().count()  # untimed, as before every pipeline job
        reference = images.select("image_id", "caption")
        prog = _Progress()
        spark.streams.addListener(prog.listener)
        t_call = time.time()
        t0, cpu0 = time.perf_counter(), tree_cpu_s()
        try:
            if tracer is None:
                run_screen_once(spark, str(arr.files), reference, str(d / "edges"),
                                str(d / "checkpoint"), CFG, max_files_per_trigger=1)
            else:
                _traced_screen(spark, tracer, arr.files, reference, d)
            wall, cpu = time.perf_counter() - t0, tree_cpu_s() - cpu0
            batches = prog.wait(arr.n_files)
        finally:
            spark.streams.removeListener(prog.listener)
        walls = [b["trigger_s"] for b in batches]
        ref_build = prog.started - t_call if prog.started else None
        log(f"screen[{label}]: {wall:.3f} s, CPU {cpu:.2f} s, reference build "
            f"{ref_build} s, micro-batches {walls}")
        problems, q = _check_screen(pd.read_parquet(d / "edges"), arrivals, table, arr_truth)
        for f, p in problems.items():
            out.job(f"micro-batch[{label}:{f}]", p)
        if len(batches) != arr.n_files:
            out.job(f"screen[{label}]", [f"{len(batches)} micro-batches, "
                                         f"expected {arr.n_files}"])
        out.job(f"screen-edges[{label}]",
                hashes.check("screen_edges", arr.files.parent, q["hash"]))
        return wall, cpu / max(1, len(batches)), walls, ref_build, q

    if ctx.trace:
        tracer = Tracer()
        spark, images = _traced_setup(ctx, "images_pipeline", tracer,
                                      "sources.read_table", read)
        # cold runs first, so the untraced baselines and the traced runs
        # all meet warm code paths
        pipeline(spark, images, "cold")
        screen(spark, images, "cold")
        base_p, base_q, base_dir = pipeline(spark, images, "baseline")
        base_s, _, _, _, base_sq = screen(spark, images, "baseline")
        images.persist().count()
        t0 = time.perf_counter()
        with persist_scope():
            traced_dir = _traced_pipeline(spark, tracer, images, ctx.runs / "pipeline-traced")
        traced_p = time.perf_counter() - t0
        traced_s, _, _, _, sq = screen(spark, images, "traced", tracer)
        problems = _pipeline_parity(base_dir, traced_dir, base_q["hash"])
        if sq["hash"] != base_sq["hash"]:
            problems.append("screen edges differ from run_screen_once")
        out.job("traced parity", problems)
        # crash recovery, checked here rather than in every untraced run
        # (the run budget): the run lost its post-CC checkpoints
        for stage in ("cc_labels", "assignments", "savings"):
            shutil.rmtree(base_dir / f"chk_{stage}")
        out.info["resume_s"] = pipeline(spark, images, "resume", resume_dir=base_dir)[0]
        _finish_trace(ctx, out, tracer, "images_pipeline", traced_p + traced_s, base_p + base_s)
        return

    spark, images, cold = _setup(ctx, "images_pipeline", read)
    main, q, _ = pipeline(spark, images, "main")
    spark, images, more = _more_setups(ctx, "images_pipeline", read, spark, images)
    setup_walls = [cold] + more
    log(f"set-up walls {[round(w, 3) for w in setup_walls]}")
    t_start = time.perf_counter()
    drain_cpus, batch_walls = [], []
    while _window_open(ctx, t_start, len(drain_cpus), 1):
        _, cpu, walls, ref_build, sq = screen(spark, images, f"r{len(drain_cpus)}")
        drain_cpus.append(cpu)
        batch_walls += walls
    out.info.update(setup_walls=setup_walls, main_job_s=main,
                    cpu_per_micro_batch=drain_cpus, micro_batch_walls=batch_walls,
                    screen_reference_build_s=ref_build,
                    screen_edge_recall=sq["edge_recall"])
    out.metrics.update(
        setup_s=statistics.median(setup_walls), cold_job_s=cold + main,
        second_job_cpu_s=statistics.median(drain_cpus),
        dup_pair_recall=q["recall"], dup_pair_precision=q["precision"],
    )


def _pipeline_parity(base: Path, traced: Path, base_hash: str) -> list[str]:
    """The sequential composition must equal run_pipeline: the same
    assignments, and for each tier the same pairs as the tier's
    composite operator (exact_pairs, minhash_pairs, phash_hamming_pairs,
    substring_pairs) wrote into run_pipeline's checkpoints."""
    problems = []
    asg = pd.read_parquet(traced / "chk_assignments" / "data")
    if checks.frame_hash(asg, _ASG_COLS) != base_hash:
        problems.append("assignments differ from run_pipeline")
    for stage in ("pairs_exact", "pairs_minhash", "pairs_simhash", "pairs_substring"):
        a = pd.read_parquet(base / f"chk_{stage}" / "data", columns=["a", "b"])
        b = pd.read_parquet(traced / f"chk_{stage}" / "data", columns=["a", "b"])
        if checks.frame_hash(a, ["a", "b"]) != checks.frame_hash(b, ["a", "b"]):
            problems.append(f"{stage} differs from run_pipeline")
    return problems


def _traced_pipeline(spark, T: Tracer, images, out: Path) -> Path:
    """run_pipeline's public calls, in sequence, each output computed in
    its own span and written to parquet the way _Checkpointer does."""
    shutil.rmtree(out, ignore_errors=True)
    cpb = "minhash_lsh.candidate_pairs_from_buckets"

    def ck(stage: str, df):
        path = out / f"chk_{stage}" / "data"
        with T.span("plans.pipeline.checkpoint", stage=stage) as rec:
            df.write.mode("overwrite").parquet(str(path))
            rec["attrs"]["rows_out"] = _parquet_rows(path)
        return spark.read.parquet(str(path))

    with T.span("op.run_pipeline"):
        n = images.count()
        ex = ck("pairs_exact", T.materialize("exact.exact_pairs", lambda: exact_pairs(images)))

        sigs = ck("sig_minhash", T.materialize(
            "minhash_lsh.minhash_signatures", lambda: minhash_signatures(images, CFG)))
        bk = T.materialize("minhash_lsh.band_keys", lambda: band_keys(sigs, CFG))
        mc = T.materialize(f"{cpb}.minhash", lambda: candidate_pairs_from_buckets(
            bk, CFG, val_col="_vhash"))
        est = T.materialize("minhash_lsh.estimate_filter",
                            lambda: estimate_filter(mc, sigs, CFG))
        mh = ck("pairs_minhash", T.materialize(
            "minhash_lsh.verify_jaccard", lambda: verify_jaccard(est, images, CFG)
        ).select("a", "b"))

        hk = T.materialize("simhash.hamming_block_keys",
                           lambda: hamming_block_keys(images, CFG, n_rows=n))
        hc = T.materialize(f"{cpb}.simhash", lambda: candidate_pairs_from_buckets(
            hk, CFG, val_col="_vhash"))
        sh = ck("pairs_simhash", T.materialize(
            "simhash.verify_hamming", lambda: verify_hamming(hc, images, CFG)
        ).select("a", "b"))

        wk = ck("winnow_keys", T.materialize(
            "substring.winnow_keys", lambda: winnow_keys(images, CFG)))
        wc = T.materialize(f"{cpb}.substring", lambda: candidate_pairs_from_buckets(
            wk, CFG, val_col="_vhash"))
        sub = ck("pairs_substring", T.materialize(
            "substring.verify_substring", lambda: verify_substring(wc, images, CFG)
        ).select("a", "b"))

        pairs = ck("pairs_union", T.materialize("pairs.union_pairs", lambda: union_pairs(
            exact=ex, minhash=mh, simhash=sh, substring=sub)))
        labels = ck("cc_labels", _traced_cc(T, pairs))
        asg = ck("assignments", T.materialize(
            "assign.assignments_from_labels",
            lambda: assignments_from_labels(images, labels)))
        ck("savings", T.materialize(
            "assign.savings", lambda: savings(asg, payload_bytes(images))))
    return out


def _traced_screen(spark, T: Tracer, files: Path, reference, outdir: Path) -> None:
    """run_screen_once's public calls, with one span per micro-batch."""
    with T.span("op.run_screen_once"):
        stream = stream_images(spark, str(files), max_files_per_trigger=1)
        with T.span("streaming.ingest.build_screen_reference") as rec:
            ref_side = build_screen_reference(reference, CFG)
            ref_side.base.persist()
            rec["attrs"]["rows_out"] = ref_side.base.count()

        def _batch(batch_df, epoch: int) -> None:
            # foreachBatch runs on another thread: job groups and
            # persist scopes are per thread, so both are opened here
            with persist_scope(), T.span("streaming.ingest.screen_batch_edges",
                                         epoch=epoch):
                screen_batch_edges(batch_df, ref_side, CFG) \
                    .write.mode("append").parquet(str(outdir / "edges"))

        try:
            (stream.writeStream.foreachBatch(_batch)
             .option("checkpointLocation", str(outdir / "checkpoint"))
             .trigger(availableNow=True).start().awaitTermination())
        finally:
            ref_side.base.unpersist(blocking=False)


# ---------------------------------------------------------------------
# docs_dense: main.run_docs_mode, then the exact-Jaccard chain
# ---------------------------------------------------------------------

DOCS = 1500
THRESHOLD_BP = 5000
_DOCS_ASG_COLS = ["doc_id", "cluster_id", "representative_id"]


def _check_docs_mode(outdir: Path, report: dict, docs: pd.DataFrame,
                     truth: pd.DataFrame):
    asg = pd.read_parquet(outdir / "assignments")
    split = pd.read_parquet(outdir / "split")
    cluster_of = dict(zip(asg["doc_id"], asg["cluster_id"]))
    problems = []
    recall = checks.pair_recall(truth, cluster_of)
    if recall < MIN_RECALL:
        problems.append(f"recall {recall:.4f} < {MIN_RECALL}")
    # the CLI report's accounting, recomputed from its output tables
    m = asg.merge(docs[["doc_id", "n_chars"]], on="doc_id")
    expect = {
        "rows_total": len(docs),
        "rows_unique": int((~m["is_duplicate"]).sum()),
        "chars_total": int(m["n_chars"].sum()),
        "chars_saved": int(m.loc[m["is_duplicate"], "n_chars"].sum()),
        "split_train": int((split["split"] == "train").sum()),
    }
    problems += [f"{k} {report[k]} != recomputed {v}"
                 for k, v in expect.items() if int(report[k]) != v]
    if split.groupby("cluster_id")["split"].nunique().max() > 1:
        problems.append("a cluster spans both splits")
    return problems, {
        "recall": recall,
        "precision": checks.pair_precision(cluster_of, truth),
        "hash": checks.frame_hash(asg, _DOCS_ASG_COLS),
    }


def _check_jaccard(outdir: Path, texts: dict, truth: pd.DataFrame):
    pairs = pd.read_parquet(outdir / "jaccard_pairs")
    split = pd.read_parquet(outdir / "jaccard_split")
    problems = []
    bad = checks.bad_jaccard_pairs(pairs, texts, THRESHOLD_BP)
    if bad:
        problems.append(f"{bad} emitted pairs fail the set-Jaccard re-check")
    found = set(zip(pairs["a"], pairs["b"]))
    missing = sum((min(a, b), max(a, b)) not in found
                  for a, b in zip(truth["a"], truth["b"]))
    if missing:
        problems.append(f"{missing} planted pairs missing")
    if split.groupby("cluster_id")["split"].nunique().max() > 1:
        problems.append("a cluster spans both splits")
    return problems, checks.frame_hash(pairs, ["a", "b", "jaccard_bp"])


def _check_plan(out: Outcome) -> list[str]:
    """The corpus must stay in the dense regime this workload exists
    for: fewer distinct bigrams than docs, so the cost model picks the
    all-pairs plan.  The cost inputs are recorded with every run."""
    pick = dict(textops.LAST_PLAN_PICK or {})
    out.info["jaccard_plan"] = pick
    if pick.get("plan") != "allpairs" or not pick.get("v", 0) < pick.get("d", 0):
        return [f"Jaccard plan pick {pick} is not all-pairs with fewer "
                "distinct bigrams than docs"]
    return []


def _jaccard_chain(spark, docs, outdir: Path) -> None:
    """bigram_jaccard_pairs_auto → connected_components →
    assignments_from_labels → leakage_safe_split, written to parquet."""
    with persist_scope():
        textops.bigram_jaccard_pairs_auto(docs, THRESHOLD_BP).write.mode("overwrite") \
            .parquet(str(outdir / "jaccard_pairs"))
        pairs = spark.read.parquet(str(outdir / "jaccard_pairs"))
        labels = connected_components(pairs.select("a", "b"), CFG)
        asg = assignments_from_labels(docs, labels, id_col="doc_id")
        leakage_safe_split(asg, frac_train=0.9, id_col="doc_id") \
            .write.mode("overwrite").parquet(str(outdir / "jaccard_split"))


def docs_dense(ctx: Ctx, out: Outcome, hashes: Hashes) -> None:
    # not scaled: the corpus is dense only while its at most 900 distinct
    # bigrams are fewer than the docs
    inp = inputs.dense_docs_input(ctx.cache, ctx.seed, DOCS)
    docs_pd = pd.read_parquet(inp.docs)
    truth = pd.read_parquet(inp.truth)
    texts = dict(zip(docs_pd["doc_id"], docs_pd["text"]))
    read = lambda spark: _cached(read_documents(spark, str(inp.docs)))

    def docs_job(spark, label: str):
        d = ctx.runs / f"docs-{label}"
        shutil.rmtree(d, ignore_errors=True)
        args = argparse.Namespace(
            input=str(inp.docs), output=str(d), format="parquet",
            tiers="exact,minhash,simhash,substring", rep_policy="quality",
            emit_split=0.9,
        )
        t0 = time.perf_counter()
        report = run_docs_mode(spark, args)
        wall = time.perf_counter() - t0
        problems, q = _check_docs_mode(d, report, docs_pd, truth)
        problems += hashes.check("docs_assignments", inp.docs.parent, q["hash"])
        out.job(f"run_docs_mode[{label}]", problems, wall)
        return wall, q

    def chain_job(spark, docs, label: str):
        d = ctx.runs / f"chain-{label}"
        shutil.rmtree(d, ignore_errors=True)
        t0, cpu0 = time.perf_counter(), tree_cpu_s()
        _jaccard_chain(spark, docs, d)
        wall, cpu = time.perf_counter() - t0, tree_cpu_s() - cpu0
        problems, digest = _check_jaccard(d, texts, truth)
        problems += hashes.check("jaccard_pairs", inp.docs.parent, digest)
        problems += _check_plan(out)
        out.job(f"jaccard_chain[{label}]", problems, wall)
        log(f"jaccard_chain[{label}] CPU {cpu:.2f} s")
        return wall, cpu, digest

    if ctx.trace:
        tracer = Tracer()
        spark, docs = _traced_setup(ctx, "docs_dense", tracer,
                                    "sources.read_documents", read)
        docs_job(spark, "cold")
        base_docs, base_q = docs_job(spark, "baseline")
        base_chain, _, base_digest = chain_job(spark, docs, "baseline")
        d = ctx.runs / "docs-traced"
        shutil.rmtree(d, ignore_errors=True)
        t0 = time.perf_counter()
        with persist_scope():
            _traced_docs_mode(spark, tracer, inp.docs, d)
            _traced_jaccard_chain(tracer, docs, d)
        traced_wall = time.perf_counter() - t0
        problems = []
        asg = pd.read_parquet(d / "assignments")
        if checks.frame_hash(asg, _DOCS_ASG_COLS) != base_q["hash"]:
            problems.append("assignments differ from run_docs_mode")
        if _check_jaccard(d, texts, truth)[1] != base_digest:
            problems.append("Jaccard pairs differ from the untraced chain")
        out.job("traced parity", problems)
        _finish_trace(ctx, out, tracer, "docs_dense", traced_wall, base_docs + base_chain)
        return

    spark, docs, cold = _setup(ctx, "docs_dense", read)
    main, q = docs_job(spark, "main")
    spark, docs, more = _more_setups(ctx, "docs_dense", read, spark, docs)
    setup_walls = [cold] + more
    log(f"set-up walls {[round(w, 3) for w in setup_walls]}")
    warmup = [chain_job(spark, docs, f"w{i}")[:2] for i in range(CHAIN_WARMUP)]
    t_start = time.perf_counter()
    chain = []
    while _window_open(ctx, t_start, len(chain), CHAIN_MEASURED):
        chain.append(chain_job(spark, docs, f"r{len(chain)}")[:2])
    out.info.update(setup_walls=setup_walls, main_job_s=main,
                    chain_warmup_walls_cpus=warmup, chain_walls_cpus=chain)
    out.metrics.update(
        setup_s=statistics.median(setup_walls), cold_job_s=cold + main,
        second_job_cpu_s=statistics.median(cpu for _, cpu in chain),
        dup_pair_recall=q["recall"], dup_pair_precision=q["precision"],
    )


def _traced_docs_mode(spark, T: Tracer, docs_path: Path, outdir: Path) -> None:
    """run_docs_mode's public calls in sequence, one span each; the
    doc tiers as one docs_tier_pairs call per tier."""
    with T.span("op.run_docs_mode"):
        with T.span("sources.read_documents") as rec:
            docs = _cached(read_documents(spark, str(docs_path)))
            rec["attrs"]["rows_out"] = n = docs.count()
        tiers = {
            t: T.materialize(f"plans.docs.docs_tier_pairs.{t}", lambda t=t: docs_tier_pairs(
                docs, CFG, tiers=(t,), n_docs=n).select("a", "b"))
            for t in DOC_TIERS
        }
        pairs = T.materialize("pairs.union_pairs", lambda: union_pairs(**tiers))
        labels = _traced_cc(T, pairs)
        asg = T.materialize("assign.assignments_from_labels",
                            lambda: assignments_from_labels(docs, labels, id_col="doc_id"))
        scores = T.materialize("textops.quality_scores",
                               lambda: textops.quality_scores(docs).select("doc_id", "quality_bp"))
        with T.span("assign.elect_representatives") as rec:
            elect_representatives(asg, scores, id_col="doc_id", score_col="quality_bp") \
                .withColumnRenamed("rep_id", "representative_id") \
                .write.mode("overwrite").parquet(str(outdir / "assignments"))
            rec["attrs"]["rows_out"] = _parquet_rows(outdir / "assignments")
        asg = spark.read.parquet(str(outdir / "assignments"))
        with T.span("assign.leakage_safe_split") as rec:
            leakage_safe_split(asg, frac_train=0.9, id_col="doc_id") \
                .write.mode("overwrite").parquet(str(outdir / "split"))
            rec["attrs"]["rows_out"] = _parquet_rows(outdir / "split")
        docs.unpersist()


def _traced_jaccard_chain(T: Tracer, docs, outdir: Path) -> None:
    with T.span("op.jaccard_chain"):
        with T.span("textops.bigram_jaccard_pairs_auto") as rec:
            pairs = textops.bigram_jaccard_pairs_auto(docs, THRESHOLD_BP)
            pick = textops.LAST_PLAN_PICK or {}
            pairs.write.mode("overwrite").parquet(str(outdir / "jaccard_pairs"))
            rec["attrs"].update(
                plan=pick.get("plan"), join_rows=int(pick.get("sumsq", 0)),
                distinct_bigrams=pick.get("v"), docs=pick.get("d"),
                rows_out=_parquet_rows(outdir / "jaccard_pairs"))
        pairs = docs.sparkSession.read.parquet(str(outdir / "jaccard_pairs"))
        labels = _traced_cc(T, pairs)
        asg = T.materialize("assign.assignments_from_labels",
                            lambda: assignments_from_labels(docs, labels, id_col="doc_id"))
        with T.span("assign.leakage_safe_split") as rec:
            leakage_safe_split(asg, frac_train=0.9, id_col="doc_id") \
                .write.mode("overwrite").parquet(str(outdir / "jaccard_split"))
            rec["attrs"]["rows_out"] = _parquet_rows(outdir / "jaccard_split")


WORKLOADS = {
    "images_pipeline": images_pipeline,
    "docs_dense": docs_dense,
}
