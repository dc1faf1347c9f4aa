"""End-to-end spark-submit entrypoint: main.main() on a tmp fixture.

Covers the reference's CLI analog (/root/reference/Server/encoder.cpp:
492-511 parses -b/-f and runs the encode loop; here argparse + the
tiered pipeline + the one-line JSON accounting report).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

import main as cli
from deduplication_and_compression_spark.config import DEFAULT_CONFIG
from deduplication_and_compression_spark.fixtures.generator import write_fixture


def test_cli_end_to_end(spark, tmp_path, capsys):
    img_path, _ = write_fixture(tmp_path / "fx", 200, seed=13)
    out_dir = tmp_path / "out"
    cli.main([
        "--input", str(img_path),
        "--output", str(out_dir),
        "--tiers", "exact,minhash",
        "--no-resume",
    ])
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["rows_total"] == 200
    assert 0 < report["rows_unique"] <= 200
    assert report["bytes_after_dedup"] <= report["bytes_total"]
    assert 0.0 <= report["compression_pct"] < 100.0
    assert report["config_fingerprint"] == DEFAULT_CONFIG.fingerprint()
    # checkpoint layout written under --output
    for stage in ("chk_pairs_exact", "chk_pairs_minhash", "chk_assignments",
                  "chk_cc_labels", "metrics"):
        assert (out_dir / stage).exists(), stage


def test_cli_rejects_unknown_tier(spark, tmp_path):
    img_path, _ = write_fixture(tmp_path / "fx2", 50, seed=14)
    with pytest.raises(ValueError, match="unknown tiers"):
        cli.main([
            "--input", str(img_path),
            "--output", str(tmp_path / "out2"),
            "--tiers", "exact,bogus",
        ])


def _write_docs_corpus(tmp_path):
    """Docs 1/3 are near-dups (one-word edit), 4 is an exact dup of 2."""
    import pandas as pd

    corpus = pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": [
            "the quick brown fox jumps over the lazy sleeping dog today",
            "completely unrelated text about maritime trade routes history",
            "the quick brown fox jumps over the lazy sleeping cat today",
            "completely unrelated text about maritime trade routes history",
        ],
    })
    src = tmp_path / "corpus.jsonl"
    corpus.to_json(src, orient="records", lines=True)
    return src


def test_cli_docs_mode_jsonl(spark, tmp_path, capsys):
    """--mode docs default: read a JSON-lines corpus, run the FULL
    tiered union (exact/minhash/simhash/substring — parity with the
    image pipeline), write assignments, print the char-savings
    report."""
    src = _write_docs_corpus(tmp_path)
    out_dir = tmp_path / "docs_out"
    cli.main([
        "--mode", "docs",
        "--input", str(src),
        "--format", "json",
        "--output", str(out_dir),
    ])
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["rows_total"] == 4
    assert report["rows_unique"] == 2  # {1,3} and {2,4} clusters
    assert 0 < report["chars_saved"] < report["chars_total"]
    asg = spark.read.parquet(str(out_dir / "assignments")).toPandas()
    by_id = dict(zip(asg["doc_id"], asg["cluster_id"]))
    assert by_id[1] == by_id[3] == 1 and by_id[2] == by_id[4] == 2


def test_cli_docs_mode_from_foreign_cwd(tmp_path):
    """The CLI started outside the repo root: the driver imports the
    package through the script's directory, the local[N] Python workers
    only through the PYTHONPATH the session gives them.  The MinHash
    tier runs Python tasks, so a worker that cannot import the package
    fails the run."""
    src = _write_docs_corpus(tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    r = subprocess.run(
        [sys.executable, str(Path(cli.__file__).resolve()), "--mode", "docs",
         "--input", str(src), "--format", "json", "--output", "out",
         "--tiers", "exact,minhash"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    report = json.loads(r.stdout.strip().splitlines()[-1])
    assert report["rows_total"] == 4 and report["rows_unique"] == 2


@pytest.mark.parametrize("tiers,expect_unique", [
    # exact alone sees only the verbatim 2==4 dup; 1/3 stay singletons
    ("exact", 3),
    # each near-dup tier catches 1~3; exact's 2==4 is also an
    # identical-payload pair every tier's value collapse emits
    ("minhash", 2),
    # a 1-in-10-token edit moves ~7 simhash bits — outside the
    # hamming<=3 radius — so simhash sees only the identical 2==4 pair
    ("simhash", 3),
    ("exact,substring", 2),
])
def test_cli_docs_mode_tier_selection(spark, tmp_path, capsys, tiers,
                                      expect_unique):
    src = _write_docs_corpus(tmp_path)
    out_dir = tmp_path / f"docs_out_{tiers.replace(',', '_')}"
    cli.main([
        "--mode", "docs",
        "--input", str(src),
        "--format", "json",
        "--output", str(out_dir),
        "--tiers", tiers,
    ])
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["rows_total"] == 4
    assert report["rows_unique"] == expect_unique, tiers


def test_cli_docs_mode_rejects_unknown_tier(spark, tmp_path):
    src = _write_docs_corpus(tmp_path)
    with pytest.raises(ValueError, match="unknown tiers"):
        cli.main(["--mode", "docs", "--input", str(src), "--format", "json",
                  "--output", str(tmp_path / "bad"), "--tiers", "exact,bogus"])


def test_cli_docs_mode_empty_corpus_and_flag_rejection(spark, tmp_path, capsys):
    """An empty corpus reports zeros; --no-resume, once rejected in docs
    mode (which had no checkpoints), is now accepted."""
    src = tmp_path / "empty.txt"
    src.write_text("")
    for extra in ([], ["--no-resume"]):
        cli.main(["--mode", "docs", "--input", str(src), "--format", "text",
                  "--output", str(tmp_path / "eo"), *extra])
        report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert report["rows_total"] == 0 and report["chars_saved"] == 0
        assert report["dedup_pct"] == 0.0
    # docs with no characters at all: compression_pct divides by a
    # zero payload total, which ANSI mode fails unless guarded
    blank = tmp_path / "blank.jsonl"
    blank.write_text('{"doc_id": 1, "text": ""}\n{"doc_id": 2, "text": ""}\n')
    cli.main(["--mode", "docs", "--input", str(blank), "--format", "json",
              "--output", str(tmp_path / "eb")])
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["rows_total"] == 2 and report["chars_total"] == 0
    assert report["dedup_pct"] == 0.0


def test_cli_images_mode_empty_table(spark, tmp_path, capsys):
    """An empty images table reports zeros (dedup_ratio's sums are NULL
    there; the report once crashed rounding compression_pct)."""
    from deduplication_and_compression_spark.fixtures.generator import (
        generate_images,
    )

    src = tmp_path / "empty.parquet"
    generate_images(20, seed=3)[0].head(0).to_parquet(src, index=False)
    cli.main(["--input", str(src), "--output", str(tmp_path / "eo"),
              "--tiers", "exact,simhash"])
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["rows_total"] == 0 and report["rows_unique"] == 0
    assert report["bytes_total"] == report["bytes_after_dedup"] == 0
    assert report["compression_pct"] == 0.0


def test_cli_docs_mode_kill_and_resume(spark, tmp_path, capsys):
    """Docs mode checkpoints under --output: with its post-union
    checkpoints lost, a rerun recomputes exactly those stages, resumes
    the rest, and writes the same assignments and split."""
    import pandas as pd

    from deduplication_and_compression_spark.fixtures.generator import (
        generate_zipf_docs,
    )

    src = tmp_path / "docs.parquet"
    generate_zipf_docs(120, seed=5)[0].to_parquet(src, index=False)
    out = tmp_path / "out"
    argv = ["--mode", "docs", "--input", str(src), "--output", str(out),
            "--rep-policy", "quality", "--emit-split", "0.9"]

    def run():
        cli.main(argv)
        report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        report.pop("wall_sec")
        tables = [pd.read_parquet(out / t).sort_values("doc_id")
                  .reset_index(drop=True) for t in ("assignments", "split")]
        return report, tables

    report1, (asg1, split1) = run()
    assert report1["rows_unique"] < report1["rows_total"] == 120
    lost = {"cc_labels", "assignments", "savings"}
    for stage in lost:
        shutil.rmtree(out / f"chk_{stage}")
    report2, (asg2, split2) = run()
    assert report2 == report1
    pd.testing.assert_frame_equal(asg1, asg2)
    pd.testing.assert_frame_equal(split1, split2)
    m = pd.read_parquet(out / "metrics")
    m = m[m["partition_id"] == -1]
    stages = set(m["stage"])
    assert {"sig_minhash", "sig_simhash", "winnow_keys", "pairs_union"} <= stages
    # the first run resumed nothing, the rerun all but the lost stages
    assert set(m.loc[m["resumed"], "stage"]) == stages - lost
    recomputed = m.loc[~m["resumed"], "stage"].value_counts().to_dict()
    assert recomputed == {s: 2 if s in lost else 1 for s in stages}


def test_cli_docs_mode_split_and_quality_reps(spark, tmp_path, capsys):
    """--emit-split writes a cluster-coherent train/val table and the
    report carries the counts; --rep-policy quality routes assignments
    through elect_representatives (this corpus's clusters tie on
    quality, so min-id breaks them — the policy's semantics incl.
    non-tie election are covered by test_elect_representatives_policy;
    here the gate is the CLI wiring and the stable output schema)."""
    src = _write_docs_corpus(tmp_path)
    out_dir = tmp_path / "docs_out_split"
    cli.main([
        "--mode", "docs",
        "--input", str(src),
        "--format", "json",
        "--output", str(out_dir),
        "--emit-split", "0.9",
        "--rep-policy", "quality",
    ])
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["rows_total"] == 4
    assert report["split_train"] + report["split_val"] == 4
    split = spark.read.parquet(str(out_dir / "split")).toPandas()
    assert (split.groupby("cluster_id")["split"].nunique() == 1).all()
    asg = spark.read.parquet(str(out_dir / "assignments")).toPandas()
    rep = dict(zip(asg["doc_id"], asg["representative_id"]))
    # cluster {2,4}: identical texts tie on quality -> min id 2
    assert rep[2] == rep[4] == 2
    # cluster {1,3}: same rep for both members, elected by quality
    assert rep[1] == rep[3] and rep[1] in (1, 3)


def test_cli_split_flags_rejected_in_images_mode(spark, tmp_path):
    img_path, _ = write_fixture(tmp_path / "fx_rej", 50, seed=13)
    for extra in (["--emit-split", "0.9"], ["--rep-policy", "quality"]):
        with pytest.raises(ValueError, match="docs only"):
            cli.main([
                "--input", str(img_path),
                "--output", str(tmp_path / "out_rej"),
                *extra,
            ])
