"""Smoke test of the benchmark at tiny input sizes (minutes, not part of the
engine's test suite):

    python3 -m pytest perfbench/test_smoke.py -q

It checks the output contract of every workload in both modes, and that a
corrupted engine output is caught by the output checks.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
E2E = {m["name"] for m in BENCH["end_to_end"]}
PER_LAYER = {m["name"] for m in BENCH["per_layer"]}


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", ["cdc_replay", "neardup_index"])
def test_untraced_contract(workload):
    proc = _run(workload, 0)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert set(out["metrics"]) == E2E
    assert all(m["value"] > 0 for m in out["metrics"].values()), out["metrics"]


def test_traced_contract():
    proc = _run("cdc_replay", 1)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    out = json.loads(lines[-1])
    assert out["correct"]
    assert set(out["metrics"]) == PER_LAYER
    m = {k: v["value"] for k, v in out["metrics"].items()}
    # the layers cdc_replay drives report work; the index layers stay idle
    for busy in ("messages.parse_s", "lake.table.write_buckets_s", "lake.merge.compact_s",
                 "spark.jobs_per_epoch", "ingest.pipeline.replay_cdc_s"):
        assert m[busy] > 0, busy
    assert m["operators.incremental_dedup.update_s"] == 0
    assert any(ln.startswith("overhead ") for ln in lines)


def test_corrupted_output_counts_as_failed(monkeypatch, capsys):
    """An engine that writes wrong content must raise failed_ops_frac: the
    replay's merge input is altered for a few events, in-process."""
    sys.path.insert(0, ROOT)
    import run
    from pyspark.sql import functions as F
    from plugin_singer_spark.ingest import streaming

    real = streaming.replay_cdc

    def corrupting(table, binlog, *a, **kw):
        bad = F.when(F.col("seq") % 97 == 0, F.lit("corrupted")).otherwise(F.col("content"))
        return real(table, binlog.withColumn("content", bad), *a, **kw)

    # run.main points scratch locations into its run directory: restore them
    for k in ("TMPDIR", "SPARK_LOCAL_DIRS", "SPARK_GRAFT_LOCAL_DIR", "SPARK_DRIVER_MEMORY",
              "PYSPARK_PYTHON"):
        monkeypatch.setenv(k, os.environ.get(k, ""))
    monkeypatch.setattr(tempfile, "tempdir", tempfile.tempdir)
    monkeypatch.setattr(streaming, "replay_cdc", corrupting)
    rc = run.main(["--workload", "cdc_replay", "--seed", "7", "--seconds", "1", "--scale", "tiny"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0
    assert not out["correct"] and out["failed"] >= 1
    assert out["failed"] / out["attempted"] > 0


def test_exits_nonzero_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark's files,
    the run fails fast and prints no result."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in os.listdir(HERE):
        if f.endswith((".py", ".md")):
            (bench / f).write_text(open(os.path.join(HERE, f)).read())
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(BENCH))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "cdc_replay", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
