"""CDC engine benchmark: one workload per run, seeded inputs, output checks.

    python3 perfbench/run.py --workload cdc_replay --seed 1 --seconds 10 --trace 0

Run from the repository root. ``--trace 0`` measures the end-to-end metrics;
``--trace 1`` is a separate run that wraps each layer's public functions in
spans and reports the per-layer metrics instead. Human-readable lines come
first; the last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.

Everything the run writes (cached inputs, tables, Spark scratch, event logs,
results) stays under ``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import time

T_START = time.time()  # process start, as near as Python lets us take it

import argparse
import contextlib
import json
import os
import resource
import shutil
import sys
import tempfile
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
WORKLOAD_NAMES = ("cdc_replay", "neardup_index")
DRIVER_MEMORY = "2g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="measurement window")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input size; 'tiny' is for the smoke test only")
    return p.parse_args(argv)


def isolate(run_dir: str) -> None:
    """Point every scratch location of Python, the JVM and Spark inside the
    run directory."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,  # overrides spark.local.dir when set
        SPARK_GRAFT_LOCAL_DIR=local,
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        PYSPARK_PYTHON=sys.executable,
    )
    os.environ.pop("SPARK_GRAFT_SHM_SCRATCH", None)
    tempfile.tempdir = None


def start_spark(run_dir: str, cores: int, trace: bool):
    from plugin_singer_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": (
            # a fixed-size heap: peak RSS then tracks the pages the engine
            # touches, not how far the GC happened to grow the heap
            f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData "
            f"-Dderby.system.home={run_dir}"
        ),
        "spark.sql.files.maxPartitionBytes": str(4 * 1024 * 1024),
    }
    if trace:
        events = os.path.join(run_dir, "eventlog")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_sample() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_sys_pct(pre: list[int], post: list[int]) -> tuple[float, float]:
    d = [b - a for a, b in zip(pre, post)]
    tot = sum(d) or 1
    return 100.0 * d[7] / tot, 100.0 * d[2] / tot


def result_path(args, trace: int) -> str:
    name = f"{args.workload}-seed{args.seed}-{args.scale}-trace{trace}.json"
    return os.path.join(WORK, "results", name)


def run(args) -> dict:
    import inputs
    import spans
    import workloads

    cores = max(1, min(4, len(os.sched_getaffinity(0))))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    isolate(run_dir)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    spark = None
    try:
        t = time.time()
        inputs_dir, size = inputs.ensure_inputs(os.path.join(WORK, "inputs"), args.workload,
                                                args.seed, args.scale)
        gen_s = time.time() - t

        spark = start_spark(run_dir, cores, bool(args.trace))
        session_s = time.time() - T_START - gen_s
        jvm_pid = spark.sparkContext._gateway.proc.pid
        rec = workloads.Recorder(jvm_pid)
        wl = workloads.WORKLOADS[args.workload](
            spark, spans.NullTracer(), rec, inputs_dir, size, os.path.join(run_dir, "tables"))
        t = time.perf_counter()
        wl.setup()
        setup_wall_s = time.perf_counter() - t
        # Spark start happens once per process; the prefill is repeated and
        # its median taken
        setup_s = session_s + workloads.median(rec.prefill_s)

        # spans cover the timed rounds only, never the set-up
        tracer = spans.Tracer(spark) if args.trace else spans.NullTracer()
        wl.tracer = tracer
        with spans.patched(tracer) if args.trace else contextlib.nullcontext():
            cpu0 = cpu_sample()
            t0 = time.perf_counter()
            rounds = 0
            while wl.has_round(rounds) and time.perf_counter() - t0 < args.seconds:
                try:
                    wl.round(rounds)
                except Exception:
                    rec.crashed(f"round {rounds}")
                    break
                rounds += 1
            measured_s = time.perf_counter() - t0
            steal, sys_pct = steal_sys_pct(cpu0, cpu_sample())
            try:
                wl.finish()
            except Exception:
                rec.crashed("final output check")
        if rounds == 0:
            raise RuntimeError("no round completed")
        e2e, named = wl.end_to_end()
        rss_jvm = vm_hwm_mb(jvm_pid)
        rss_py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        stop_spark(spark)
        spark = None
        metrics = {
            "setup_s": (setup_s, "s"),
            "rows_per_s": (e2e["rows_per_s"], "1/s"),
            "write_s_p50": (e2e["write_s_p50"], "s"),
            "read_s_p50": (e2e["read_s_p50"], "s"),
            "cpu_ms_per_row": (e2e["cpu_ms_per_row"], "ms"),
            "peak_rss_mb": (rss_jvm + rss_py, "MB"),
        }
        layers, table = {}, []
        if args.trace:
            vol = spans.event_log_volumes(os.path.join(run_dir, "eventlog"))
            layers, table = spans.layer_report(tracer.spans, vol, sum(rec.samples[wl.ROWS]),
                                               cores)
            spans.write_spans(tracer.spans, result_path(args, 1).replace(".json", "-spans.json"))
        return {
            "cores": cores, "metrics": metrics, "named": named, "layers": layers, "table": table,
            "attempted": rec.attempted, "failed": rec.failed, "rounds": rounds,
            "samples": rec.samples, "measured_s": measured_s, "steal_pct": steal,
            "sys_pct": sys_pct, "gen_s": gen_s, "session_start_s": session_s,
            "prefill_s": rec.prefill_s, "setup_wall_s": setup_wall_s,
            "rss_jvm_mb": rss_jvm, "rss_py_mb": rss_py,
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def report(args, r: dict) -> dict:
    """Print the human-readable report; return the contract JSON object."""
    print(f"perfbench workload={args.workload} seed={args.seed} scale={args.scale} "
          f"seconds={args.seconds:g} trace={args.trace} cores={r['cores']}")
    for name, (v, unit) in r["metrics"].items():
        print(f"metric {name} {v:.6g} {unit}")
    frac = r["failed"] / r["attempted"]
    print(f"metric failed_ops_frac {frac:.6g} ratio "
          f"({r['failed']} failed / {r['attempted']} attempted)")
    for name, v, unit in r["named"]:
        print(f"named {name} {v:.6g} {unit}")
    print(f"diag measured_s {r['measured_s']:.3f} rounds {r['rounds']} "
          f"steal_pct {r['steal_pct']:.2f} sys_pct {r['sys_pct']:.2f} gen_s {r['gen_s']:.3f} "
          f"session_start_s {r['session_start_s']:.3f} "
          f"prefill_s {' '.join(f'{x:.3f}' for x in r['prefill_s'])} "
          f"setup_wall_s {r['setup_wall_s']:.3f} rss_jvm_mb {r['rss_jvm_mb']:.0f} "
          f"rss_py_mb {r['rss_py_mb']:.0f}")
    if args.trace:
        for line in r["table"]:
            print("layer " + line)
        untraced = result_path(args, 0)
        if os.path.exists(untraced):
            base = json.load(open(untraced))["metrics"]
            for name, (v, unit) in r["metrics"].items():
                b = base[name]["value"]
                print(f"overhead {name} traced {v:.6g} untraced {b:.6g} diff {v - b:+.6g} {unit} "
                      f"({100 * (v - b) / b:+.1f}%)")
        else:
            print(f"overhead unavailable: no untraced run of this workload/seed/scale in {WORK}")
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
        metrics = {k: {"value": v, "unit": units[k]} for k, v in r["layers"].items()}
    else:
        metrics = {k: {"value": v, "unit": unit} for k, (v, unit) in r["metrics"].items()}
    out = {"correct": r["failed"] == 0, "attempted": r["attempted"], "failed": r["failed"],
           "metrics": metrics}
    with open(result_path(args, args.trace), "w") as f:
        json.dump({**out, "samples": r["samples"]}, f)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "plugin_singer_spark", "__init__.py")):
        print(f"perfbench: the engine package is missing under {ROOT}; nothing to measure",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        r = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    out = report(args, r)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
