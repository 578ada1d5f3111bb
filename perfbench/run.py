#!/usr/bin/env python3
"""Benchmark entry point: one workload, one fresh process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Prints one JSON object as the last line
of stdout: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics untraced, the per-layer metrics traced). Exits
non-zero, printing no result, when an output check fails or the
program is missing. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("changelog_topology", "llm_heavy")
# Spark's core count, pinned: the same on any host with at least this
# many cores. SPARK_GRAFT_CPUS also sets the shuffle partition count
# (session.get_spark: max(cpus, 4)), so that is pinned too.
CORES = 4
DRIVER_MEM = "3g"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``,
    and pin the session's shape before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    cores = min(CORES, len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_GRAFT_SF_DIR", None)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # Python workers import the program's kernels by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort: do not leave it running
            proc.kill()
            proc.wait(timeout=10)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "kafka_streams_sandbox_spark")):
        print("perfbench: the program (kafka_streams_sandbox_spark/) is not "
              "in this checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    isolate(work)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    from common import CheckFailed, host_cpu_ticks, steal_share  # noqa: E402
    from spans import RssSampler, Tracer  # noqa: E402

    tracer = Tracer(bool(args.trace), T_START)
    ticks = host_cpu_ticks()
    spark = None
    try:
        with RssSampler() as rss:
            from kafka_streams_sandbox_spark.session import get_spark

            with tracer.span("session.start"):
                t = time.perf_counter()
                spark = get_spark(app_name="perfbench",
                                  master=f"local[{os.environ['SPARK_GRAFT_CPUS']}]")
                session_s = time.perf_counter() - t
            if args.workload == "changelog_topology":
                import topology as wl
            else:
                import batch as wl
            res = wl.run(spark, args, work, tracer, T_START)
        res.detail["host_steal_share"] = steal_share(ticks, host_cpu_ticks())
        res.layer["session.start_s"] = (session_s, "s")
        res.layer["proc.peak_rss_mb"] = (rss.peak_mb, "MB")
    except CheckFailed as e:
        print(f"perfbench: output check failed:\n{e}", file=sys.stderr)
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    out_dir = os.path.join(ROOT, ".perfbench_out")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if args.trace:
        tracer.write(os.path.join(out_dir, f"trace-{tag}.json"))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    got = res.layer if args.trace else res.metrics
    # a layer this workload never enters reads zero: its prediction is
    # "no change"
    chosen = {m["name"]: got.get(m["name"], (0.0, m["unit"])) for m in declared}
    result = {
        "correct": True,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in chosen.items()},
    }
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"result-{tag}.json"), "w") as f:
        json.dump({**result, "detail": res.detail}, f, indent=1)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
