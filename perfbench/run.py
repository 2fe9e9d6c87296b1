"""Benchmark entry point.

    python3 perfbench/run.py --workload window_query --seed 1 --seconds 25 --trace 0

Run from the repository root.  One process: starts Spark on
``local[nproc]``, warms up, builds the workload table from the seed, runs the
closed loop for ``--seconds``, checks every result and prints a readable
report followed by one JSON line (the last line of stdout) holding the
``end_to_end`` metrics of BENCHMARK.json, or with ``--trace 1`` its
``per_layer`` metrics.  A traced run runs a fixed number of cycles so its
counts repeat exactly for a seed.  All files go to a temporary directory
under ``.perfbench_work/`` that is removed at exit; span dumps and the
self-check stamp stay in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import subprocess
import sys
import tempfile
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
DRIVER_MEMORY = "2g"


def process_start() -> float:
    """This process's start on the ``time.perf_counter`` clock."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    age = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    return time.perf_counter() - age


T_PROCESS = process_start()


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def source_digest() -> str:
    """Hash of the package and benchmark sources: the self-check stamp key."""
    h = hashlib.sha256()
    for top in ("iceberg_geo_poc_spark", "perfbench"):
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    p = os.path.join(d, name)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def configure_env(work: str) -> None:
    """Keep Spark, the JVM and Python workers inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc()),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        PYTHONDONTWRITEBYTECODE="1",
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                "--conf spark.ui.showConsoleProgress=false",
                "--conf " + shlex.quote(
                    "spark.sql.warehouse.dir=" + os.path.join(work, "spark-warehouse")
                ),
                # a fixed-size heap (-Xms = -Xmx): peak RSS does not depend
                # on when the collector chose to grow the heap
                "--driver-java-options "
                + shlex.quote(f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp}"),
                "pyspark-shell",
            ]
        ),
    )


def run_selfcheck(work: str) -> float:
    """F1 goldens in a separate process (so it cannot warm the measured
    one), once per source version, stamped in ``.perfbench_out``.
    Returns its seconds; exits 3 without a result on a mismatch."""
    stamp = os.path.join(OUT, f"selfcheck-{source_digest()}.ok")
    if os.path.exists(stamp):
        return 0.0
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "selfcheck.py"), os.path.join(work, "selfcheck")],
        stdout=sys.stderr,
        timeout=600,
    )
    if p.returncode != 0:
        print("perfbench: F1 self-check failed; not reporting", file=sys.stderr)
        raise SystemExit(3)
    os.makedirs(OUT, exist_ok=True)
    with open(stamp, "w") as f:
        f.write("F1 goldens hold\n")
    return time.perf_counter() - t0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if not os.path.isdir(os.path.join(ROOT, "iceberg_geo_poc_spark")):
        print("perfbench: package iceberg_geo_poc_spark not found", file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=WORK)
    try:
        configure_env(work)
        return execute(args, bench, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK)
        except OSError:
            pass


def execute(args, bench: dict, work: str) -> int:
    sys.path.insert(0, ROOT)
    import metrics
    from spans import Tracer
    from workloads import WORKLOADS, Runner, stop_spark

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    spec = WORKLOADS[args.workload]
    tracer = Tracer(bool(args.trace))

    from iceberg_geo_poc_spark.session import get_spark

    selfcheck_s = run_selfcheck(work)
    spark = get_spark("perfbench")
    t_session = time.perf_counter()
    try:
        spark.sparkContext.setLogLevel("ERROR")
        if tracer.enabled:
            metrics.install_wrappers(tracer)
        runner = Runner(spark, os.path.join(work, "warehouse"), args.seed, spec, tracer)
        runner.build(spec)
        t_first = time.perf_counter()
        loop_s = runner.loop(spec, args.seconds, spec.trace_cycles if tracer.enabled else None)
        tracer.unwrap()
        final_ok = runner.final_check()
        env = metrics.environment(spark)
        rss_py, rss_jvm = peak_rss_mb(os.getpid()), peak_rss_mb(env["jvm_pid"])
        stored = runner.stored_bytes()
        runner.close()
    finally:
        stop_spark(spark)

    # the warm base-load appends are repeated set-up units: their median
    # stands in for each, so one slow append does not move setup_s
    loads = [op.seconds for op in runner.ops if op.kind == "append_base"]
    setup_s = (t_first - T_PROCESS) - selfcheck_s - sum(loads) + len(loads) * metrics.median(loads)
    e2e = metrics.end_to_end(runner, setup_s, stored, rss_py + rss_jvm)
    ok = final_ok and all(op.ok for op in runner.ops)
    attempted = len(runner.ops) + 1  # + the final whole-table check
    failed = sum(not op.ok for op in runner.ops) + (not final_ok)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "environment": env,
        "session_start_s": t_session - T_PROCESS - selfcheck_s,
        "selfcheck_s": selfcheck_s,
        "base_loads_s": loads,
        "loop_s": loop_s,
        "final_state_ok": final_ok,
        "peak_rss_python_mb": rss_py,
        "peak_rss_jvm_mb": rss_jvm,
        "failed_op_ratio": failed / attempted,
    }
    if tracer.enabled:
        values = metrics.per_layer(runner, tracer, t_session - T_PROCESS - selfcheck_s)
        wanted = bench["per_layer"]
        os.makedirs(OUT, exist_ok=True)
        tracer.dump(os.path.join(OUT, f"spans-{args.workload}-seed{args.seed}.jsonl"))
    else:
        values = e2e
        wanted = bench["end_to_end"]
    metrics.print_report(report, e2e, values if tracer.enabled else {}, runner.ops)
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 4
    out = {
        "correct": bool(ok),
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": values[m["name"]][0], "unit": m["unit"]} for m in wanted
        },
    }
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
