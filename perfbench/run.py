"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run from the repository root.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).  Everything the run writes lives under
``.perfbench-work/`` in the current directory and is removed at exit.
See README.md in this directory for what each workload measures.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(os.getcwd(), ".perfbench-work")

END_TO_END = (
    ("setup_s", "s"),
    ("query_p50_s", "s"),
    ("queries_per_s", "1/s"),
    ("tick_p50_s", "s"),
    ("ingest_samples_per_s", "samples/s"),
    ("read_after_write_p50_s", "s"),
    ("peak_rss_mb", "MB"),
)


def process_start_monotonic() -> float:
    """This process's start on the ``time.monotonic`` clock, so set-up
    time includes interpreter start and imports."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_s = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    with open("/proc/uptime") as f:
        uptime_s = float(f.read().split()[0])
    return time.monotonic() - (uptime_s - start_s)


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def build_spark(work: str):
    from prometheus_spark.session import build_session

    cores = min(4, len(os.sched_getaffinity(0)))
    spark = build_session(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # A fixed heap geometry: peak RSS then follows what the run
            # retains, not how the collector chose to grow the heap
            # (with the default collector it spread 12-30% run to run).
            # -XX:-UsePerfData: no hsperfdata file outside the work dir
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
                " -XX:+UseParallelGC -Xms2g -Xmn512m -XX:-UseAdaptiveSizePolicy"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — still running: make sure it ends
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    start = process_start_monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("dashboard", "rules", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program is imported from the checkout, before any JVM starts:
    # without it the run fails here, fast and with no result line
    sys.path.insert(0, ROOT)
    import prometheus_spark  # noqa: F401
    import workloads

    work = os.path.join(WORK_ROOT, str(os.getpid()))
    for sub in ("spark", "tmp", "data"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # pyspark's gateway handshake files and any tempfile use stay inside;
    # so does the JVM that spark-submit runs to build its command line
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None
    spark = None
    try:
        spark = build_spark(work)
        from layers import Layers

        layers = Layers(spark, traced=bool(args.trace))
        layers.install()
        try:
            result = workloads.WORKLOADS[args.workload](
                spark, layers, args.seed, args.seconds,
                os.path.join(work, "data"), start,
            )
        finally:
            layers.uninstall()
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        result.e2e["peak_rss_mb"] = vm_hwm_mb("self") + (
            vm_hwm_mb(jvm.pid) if jvm is not None else 0.0
        )
        persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass

    e2e = {name: {"value": result.e2e[name], "unit": unit}
           for name, unit in END_TO_END}
    if args.trace:
        metrics = {name: {"value": value, "unit": unit}
                   for name, (value, unit) in layers.summary(persisted).items()}
        print("end-to-end (traced):", json.dumps(e2e))
    else:
        metrics = e2e
    for line in result.notes:
        print(line)
    print(json.dumps({
        "correct": not result.errors,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
