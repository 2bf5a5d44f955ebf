"""Layered benchmark of the wikidump -> diffdb dataflow and the catalog.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload dump-append --seed 1 --seconds 15 --trace 0

Workloads (see perfbench/DESIGN.md for why each exists):

    dump-append          append-mostly plain XML dump, in-source diffs,
                         aggregate sink
    dump-markup-bz2-tsv  markup-dense bzip2 dump, in-source diffs, the
                         diffdb CLI's sorted, deduplicated gzip TSV sink
    catalog-heavy        six dedup and curation catalog queries at sf0.01
    catalog-relay        every catalog query, passes alternating sf0.01
                         and sf0.001 in one driver (a pass takes about a
                         minute, so it is left out of BENCHMARK.json)

Inputs are generated from --seed into ``.perfbench/cache`` in the
checkout.  Everything the run writes stays under ``.perfbench/``.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics (and writes the spans to ``.perfbench/out``).  The JSON line
carries the metrics of BENCHMARK.json; the workload-specific ones are
report lines only.  Both print one
``metric <name> <value> <unit>`` line per metric and, last, one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.

``--self-test`` runs every workload on tiny inputs, with and without an
injected wrong answer, and checks the output contract.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

from probes import descendants
from workloads import HEAVY_QUERIES, WORKLOADS, Run

HERE = os.path.dirname(os.path.abspath(__file__))

# name -> unit.  The JSON line carries exactly these under --trace 0.
END_TO_END = {"setup_s": "s", "pass_s_p50": "s", "peak_rss_mb": "MB"}

# Printed as report lines with the end-to-end metrics, by workload kind.
REPORT_ONLY = {
    "dump": {"job_s_p50": "s", "xml_gb_per_core_hour": "GB/core-h"},
    "catalog": {"query_s_p50": "s", "query_s_p90": "s"},
}
REPORT_ALL = {"failed_frac": "frac"}

# name -> unit.  The JSON line carries exactly these under --trace 1:
# the layers every timed workload exercises.
PER_LAYER = {
    "session.start_s": "s",
    "functions.native_build_s": "s",
    "functions.native_kernel": "bool",
    "spark.plan_s_p50": "s",
    "spark.exec_s_p50": "s",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.scan_task_skew": "ratio",
    "trace.overhead_frac": "frac",
}

# Printed as report lines with the per-layer metrics: the layers only
# one kind of workload exercises, and spill, which reads 0 unless
# memory runs short.
LAYER_REPORT = {
    "dump": {
        "sources.scan_mb_per_s": "MB/s",
        "sources.bz2_decode_mb_per_s": "MB/s",
        "sources.partitions": "count",
        "sources.revisions": "count",
        "sources.batches": "count",
        "functions.diff_s_share": "frac",
        "functions.diff_pairs_per_s": "1/s",
        "functions.ops_per_revision": "ratio",
        "plans.build_s": "s",
        "plans.sink_s": "s",
        "plans.tsv_bytes_per_xml_byte": "ratio",
    },
    "catalog": {
        "relational.build_s_p50": "s",
        "relational.build_s_p90": "s",
        "relational.py4j_calls_per_build": "count",
        **{f"operators.exec_s.{q}": "s" for q in HEAVY_QUERIES},
    },
}
LAYER_REPORT_ALL = {"spark.spill_bytes": "bytes"}

# Driver JVM heap: room for four concurrent Arrow batches of wikitext and
# the catalog shuffles, well inside a 15 GB host.
DRIVER_MEMORY = "3g"


def configure_env(root: str, state: str, trace: bool) -> None:
    """Point every scratch location of Spark, the JVM, the Python workers
    and the native-kernel build at ``state`` inside the checkout."""
    tmp = os.path.join(state, "tmp")
    local = os.path.join(state, "spark-local")
    events = os.path.join(state, "eventlog")
    shutil.rmtree(events, ignore_errors=True)
    for d in (tmp, local, events, os.path.join(state, "xdg")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["XDG_CACHE_HOME"] = os.path.join(state, "xdg")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    confs = {
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(state, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        confs["spark.eventLog.enabled"] = "true"
        confs["spark.eventLog.dir"] = "file://" + events
        confs["spark.eventLog.compress"] = "false"
        confs["spark.eventLog.rolling.enabled"] = "false"
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    for p in (root, os.path.join(root, "tests")):
        if p not in sys.path:
            sys.path.insert(0, p)


def shutdown_jvm() -> None:
    """Stop the gateway JVM and wait for it and every other descendant
    process to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    me = os.getpid()
    while (left := descendants({me}) - {me}) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def kind_of(workload: str) -> str:
    return "catalog" if workload.startswith("catalog") else "dump"


def printed_metrics(kind: str, trace: bool) -> dict:
    """name -> unit of every ``metric`` line a run prints."""
    if trace:
        return {**PER_LAYER, **LAYER_REPORT[kind], **LAYER_REPORT_ALL}
    return {**END_TO_END, **REPORT_ONLY[kind], **REPORT_ALL}


def run_workload(args) -> dict:
    root = os.getcwd()
    state = os.path.join(root, ".perfbench")
    configure_env(root, state, bool(args.trace))
    run = Run(state, args.seed, args.seconds, bool(args.trace), args.tiny, args.inject_wrong)
    kind = kind_of(args.workload)
    try:
        WORKLOADS[args.workload].run(run)
    finally:
        run.stop_session()
        shutdown_jvm()
    run.report["failed_frac"] = (run.failed / run.attempted if run.attempted else 1.0, "frac")
    wanted = printed_metrics(kind, bool(args.trace))
    values = run.layers if args.trace else run.report
    shown = {name: (values.get(name, (0.0, unit))[0], unit) for name, unit in wanted.items()}
    for name, (value, unit) in shown.items():
        print(f"metric {name} {value:.6g} {unit}")
    for name in ("jobs", "passes", "queries"):
        if name in run.report:
            print(f"count {name} {run.report[name][0]:.0f}")
    keys = PER_LAYER if args.trace else END_TO_END
    return {
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": max(1, run.attempted),
        "failed": run.failed if run.attempted else 1,
        "metrics": {k: {"value": shown[k][0], "unit": shown[k][1]} for k in keys},
    }


def self_test(args) -> int:
    """Every workload on tiny inputs: with --inject-wrong under --trace 0
    (the run must finish, report failures and every end-to-end metric),
    and clean under --trace 1 (every per-layer metric).  Exit 0 when the
    contract holds."""
    problems = []
    for name in WORKLOADS:
        for trace, inject in ((0, True), (1, False)):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
                   "--seed", str(args.seed), "--seconds", "1", "--trace", str(trace), "--tiny"]
            if inject:
                cmd.append("--inject-wrong")
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
            tag = f"{name} trace={trace} inject={inject}"
            if proc.returncode != 0:
                problems.append(f"{tag}: exit {proc.returncode}: {proc.stderr[-2000:]}")
                continue
            lines = proc.stdout.strip().splitlines()
            out = json.loads(lines[-1])
            printed = {ln.split()[1]: ln.split()[3] for ln in lines if ln.startswith("metric ")}
            for metric, unit in printed_metrics(kind_of(name), bool(trace)).items():
                if printed.get(metric) != unit:
                    problems.append(f"{tag}: metric {metric} not printed with unit {unit}")
            if set(out["metrics"]) != set(PER_LAYER if trace else END_TO_END):
                problems.append(f"{tag}: JSON metrics {sorted(out['metrics'])}")
            if inject and not out["failed"]:
                problems.append(f"{tag}: injected wrong answer not counted")
            if not inject and out["failed"] and name != "catalog-relay":
                problems.append(f"{tag}: {out['failed']} failures on clean inputs")
            print(f"self-test {tag}: attempted={out['attempted']} failed={out['failed']}", flush=True)
    for p in problems:
        print(f"PROBLEM {p}", file=sys.stderr)
    print("self-test " + ("passed" if not problems else f"failed: {len(problems)} problems"))
    return 1 if problems else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=tuple(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs (self-test)")
    ap.add_argument("--inject-wrong", action="store_true",
                    help="corrupt one expected answer, to prove failures are counted")
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(os.getcwd(), "wikihadoop_spark", "__init__.py")):
        print("run from the root of a checkout of the repository "
              "(wikihadoop_spark/ not found)", file=sys.stderr)
        return 2
    if args.self_test:
        return self_test(args)
    if args.workload is None:
        ap.error("--workload is required")
    # a terminated run still stops its JVM and workers (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = run_workload(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
