"""Crawl + extraction benchmark for akf_cdparser_spark.

    python3 perfbench/run.py --workload crawl_bulk --seed 1 --seconds 10 --trace 0

Run from the repository root. One process, one Spark session at
``local[<cores>]``. The last stdout line is the result JSON
(``correct``/``attempted``/``failed``/``metrics``); the line before it,
prefixed ``report``, carries the workload's own metrics under their
workload-specific names. ``--trace 1`` is the separate traced run: Spark
event log on, spans around every public call, per-layer metrics out.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import batch  # noqa: E402
import probes  # noqa: E402
from metrics import END_TO_END, PER_LAYER, REPORT  # noqa: E402

KERNEL_DOCS = 150
DRIVER_MEMORY = "2g"


class Context:
    def __init__(self, args, work: str):
        self.seed, self.seconds, self.trace = args.seed, args.seconds, args.trace
        self.work = work
        self.cores = len(os.sched_getaffinity(0))  # what nproc reports
        self.tracer = probes.Tracer(bool(args.trace), uuid.uuid4().hex[:12])
        self.spark = None
        self.setup_end = None
        self.rss = None  # started after the self-check
        self.measured_s = self.cpu_s = self.peak_rss_mb = None

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def setup_done(self) -> None:
        self.setup_end = time.time()

    def measured(self, wall: float, cpu: float) -> None:
        """End of the measured region. The RSS peak stops here too: the
        gates that follow run the benchmark's own oracles in this process."""
        self.measured_s, self.cpu_s = wall, cpu
        self.peak_rss_mb = self.rss.stop()


def start_spark(ctx: Context):
    from akf_cdparser_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": ctx.path("spark_local"),
        "spark.sql.warehouse.dir": ctx.path("warehouse"),
        "spark.driver.extraJavaOptions":
            # the heap is allocated at its cap at start, so its size does
            # not hang on how G1's adaptive sizing reacts to one run's GC
            # times
            f"-Xms{DRIVER_MEMORY} -Dlog4j2.level=error "
            f"-Djava.io.tmpdir={ctx.work}",
    }
    if ctx.trace:
        os.makedirs(ctx.path("eventlog"))
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + ctx.path("eventlog")
        conf["spark.eventLog.compress"] = "false"
    with ctx.tracer.span("setup.spark_session"):
        return get_spark(app_name="perfbench", master=f"local[{ctx.cores}]",
                         extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers; wait for all."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 30
    while len(probes.tree_pids()) > 1 and time.time() < deadline:
        time.sleep(0.1)
    for pid in probes.tree_pids()[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    while len(probes.tree_pids()) > 1 and time.time() < deadline + 10:
        time.sleep(0.1)


def kernel_rate(ctx: Context) -> float:
    """``parse_document`` on one thread in this process."""
    from akf_cdparser_spark import fixtures
    from akf_cdparser_spark.kernel import parse_document

    n = batch.N_INDEX
    texts = [fixtures.spans_to_text(fixtures.html_to_spans(
        fixtures.synth_html(i, n))) for i in range(0, n, n // KERNEL_DOCS)]
    with ctx.tracer.span("kernel.parse_document") as s:
        for t in texts:
            parse_document(t)
    return len(texts) / s.seconds


def run_workload(args, work: str) -> tuple[dict, dict]:
    import crawl
    import selfcheck

    t_proc = probes.process_start_epoch()
    ctx = Context(args, work)
    with ctx.tracer.span("selfcheck") as check:
        selfcheck.run(ctx.path("selfcheck"))
    ctx.rss = probes.RssSampler().start()
    ctx.spark = start_spark(ctx)
    try:
        module = crawl if args.workload.startswith("crawl") else batch
        res = module.run(ctx)
        peak_mb = ctx.peak_rss_mb
        layers = dict.fromkeys((n for n, _, _ in PER_LAYER), 0.0)
        layers.update(res["layers"])
        if ctx.trace:
            layers["kernel.docs_per_s"] = kernel_rate(ctx)
    finally:
        stop_spark(ctx.spark)

    ops = res["ops"]
    e2e = {
        # the self-check is the benchmark's own gate work, not set-up
        "setup_s": ctx.setup_end - t_proc - check.seconds,
        "throughput": res["throughput"],
        "op_wall_s": res["op_wall"],
        "cold_pass_s": res["cold_pass_s"],
        "bytes_per_item": res["bytes_per_item"],
        "peak_rss_mb": peak_mb,
    }
    raw = {"setup_s": e2e["setup_s"], "peak_rss_mb": peak_mb,
           "measured_s": ctx.measured_s, "failed_frac": res["failed"] / ops,
           **res["report"]}
    report = {"workload": args.workload, "seed": args.seed,
              "problem": res["problem"],
              "metrics": {name: {"value": raw[name], "unit": unit}
                          for name, unit in REPORT[args.workload]}}
    if ctx.trace:
        log = probes.read_event_log(ctx.path("eventlog"))
        layers.update(probes.spark_per_op(log, res["op_windows"]))
        if "parse_windows" in res:
            tasks = sum(probes.python_tasks_between(log, lo, hi)
                        for lo, hi in res["parse_windows"])
            layers["frontier.docs_per_parse_task"] = (
                res["docs_parsed"] / tasks if tasks else 0.0)
        layers["sys.cpu_util"] = ctx.cpu_s / (ctx.measured_s * ctx.cores)
        layers["trace.measured_s"] = ctx.measured_s
        ctx.tracer.write(os.path.join(
            ROOT, ".perfbench", "traces",
            f"{args.workload}-seed{args.seed}-{ctx.tracer.run_id}.json"))
    table = PER_LAYER if ctx.trace else END_TO_END
    values = layers if ctx.trace else e2e
    metrics = {name: {"value": float(values[name]), "unit": unit}
               for name, unit, _ in table}
    result = {"correct": res["failed"] == 0, "attempted": ops,
              "failed": res["failed"], "metrics": metrics}
    return result, report


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(REPORT))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=os.path.join(ROOT, ".perfbench"))
    # everything the run writes stays in ``work``: Python and JVM temp
    # files, Spark local dirs, and the kernel's dictionary lookup (pointed
    # at an absent directory, so the embedded dictionaries are used); JVM
    # perf-data files, which would land in /tmp, are turned off
    os.environ["TMPDIR"] = tempfile.tempdir = work
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData")
        if p)
    os.environ["AKF_DICTFILES"] = os.path.join(work, "no_dictfiles")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    try:
        result, report = run_workload(args, work)
    except Exception:
        traceback.print_exc()
        return 2
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("report " + json.dumps(report), flush=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
