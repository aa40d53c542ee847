"""Job-entry benchmark: ``pipeline.run_to_parquet`` on generated corpora.

    python3 perfbench/run.py --workload interleaved_job --seed 1 --seconds 12 --trace 0

Run from the repository root.  Each timed run is one whole job, the shape
``job.py`` runs: docs table + blob path + ``metrics_path``, on
``local[nproc]``, closed loop, one job at a time.  Every job is followed,
untimed, by the golden check (``check.py``).  The last stdout line is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}`` — the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``.  The traced run first times one untraced job, then restarts
Spark with the worker wrappers of ``tracehooks.py`` and the event log on
and runs one traced job.  Scratch state (input cache, Spark local dirs,
outputs, traces) lives in ``.perfbench/`` under the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time


def _process_age_s() -> float:
    """Seconds since this process started (/proc), for ``setup_s``."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


T_START = time.perf_counter() - _process_age_s()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import check, corpus, procstat, report  # noqa: E402

# workload → resume against a ¾-committed output
WORKLOADS = {"interleaved_job": False, "resume_job": True}
TRACE_GROUP = "perfbench-traced"
MIN_JOBS = 2


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:6.1f}s] {msg}", file=sys.stderr, flush=True)


class Bench:
    def __init__(self, args, work: str, nproc: int):
        self.args = args
        self.work = work
        self.nproc = nproc
        self.resume = WORKLOADS[args.workload]
        self.spark = None
        self.jobs = 0

    # -------------------------------------------------------------- session

    def start_spark(self, traced: bool = False):
        from tableextraction_spark.session import get_spark

        conf = ["--conf spark.ui.showConsoleProgress=false"]
        if traced:
            conf += ["--conf spark.python.daemon.module=perfbench.tracehooks",
                     "--conf spark.eventLog.enabled=true",
                     "--conf spark.eventLog.compress=false",
                     "--conf spark.eventLog.rolling.enabled=false",
                     f"--conf spark.eventLog.dir=file://{self.work}/events"]
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(conf) + " pyspark-shell"
        self.spark = get_spark(master=f"local[{self.nproc}]", warehouse_dir=f"{self.work}/warehouse")
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop_spark(self):
        """Stop the session AND its JVM, waiting for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    # ---------------------------------------------------------------- jobs

    def job(self, inputs: dict, check_golden=None):
        """One ``run_to_parquet`` job into a fresh output → (wall s, peak MB,
        failed docs, written spans)."""
        from tableextraction_spark.pipeline import run_to_parquet

        self.jobs += 1
        out = os.path.join(self.work, "out", f"spans-{self.jobs}")
        metrics = os.path.join(self.work, "out", f"metrics-{self.jobs}")
        if self.resume:
            shutil.copytree(inputs["committed"], out)  # untimed, fresh per job
        with procstat.PeakRss() as mem:
            t0 = time.perf_counter()
            docs = self.spark.read.parquet(inputs["docs"])
            run_to_parquet(self.spark, docs, inputs["blobs"], out,
                           metrics_path=metrics, html=True)
            wall = time.perf_counter() - t0
        failed, got = check_golden(out, metrics) if check_golden else (0, None)
        shutil.rmtree(out)
        shutil.rmtree(metrics, ignore_errors=True)
        return wall, mem.peak_mb, failed, got

    def setup(self, warm: dict) -> None:
        """get_spark + one small warm-up job (every worker, every codec)."""
        t = time.perf_counter()
        self.start_spark(traced=False)
        t1 = time.perf_counter()
        self.job(warm)
        log(f"setup: session {t1 - t:.2f} s, warm-up job {time.perf_counter() - t1:.2f} s")

    def timed_jobs(self, inputs: dict, golden: dict, todo: set[str],
                   min_jobs: int, seconds: float) -> list[dict]:
        """Closed loop of whole jobs: at least ``min_jobs``, then more while
        the next one is expected (median wall so far) to end within
        ``seconds`` of job time."""
        runs, spent = [], 0.0
        while len(runs) < min_jobs or spent + statistics.median(r["wall"] for r in runs) <= seconds:
            before = procstat.cpu_times()
            wall, peak, failed, got = self.job(
                inputs, lambda o, m: check.check_job(o, m, golden, todo)
            )
            spent += wall
            diag = procstat.host_diag(before)
            runs.append({"wall": wall, "peak_mb": peak, "failed": failed, "got": got})
            log(f"job {len(runs)}: {wall:.3f} s, peak {peak:.0f} MB, failed {failed}, "
                f"load {diag['loadavg_1m']:.2f}, steal {diag['steal_frac']:.4f}, nproc {diag['nproc']}")
        return runs


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seed < 0:
        p.error("--seed must be ≥ 0")
    try:
        import tableextraction_spark  # noqa: F401
    except ImportError as exc:
        log(f"program not found next to the benchmark: {exc}")
        return 2
    # every process this run starts — input generators, the JVM, the PySpark
    # daemon and its workers — has ended before it exits, on every path
    procstat.become_subreaper()
    try:
        return run(args)
    finally:
        left = procstat.stop_descendants()
        if left:
            log(f"stopped {len(left)} leftover process(es): {left}")


def run(args) -> int:
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(os.getcwd(), ".perfbench")
    for d in ("cache", "local", "tmp", "out", "trace", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    shutil.rmtree(os.path.join(work, "out"))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM (launcher and driver): temp files in the work dir, no /tmp perf data
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x]
    )

    bench = Bench(args, work, nproc)
    t_gen = time.perf_counter()
    cache = os.path.join(work, "cache")
    inputs = corpus.build(ROOT, cache, args.seed, nproc, log)
    warm = corpus.build(ROOT, cache, args.seed, nproc, log, warmup=True)
    gen_s = time.perf_counter() - t_gen
    log(f"input generation {gen_s:.1f} s (excluded from setup_s)")

    golden = corpus.load_golden(inputs)
    committed = set(inputs["committed_ids"]) if bench.resume else set()
    todo = set(golden) - committed
    todo_pages = sum(inputs["meta"][d]["pages"] for d in todo)

    try:
        bench.setup(warm)
        setup_s = time.perf_counter() - T_START - gen_s
        if args.trace == 0:
            # at least MIN_JOBS, so the first job, which runs cooler, is
            # never the figure alone
            runs = bench.timed_jobs(inputs, golden, todo, MIN_JOBS, args.seconds)
        else:  # one untraced job: the baseline of the traced one
            runs = bench.timed_jobs(inputs, golden, todo, 1, 0)
        walls = [r["wall"] for r in runs]
        failed = sum(r["failed"] for r in runs)
        result = {
            "correct": failed == 0,
            "attempted": len(todo) * len(runs),
            "failed": failed,
        }
        if args.trace == 0:
            metrics = {
                "docs_per_s": (statistics.median(len(todo) / w for w in walls), "1/s"),
                "pages_per_s": (statistics.median(inputs["n_pages"] / w for w in walls), "1/s"),
                "setup_s": (setup_s, "s"),
                # median of the jobs' peaks: one job's heap growth does not
                # set the figure
                "peak_rss_mb": (statistics.median(r["peak_mb"] for r in runs), "MB"),
            }
        else:
            # the traced job is the first after one warm-up job in a fresh
            # JVM: compare it with the untraced job in the same position
            metrics = traced(bench, inputs, warm, golden, todo, todo_pages,
                             walls[0], runs[0]["got"])
            result["attempted"] += len(todo)  # the traced job, checked too
            metrics = {k: (metrics[k], u) for k, u in report.PER_LAYER}
    finally:
        bench.stop_spark()
    log(f"setup_s {setup_s:.2f}; job walls " + ", ".join(f"{w:.3f}" for w in walls))
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


def traced(bench: Bench, inputs, warm, golden, todo, todo_pages, untraced_s, untraced_got) -> dict:
    """Restart Spark with worker wrappers and the event log, run one traced
    job, and derive the per-layer metrics (self-tests included)."""
    from perfbench.tracehooks import ENV
    from tableextraction_spark.sources import list_row_groups

    trace_dir = os.path.join(bench.work, "trace")
    events = os.path.join(bench.work, "events")
    for d in (trace_dir, events):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    bench.stop_spark()
    os.environ[ENV] = trace_dir
    bench.start_spark(traced=True)
    bench.job(warm)
    for f in os.listdir(trace_dir):  # warm-up spans are not the job's
        os.remove(os.path.join(trace_dir, f))
    bench.spark.sparkContext.setJobGroup(TRACE_GROUP, "traced job")
    wall, _, failed, got = bench.job(
        inputs, lambda o, m: check.check_job(o, m, golden, todo)
    )
    bench.stop_spark()  # finalises the event log
    if failed:
        raise RuntimeError(f"traced job: {failed} docs failed the golden check")
    if got != untraced_got:
        raise RuntimeError("traced job's output spans differ from the untraced job's")
    spans = report.load_spans(trace_dir)
    report.check_span_tree(spans)
    keep = todo if bench.resume else None
    listed = sum(s[2] for s in list_row_groups(inputs["blobs"], keep_doc_ids=keep))
    metrics = report.layer_metrics(
        spans, report.load_events(events, TRACE_GROUP), inputs["meta"],
        wall_s=wall, untraced_s=untraced_s, cores=bench.nproc,
        todo_pages=todo_pages, pages_listed=listed,
    )
    print(report.tables_text(spans, metrics, bench.args.workload), flush=True)
    return metrics


if __name__ == "__main__":
    sys.exit(main())
