"""Benchmark of the flagship extraction job and the curation job.

    python3 perfbench/run.py --workload extract_full --seed 42 --seconds 10 --trace 0

Run from the repository root. Each run generates its corpus from
``--seed`` with ``synth.gen_corpus``, starts the program's default
session at ``local[nproc]`` through ``session.get_spark`` (adding only
``spark.ui.showConsoleProgress=false``, and the event log when traced),
and times at least three of the workload's job calls and at least
``--seconds`` seconds of job time, checking each call's output. Human-readable metric lines come
first; the last line of stdout is the JSON result line (see
``report.py``). ``--workload all`` runs every workload, each in its own
process, and ends with one JSON line mapping workload -> metrics.

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``.
``--trace 1`` is the separate traced run: it times untraced job calls
as the timed runs do, restarts the session with the Spark event log on,
times one traced call after the same untimed warm-up calls, runs the
layer ledger (``workloads.*.ledger``: separate plans, on
``extract_full`` also the no-Spark kernel control and split of
``kernel.py`` and one checked resume call), and reports the per-layer
metrics. Spans and per-stage detail go to
``.bench_work/results/<workload>-seed<seed>-trace<t>.json``.

Everything the run writes stays under ``.bench_work/`` in the checkout:
Spark's local dirs, the JVM's temp dir and Python's are pointed there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".bench_work")
SETUPS = 3
#: untimed job calls before the timed ones. The first JIT-compiles the
#: job's code paths and takes about twice a warm call's time; the second
#: is still 1-2 s slow, and from the third the calls level off (4 cores,
#: sf0.05: extract_full 14.0, 7.9, 7.2, 7.2, 6.3 s; curate 10.0, 7.5,
#: 6.2, 5.8 s). With one warm call the job_s spread over ten seeds read
#: 0.150 of the median on extract_full and 0.110 on curate
WARM_CALLS = 2
#: timed calls at least, however long they take, so the median drops a
#: slow one also when a contended host stretches every call
MIN_TIMED_CALLS = 3
#: corpus scale factor (500,000 docs per 1.0); at sf0.05 one run of a
#: workload takes about a minute on 4 cores, most of it fixed set-up
DEFAULT_SF = 0.05

sys.path.insert(0, ROOT)

from perfbench import NPROC  # noqa: E402
from perfbench.report import Metric, check_result_line, human_lines, report_line, result_line  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``,
    and let Spark's Python workers import the program and the benchmark."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def warm_up(spark) -> None:
    """The first small job: spawns the session's Python workers."""
    from perfbench.arrowfns import identity_batches

    spark.range(NPROC * 2, numPartitions=NPROC).mapInArrow(identity_batches, "id long").write.format(
        "noop"
    ).mode("overwrite").save()


def start_session(tracer: Tracer, extra: dict[str, str] | None = None):
    """(session, start_s, warmup_s) for the program's default session."""
    from oct_report_ocr_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false", **(extra or {})}
    t0 = time.perf_counter()
    with tracer.span("session.start"):
        spark = get_spark(cores=NPROC, extra_conf=conf)
    t1 = time.perf_counter()
    if tracer.run_id is not None:
        tracer.attach(spark)
    with tracer.span("session.warmup"):
        warm_up(spark)
    return spark, t1 - t0, time.perf_counter() - t1


def stop_jvm() -> None:
    """End the JVM the sessions ran in and wait for it: PySpark keeps it
    alive until the Python process exits, and then lets it die on its own."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway server exits on EOF
    gateway.proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None


def stop_processes() -> None:
    """Stop every process the run started and wait for each to end: the
    JVM, the Python workers it forked (which outlive it re-parented), and
    the resource tracker the ``spawn`` pools started, which would
    otherwise end only after this process has."""
    from multiprocessing import resource_tracker

    from perfbench.procmem import descendants, end_all

    started = descendants(os.getpid())
    try:
        stop_jvm()
    finally:
        resource_tracker._resource_tracker._stop()
        end_all(started)


class Calls:
    """Counts job calls and their failures (raised or failed a check)."""

    def __init__(self):
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self._last_failed = False

    def record(self, problems: list[str]) -> None:
        self.attempted += 1
        self._last_failed = False
        self.amend_last(problems)

    def amend_last(self, problems: list[str]) -> None:
        """Count problems found after the last call as that call's."""
        if problems and not self._last_failed:
            self.failed += 1
            self._last_failed = True
        self.problems += problems
        for p in problems:
            print(f"CHECK FAILED: {p}", file=sys.stderr)

    def run(self, wl, timer: list[float] | None = None) -> dict | None:
        """One job call (timed into ``timer``) and its check."""
        t0 = time.perf_counter()
        try:
            stats = wl.call()
        except Exception:  # noqa: BLE001 — a failed call is counted, the run goes on
            traceback.print_exc()
            stats = None
        if timer is not None:
            timer.append(time.perf_counter() - t0)
        self.record(["job call raised"] if stats is None else wl.check(stats))
        return stats


def measure(args, wl_cls, work: str, corpus: str, facts) -> tuple[dict[str, Metric], Calls, dict]:
    setups = []
    for i in range(SETUPS):
        spark, start_s, warm_s = start_session(Tracer(None))
        setups.append(start_s + warm_s)
        if i < SETUPS - 1:
            spark.stop()
    calls = Calls()
    wl = wl_cls(spark, work, corpus, facts, args.seed)
    wl.prepare()
    for _ in range(WARM_CALLS):
        calls.run(wl)
    times: list[float] = []
    while len(times) < MIN_TIMED_CALLS or sum(times) < args.seconds:
        calls.run(wl, times)
    calls.amend_last(wl.final_check())
    _, size = wl.sink_size()
    spark.stop()
    job_s = statistics.median(times)
    return {
        "job_s": Metric(job_s, "s", len(times)),
        "docs_per_s": Metric(wl.docs / job_s, "docs/s", len(times)),
        "setup_s": Metric(statistics.median(setups), "s", len(setups)),
        "sink_bytes_per_in_byte": Metric(size / wl.input_bytes, "B/B", 1),
        "fail_frac": Metric(calls.failed / calls.attempted, "ratio", calls.attempted),
    }, calls, {"job_s": times, "setup_s": setups}


def traced(args, wl_cls, work: str, corpus: str, facts) -> tuple[dict[str, Metric], Calls, dict]:
    from perfbench import eventlog
    from perfbench.procmem import PeakRss

    calls = Calls()
    # untraced job_s as the timed runs take it, for the tracing overhead
    spark, _, _ = start_session(Tracer(None))
    wl = wl_cls(spark, work, corpus, facts, args.seed)
    wl.prepare()
    for _ in range(WARM_CALLS):
        calls.run(wl)
    untraced: list[float] = []
    while len(untraced) < MIN_TIMED_CALLS:
        calls.run(wl, untraced)
    spark.stop()

    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    tracer = Tracer(f"{wl.name}-seed{args.seed}-{os.getpid()}")
    event_log = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
    }
    with tracer.span(wl.name):
        spark, start_s, warm_s = start_session(tracer, event_log)
        wl.spark = spark
        # outside any span, so the event log leaves them out: the traced
        # call is warm like the untraced one it is compared with
        for _ in range(WARM_CALLS):
            calls.run(wl)
        with tracer.span("job"), PeakRss() as mem:
            stats = wl.call()
        calls.record(wl.check(stats))
        calls.amend_last(wl.final_check())
        job_s = tracer.duration("job")
        files, size = wl.sink_size()
        m: dict[str, float] = {
            "session.start_s": start_s,
            "session.warmup_s": warm_s,
            "mem.peak_rss_mb": mem.peak_bytes / 2**20,
            "sink.files": files,
            "sink.bytes": size,
            "trace.job_s": job_s,
            "trace.overhead_s": job_s - statistics.median(untraced),
        }
        with tracer.span("ledger"):
            m.update(wl.ledger(tracer, calls))
    spark.stop()

    log = eventlog.read(log_dir)
    m.update(eventlog.stage_metrics(log.for_span("job")[1]))
    m.update(wl.split(m, log))

    spec = {x["name"]: x["unit"] for x in load_spec()["per_layer"]}
    # layers this workload's job does not run report zero work
    metrics = {name: Metric(m.get(name, 0), unit) for name, unit in spec.items()}
    detail = {
        "spans": tracer.closed_spans(),
        "jobs": [vars(j) for j in log.jobs.values()],
        "stages": [vars(s) for s in log.stages.values()],
        "all_layer_values": m,
    }
    return metrics, calls, detail


def run_one(args) -> int:
    from perfbench.corpus import write_corpus
    from perfbench.workloads import WORKLOADS
    from oct_report_ocr_spark.synth.gen_corpus import n_docs_for_sf

    wl_cls = WORKLOADS[args.workload]
    work = os.path.join(WORK_ROOT, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    isolate(work)
    try:
        corpus = os.path.join(work, "docs.parquet")
        facts = write_corpus(corpus, wl_cls.corpus_docs(n_docs_for_sf(args.sf)), args.seed, NPROC)
        if args.trace:
            metrics, calls, detail = traced(args, wl_cls, work, corpus, facts)
            reported = metrics
        else:
            metrics, calls, detail = measure(args, wl_cls, work, corpus, facts)
            names = [x["name"] for x in load_spec()["end_to_end"]]
            reported = {k: metrics[k] for k in names}
    finally:
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)

    results = os.path.join(WORK_ROOT, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(
            {
                "workload": args.workload,
                "nproc": NPROC,
                "sf": args.sf,
                "seed": args.seed,
                "metrics": {k: vars(v) for k, v in metrics.items()},
                "problems": calls.problems,
                **detail,
            },
            f,
            indent=1,
        )
    line = result_line(not calls.problems, calls.attempted, calls.failed, reported)
    check_result_line(line, list(reported))
    print("\n".join(human_lines(args.workload, metrics)))
    print(line)
    return 0


def run_all(args) -> int:
    """Every workload, each in its own process, then one report line."""
    from perfbench.workloads import WORKLOADS

    per_workload = {}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace), "--sf", str(args.sf)]
        out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True).stdout
        print("\n".join(out.splitlines()[:-1]), flush=True)
        with open(os.path.join(WORK_ROOT, "results", f"{name}-seed{args.seed}-trace{args.trace}.json")) as f:
            per_workload[name] = {k: Metric(**v) for k, v in json.load(f)["metrics"].items()}
    print(report_line(per_workload, NPROC, args.sf, args.seed))
    return 0


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=load_spec()["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=DEFAULT_SF)
    args = ap.parse_args(argv)
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
