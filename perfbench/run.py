#!/usr/bin/env python3
"""Extraction benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload corpus --seed 1 --seconds 8 --trace 0

Run from the repository root.  One driver process starts one
``local[nproc]`` session through ``pipeline.session.build_spark`` and runs
the workload closed-loop, one job in flight, until the timed runs add up
to ``--seconds`` (and at least three runs).  Every run's output is
checked; the command exits non-zero when any check fails.

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``:
- ``setup_s``: session start, input build and warm-up (full, unchecked
  runs of the workload);
- ``run_s``: median wall time of one run (the summary line before the
  result adds the maximum and the run count);
- ``turns_per_s``: turns one run extracts / ``run_s``;
- ``ok_rate``: rows whose status is not error/too_many_elements / rows
  attempted; a run that raises or fails its check counts all its rows as
  failed.  ``1 - ok_rate`` is the error rate;
- ``peak_rss_mb``: median over runs of the peak summed RSS of this driver
  process and all its descendants (the JVM and the Python workers) during
  the run, sampled every 0.2 s.

``--trace 1`` reports the per-layer metrics of ``BENCHMARK.json``: the same
set-up and untraced loop, then a second loop in a session with the Spark
event log on and the resume/sink calls wrapped, then a traced in-process
pass over the workload's turns.  Spans go to ``.perfbench_out/``.

Everything is written under the checkout; the work directory is removed at
exit, after the session, the JVM and the Python workers have ended.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.eventlog import MB  # noqa: E402 — needs ROOT on sys.path

MIN_RUNS = 3


# --- processes -------------------------------------------------------------

def descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], list(kids.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_rss_mb(pid: int) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total / MB


class RssSampler:
    """Summed RSS of this process tree, sampled every ``interval`` s."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.samples: list[tuple[float, float]] = []  # (perf_counter, MB)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        pid = os.getpid()
        while True:
            self.samples.append((time.perf_counter(), tree_rss_mb(pid)))
            if self._stop.wait(self.interval):
                return

    def peak_mb(self, start: float, end: float) -> float:
        """Peak over [start, end], or the first sample after ``start``."""
        inside = [mb for t, mb in self.samples if start <= t <= end]
        after = [mb for t, mb in self.samples if t >= start]
        return max(inside) if inside else (after[0] if after else 0.0)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# --- the Spark session -----------------------------------------------------

class Session:
    """The one local session: (re)started per set-up, finally shut down
    together with the JVM behind it."""

    def __init__(self, work: str, cores: int):
        self.work = work
        self.cores = cores
        self.spark = None
        self.event_dir = os.path.join(work, "eventlog")

    def start(self, event_log: bool = False):
        from cl_readability_spark.pipeline.session import build_spark

        self.stop()
        extra = {"spark.sql.warehouse.dir": os.path.join(self.work, "warehouse")}
        if event_log:
            os.makedirs(self.event_dir, exist_ok=True)
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = build_spark(app_name="perfbench", cores=self.cores,
                                 extra_confs=extra)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def event_log(self) -> str:
        """The newest finished event log."""
        files = [f for f in glob.glob(os.path.join(self.event_dir, "*"))
                 if not f.endswith(".inprogress")]
        return max(files, key=os.path.getmtime)

    def shutdown(self):
        """Stop the session and the JVM; wait for every process this
        driver started to end."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the JVM exits at EOF on its stdin
                proc.wait(timeout=60)
        deadline = time.monotonic() + 30
        while descendants(os.getpid()) and time.monotonic() < deadline:
            time.sleep(0.2)
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        for pid in descendants(os.getpid()):
            try:
                os.waitpid(pid, 0)
            except ChildProcessError:
                pass


# --- set-up and the timed loop ---------------------------------------------

def set_up(wl, session: Session, event_log: bool = False) -> dict[str, float]:
    """Session start, input build and warm-up; seconds of each part."""
    wl.reset()
    t0 = time.perf_counter()
    spark = session.start(event_log)
    t1 = time.perf_counter()
    wl.build_input(spark)
    t2 = time.perf_counter()
    wl.warm_up(spark)
    t3 = time.perf_counter()
    return {"session": t1 - t0, "input": t2 - t1, "warm_up": t3 - t2,
            "total": t3 - t0}


def timed_loop(wl, spark, ref: dict, seconds: float, group_prefix=None):
    """Closed loop, one job in flight, until the timed runs add up to
    ``seconds``.  Returns one record per run."""
    sc = spark.sparkContext
    runs: list[dict] = []
    measured = 0.0
    while len(runs) < MIN_RUNS or measured < seconds:
        group = f"{group_prefix}-{len(runs)}" if group_prefix else None
        if group:
            sc.setJobGroup(group, group)
        rec = {"group": group, "wall_start": time.time(), "problems": []}
        t0 = time.perf_counter()
        out = None
        try:
            out = wl.run(spark)
        except Exception:  # noqa: BLE001 — a raising run is a failed run
            rec["problems"].append(traceback.format_exc(limit=4))
        rec["t"] = (t0, time.perf_counter())
        rec["run_s"] = rec["t"][1] - t0
        rec["wall_end"] = time.time()
        if group:
            sc.setLocalProperty("spark.jobGroup.id", None)
        measured += rec["run_s"]
        rec.update(rows=wl.n_turns, error_rows=0)
        if out is not None:
            try:
                res = wl.check(spark, out, ref)
                rec.update(rows=res.rows, error_rows=res.error_rows)
                rec["problems"] += res.problems
            except Exception:  # noqa: BLE001 — a raising check fails the run
                rec["problems"].append(traceback.format_exc(limit=4))
            wl.restore(spark, out)
        rec["ok"] = not rec["problems"]
        rec["parts"] = dict(wl.parts)
        runs.append(rec)
    return runs


# --- the traced run --------------------------------------------------------

def resume_wrappers(tracer, wl) -> dict:
    """Spans around the resume/sink calls ``CheckpointedSink.run`` makes."""
    from pyspark.sql.readwriter import DataFrameWriter

    from cl_readability_spark.pipeline.resume import CheckpointedSink

    parquet = DataFrameWriter.parquet
    sidecar = tracer.span("sidecar_write", parquet)

    def writer_parquet(self, path, *args, **kwargs):
        if str(path).startswith(wl.metrics_root):
            return sidecar(self, path, *args, **kwargs)
        return parquet(self, path, *args, **kwargs)

    return {
        (CheckpointedSink, name): tracer.span(name, getattr(CheckpointedSink, name))
        for name in ("committed_keys", "write_batch", "_write_manifest")
    } | {(DataFrameWriter, "parquet"): writer_parquet}


def traced_loop(wl, session: Session, ref, seconds, tracer):
    """The workload again, in a session with the event log on.  Returns
    the Spark-layer and resume/sink metrics (medians over runs), the runs,
    and the turns one run extracts, read from that session."""
    from perfbench import eventlog
    from perfbench.trace import patched

    set_up(wl, session, event_log=True)
    spark = session.spark
    repl = resume_wrappers(tracer, wl) if wl.name == "resume_write" else {}
    first = len(tracer.spans)
    with patched(repl):
        runs = timed_loop(wl, spark, ref, seconds, group_prefix="traced")
    sink_spans = tracer.spans[first:]
    turns = wl.trace_turns(spark)
    session.stop()
    events = eventlog.read_events(session.event_log())

    # every span on the perf_counter clock; event-log times are epoch ms
    offset = time.perf_counter() - time.time()
    per_run = []
    for r in runs:
        wall = r["wall_end"] - r["wall_start"]
        m = eventlog.group_metrics(events, r["group"], wall, session.cores)
        m.update(r["parts"])
        per_run.append(m)
        run_span = tracer.add("run", *r["t"], r["group"])
        jobs, _ = eventlog.group_jobs(events, r["group"])
        for job_id, (start, end) in jobs.items():
            tracer.spans[tracer.add("spark_job", start / 1e3 + offset,
                                    end / 1e3 + offset, job_id)].parent = run_span
        for span in sink_spans:
            if span.parent is None and r["t"][0] <= span.start <= r["t"][1]:
                span.parent = run_span
    out = {k: statistics.median(m.get(k, 0.0) for m in per_run)
           for k in {k for m in per_run for k in m}}

    def mean_per_run(name):
        return sum(s.end - s.start for s in sink_spans
                   if s.name == name) / len(runs)

    for k in ("sink.written_mb", "curate.call_s", "curate.report_s"):
        out.setdefault(k, 0.0)  # layers this workload does not call
    out.update({
        "resume.committed_keys_s": mean_per_run("committed_keys"),
        "resume.pending_share": wl.n_turns / len(wl.rows) if repl else 0.0,
        "sink.write_s": mean_per_run("write_batch"),
        "sink.sidecar_s": mean_per_run("sidecar_write"),
        "sink.manifest_s": mean_per_run("_write_manifest"),
    })
    return out, runs, turns


# --- main ------------------------------------------------------------------

def bench(args, work: str, out_dir: str) -> dict:
    from perfbench import layers
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload](args.seed, work)
    wl.generate()
    ref, row_ms, ref_wall = layers.reference_pass(wl.checked_turns())

    session = Session(work, cores)
    rss = RssSampler()
    try:
        setup = set_up(wl, session)
        with rss:
            runs = timed_loop(wl, session.spark, ref, args.seconds)
        run_s = [r["run_s"] for r in runs]
        run_med = statistics.median(run_s)
        report = {
            "workload": wl.name, "seed": args.seed, "cores": cores,
            "turns_per_run": wl.n_turns, "run_s_samples": run_s,
            "setup": setup,
            "end_to_end": {
                "setup_s": setup["total"],
                "run_s": run_med,
                "turns_per_s": wl.n_turns / run_med,
                "peak_rss_mb": statistics.median(
                    rss.peak_mb(*r["t"]) for r in runs),
            },
        }
        if args.trace:
            tracer = Tracer()
            layer, traced_runs, turns = traced_loop(
                wl, session, ref, args.seconds, tracer)
            texts = [r[3] for r in wl.rows] or [h for _, _, h in turns]
            runs += traced_runs
            shapes = wl.row_shapes
            if not wl.checked_turns():
                # no correctness reference was needed; the untraced
                # single-thread pass runs here for the baseline
                ref, row_ms, ref_wall = layers.reference_pass(turns)
                shapes = ["base"] * len(turns)
            layer.update(layers.row_metrics(ref, row_ms, shapes, ref_wall))
            layer.update(layers.traced_core_pass(turns, tracer))
            layer.update({
                "session.start_s": setup["session"],
                "input.build_s": setup["input"],
                "input.turns": len(texts),
                "input.html_mb": sum(len(h.encode()) for h in texts) / MB,
                "pipeline.parallel_eff": (wl.n_turns / run_med) / (
                    cores * layer["extract.core_turns_per_s_1t"]),
                "trace.overhead_ratio": statistics.median(
                    r["run_s"] for r in traced_runs) / run_med,
            })
            report["per_layer"] = layer
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(
                out_dir, f"{wl.name}-seed{args.seed}-spans.jsonl"))
    finally:
        session.shutdown()
    rows = sum(r["rows"] for r in runs)
    ok_rows = sum(r["rows"] - r["error_rows"] for r in runs if r["ok"])
    report["end_to_end"]["ok_rate"] = ok_rows / rows
    report.update(
        runs=len(runs), correct=all(r["ok"] for r in runs), attempted=rows,
        failed=sum(r["rows"] for r in runs if not r["ok"]),
        problems=[p for r in runs for p in r["problems"]])
    return report


def result_line(report: dict, trace: int) -> dict:
    """The contract's last line: every metric BENCHMARK.json names for
    this mode, with its unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    values = report["per_layer"] if trace else report["end_to_end"]
    metrics = {m["name"]: {"value": float(values[m["name"]]),
                           "unit": m["unit"]}
               for m in spec["per_layer" if trace else "end_to_end"]}
    return {"correct": report["correct"], "attempted": report["attempted"],
            "failed": report["failed"], "metrics": metrics}


def summary_line(report: dict) -> str:
    e = report["end_to_end"]
    return (f"{report['workload']} seed={report['seed']} cores={report['cores']} "
            f"turns/run={report['turns_per_run']}: setup_s={e['setup_s']:.3f} "
            f"run_s median={e['run_s']:.3f} max={max(report['run_s_samples']):.3f} "
            f"(n={len(report['run_s_samples'])}) "
            f"turns_per_s={e['turns_per_s']:.1f} "
            f"error_rate={1 - e['ok_rate']:.5f} "
            f"peak_rss_mb={e['peak_rss_mb']:.0f}")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["corpus", "adversarial", "resume_write", "curate"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    # the program under test is this checkout's package; without it the
    # import fails and the command exits non-zero before any result
    import cl_readability_spark  # noqa: F401

    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))])
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # everything a run writes stays in the work directory: Python and
    # Spark temporary files, and the JVMs' (launcher and driver) temporary
    # files, with no perf-data file in the system temp directory
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        os.environ.get("JAVA_TOOL_OPTIONS")]))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    try:
        report = bench(args, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}"
                                    f"-trace{args.trace}.json"), "w") as f:
        json.dump(report, f, indent=1)
    for problem in report["problems"][:10]:
        print("CHECK FAILED:", problem, file=sys.stderr)
    result = result_line(report, args.trace)
    print(summary_line(report))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
