"""Seeded benchmark of the (k,P)-anonymous time-series engine.

Usage, from the repository root:

    python3 perfbench/run.py --workload anonymize --seed 1 --seconds 8 --trace 0

Workloads (see perfbench/workloads.py and BENCHMARK.json):

- ``anonymize``: stored transcripts -> ``conv_turn_rate_series`` ->
  ``kapra_anonymize``. ``naive_anonymize`` runs on the same series in the
  warm-up and, in a traced run, after the traced iteration; never inside
  the timed wall.
- ``retention_tiers``: stored agent turns -> ``inter_event_latency`` ->
  ``materialize_cascade`` (1m/1h/1d with lineage) -> ``compress_chunks``
  -> ``decompress_chunks``; then a 15th day is appended and the cascade
  resumed.

Set-up starts Spark, generates and stores the seeded inputs and runs one
full pipeline as a warm-up. The timed part is a closed loop with one
client: the next pipeline starts only after the previous one finished and
was checked. Iterations repeat until their summed wall time reaches
``--seconds``. Spark runs on local[n] with n = the CPUs this process may
use.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json: set-up
time and input turns per second of pipeline wall (median over
iterations). ``--trace 1`` runs an untraced, a traced and another
untraced iteration, with single-layer probes after the traced one, and
prints the per-layer metrics: the peak RSS of the driver python process
plus the JVM, span times and self times around every engine call, Spark jobs
and driver-side gaps per layer, event-log counters, probe costs per
row/point, and the tracing overhead (traced wall minus the mean of the two
untraced walls). Spans are written to ``.perfbench/`` at the end.

A human-readable table goes to stdout first; the last stdout line is one
JSON object. Any failed output check makes ``correct`` false and the exit
code 1. Every file the run writes stays under ``.perfbench/`` in the
repository root.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ENGINE = "kapra_timeseries_anonymization_spark"


class Stage:
    wall = 0.0


class Bench:
    """One run: the Spark session, the tracer and the layer context."""

    def __init__(self, workload: str, seed: int, work: Path, traced: bool):
        from perfbench.trace import Tracer

        self.seed = seed
        self.work = str(work)
        self.traced = traced
        self.tracer = Tracer(workload, enabled=False)
        self.eventlog = work / "eventlog"
        self.stages: dict[str, float] = {}
        self.spark = None

    def start_session(self) -> None:
        from kapra_timeseries_anonymization_spark.session import build_session

        tmp = Path(self.work) / "tmp"
        conf = {
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(Path(self.work) / "warehouse"),
        }
        if self.traced:
            self.eventlog.mkdir()
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = self.eventlog.as_uri()
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        self.spark = build_session("perfbench", master=f"local[{_cpus()}]",
                                   extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")

    def release(self) -> int:
        from kapra_timeseries_anonymization_spark.plans import lifetime

        n = lifetime.release_all()
        if lifetime.pending():
            raise RuntimeError("lifetime registry not drained")
        return n

    @contextmanager
    def layer(self, name: str, probe: bool = False):
        """Time one call into the engine. In a traced iteration it is also
        a span, and its Spark jobs carry the job group ``pb:<kind>:<name>``."""
        st = Stage()
        sc = self.spark.sparkContext
        if self.tracer.enabled:
            sc.setJobGroup(f"pb:{'probe' if probe else 'it'}:{name}", name)
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name):
                yield st
        finally:
            st.wall = self.stages[name] = time.perf_counter() - t0
            if self.tracer.enabled:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def peak_rss_mb(self) -> float:
        jvm = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return (_vm_hwm_kb(os.getpid()) + _vm_hwm_kb(jvm)) / 1024.0

    def stop(self) -> None:
        """Stop Spark and wait until the JVM and its python workers exit."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        workers = _children(proc.pid)
        if self.spark is not None:
            self.spark.stop()
        gw.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
        deadline = time.monotonic() + 30
        while workers and time.monotonic() < deadline:
            workers = [p for p in workers if Path(f"/proc/{p}").exists()]
            time.sleep(0.05)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _children(pid: int) -> list[int]:
    out = []
    for d in Path("/proc").iterdir():
        if d.name.isdigit():
            try:
                if int((d / "stat").read_text().rsplit(")", 1)[1].split()[1]) == pid:
                    out.append(int(d.name))
            except (OSError, IndexError, ValueError):
                pass
    return out


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def run(args, work: Path) -> tuple[dict, int, int]:
    from perfbench.trace import parse_event_log

    bench = Bench(args.workload, args.seed, work, traced=bool(args.trace))
    try:
        metrics, attempted, failed = _measure(args, bench)
    finally:
        bench.stop()
    if args.trace:
        metrics.update(parse_event_log(str(bench.eventlog), "pb:it:"))
    return metrics, attempted, failed


def _measure(args, bench: Bench) -> tuple[dict, int, int]:
    from kapra_timeseries_anonymization_spark.plans import lifetime
    from perfbench.trace import DriverGapPoller
    from perfbench.workloads import WORKLOADS

    attempted = failed = 0
    metrics: dict[str, float] = {}

    def account(fails: list[str]) -> None:
        nonlocal attempted, failed
        attempted += 1
        if fails:
            failed += 1
            for f in fails:
                print(f"CHECK FAILED: {f}", file=sys.stderr)

    t0 = time.perf_counter()
    bench.start_session()
    print(f"session start: {time.perf_counter() - t0:.3f} s")
    w = WORKLOADS[args.workload](bench)
    setup_fails = w.setup()
    metrics["setup_s"] = time.perf_counter() - t0
    print(f"set-up: {metrics['setup_s']:.3f} s")
    account(setup_fails)

    walls: list[float] = []
    last_window = (0.0, 0.0)
    stage_rows: list[dict] = []
    registered: list[int] = []

    def iteration(keep: bool) -> float:
        """Run, time and check one pipeline; returns the seconds spent."""
        nonlocal last_window
        bench.stages = {}
        t = time.perf_counter()
        try:
            out = w.iterate(bench.layer)
            wall = time.perf_counter() - t
            stats, fails = w.check(out, keep)
            registered.append(bench.release())
        except Exception:
            traceback.print_exc()
            account(["iteration raised"])
            walls.append(float("nan"))
            return time.perf_counter() - t
        finally:
            bench.tracer.iteration += 1
        account(fails)
        walls.append(wall)
        last_window = (t, t + wall)
        stage_rows.append({**stats, **w.stage_metrics(bench.stages, stats)})
        print(f"iteration {len(walls) - 1}: wall {wall:.3f} s; "
              + ", ".join(f"{k} {v:.3f} s" for k, v in bench.stages.items()))
        return wall

    def finish() -> None:
        """The workload's untimed step after the traced pipeline, if any."""
        if not hasattr(w, "finish") or walls[-1] != walls[-1]:
            return
        t = time.perf_counter()
        try:
            m, fails = w.finish(bench.layer)
            metrics.update(m)
            bench.release()
        except Exception:
            traceback.print_exc()
            fails = ["finish raised"]
        account(fails)
        print(f"untimed step: {time.perf_counter() - t:.3f} s")

    if not args.trace:
        spent = 0.0
        while spent < args.seconds:
            spent += iteration(keep=False)
    else:
        iteration(keep=False)
        bench.tracer.enabled = True
        sc = bench.spark.sparkContext
        with DriverGapPoller(sc) as poller:
            traced_it, traced_row = bench.tracer.iteration, len(stage_rows)
            iteration(keep=True)
            traced_ok = walls[-1] == walls[-1]
            window = last_window
            # the untimed step's spans belong to the traced iteration
            bench.tracer.iteration = traced_it
            finish()
            bench.tracer.iteration = traced_it + 1
            if traced_ok:
                try:
                    m, fails = w.probes(bench.layer)
                    metrics.update(m)
                except Exception:
                    traceback.print_exc()
                    fails = ["probes raised"]
                account(fails)
        bench.tracer.enabled = False
        # an untraced iteration on each side of the traced one, so that
        # the overhead estimate is not skewed by the warm-up trend
        iteration(keep=False)
        if traced_ok:
            _layer_metrics(metrics, bench, poller, traced_it, walls, window, sc)
            # stage figures of the traced iteration alone
            stage_rows = stage_rows[traced_row:traced_row + 1]
        bench.tracer.dump(str(ROOT / ".perfbench" /
                              f"spans-{args.workload}-{args.seed}.jsonl"))
    if hasattr(w, "oracle_check"):
        t = time.perf_counter()
        try:
            fails = w.oracle_check()
        except Exception:
            traceback.print_exc()
            fails = ["oracle check raised"]
        account(fails)
        print(f"oracle check: {time.perf_counter() - t:.3f} s")

    good = [x for x in walls if x == x]
    metrics["turns_per_s"] = w.items / _median(good) if good else float("nan")
    for k in stage_rows[0] if stage_rows else ():
        metrics[k] = _median([r[k] for r in stage_rows])
    metrics["peak_rss_mb"] = bench.peak_rss_mb()
    metrics["lifetime.registered"] = _median(registered)
    metrics["lifetime.pending_after"] = lifetime.pending()
    metrics["error_rate"] = failed / max(attempted, 1)
    return metrics, attempted, failed


def _layer_metrics(metrics, bench, poller, it, walls, window, sc) -> None:
    """Per-layer figures of the traced iteration ``it``, whose timed
    pipeline ran in ``window``."""
    tr = bench.tracer
    totals = tr.totals(it)
    tracker = sc.statusTracker()
    spans = [s for s in tr.spans if s.iteration == it]
    top = [s for s in spans if s.parent is None]
    for name, (dur, self_s) in totals.items():
        metrics[f"{name}_s"] = dur
        if name == "naive.anonymize":
            metrics["naive.split_s"] = self_s
        elif name != "naive.mondrian":
            metrics[f"{name}.self_s"] = self_s
    for s in top:
        layer = s.name.split(".")[0]
        if layer in ("kapra", "naive"):
            metrics[f"{layer}.driver_gap_s"] = poller.idle(s.start, s.end)
            metrics[f"{layer}.jobs"] = len(tracker.getJobIdsForGroup(f"pb:it:{s.name}"))
    traced_wall, untraced_wall = walls[1], (walls[0] + walls[2]) / 2
    metrics["trace.wall_s"] = traced_wall
    metrics["trace.untraced_wall_s"] = untraced_wall
    metrics["trace.overhead_s"] = traced_wall - untraced_wall
    # share of the timed pipeline's wall that layer spans cover
    a, b = window
    metrics["trace.coverage"] = sum(
        s.end - s.start for s in top if a <= s.start and s.end <= b) / traced_wall


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_path = ROOT / "BENCHMARK.json"
    if not (ROOT / ENGINE).is_dir() or not spec_path.is_file():
        print(f"perfbench: {ENGINE}/ or BENCHMARK.json not found under {ROOT}; "
              "run from a full checkout", file=sys.stderr)
        return 2
    spec = json.loads(spec_path.read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # everything Spark, the JVM and python write goes under the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    # the JVM that spark-submit starts to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, str(ROOT))
    try:
        metrics, attempted, failed = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    known = {m["name"] for m in spec["per_layer"] + spec["end_to_end"]}
    unknown = sorted(set(metrics) - known)
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {unknown}")
    print(f"{'metric':40s} {'value':>18s}  unit")
    for m in spec["end_to_end"] + spec["per_layer"]:
        if m["name"] in metrics:
            print(f"{m['name']:40s} {metrics[m['name']]:18.6g}  {m['unit']}")
    # a layer this workload does not run reports 0; a figure that could not
    # be measured (NaN) only occurs together with a failed operation
    out = {}
    for m in wanted:
        v = float(metrics.get(m["name"], 0.0))
        out[m["name"]] = {"value": v if math.isfinite(v) else 0.0, "unit": m["unit"]}
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
