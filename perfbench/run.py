"""richdem_spark benchmark: one workload per invocation, closed loop, one
client (a batch user running pass after pass).

    python3 perfbench/run.py --workload hydro_manytile --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a checkout: it builds its inputs from ``--seed``
under ``.perfbench_work/``, starts a ``local[nproc]`` session with
``spark.sql.shuffle.partitions = nproc``, runs a checked warm-up pass
(part of ``setup_s``), then timed passes until ``--seconds`` of passes
have run.  Every pass gets a freshly built input; between passes the
benchmark checks the outputs, records what the pass left persisted and
clears the Spark cache, all outside the timing.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on the
Spark event log and job-group tags, alternates untagged and tagged
passes, and reports the per-layer metrics.  The last stdout line is one
JSON object; the lines before it give every number by name and unit.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

T_START = time.perf_counter()

# the serial references and kernel probes are single-thread baselines;
# this must precede the first NumPy import
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[_v] = "1"

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
TRACES = os.path.join(ROOT, ".perfbench_traces")
# fits a 4-core, 15 GB machine shared with other jobs; the engine's own
# default (24g) assumes a dedicated large driver
DRIVER_MEM = "2g"

E2E = {"setup_s": "s", "pass_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
    "baseline.serial_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.persisted_rdds_delta": "count",
    "spark.storage_used_mb": "MB",
}


def _unit(name: str) -> str:
    if "us_per_tile" in name:
        return "us"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_s") or "s_per_" in name:
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac"):
        return "ratio"
    return "count"


# ---------------------------------------------------------------------------
# peak resident memory of the process tree
# ---------------------------------------------------------------------------


def _tree_pss_bytes(root: int) -> int:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        # PSS, not RSS: a freshly forked child shares its parent's pages,
        # and summing RSS would count those pages twice
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler(threading.Thread):
    """Samples the summed proportional set size of this process, the JVM
    and the Python workers every 0.2 s; ``peak`` is the largest sum
    seen."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self):
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, _tree_pss_bytes(os.getpid()))
            self._stop_evt.wait(0.2)

    def stop(self) -> int:
        self._stop_evt.set()
        self.join(timeout=5)
        return self.peak


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------


class Bench:
    def __init__(self, args, cpus: int):
        self.args = args
        self.cpus = cpus
        self.attempted = 0
        self.failed = 0
        self.passes: list[dict] = []
        self.lines: list[str] = []
        self.spark = None

    def say(self, name: str, value, unit: str) -> None:
        self.lines.append(f"{name} {value} {unit}")

    def session(self):
        from richdem_spark.session import get_spark

        conf = {
            "spark.local.dir": os.path.join(WORK, "local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(WORK, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        spark = get_spark(app=f"perfbench-{self.args.workload}",
                          extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def close(self) -> None:
        """Stop the session and wait until the JVM has exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            gateway.shutdown()
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            proc.wait(timeout=60)

    def reset(self) -> None:
        """Drop every cached table and persisted RDD between passes."""
        self.spark.catalog.clearCache()
        for rdd in list(self.jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)

    def storage_mb(self) -> float:
        infos = self.jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20

    def do_pass(self, k: int) -> dict:
        wl, tr = self.wl, self.tracer
        tr.pass_id = k
        before = len(self.jsc.getPersistentRDDs())
        wl.completed = 0
        handles, error = None, None
        t0 = time.perf_counter()
        try:
            with tr.span("pass", "pass"):
                handles = wl.run_pass(k)
        except Exception:
            error = traceback.format_exc()
        wall = time.perf_counter() - t0
        rec = {"pass": k, "wall_s": wall, "tagged": tr.tag_jobs}
        self.attempted += wl.completed + (error is not None)
        if error is not None:
            self.failed += 1
            print(error, file=sys.stderr)
        else:
            ok = wl.check(handles)
            bad = sorted(op for op, good in ok.items() if not good)
            self.failed += len(bad)
            rec["failed_checks"] = bad
            rec["storage_used_mb"] = self.storage_mb()
            wl.release(handles)
        # what the pass left persisted beyond the outputs it released
        rec["persisted_rdds_delta"] = (
            len(self.jsc.getPersistentRDDs()) - before)
        self.reset()
        return rec

    def run(self) -> dict:
        from richdem_spark.ops.solve import derived_driver_solve_max

        from spans import Tracer
        from workloads import WORKLOADS

        args = self.args
        t = time.perf_counter()
        self.spark = self.session()
        self.jsc = self.spark.sparkContext._jsc
        session_s = time.perf_counter() - t
        self.tracer = Tracer(self.spark.sparkContext)
        self.wl = wl = WORKLOADS[args.workload](
            self.spark, self.tracer, os.path.join(WORK, "run"), args.seed,
            args.toy)
        t = time.perf_counter()
        wl.setup()
        inputs_s = time.perf_counter() - t
        config = {"workload": wl.name, "seed": args.seed,
                  "nproc": self.cpus, "master": f"local[{self.cpus}]",
                  "driver_mem": DRIVER_MEM,
                  "driver_solve_max_rows":
                      derived_driver_solve_max(self.spark),
                  **wl.describe()}
        print("config " + json.dumps(config), flush=True)
        # a first pass on the same inputs, checked like the others, warms
        # the JVM, code generation and the Python workers
        wl.corrupt = args.corrupt
        warm = self.do_pass(0)
        setup_s = time.perf_counter() - T_START

        measured = 0.0
        # a traced run needs an untagged pass after a tagged one: the
        # first timed pass still runs slow, so it is not compared
        min_passes = 3 if args.trace else 2
        k = 1
        while len(self.passes) < min_passes or measured < args.seconds:
            # traced run: odd passes untagged, even passes tagged
            self.tracer.tag_jobs = bool(args.trace) and k % 2 == 0
            rec = self.do_pass(k)
            self.passes.append(rec)
            measured += rec["wall_s"]
            k += 1
        self.tracer.tag_jobs = False
        self.tracer.pass_id = None

        tagged = [p["pass"] for p in self.passes
                  if p["tagged"] and p["pass"] + 1 <= len(self.passes)]
        layers = {}
        if args.trace:
            wl.completed = 0
            self.tracer.tag_jobs = True
            layers = wl.probes(tagged)
            self.tracer.tag_jobs = False
            # the probes' own checked engine calls
            self.attempted += wl.completed
            self.failed += wl.probe_failed
        self.close()

        pass_s = statistics.median(p["wall_s"] for p in self.passes)
        self.say("setup_s.session", session_s, "s")
        self.say("setup_s.inputs_and_references", inputs_s, "s")
        self.say("setup_s.warmup_pass", warm["wall_s"], "s")
        for p in self.passes:
            self.say(f"pass{p['pass']}.wall_s", p["wall_s"], "s")
        for stage, spans in wl.stages:
            self.say(stage, statistics.median(
                sum(self.tracer.seconds(s, p["pass"]) for s in spans)
                for p in self.passes), "s")
        self.say(f"{wl.work_unit}_per_s", wl.units() / pass_s,
                 f"{wl.work_unit}/s")
        self.say("failed_frac", self.failed / max(self.attempted, 1),
                 "ratio")
        metrics = {"setup_s": setup_s, "pass_s": pass_s}
        if args.trace:
            metrics = self.per_layer(layers, tagged)
        return {"metrics": metrics, "config": config, "warmup": warm,
                "layers": layers}

    def per_layer(self, layers: dict, tagged: list[int]) -> dict:
        from spans import read_event_log, span_totals

        tr = self.tracer
        groups = read_event_log(os.path.join(WORK, "events"))
        totals = span_totals(tr.spans, groups)
        by_pass = {s["pass_id"]: totals[s["id"]] for s in tr.spans
                   if s["name"] == "pass"}
        wall = {p["pass"]: p["wall_s"] for p in self.passes}

        def med(fn):
            return statistics.median(fn(k) for k in tagged)

        out = {
            "trace.pass_s": med(lambda k: wall[k]),
            # each tagged pass against the untagged pass right after it
            "trace.overhead_s": med(lambda k: wall[k] - wall[k + 1]),
            "baseline.serial_s": self.wl.baseline_s,
            "spark.jobs": med(lambda k: by_pass[k]["jobs"]),
            "spark.stages": med(lambda k: by_pass[k]["stages"]),
            "spark.tasks": med(lambda k: by_pass[k]["tasks"]),
            "spark.task_s": med(lambda k: by_pass[k]["task_s"]),
            "spark.shuffle_write_mb": med(
                lambda k: by_pass[k]["shuffle_write_bytes"] / 2**20),
            "spark.persisted_rdds_delta": statistics.median(
                p["persisted_rdds_delta"] for p in self.passes),
            "spark.storage_used_mb": statistics.median(
                p.get("storage_used_mb", 0.0) for p in self.passes),
        }
        # per-op Spark work, from the job groups of the tagged passes
        ops: dict[str, list[dict]] = {}
        for s in tr.spans:
            if s["tagged"] and s["name"] != "pass":
                ops.setdefault(s["name"], []).append(totals[s["id"]])
        for name, rows in sorted(ops.items()):
            for key in ("jobs", "stages", "tasks", "shuffle_write_bytes"):
                layers[f"spark.{key}.{name}"] = statistics.median(
                    r[key] for r in rows)
        for name, v in sorted(layers.items()):
            self.say(name, v, _unit(name))
        return out


def parse_args(argv=None):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--toy", action="store_true",
                   help="tiny inputs (self-test only)")
    p.add_argument("--corrupt", action="store_true",
                   help="change one output cell before its check "
                        "(self-test only)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "richdem_spark", "api.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no richdem_spark source tree at {ROOT}",
              file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "local", "events"):
        os.makedirs(os.path.join(WORK, d))
    os.makedirs(TRACES, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": os.path.join(WORK, "tmp"),
        # every JVM (the launcher too) keeps its temp files in the work
        # directory and writes no perf-data file under /tmp
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData -Djava.io.tmpdir="
                             + os.path.join(WORK, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "local"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
    })
    sys.path.insert(0, ROOT)

    sampler = RssSampler()
    sampler.start()
    bench = Bench(args, cpus)
    try:
        res = bench.run()
    finally:
        bench.close()
        peak = sampler.stop()
        shutil.rmtree(WORK, ignore_errors=True)
    metrics = res["metrics"]
    if not args.trace:
        metrics["peak_rss_mb"] = peak / 2**20
    units = PER_LAYER if args.trace else E2E
    for name, unit in units.items():
        bench.say(name, metrics[name], unit)
    trace_path = os.path.join(
        TRACES, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    bench.tracer.dump(trace_path, {
        "config": res["config"], "warmup": res["warmup"],
        "passes": bench.passes, "layers": res["layers"],
        "metrics": metrics, "lines": bench.lines})
    for line in bench.lines:
        print(line)
    print(f"trace written to {os.path.relpath(trace_path, ROOT)}")
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {n: {"value": metrics[n], "unit": u}
                    for n, u in units.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
