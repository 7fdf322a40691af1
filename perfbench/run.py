"""The repository's benchmark.

Runs one named workload (see ``workloads.py``) of ``__spark_entry__.queries()``
keys on inputs generated from ``--seed``, in one driver process on
``local[<cpus>]``, as a closed loop with one client. After set-up (input
generation, session start and the workload's warm-up pass) it runs one
measured pass over the workload's keys per nominal pass time (see
``workloads.py``) in ``--seconds``, at least ``MIN_PASSES``, checks every
job's output, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (see BENCHMARK.json) and writes the spans to
``.perfbench_out/trace-<workload>-seed<seed>.json``.

    python3 perfbench/run.py --workload stream_drain --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1   # every workload, both modes

Run it from the repository root. The benchmark's own files (inputs, Spark's
temporary and local directories, traces) stay under the repository root; the
program keeps the scratch locations it ships with.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK_ROOT = ROOT / ".perfbench_work"
OUT = ROOT / ".perfbench_out"
RUN_TIMEOUT_S = 170
# measured passes per run at least: per-key medians over them hold against
# two disturbed passes
MIN_PASSES = 5
# fixed driver heap (initial = maximum, set through the program's own knob)
# whose pages are touched when the JVM starts. The heap's share of the RSS
# otherwise depends on how far the JVM grew the heap, or its young
# generation, in that run: on 4 cores, llm_curation's driver JVM had an RSS
# of 2.5 GB in some runs and 3.5 GB in others with a 2g initial and the
# program's 8g maximum heap, and stream_drain's peak RSS ranged from 1.8 to
# 2.4 GB with a fixed 2g heap. With the heap touched, the peak RSS moves with
# the memory outside the heap: Python processes, off-heap buffers, code.
DRIVER_HEAP = "2g"

import procs  # noqa: E402
from workloads import ROWS_ONLY, WORKLOADS, connector_family  # noqa: E402

E2E_UNITS = {"setup_s": "s", "pass_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}
STREAM_PARTS = ("latestOffset", "queryPlanning", "addBatch", "walCommit",
                "commitOffsets")
LAYER_UNITS = {
    "plans.build_s": "s", "plans.build_jobs": "count", "catalyst.plan_s": "s",
    "exec.action_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.failed_tasks": "count", "exec.run_s": "s",
    "exec.cpu_s": "s", "exec.gc_s": "s",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.spill_mb": "MB",
    "pyboundary.run_s": "s", "pyboundary.init_s": "s", "pyboundary.start_s": "s",
    "pyboundary.sent_mb": "MB", "pyboundary.returned_mb": "MB",
    "streaming.batches": "count", "streaming.empty_batches": "count",
    **{f"streaming.{p}_ms": "ms" for p in STREAM_PARTS},
    "streaming.state_commit_ms": "ms", "streaming.state_rows": "count",
    "streaming.state_mb": "MB", "streaming.input_rows": "count",
    "streaming.microbatch_p50_ms": "ms",
    "cache.persisted_rdds": "count", "cache.storage_mb": "MB",
    "cache.leaked_rdds": "count",
    "cpu.driver_py_s": "s", "cpu.jvm_s": "s", "cpu.pyworkers_s": "s",
    **{f"connector.{f}_s": "s" for f in ("kafka", "iceberg", "jdbc", "avro", "queue")},
    "trace.pass_s": "s",
}
MB = 2**20


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(work: Path, trace: bool) -> dict[str, str]:
    """Environment for the program, set before the JVM starts: core count, a
    fixed driver heap, the repository root on every Python worker's path,
    and the temporary, Spark-local, scratch and warehouse directories inside
    ``work``. The program's other choices, such as the streaming checkpoint
    location, are left as it ships them."""
    dirs = {d: work / d for d in ("tmp", "spark-local", "scratch", "warehouse",
                                  "eventlog")}
    for d in dirs.values():
        d.mkdir(parents=True, exist_ok=True)
    # no hsperfdata files in /tmp, from the driver JVM or the launcher JVM
    java_opts = (f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData "
                 f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch")
    conf = {
        "spark.driver.extraJavaOptions": java_opts,
        "spark.sql.warehouse.dir": str(dirs["warehouse"]),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": dirs["eventlog"].as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    submit = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_HEAP,
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "SPARK_LOCAL_DIRS": str(dirs["spark-local"]),
        "TMPDIR": str(dirs["tmp"]),
        "FLINKRUNNER_SCRATCH_DIR": str(dirs["scratch"]),
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = None
    sys.path.insert(0, str(ROOT))
    return env


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Bench:
    def __init__(self, args: argparse.Namespace, work: Path):
        self.wl = WORKLOADS[args.workload]
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.spark = None
        self.jvm = None
        self.failures: dict[str, list[str]] = {}
        self.attempted = 0
        self.leaked = 0

    # ---- set-up and teardown -------------------------------------------
    def setup(self) -> None:
        t0 = time.perf_counter()
        self._watchdog = threading.Timer(RUN_TIMEOUT_S, self._abort)
        self._watchdog.daemon = True
        self._watchdog.start()
        self.sampler = procs.RssSampler(os.getpid())
        self.sampler.start()
        self.env = pin_environment(self.work, self.trace)
        from inputs import make_inputs

        self.sf_dir = make_inputs(self.seed, WORK_ROOT / "inputs")
        t_gen = time.perf_counter()
        import __spark_entry__ as entry
        from flinkrunner_spark import get_spark
        from pyspark import SparkContext

        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm = SparkContext._gateway.proc
        t_session = time.perf_counter()
        if self.trace:
            import tracing

            self.tracing = tracing
            self.store = tracing.StatusStore(self.spark)
            self.spans = tracing.Spans()
            self.epoch0 = time.time() - time.perf_counter()
        self.warmup = [self.run_pass(f"warm-up-{i + 1}")
                       for i in range(self.wl.warmup_passes)]
        self.setup_s = time.perf_counter() - t0
        self.setup_parts = {"inputs_s": t_gen - t0, "session_s": t_session - t_gen,
                            "warmup_s": sum(p["wall"] for p in self.warmup)}

    def _abort(self) -> None:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S}s, aborting", file=sys.stderr)
        if self.jvm is not None:
            self.jvm.kill()
        os._exit(3)

    def teardown(self) -> None:
        self._watchdog.cancel()
        self.sampler.stop()
        if self.spark is None:
            return
        started = {pid: st[4] for pid, st in procs.tree(os.getpid()).items()
                   if pid != os.getpid()}
        try:
            self.spark.stop()
        finally:
            from pyspark import SparkContext

            SparkContext._gateway.shutdown()
            self.jvm.stdin.close()
            try:
                self.jvm.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.jvm.kill()
                self.jvm.wait()
            procs.wait_gone(started, timeout=20)

    # ---- passes ---------------------------------------------------------
    def reset_caches(self) -> int:
        """Call every ``release_caches`` the program defines, clear Spark's
        cache, and return how many RDDs are still persisted."""
        for name, mod in list(sys.modules.items()):
            fn = getattr(mod, "release_caches", None)
            if name.startswith("flinkrunner_spark") and callable(fn) \
                    and getattr(fn, "__module__", None) == name:
                fn()
        self.spark.catalog.clearCache()
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def run_pass(self, label: str) -> dict:
        self.leaked = max(self.leaked, self.reset_caches())
        cpu0 = procs.CpuSnapshot(os.getpid(), self.jvm.pid)
        self.sampler.reset()
        t0 = time.perf_counter()
        jobs = [self.run_job(key, label) for key in self.wl.keys]
        wall = time.perf_counter() - t0
        cpu = procs.CpuSnapshot(os.getpid(), self.jvm.pid) - cpu0
        out = {"label": label, "wall": wall, "cpu": cpu,
               "peak_rss_mb": self.sampler.peak_mb(), "jobs": jobs}
        if self.trace:
            out["cache"] = self.store.cache()
        return out

    def run_job(self, key: str, label: str) -> dict:
        job = {"key": key, "pass": label}
        now, trace = time.perf_counter, self.trace
        try:
            if trace:
                m0 = self.store.mark()
            cpu0 = procs.CpuSnapshot(os.getpid(), self.jvm.pid)
            b0 = now()
            df = self.queries[key](self.spark, str(self.sf_dir))
            b1 = now()
            if trace:
                m1 = self.store.mark()
                p0 = now()
                df._jdf.queryExecution().executedPlan()
                p1 = now()
            a0 = now()
            job["pdf"] = df.toPandas()
            a1 = now()
        except Exception as e:  # a failing job is reported; the pass goes on
            first = (str(e).strip().splitlines() or [""])[0]
            job["error"] = f"{type(e).__name__}: {first[:300]}"
            for q in self.spark.streams.active:
                q.stop()
            return job
        job["cpu"] = procs.CpuSnapshot(os.getpid(), self.jvm.pid) - cpu0
        job["t"] = (b0, a1)
        job["build_s"], job["action_s"] = b1 - b0, a1 - a0
        if trace:
            m2 = self.store.mark()
            job["plan_s"] = p1 - p0
            job["build_jobs"] = m1[0] - m0[0]
            job["jobs"] = m2[0] - m0[0]
            job["stages"] = self.store.stages_after(m0[1])
            e = self.epoch0
            jid = self.spans.add("job", e + b0, e + a1, key=key, **{"pass": label})
            self.spans.add("build", e + b0, e + b1, jid)
            self.spans.add("plan", e + p0, e + p1, jid)
            self.spans.add("action", e + a0, e + a1, jid)
            job["span"] = jid
        return job

    # ---- the run --------------------------------------------------------
    def measure(self) -> list[dict]:
        # the pass count, not a clock, ends the measurement, so a faster
        # program is measured at the same point of its warm-up as a slower one
        n = max(MIN_PASSES, round(self.seconds / self.wl.nominal_pass_s))
        passes = [self.run_pass(f"pass-{i + 1}") for i in range(n)]
        self.leaked = max(self.leaked, self.reset_caches())
        return passes

    def check(self, passes: list[dict]) -> None:
        from checks import OutputChecker

        checker = OutputChecker(self.sf_dir, self.oracles, ROWS_ONLY, self.work / "tmp")
        try:
            for p in passes:
                for job in p["jobs"]:
                    self.attempted += 1
                    pdf = job.pop("pdf", None)
                    why = job.get("error") or checker.check(job["key"], pdf)
                    if why is not None:
                        self.failures.setdefault(job["key"], []).append(f"{p['label']}: {why}")
        finally:
            checker.close()

    # ---- metrics --------------------------------------------------------
    def end_to_end(self, passes: list[dict]) -> dict[str, float]:
        return {
            "setup_s": self.setup_s,
            "pass_s": per_key_median(passes, job_wall),
            "cpu_s": per_key_median(passes, lambda j: sum(j["cpu"].values())),
            "peak_rss_mb": median([p["peak_rss_mb"] for p in passes]),
        }

    def per_layer(self, passes: list[dict]) -> dict[str, float]:
        tr = self.tracing
        py_by_stage, progress = tr.read_event_log(self.work / "eventlog")
        jobs = [j for p in [*self.warmup, *passes] for j in p["jobs"] if "t" in j]
        e = self.epoch0
        for rec in progress:
            start = tr.progress_start(rec)
            owner = next((j for j in jobs if e + j["t"][0] <= start <= e + j["t"][1]), None)
            if owner is None:
                continue
            owner.setdefault("progress", []).append(rec)
            dur = rec.get("durationMs", {})
            mid = self.spans.add("microbatch", start,
                                 start + dur.get("triggerExecution", 0) / 1e3,
                                 owner["span"], batch=rec.get("batchId"))
            t = start
            for part in tr.DURATION_PARTS:
                if part in dur:  # parts have no start times: laid out in trigger order
                    self.spans.add(part, t, t + dur[part] / 1e3, mid)
                    t += dur[part] / 1e3
        for job in jobs:
            job["counters"] = job_counters(job, py_by_stage)
            self.spans.spans[job["span"]]["counters"] = job["counters"]
        totals = [layer_totals(p) for p in passes]
        out = {name: median([t[name] for t in totals]) for name in LAYER_UNITS}
        batches = sorted(rec["durationMs"].get("triggerExecution", 0)
                         for p in passes for j in p["jobs"] for rec in j.get("progress", ()))
        out["streaming.microbatch_p50_ms"] = nearest_rank(batches, 50)
        self.n_batches = len(batches)
        out["cache.leaked_rdds"] = self.leaked
        out["trace.pass_s"] = per_key_median(passes, job_wall)
        return out

    def report(self, passes: list[dict], metrics: dict[str, float]) -> None:
        """Human-readable lines ahead of the JSON result line."""
        print(f"perfbench workload={self.wl.name} seed={self.seed} "
              f"trace={int(self.trace)} loop=closed,1-client keys={len(self.wl.keys)} "
              f"passes={len(passes)}+{self.wl.warmup_passes} warm-up inputs={self.sf_dir.name}")
        print("env " + json.dumps({k: v for k, v in self.env.items()
                                   if k != "PYSPARK_SUBMIT_ARGS"}))
        print("setup parts " + " ".join(f"{k}={v:.3f}" for k, v in self.setup_parts.items()))
        print("pass wall_s " + " ".join(f"{p['wall']:.3f}" for p in passes))
        print("pass cpu_s  " + " ".join(f"{sum(p['cpu'].values()):.3f}" for p in passes))
        units = LAYER_UNITS if self.trace else E2E_UNITS
        for name, value in metrics.items():
            print(f"  {name:32s} {value:14.4f} {units[name]}")
        if self.trace:
            print(f"  microbatch samples {self.n_batches}")
        for key in self.wl.keys:
            js = [j for p in passes for j in p["jobs"] if j["key"] == key and "t" in j]
            if js:
                print(f"  job {key:28s} " + " ".join(
                    f"{part} {median([j[part] for j in js]):7.3f}s"
                    for part in ("build_s", "plan_s", "action_s") if part in js[0]))
        failed = sum(len(v) for v in self.failures.values())
        print(f"fail_ratio {failed}/{self.attempted} = "
              f"{failed / max(1, self.attempted):.4f}")
        for key, whys in self.failures.items():
            print(f"FAIL {key}: {whys[0]} ({len(whys)}x)")
        if self.leaked:
            print(f"INVALID: {self.leaked} RDDs still persisted after release_caches "
                  "and clearCache")


def job_wall(job: dict) -> float:
    return job["t"][1] - job["t"][0]


def per_key_median(passes: list[dict], value) -> float:
    """Sum over keys of each key's median ``value`` over ``passes``: the
    median pass assembled key by key: over at least five passes, interference
    on two of a key's jobs does not move the result."""
    by_key: dict[str, list[float]] = {}
    for p in passes:
        for job in p["jobs"]:
            if "t" in job:
                by_key.setdefault(job["key"], []).append(value(job))
    return sum(median(v) for v in by_key.values())


def layer_totals(p: dict) -> dict[str, float]:
    """Per-layer metrics of one pass: its jobs' counters summed, plus the
    pass's process-tree CPU and the cache state at its end."""
    t = dict.fromkeys(LAYER_UNITS, 0.0)
    for job in p["jobs"]:
        for name, v in job.get("counters", {}).items():
            t[name] += v
    for cls, v in p["cpu"].items():
        t[f"cpu.{cls}_s"] = v
    n, size = p["cache"]
    t["cache.persisted_rdds"], t["cache.storage_mb"] = n, size / MB
    return t


def job_counters(job: dict, py_by_stage: dict) -> dict[str, float]:
    """Per-layer counters of one job: its spans, the status-store data of the
    stages it ran, the Python-node metrics of those stages and the streaming
    progress of its queries."""
    t = {
        "plans.build_s": job["build_s"], "plans.build_jobs": job["build_jobs"],
        "catalyst.plan_s": job["plan_s"], "exec.action_s": job["action_s"],
        "exec.jobs": job["jobs"],
    }

    def add(name: str, v: float) -> None:
        t[name] = t.get(name, 0.0) + v

    for s in job["stages"]:
        add("exec.stages", 1)
        add("exec.tasks", s["tasks"])
        add("exec.failed_tasks", s["failed_tasks"])
        add("exec.run_s", s["run_ms"] / 1e3)
        add("exec.cpu_s", s["cpu_ns"] / 1e9)
        add("exec.gc_s", s["gc_ms"] / 1e3)
        add("shuffle.write_mb", s["shuffle_write"] / MB)
        add("shuffle.read_mb", s["shuffle_read"] / MB)
        add("shuffle.spill_mb", s["spill"] / MB)
        for part, v in py_by_stage.get(s["stage"], {}).items():
            if part in ("sent", "returned"):
                add(f"pyboundary.{part}_mb", v / MB)
            else:
                add(f"pyboundary.{part}_s", v / 1e3)
    family = connector_family(job["key"])
    if family:
        add(f"connector.{family}_s", job["build_s"] + job["plan_s"] + job["action_s"])
    last_state: dict[str, list] = {}
    for rec in job.get("progress", ()):
        dur = rec.get("durationMs", {})
        rows = sum(src.get("numInputRows", 0) for src in rec.get("sources", ()))
        add("streaming.batches", 1)
        add("streaming.empty_batches", rows == 0)
        add("streaming.input_rows", rows)
        for part in STREAM_PARTS:
            add(f"streaming.{part}_ms", dur.get(part, 0))
        ops = rec.get("stateOperators", [])
        add("streaming.state_commit_ms", sum(o.get("commitTimeMs", 0) for o in ops))
        last_state[rec.get("runId")] = ops
    for ops in last_state.values():
        add("streaming.state_rows", sum(o.get("numRowsTotal", 0) for o in ops))
        add("streaming.state_mb", sum(o.get("memoryUsedBytes", 0) for o in ops) / MB)
    return t


def nearest_rank(sorted_xs: list[float], pct: float) -> float:
    if not sorted_xs:
        return 0.0
    k = max(1, -(-len(sorted_xs) * pct // 100))
    return float(sorted_xs[int(k) - 1])


def run_one(args: argparse.Namespace) -> int:
    if not (ROOT / "__spark_entry__.py").is_file():
        print(f"perfbench: {ROOT} holds no __spark_entry__.py to benchmark",
              file=sys.stderr)
        return 2
    work = WORK_ROOT / f"{args.workload}-seed{args.seed}-{os.getpid()}"
    bench = Bench(args, work)
    try:
        bench.setup()
        passes = bench.measure()
        metrics = bench.per_layer(passes) if bench.trace else bench.end_to_end(passes)
        bench.check([*bench.warmup, *passes])
        if bench.trace:
            bench.spans.write(OUT / f"trace-{args.workload}-seed{args.seed}.json")
    finally:
        bench.teardown()
        shutil.rmtree(work, ignore_errors=True)
    bench.report(passes, metrics)
    failed = sum(len(v) for v in bench.failures.values())
    units = LAYER_UNITS if bench.trace else E2E_UNITS
    print(json.dumps({
        "correct": failed == 0 and bench.leaked == 0,
        "attempted": bench.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def run_all(args: argparse.Namespace) -> int:
    """Every workload untraced, then traced, each in its own process; one
    table of all metrics and the tracing overhead."""
    results: dict[str, dict[int, dict]] = {}
    for name in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, __file__, "--workload", name, "--seed",
                   str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
            lines = proc.stdout.strip().splitlines()
            print("\n".join(lines[:-1]))
            if proc.returncode != 0 or not lines:
                print(f"perfbench: {name} trace={trace} exited {proc.returncode}",
                      file=sys.stderr)
                return 1
            results.setdefault(name, {})[trace] = json.loads(lines[-1])
    names = list(WORKLOADS)
    print(f"\n{'metric':32s} {'unit':6s} " + " ".join(f"{n:>20s}" for n in names))
    for trace, units in ((0, E2E_UNITS), (1, LAYER_UNITS)):
        for metric, unit in units.items():
            vals = [results[n][trace]["metrics"][metric]["value"] for n in names]
            print(f"{metric:32s} {unit:6s} " + " ".join(f"{v:20.4f}" for v in vals))
    overhead = [results[n][1]["metrics"]["trace.pass_s"]["value"]
                - results[n][0]["metrics"]["pass_s"]["value"] for n in names]
    print(f"{'trace overhead (pass_s)':32s} {'s':6s} " + " ".join(f"{v:20.4f}" for v in overhead))
    for n in names:
        r = results[n][0]
        print(f"fail_ratio {n}: {r['failed']}/{r['attempted']} correct={r['correct']}")
    return 0


def main(argv: list[str] | None = None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    if os.environ.get("PYTHONHASHSEED") != "0":
        # string hashing decides set and dict-of-set orders in the program's
        # plan building; fix it so that runs build the same plans
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, __file__, *sys.argv[1:]])
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
