"""Benchmark entry point.

    python3 perfbench/run.py --workload refjobs --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates (or reuses) the seeded
inputs under ``.perfbench_cache/``, starts one Spark driver at
``local[<nproc>]`` through the package's ``get_spark``, sets the
workload up, runs untimed warm-up iterations, then times iterations for
``--seconds`` seconds, checks every output, and prints one JSON object
as the last line of standard output:

- ``--trace 0``: the end-to-end metrics (BENCHMARK.json ``end_to_end``);
- ``--trace 1``: the per-layer metrics (``per_layer``), from spans and
  status-store counters recorded around every call.

Everything the run writes stays under ``.perfbench_cache/`` and
``.perfbench_work/`` in the working directory. The full record of a run
(every timed iteration, host records, spans) goes to
``.perfbench_work/records/``. See perfbench/README.md for the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
# the benchmark's own modules, then the checkout holding the package
sys.path[:0] = [HERE, os.path.dirname(HERE)]

CACHE, WORK = ".perfbench_cache", ".perfbench_work"
# per-op fields of the traced run, with their units
FIELDS = {
    "build_s": "s", "build_jobs": "count", "action_s": "s", "cpu_s": "s", "jobs": "count",
    "stages": "count", "tasks": "count", "exec_cpu_s": "s",
    "idle_frac": "fraction", "shuffle_write_mb": "MB", "spill_mb": "MB",
    "failed_tasks": "count", "input_rows": "count",
}
LEGS = ("bm25_append", "ivf_append")  # spans inside delta_search's ingest call
STORAGE = {
    "output_mb": "MB", "files_written": "count",
    "stored_bytes_per_input_byte": "ratio", "delta_files": "count",
}
LAYERS = ("bench", "sources", "operators", "streaming", "action")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def other_spark_driver() -> int | None:
    """PID of a running Spark driver JVM, if any."""
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            continue
        if b"org.apache.spark.deploy.SparkSubmit" in cmd:
            return int(pid)
    return None


_SPIN = (
    "import time\nt = time.perf_counter()\nx = 0\n"
    "for i in range(2_000_000):\n    x += i * i\n"
    "print(time.perf_counter() - t)"
)


def canary(nproc: int) -> float:
    """Median seconds of a fixed Python loop run on nproc processes at
    once: a record of how busy the host is, never used in a metric."""
    procs = [
        subprocess.Popen([sys.executable, "-c", _SPIN], stdout=subprocess.PIPE, text=True)
        for _ in range(nproc)
    ]
    return statistics.median(float(p.communicate()[0]) for p in procs)


def cpu_ticks() -> dict:
    """Host-wide CPU time so far, from /proc/stat: busy and stolen
    seconds (steal is time the hypervisor ran something else on this
    machine's virtual CPUs). A record of host contention only."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    hz = os.sysconf("SC_CLK_TCK")
    return {"busy_s": (f[0] + f[1] + f[2] + f[5] + f[6]) / hz, "steal_s": f[7] / hz}


class CpuClock:
    """CPU seconds used by the benchmark process and the driver JVM,
    less the JVM's JIT compiler threads.

    The kernel leaves hypervisor steal out of a task's CPU time, so this
    clock does not count the time the host runs other machines, which
    wall time does. The JIT threads are left out because how much they
    compile during a call depends on timing, not on the call; the JVM
    runs with a fixed set of them (-XX:-UseDynamicNumberOfCompilerThreads),
    so none exits and takes its time into the process total."""

    _TICK = os.sysconf("SC_CLK_TCK")

    def __init__(self, jvm_pid: int):
        self.pid = jvm_pid
        self.jit = []
        for t in os.listdir(f"/proc/{jvm_pid}/task"):
            try:
                name = _read(f"/proc/{jvm_pid}/task/{t}/comm")
            except FileNotFoundError:  # a thread that has just exited
                continue
            if name.startswith(("C1 Compiler", "C2 Compiler")):
                self.jit.append(t)

    def _ticks(self, path: str) -> int:
        f = _read(path).rsplit(")", 1)[1].split()
        return int(f[11]) + int(f[12])  # utime + stime

    def __call__(self) -> float:
        jit = sum(self._ticks(f"/proc/{self.pid}/task/{t}/stat") for t in self.jit)
        jvm = self._ticks(f"/proc/{self.pid}/stat") - jit
        return time.process_time() + jvm / self._TICK


def _read(path: str) -> str:
    with open(path) as fh:
        return fh.read()


def inputs(workload: str, seed: int, files: int) -> tuple[str, dict]:
    """The workload's generated inputs for ``seed``, made on first use."""
    import gen

    d = os.path.abspath(
        f"{CACHE}/{workload}-{gen.fingerprint(workload)}-seed{seed}-files{files}"
    )
    if not os.path.exists(f"{d}/manifest.json"):
        shutil.rmtree(d, ignore_errors=True)
        tmp = f"{d}.tmp{os.getpid()}"
        gen.generate(workload, seed, tmp, files)
        os.rename(tmp, d)
    with open(f"{d}/manifest.json") as fh:
        return d, json.load(fh)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


class Runner:
    """Runs iterations and times each call into the package, counting
    failures; with a tracer, also wraps both in spans and job groups."""

    def __init__(self, tracer, cores: int):
        self.tracer = tracer
        self.cores = cores
        self.samples: list[dict] = []  # one per call
        self.iterations: list[dict] = []  # one per iteration
        self.attempted = self.failed = 0
        self.phase = "warmup"
        self.index = 0
        self.cpu = None  # CpuClock of the driver JVM

    def span(self, name: str, layer: str):
        return nullcontext() if self.tracer is None else self.tracer.span(name, layer)

    def iterate(self, wl, index: int) -> None:
        self.index = index
        if self.tracer is not None:
            self.tracer.op_id = index
        n = len(self.samples)
        t0 = time.perf_counter()
        with self.span("iteration", "bench") as s:
            wl.iteration(self)
        calls = self.samples[n:]
        it = {"phase": self.phase, "index": index, "wall_s": time.perf_counter() - t0,
              "span": s["id"] if s else None}
        self.iterations.append(it)
        log(f"{self.phase} iteration {index}: " + " ".join(
            f"{c['op']}={c['total_s']:.3f}s" for c in calls))

    def call(self, op, layer, build, action=None, check=None, **extra) -> None:
        """Time ``action(build())``; ``check`` validates the result."""
        self.attempted += 1
        ok = False
        c0 = self.cpu()
        t0 = t1 = time.perf_counter()
        try:
            with self.span(op, layer) as s:
                obj = build()
                t1 = time.perf_counter()
                res = None
                if action is not None:
                    with self.span(f"{op}.action", "action"):
                        res = action(obj)
            ok = check is None or bool(check(res))
            if not ok:
                log(f"FAILED CHECK: {op} returned a wrong result")
        except Exception:
            s = None
            log(f"FAILED CALL: {op}\n{traceback.format_exc()}")
        t2 = time.perf_counter()
        cpu = self.cpu() - c0
        self.failed += not ok
        self.samples.append({
            "op": op, "phase": self.phase, "iteration": self.index, **extra,
            "build_s": t1 - t0, "action_s": t2 - t1, "total_s": t2 - t0,
            "cpu_s": cpu,
            "ok": ok, "span": s["id"] if s else None,
        })


def start_spark(work: str, nproc: int):
    from mapreduce_task_spark.session import get_spark

    return get_spark(
        "perfbench",
        cpus=nproc,
        extra_conf={
            "spark.local.dir": f"{work}/spark-local",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.driver.extraJavaOptions": (
                f"-Dderby.system.home={work}/derby -Djava.io.tmpdir={work}/tmp"
            ),
        },
    )


def stop_spark(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this process."""
    jvm = 0.0
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm = int(line.split()[1]) / 1024
    return jvm + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def install_wrappers(tracer) -> None:
    """Spans around ``ensure_parallelism``, the sources layer's split
    probe, as ``load_table`` looks it up."""
    from mapreduce_task_spark.sources import tables

    tracer.wrap(tables, "ensure_parallelism", "ensure_parallelism", "sources")


# -- metrics -----------------------------------------------------------
def iter_cpu_s(samples: list[dict]) -> float:
    """Median over iterations of the CPU seconds of their calls."""
    iters: dict = {}
    for r in samples:
        iters[r["iteration"]] = iters.get(r["iteration"], 0.0) + r["cpu_s"]
    return median(list(iters.values()))


def end_to_end(wl, runner, session: dict) -> dict:
    timed = [r for r in runner.samples if r["phase"] == "timed"]
    return {
        "setup_s": (session["setup_s"], "s"),
        "iter_cpu_s": (iter_cpu_s(timed), "s"),
    }


def per_layer(wl, runner, tracer, session: dict) -> dict:
    spans = tracer.spans
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def tree(root: int) -> list[dict]:
        out, todo = [], [spans[root]]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s["id"], []))
        return out

    def total(ss: list[dict], key: str) -> float:
        return sum(s["counters"].get(key, 0) for s in ss)

    timed = [r for r in runner.samples if r["phase"] == "timed" and r["span"] is not None]
    m: dict[str, tuple[float, str]] = {}
    for slot, op in enumerate(wl.CALLS, 1):
        rows = []
        for r in (r for r in timed if r["op"] == op):
            t = tree(r["span"])
            act = {x["id"] for a in t if a["layer"] == "action" for x in tree(a["id"])}
            run_s = total(t, "exec_run_s")
            row = {k: total(t, k) for k in FIELDS if k not in ("build_s", "action_s", "cpu_s")}
            row.update(
                build_s=r["build_s"],
                action_s=r["action_s"],
                cpu_s=r["cpu_s"],
                build_jobs=total([s for s in t if s["id"] not in act], "jobs"),
                idle_frac=1 - run_s / (r["total_s"] * runner.cores),
            )
            rows.append(row)
        for f, unit in FIELDS.items():
            m[f"call{slot}.{f}"] = (median([x[f] for x in rows]), unit)

    # legs of the ingest call (delta_search); 0 where a workload has none
    ingests = [tree(r["span"]) for r in timed if r["op"] == "ingest"]
    for leg in LEGS:
        legs = [[s for s in t if s["name"] == leg] for t in ingests]
        m[f"ingest.{leg}_s"] = (median([sum(s["end"] - s["start"] for s in ls) for ls in legs]), "s")
        m[f"ingest.{leg}_jobs"] = (
            median([sum(total(tree(s["id"]), "jobs") for s in ls) for ls in legs]), "count")
    storage = getattr(wl, "storage", [])
    for k, unit in STORAGE.items():
        m[f"ingest.{k}"] = (median([s[k] for s in storage]), unit)

    iters = [it for it in runner.iterations if it["phase"] == "timed"]
    self_t = tracer.self_times([s for it in iters for s in tree(it["span"])])
    n = max(len(iters), 1)
    for layer in LAYERS:
        m[f"self.{layer}_s"] = (self_t.get(layer, 0.0) / n, "s")
    m["session.get_spark_s"] = (session["get_spark_s"], "s")
    m["session.program_setup_s"] = (session["program_setup_s"], "s")
    m["session.warmup_s"] = (session["warmup_s"], "s")
    m["session.peak_rss_mb"] = (session["peak_rss_mb"], "MB")
    m["trace.iter_p50_s"] = (median([it["wall_s"] for it in iters]), "s")
    m["trace.iter_cpu_s"] = (iter_cpu_s(timed), "s")
    m["trace.overhead_s"] = (session["trace_overhead_s"] / n, "s")
    return m


# -- the run -----------------------------------------------------------
def run(wl, args, work: str, nproc: int, session: dict):
    """Set up, warm up, time, check. Returns (runner, tracer, checks)."""
    spark = tracer = runner = None
    checks: list = []
    try:
        # one cold set-up, as a user's fresh process pays it: repeated
        # set-ups in one JVM would time a warm restart instead
        t0 = time.perf_counter()
        spark = start_spark(work, nproc)
        t1 = time.perf_counter()
        wl.setup(spark)
        t2 = time.perf_counter()
        session.update(get_spark_s=t1 - t0, program_setup_s=t2 - t1, setup_s=t2 - t0)
        log(f"setup_s={session['setup_s']:.3f}")

        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
            install_wrappers(tracer)
        runner = Runner(tracer, nproc)
        runner.cpu = CpuClock(spark.sparkContext._gateway.proc.pid)

        t0 = time.perf_counter()
        for i in range(wl.WARMUP):
            runner.iterate(wl, -1 - i)
        session["warmup_s"] = time.perf_counter() - t0

        runner.phase = "timed"
        overhead0 = tracer.overhead_s if tracer else 0.0
        c0 = cpu_ticks()
        t0 = time.perf_counter()
        i = 0
        while i < wl.MIN_TIMED or time.perf_counter() - t0 < args.seconds:
            runner.iterate(wl, i)
            i += 1
        session["timed_s"] = time.perf_counter() - t0
        # host records of the timed window: CPU busy and stolen seconds
        session["timed_host"] = {k: v - c0[k] for k, v in cpu_ticks().items()}
        session["trace_overhead_s"] = (tracer.overhead_s if tracer else 0.0) - overhead0

        runner.phase = "check"
        if tracer is not None:
            tracer.close()
        t0 = time.perf_counter()
        checks = wl.check(spark)
        session["check_s"] = time.perf_counter() - t0
        session["peak_rss_mb"] = peak_rss_mb(spark)
    except Exception:
        log(f"FAILED RUN\n{traceback.format_exc()}")
        checks.append(("run", "raised"))
    finally:
        if tracer is not None:
            tracer.close()
        if spark is not None:
            stop_spark(spark)
    return runner, tracer, checks


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("refjobs", "delta_search"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import mapreduce_task_spark  # noqa: F401
    except ImportError as e:
        log(f"cannot import the package under test from {os.getcwd()}: {e}")
        return 2
    # a driver JVM that is still exiting gets a short grace period
    deadline = time.monotonic() + 30
    while (pid := other_spark_driver()) is not None and time.monotonic() < deadline:
        time.sleep(1)
    if pid is not None:
        log(f"another Spark driver is running (pid {pid}); refusing to start")
        return 3

    t_start = time.perf_counter()
    nproc = os.cpu_count() or 1
    work = os.path.abspath(f"{WORK}/{args.workload}-seed{args.seed}-{os.getpid()}")
    for d in ("tmp", "spark-local"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    # the JVMs would otherwise keep a perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    ).strip()
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    # get_spark defaults to a 16g driver heap, which the JVM grows into
    # lazily; a smaller cap keeps the run's footprint small on a shared host
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")

    records = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc, "loadavg_start": os.getloadavg(),
        "canary_s": canary(nproc),
    }
    input_dir, man = inputs(args.workload, args.seed, files=max(nproc, 4))
    records["inputs"] = {k: v for k, v in man.items() if not isinstance(v, list)}
    log(f"{args.workload} seed={args.seed} nproc={nproc} "
        f"canary={records['canary_s']:.3f}s loadavg={records['loadavg_start']}")

    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](input_dir, work, man)
    session: dict = {}
    runner, tracer, checks = run(wl, args, work, nproc, session)

    attempted = (runner.attempted if runner else 0) + max(len(checks), 1)
    failed = (runner.failed if runner else 0) + sum(1 for _, err in checks if err)
    for name, err in checks:
        log(f"check {name}: {'ok' if err is None else 'FAILED: ' + err}")
    metrics = {}
    if "peak_rss_mb" in session:
        if args.trace:
            metrics = per_layer(wl, runner, tracer, session)
        else:
            metrics = end_to_end(wl, runner, session)
    records.update(
        session=session, checks=checks, loadavg_end=os.getloadavg(),
        samples=runner.samples if runner else [],
        iterations=runner.iterations if runner else [],
        spans=tracer.spans if tracer else [],
        wall_s=time.perf_counter() - t_start,
        metrics={k: v[0] for k, v in metrics.items()},
    )
    os.makedirs(f"{WORK}/records", exist_ok=True)
    rec_path = f"{WORK}/records/{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(rec_path, "w") as fh:
        json.dump(records, fh, default=str)
    shutil.rmtree(work, ignore_errors=True)
    log(f"attempted={attempted} failed={failed} fail_frac={failed / attempted:.4f} "
        f"wall={records['wall_s']:.1f}s record={rec_path}")
    print(json.dumps({
        "correct": bool(checks) and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
