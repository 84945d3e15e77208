"""Benchmark of the package, one workload per run.

    python3 perfbench/run.py --workload iterative --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. One client sends one op at a time to a
``local[nproc]`` session (a closed loop): untimed warm passes, then whole
passes over the workload's ops, each in a seed-shuffled order, until the
ops have taken ``--seconds``. Every op's output is checked after its clock
stops; the run stops at the first failed op. The last line of stdout is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}`` with the
metrics BENCHMARK.json declares: ``--trace 0`` the end-to-end ones (CPU
seconds of the process tree, scaled by a host calibration), ``--trace 1``
the per-layer ones, from spans around the package's layer entry points and
Spark's status store (spans.py). README.md describes the workloads and
metrics.

The run refuses to measure (exit 3, no result) while another JVM is alive:
a concurrent Spark JVM can slow a query several-fold.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

import spans  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "tp1_distribuidos_mapreduce_spark"
STATE = os.path.join(ROOT, ".perfbench")
# Where the package's own hard-coded artifacts land; cleaned per run.
PACKAGE_TMP = "/tmp"
PACKAGE_TMP_PREFIXES = ("tp1_spark_", "spark_graft_")
MAX_PASSES = 50
# Host calibration (class Calibration): its work, and the CPU seconds a
# sample counts as, so that scaled figures read as CPU seconds on a host
# where a sample takes CALIB_REF_S.
CALIB_INTS = 4_000_000
CALIB_LOOPS = 300_000
CALIB_REF_S = 0.25


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = proc_children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def other_jvms() -> list[int]:
    mine = set(descendants(os.getpid()))
    found = []
    for d in os.listdir("/proc"):
        if d.isdigit() and int(d) not in mine:
            try:
                with open(f"/proc/{d}/comm") as f:
                    if f.read().strip() == "java":
                        found.append(int(d))
            except OSError:
                pass
    return found


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    deadline = time.monotonic() + timeout
    alive = pids
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    return alive


def stop_spark(spark) -> None:
    """Stop the session, then the JVM (it exits when its stdin closes),
    then wait for every process the run started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    started = descendants(os.getpid())
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    for pid in wait_gone(started, 15):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    wait_gone(started, 5)


CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process below it,
    including exited children they have reaped. Time the host stole from
    the machine is not in it."""
    total = 0.0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15]) / CLK_TCK
    return total


def jit_thread_stats(jvm_pid: int) -> list[str]:
    """The /proc stat files of the JVM's JIT compiler threads. The JVM is
    started with a fixed set of them, so the list holds for the run."""
    task = f"/proc/{jvm_pid}/task"
    out = []
    for tid in os.listdir(task):
        try:
            with open(f"{task}/{tid}/comm") as f:
                if "CompilerThre" in f.read():
                    out.append(f"{task}/{tid}/stat")
        except OSError:
            pass
    return out


def threads_cpu_s(stat_paths: list[str]) -> float:
    total = 0
    for path in stat_paths:
        try:
            with open(path) as f:
                total += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:13])
        except OSError:
            pass
    return total / CLK_TCK


def host_steal() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the machine since boot."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def tmp_entries() -> set[str]:
    try:
        return {n for n in os.listdir(PACKAGE_TMP) if n.startswith(PACKAGE_TMP_PREFIXES)}
    except OSError:
        return set()


def remove_new_tmp(before: set[str]) -> None:
    for name in tmp_entries() - before:
        path = os.path.join(PACKAGE_TMP, name)
        if os.path.isdir(path) and not os.path.islink(path):
            shutil.rmtree(path, ignore_errors=True)
        else:
            try:
                os.remove(path)
            except OSError:
                pass


class Calibration:
    """Fixed work the package plays no part in: sorting a copy of the same
    seeded ints in the JVM, in parallel on its fork-join pool (one thread
    per core), timed as an op is (CPU seconds of the process tree less the
    JIT threads'), and an integer loop in Python, timed by its thread's CPU
    clock. The geometric mean of the two tracks how fast the host runs the
    JVM and the Python workers at the moment: on a shared host the CPU time
    of the same work moves by a third or more within minutes, with the load
    of other tenants on the same cores. The run's median calibration scales
    its CPU seconds."""

    def __init__(self, spark, jit_stats: list[str]) -> None:
        jvm = spark.sparkContext._jvm
        self._arrays = jvm.java.util.Arrays
        self._ints = jvm.java.util.Random(0).ints(CALIB_INTS).toArray()
        self._jit_stats = jit_stats
        self.samples: list[float] = []

    def __call__(self) -> float:
        cpu, jit = tree_cpu_s(), threads_cpu_s(self._jit_stats)
        self._arrays.parallelSort(self._arrays.copyOf(self._ints, CALIB_INTS))
        jvm_s = tree_cpu_s() - cpu - (threads_cpu_s(self._jit_stats) - jit)
        t = time.thread_time()
        acc = 0
        for i in range(CALIB_LOOPS):
            acc = (acc * 31 + i) & 0xFFFFFFFF
        self.samples.append(math.sqrt(jvm_s * (time.thread_time() - t)))
        return self.samples[-1]


class Runner:
    """Runs ops, timing each from outside the package and checking its
    output after the clock stops."""

    def __init__(self, tracer, jit_stats: list[str]) -> None:
        self.tracer = tracer
        self.jit_stats = jit_stats
        self.counters = None  # set during traced passes
        self.calibrate = None  # set for the timed passes
        self.attempted = 0
        self.failed = 0
        self.records: list[dict] = []
        # CPU and elapsed seconds spent in checks, which set-up leaves out.
        self.check_cpu_s = 0.0
        self.check_wall_s = 0.0

    def run(self, op) -> None:
        """Run one op, then check its output. An op that raises still gets
        its elapsed ``wall_s``, so that a loop over passes ends."""
        self.attempted += 1
        op_id = len(self.records)
        rec = {"op": op_id, "name": op.name, "wall_s": None, "ok": False}
        self.records.append(rec)
        if self.calibrate is not None:
            rec["calib_s"] = self.calibrate()
        self.tracer.op_id = op_id
        if self.counters is not None:
            self.counters.mark()
        cpu, jit = tree_cpu_s(), threads_cpu_s(self.jit_stats)
        t = time.perf_counter()
        start = time.time()
        try:
            with self.tracer.span("op"):
                handle = op.run()
        except Exception:
            rec["wall_s"] = time.perf_counter() - t
            self.failed += 1
            log(f"op {op.name} raised:\n{traceback.format_exc()}")
            return
        wall = time.perf_counter() - t
        # An op's CPU seconds leave out the JIT compiler's: compilation is
        # the JVM warming up, and how much of it lands in one op varies
        # several-fold between identical runs.
        jit = threads_cpu_s(self.jit_stats) - jit
        rec.update(wall_s=wall, cpu_s=tree_cpu_s() - cpu - jit, jit_s=jit, start=start, end=start + wall)
        if self.counters is not None:
            rec["spark"] = self.counters.collect()
        cpu, t = tree_cpu_s(), time.perf_counter()
        try:
            ok = bool(op.check(handle))
        except Exception:
            log(f"check of {op.name} raised:\n{traceback.format_exc()}")
            ok = False
        self.check_cpu_s += tree_cpu_s() - cpu
        self.check_wall_s += time.perf_counter() - t
        rec["ok"] = ok
        if not ok:
            self.failed += 1
            log(f"op {op.name}: wrong result")

    def one_pass(self, ops, rng: random.Random | None) -> list[dict]:
        """Run every op once, in a seeded order (listed order when ``rng``
        is None); return the pass's records."""
        order = list(ops)
        if rng is not None:
            rng.shuffle(order)
        first = len(self.records)
        for op in order:
            self.run(op)
        return self.records[first:]


def op_seconds(records: list[dict]) -> float:
    return sum(r["wall_s"] for r in records)


def per_op_medians(records: list[dict], field: str) -> list[float]:
    """Each op's median ``field`` over the passes: the ops of a typical
    pass, one outlier pass ignored."""
    per_op: dict[str, list[float]] = {}
    for r in records:
        if r.get(field) is not None and r["ok"]:
            per_op.setdefault(r["name"], []).append(r[field])
    return [statistics.median(v) for v in per_op.values()]


# per-layer metric -> (span name, "s" | "self_s" | "calls")
SPAN_METRICS = {
    "registry.build_s": ("registry.build", "s"),
    "registry.build_self_s": ("registry.build", "self_s"),
    "exec.materialize_s": ("exec.materialize", "s"),
    "streaming.drain_s": ("streaming.drain", "s"),
    "sources.load_table_s": ("sources.load_table", "s"),
    "sources.load_table_calls": ("sources.load_table", "calls"),
    "sources.read_text_corpus_s": ("sources.read_text_corpus", "s"),
    "sources.artifacts.build_once_s": ("sources.artifacts.build_once", "s"),
    "operators.mapreduce_s": ("operators.mapreduce", "s"),
    "sinks.write_sorted_kv_text_s": ("sinks.write_sorted_kv_text", "s"),
}


def layer_metrics(runner: Runner, tracer, op_ids: set[int], n_passes: int, cores: int) -> dict[str, float]:
    """Per-layer numbers of the traced phase, per pass over the ops."""
    layers = tracer.totals(op_ids)
    recs = [r for r in runner.records if r["op"] in op_ids and r["wall_s"] is not None]
    wall = sum(r["wall_s"] for r in recs)
    spark: dict[str, float] = {}
    build_jobs = 0
    for r in recs:
        for k, v in r.get("spark", {}).items():
            if k != "intervals":
                spark[k] = spark.get(k, 0.0) + v
        builds = [
            (s["start"], s["end"]) for s in tracer.spans
            if s["op"] == r["op"] and s["name"] == "registry.build"
        ]
        for sub, _ in r.get("spark", {}).get("intervals", []):
            if any(a - 0.002 <= sub <= b for a, b in builds):
                build_jobs += 1

    m = {name: layers.get(span, {}).get(key, 0.0) for name, (span, key) in SPAN_METRICS.items()}
    m["registry.build_jobs"] = float(build_jobs)
    m.update({k: spark.get(k, 0.0) for k in spans.COUNTER_NAMES if k != "spark.job_s"})
    m["spark.no_job_s"] = max(0.0, wall - spark.get("spark.job_s", 0.0))
    m = {k: v / max(1, n_passes) for k, v in m.items()}
    m["spark.core_busy_ratio"] = spark.get("spark.executor_run_s", 0.0) / (wall * cores) if wall else 0.0
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        log(f"no {PACKAGE}/ package next to perfbench/ in {ROOT}; run from a checkout")
        return 2

    load1 = os.getloadavg()[0]
    jvms = other_jvms()
    if jvms:
        jvms = wait_gone(jvms, 30)
    if jvms:
        log(f"invalid run: another JVM is alive (pids {jvms}), load1={load1:.2f}")
        return 3

    # A terminated run still stops its JVM and removes what it wrote.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(STATE, f"work-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # The JVM compiles with C1 only (-XX:TieredStopAtLevel=1). With C2 as
    # well, an op's CPU seconds kept falling for 15 passes and more, and the
    # compiler threads took 1-3 CPU seconds per op next to it, so a run's
    # figure depended on how many passes it fitted in; with C1 alone the
    # ops are flat after two passes. Ops run slower than on a fully warmed
    # C2 JVM (kcore_members by about 80 %), set-up is cheaper.
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        # Python workers (pandas UDFs) import the package from this checkout.
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        TZ="UTC",
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            "-XX:TieredStopAtLevel=1 -XX:-UseDynamicNumberOfCompilerThreads' pyspark-shell"
        ),
    )
    time.tzset()
    sys.path.insert(0, ROOT)
    tmp_before = tmp_entries()
    tempfile.tempdir = None  # re-read TMPDIR
    mod = __import__(PACKAGE)
    if os.path.dirname(os.path.dirname(os.path.abspath(mod.__file__))) != ROOT:
        log(f"{PACKAGE} imported from {mod.__file__}, not from {ROOT}")
        return 2
    from tp1_distribuidos_mapreduce_spark.session import get_spark

    workload = WORKLOADS[args.workload]
    rng = random.Random(args.seed)
    spark = None
    pool = ThreadPoolExecutor(1)
    try:
        # Inputs need no Spark: make them while the JVM starts.
        prepared = pool.submit(workload.prepare, rng, work)
        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        t_spark = time.perf_counter() - T0
        info = prepared.result()
        tracer = spans.Tracer()
        ops = workload.ops(spark, tracer, info)
        warm_ops = workload.ops(spark, tracer, info, warm=True)
        jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        runner = Runner(tracer, jit_thread_stats(jvm_pid))
        t_inputs = time.perf_counter() - T0
        # Expected outputs are made now, for the warm passes' checks, but
        # are not the program's work: set-up leaves them out, as it leaves
        # out the checks and the host calibrations. The run's median
        # calibration covers set-up too: three are made now, three after
        # the warm passes and one before each timed op.
        cpu = tree_cpu_s()
        calibrate = Calibration(spark, runner.jit_stats)
        for _ in range(3):
            calibrate()
        workload.expect(info)
        expect_cpu_s = tree_cpu_s() - cpu

        # Warm passes: checked, untimed, always in the listed order, so that
        # JIT profiles and one-time artifacts do not depend on the seed.
        t_warm = time.perf_counter()
        for _ in range(workload.warm_passes):
            runner.one_pass(warm_ops, None)
        warm_s = time.perf_counter() - t_warm - runner.check_wall_s
        setup_s = t_inputs + warm_s
        setup_cpu_s = tree_cpu_s() - expect_cpu_s - runner.check_cpu_s
        log(f"setup: session {t_spark:.2f}s, then inputs {t_inputs - t_spark:.2f}s, "
            f"{workload.warm_passes} warm pass(es) {warm_s:.2f}s; not in it: calibration and expected outputs "
            f"{t_warm - T0 - t_inputs:.2f}s, checks {runner.check_wall_s:.2f}s")

        for _ in range(3):
            calibrate()
        runner.calibrate = calibrate

        # Whole passes until the ops have taken --seconds; none once an op
        # has failed, in a warm pass or later, as the run's result is then
        # wrong whatever its timing. A traced run pairs each untraced pass
        # with a traced one, which goes second in even pairs and first in
        # odd ones, so that the JIT's continuing warm-up does not show as
        # tracing overhead.
        steal0 = host_steal()
        plain: list[dict] = []
        traced: list[dict] = []
        counters = spans.SparkCounters(spark) if args.trace else None

        def traced_pass() -> None:
            restore = spans.install(tracer)
            tracer.enabled, runner.counters = True, counters
            try:
                traced.extend(runner.one_pass(ops, rng))
            finally:
                tracer.enabled, runner.counters = False, None
                spans.uninstall(restore)

        n_passes = 0
        while (
            runner.failed == 0
            and n_passes < MAX_PASSES
            and op_seconds(plain) < args.seconds
        ):
            if args.trace and n_passes % 2:
                traced_pass()
            plain += runner.one_pass(ops, rng)
            if args.trace and not n_passes % 2:
                traced_pass()
            n_passes += 1
        steal1 = host_steal()
        timed_s = op_seconds(plain)
        wall = per_op_medians(plain, "wall_s")
        cpu = per_op_medians(plain, "cpu_s")
        scale = CALIB_REF_S / statistics.median(calibrate.samples)
        # End-to-end numbers are CPU seconds of the whole process tree,
        # scaled by the run's median host calibration: on a shared host,
        # elapsed time moves with the co-tenants' load (the host steals
        # 0-20 % of the CPU), CPU seconds less, scaled CPU seconds least.
        # setup_s includes the JIT compiler's CPU seconds, cpu_s_per_op
        # does not.
        metrics = {
            "setup_s": setup_cpu_s * scale,
            "cpu_s_per_op": statistics.fmean(cpu) * scale if cpu else 0.0,
            "setup.cpu_s": setup_cpu_s,
            "op.cpu_s": statistics.fmean(cpu) if cpu else 0.0,
            "host.calib_s": CALIB_REF_S / scale,
            "setup.wall_s": setup_s,
            "ops_per_s": len(wall) / sum(wall) if wall else 0.0,
            "op_p50_s": statistics.median(wall) if wall else 0.0,
            "host.steal_ratio": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
            "jvm.jit_cpu_s": sum(r.get("jit_s", 0.0) for r in plain) / max(1, n_passes),
        }
        summary = " ".join(f"{k}={v:.4f}" for k, v in metrics.items())
        if args.trace:
            metrics.update(layer_metrics(runner, tracer, {r["op"] for r in traced}, n_passes, cores))
            traced_wall = per_op_medians(traced, "wall_s")
            metrics["trace.overhead_ratio"] = sum(traced_wall) / sum(wall) if wall and traced_wall else 0.0
            metrics["input_mb_per_s"] = info.get("corpus_mb", 0.0) * len(plain) / timed_s if timed_s else 0.0
            metrics["failed_ratio"] = runner.failed / runner.attempted
            metrics["session.start_s"] = t_spark
            metrics["setup.warm_pass_s"] = warm_s
            # Per-layer, not end-to-end: the JVM's high-water mark follows
            # G1's heap sizing and varies by a third between identical runs.
            metrics["peak_rss_mb"] = vm_hwm_mb(jvm_pid) + vm_hwm_mb(os.getpid())
            trace_path = write_trace(args, runner, tracer, traced, metrics, load1, cores)
            log(f"trace written to {trace_path}")
        for field in ("wall_s", "cpu_s", "jit_s", "calib_s"):
            per_op: dict[str, list[float]] = {}
            for r in runner.records:
                per_op.setdefault(r["name"], []).append(r.get(field) or float("nan"))
            log(f"op {field} (warm passes first): " + "; ".join(
                f"{n} " + " ".join(f"{w:.3f}" for w in ws) for n, ws in per_op.items()))
        log(
            f"workload={args.workload} seed={args.seed} cores={cores} load1={load1:.2f} "
            f"timed_ops={len(plain)} passes={n_passes} timed_s={timed_s:.2f} {summary}"
        )
    finally:
        pool.shutdown()
        if spark is not None:
            stop_spark(spark)
        remove_new_tmp(tmp_before)
        shutil.rmtree(work, ignore_errors=True)

    # Names and units come from BENCHMARK.json, so the two cannot drift.
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in declared},
    }))
    return 0


def write_trace(args, runner: Runner, tracer, traced: list[dict], metrics, load1: float, cores: int) -> str:
    out_dir = os.path.join(STATE, "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
    traced_ids = {r["op"] for r in traced}
    doc = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "load1_at_start": load1,
        "metrics": metrics,
        "layers": tracer.totals(traced_ids),
        "ops": runner.records,
        "spans": tracer.spans,
    }
    with open(path, "w") as f:
        json.dump(doc, f)
    return path


if __name__ == "__main__":
    sys.exit(main())
