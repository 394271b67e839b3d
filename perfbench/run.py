"""perfbench: the ccspark batch benchmark.

    python3 perfbench/run.py --workload crawl_build --seed 1 \\
        --seconds 12 --trace 0

Run from the repository root.  Generates the workload's inputs from
``--seed`` (outside any timed region), pins the Spark environment, then:

* ``--trace 0``: sets the session up once cold (JVM start; untimed),
  runs a warm-up pass, then closed-loop passes (one client, the next
  pass starts when the previous one has committed) for ``--seconds`` and
  at least three passes, checking every pass's output; then stops the
  SparkContext and sets up again, three times (``setup_s`` is the median
  of those three).  Prints the end-to-end metrics.
* ``--trace 1``: one set-up, a warm-up and an untraced pass, one traced
  pass (see ``perfbench/trace.py``), the same job on ``local[1]``, and
  direct single-core kernel rates.  Prints the per-layer metrics.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; a line before it
starting with ``perfbench-env`` records the environment.  Everything the
run writes goes under ``.perfbench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

SETUP_REPEATS = 3
WARMUP_PASSES = 1
MIN_PASSES = 3
PASS_TIMEOUT_S = 90
DRIVER_MEM = "2g"

# the metrics BENCHMARK.json gates; wall_s, docs_per_s, cpu_s,
# peak_rss_mb and failed_frac are printed on stderr too (see README for
# why they are not gated)
END_TO_END = {"setup_s": "s", "cpu_norm": "ratio",
              "stored_mb_per_in_mb": "ratio"}
REPORTED = {"setup_s": "s", "wall_s": "s", "docs_per_s": "docs/s",
            "cpu_s": "s", "cpu_norm": "ratio", "peak_rss_mb": "MB",
            "stored_mb_per_in_mb": "ratio", "failed_frac": "ratio"}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_env(work: str, trace: bool) -> None:
    """Production defaults, a driver heap below physical RAM, and every
    scratch path inside the work directory.  Must run before the JVM
    starts: the submit arguments become JVM system properties that
    every later SparkContext of this process inherits."""
    import shlex
    for k in [k for k in os.environ if k.startswith("CCSPARK_")]:
        del os.environ[k]
    for d in ("spark-local", "tmp", "warehouse", "eventlog", "pyhook"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["CCSPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, including spark-submit's launcher: no /tmp/hsperfdata;
    # a fixed set of JIT compiler threads, so that cpu_seconds can take
    # all of their time out (a compiler thread that exits mid-pass would
    # leave its time in the pass)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        "-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.environ["PERFBENCH_HOOK_DIR"] = os.path.join(work, "pyhook")
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.python.daemon.module": "perfbench.pyhook",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"


def environment(load_at_start: float) -> dict:
    import pyarrow
    import pyspark
    src = hashlib.sha256()
    pkg = os.path.join(ROOT, "ccspark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for name in sorted(f for f in files if f.endswith(".py")):
            with open(os.path.join(dirpath, name), "rb") as f:
                src.update(f.read())
    commit = None
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.exists(head):
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            p = os.path.join(ROOT, ".git", ref[5:])
            if os.path.exists(p):
                with open(p) as f:
                    commit = f.read().strip()
        else:
            commit = ref
    return {"commit": commit, "ccspark_sha256": src.hexdigest(),
            "nproc": nproc(), "loadavg_at_start": load_at_start,
            "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "driver_mem": DRIVER_MEM,
            "ccspark_env": {k: v for k, v in os.environ.items()
                            if k.startswith("CCSPARK_")}}


def new_session(cores: int):
    from ccspark.session import get_spark
    return get_spark("perfbench", cores=cores, shuffle_partitions=cores)


def stop_jvm() -> None:
    """Stop the SparkContext and the JVM gateway, then wait until every
    process this run started (the JVM, Python daemons and workers) has
    ended."""
    from pyspark import SparkContext
    started = [p for p in _tree() if p != os.getpid()]
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while (any(os.path.exists(f"/proc/{p}") for p in started)
           and time.monotonic() < deadline):
        time.sleep(0.1)


def _tree() -> list[int]:
    """This process and all its descendants (the driver, the JVM and
    the Python workers)."""
    children: dict = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(pid))
    out, stack = [], [os.getpid()]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def cpu_snapshot() -> dict:
    """Per process of the tree: (own ticks, ticks of reaped children,
    parent pid), keyed by pid; per JIT compiler thread of the JVM: its
    ticks, keyed by (pid, tid).  Ticks are user + system."""
    snap: dict = {}
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        snap[pid] = (int(fields[11]) + int(fields[12]),
                     int(fields[13]) + int(fields[14]), int(fields[1]))
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    head, rest = f.read().rsplit(")", 1)
            except OSError:
                continue
            if head.split("(", 1)[1].startswith(JIT_THREADS):
                r = rest.split()
                snap[(pid, tid)] = int(r[11]) + int(r[12])
    return snap


def cpu_seconds(before: dict, after: dict) -> float:
    """CPU the process tree spent between two snapshots, without the
    JIT compiler threads.

    JIT work is JVM warm-up: on short passes it is about half the JVM's
    CPU and shrinks pass after pass, so it would swamp the pass's own
    work.  A process that exits during the interval is counted through
    its parent's reaped-children ticks, minus what it had used before
    the interval; one whose parent exited too is lost, never negative.
    Steal time is not CPU time, so host contention moves this far less
    than wall time."""
    ticks = 0
    for key, v in after.items():
        if isinstance(key, tuple):
            ticks -= v - before.get(key, 0)
            continue
        own, kids, _ = v
        own0, kids0, _ = before.get(key, (0, 0, 0))
        ticks += own - own0 + kids - kids0
    for key, v in before.items():
        if not isinstance(key, tuple) and key not in after \
                and v[2] in after:
            ticks -= v[0] + v[1]
    return ticks / os.sysconf("SC_CLK_TCK")


_GAUGE_BUF = bytes(range(256)) * 32768        # 8 MiB


def _gauge_loop() -> float:
    c0 = time.process_time()
    s = 0
    for i in range(1_000_000):
        s += i * i % 7
    for _ in range(4):
        hashlib.sha256(_GAUGE_BUF).digest()
    return time.process_time() - c0


def host_gauge() -> float:
    """The host's current speed per core under full load: CPU seconds of
    a fixed loop (integer arithmetic, then sha256 over 8 MiB) run in
    nproc forked processes at once, as a pass loads every core (the
    median of the processes; the fastest of three such readings).  On a
    shared VM it moves by 10-30% within minutes, and the pass's CPU time
    moves with it.  Interference (the JVM's JIT and GC threads finishing
    the last pass, other guests) only slows a reading, so the fastest
    one is the steadiest."""
    best = float("inf")
    for _ in range(3):
        children = []
        for _ in range(nproc()):
            r, w = os.pipe()
            pid = os.fork()
            if pid == 0:
                os.close(r)
                os.write(w, repr(_gauge_loop()).encode())
                os._exit(0)
            os.close(w)
            children.append((pid, r))
        times = []
        for pid, r in children:
            with os.fdopen(r) as f:
                times.append(float(f.read()))
            os.waitpid(pid, 0)
        best = min(best, statistics.median(times))
    return best


def tree_hwm_mb() -> float:
    """Sum of VmHWM over the process tree."""
    total_kb = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024


class Passes:
    """Runs passes one at a time and checks each one's output."""

    def __init__(self, wl, out: str):
        self.wl, self.out = wl, out
        self.attempted = self.failed = 0
        self.digest = None
        self.cpu = 0.0
        self.errors: list[str] = []

    def run(self, spark) -> float | None:
        """One pass; its wall time, or None if it failed.  The pass's
        process-tree CPU seconds are left in ``self.cpu``."""
        self.attempted += 1
        shutil.rmtree(self.out, ignore_errors=True)
        timer = threading.Timer(PASS_TIMEOUT_S,
                                spark.sparkContext.cancelAllJobs)
        timer.start()
        try:
            c0, t0 = cpu_snapshot(), time.perf_counter()
            self.wl.run_pass(spark, self.out)
            wall = time.perf_counter() - t0
            self.cpu = cpu_seconds(c0, cpu_snapshot())
        except Exception as e:  # a failed pass is counted, not fatal
            self.fail(f"pass raised {type(e).__name__}: {e}")
            return None
        finally:
            timer.cancel()
        from perfbench.check import CheckFailed
        try:
            d = self.wl.check(self.out)
        except CheckFailed as e:
            self.fail(f"check: {e}")
            return None
        if self.digest is None:
            self.digest = d
        elif d != self.digest:
            self.fail("output digest changed between passes")
            return None
        return wall

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)
        print(f"perfbench: pass {self.attempted} failed: {msg[:2000]}",
              file=sys.stderr)


def measure(wl, work: str, seconds: float):
    from perfbench.check import stored_bytes
    # the cold set-up pays the JVM start, class loading and first-time
    # code generation, which vary by host far more than the set-up work;
    # setup_s is the median of warm re-setups, taken after the passes so
    # that the passes run in the session of the cold set-up
    t0 = time.perf_counter()
    spark = new_session(nproc())
    wl.setup(spark)
    cold = time.perf_counter() - t0
    passes = Passes(wl, os.path.join(work, "out"))
    warm = [passes.run(spark) for _ in range(WARMUP_PASSES)]
    walls, cpus, stored, gauges = [], [], [], []
    t_end = time.perf_counter() + seconds
    while len(walls) < MIN_PASSES or time.perf_counter() < t_end:
        gauges.append(host_gauge())
        wall = passes.run(spark)
        if wall is None:
            if passes.failed > 3:
                break
            continue
        walls.append(wall)
        cpus.append(passes.cpu)
        stored.append(stored_bytes(passes.out))
    rss = tree_hwm_mb()
    setups = []
    for _ in range(SETUP_REPEATS):
        spark.stop()
        t0 = time.perf_counter()
        spark = new_session(nproc())
        wl.setup(spark)
        setups.append(time.perf_counter() - t0)
    if not walls:
        return False, passes, {}
    wall = statistics.median(walls)
    metrics = {
        "setup_s": statistics.median(setups),
        "wall_s": wall,
        "docs_per_s": wl.inp.n_docs / wall,
        "cpu_s": statistics.median(cpus),
        "cpu_norm": statistics.median(cpus) / min(gauges),
        "peak_rss_mb": rss,
        "failed_frac": passes.failed / passes.attempted,
        "stored_mb_per_in_mb": statistics.median(stored) / wl.inp.text_bytes,
    }
    print(f"perfbench: {wl.name} cold_setup={cold:.3f} "
          f"setups={['%.3f' % s for s in setups]} "
          f"warmup={warm} "
          f"walls={['%.3f' % w for w in walls]} "
          f"cpus={['%.2f' % c for c in cpus]} "
          f"gauges={['%.3f' % g for g in gauges]} n={len(walls)}",
          file=sys.stderr)
    return passes.failed == 0, passes, metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    load_at_start = os.getloadavg()[0]
    # the program under test and the kernel oracle must be present;
    # without them the benchmark fails before printing any result
    import ccspark.api  # noqa: F401
    from tests import oracle  # noqa: F401

    from perfbench import gen
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"one of {sorted(WORKLOADS)}")

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        pin_env(work, bool(args.trace))
        t0 = time.perf_counter()
        inputs_dir = os.path.join(work, "inputs")
        inp = gen.GENERATORS[args.workload](inputs_dir, args.seed)
        print(f"perfbench: inputs {args.workload} seed={args.seed} "
              f"sha256={gen.input_digest(inputs_dir)} "
              f"docs={inp.n_docs} text_bytes={inp.text_bytes} "
              f"({time.perf_counter() - t0:.2f}s)", file=sys.stderr)
        wl = WORKLOADS[args.workload](inp)
        if args.trace:
            from perfbench.trace import PER_LAYER, traced
            ok, passes, metrics = traced(wl, work, args.seed)
            units = PER_LAYER
        else:
            ok, passes, metrics = measure(wl, work, args.seconds)
            units = END_TO_END
            for name, unit in REPORTED.items():
                print(f"perfbench: {name:34s} {metrics.get(name, 0.0):16.6f} "
                      f"{unit}", file=sys.stderr)
        env = environment(load_at_start)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    if not metrics:
        print(f"perfbench: no pass succeeded: {passes.errors[:3]}",
              file=sys.stderr)
        return 1
    if args.trace:
        for name, unit in units.items():
            print(f"perfbench: {name:34s} {metrics[name]:16.6f} {unit}",
                  file=sys.stderr)
    print("perfbench-env " + json.dumps(env, sort_keys=True))
    print(json.dumps({
        "correct": bool(ok), "attempted": passes.attempted,
        "failed": passes.failed,
        "metrics": {n: {"value": float(metrics[n]), "unit": u}
                    for n, u in units.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
