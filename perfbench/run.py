"""Crawl-frontier benchmark: one workload per call, one JSON line at the end.

    python3 perfbench/run.py --workload crawl_polite --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. ``--trace 0`` reports the end-to-end
metrics of BENCHMARK.json; ``--trace 1`` runs the same workload with every
call into a layer under its own Spark job group and reports the per-layer
metrics. Every metric is printed by name with its unit; the workload's
other named figures (see README.md) are printed on the lines before the
JSON result. All files go to ``.perfbench_work/`` (removed at exit),
``.perfbench_cache/`` (reference results per seed) and ``.perfbench_out/``
(spans of the last traced run) in the checkout.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("crawl_polite", "query_suite")
CLK_TCK = os.sysconf("SC_CLK_TCK")


class Context:
    """What a workload needs: the session, its seed and duration, private
    directories and the tracer."""

    def __init__(self, args, work: str, spark, session_s: float, tracer):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.cache_dir = os.path.join(ROOT, ".perfbench_cache")
        self.spark = spark
        self.tracer = tracer
        self._jvm = spark.sparkContext._gateway.proc.pid
        self.session = (session_s, self.cpu_s())  # (wall, CPU) of the session start

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def now(self) -> tuple:
        """(wall, CPU) seconds so far; ``since`` turns it into an interval."""
        return time.perf_counter(), self.cpu_s()

    def since(self, t0: tuple) -> tuple:
        t1 = self.now()
        return t1[0] - t0[0], t1[1] - t0[1]

    def cpu_s(self) -> float:
        """CPU seconds (user + system) used so far by this process, the
        Spark JVM and the Python workers the JVM started. Unlike wall time
        it leaves out the time the hypervisor gave to other guests."""
        t = os.times()
        ticks = 0
        for pid in [self._jvm] + _descendants(self._jvm):
            stat = _read_stat("/proc/%d/stat" % pid)
            if stat:  # utime, stime, and those of its reaped children
                ticks += sum(int(x) for x in stat[1][11:15])
        return t.user + t.system + ticks / CLK_TCK

    def jvm_peak_rss_mb(self) -> float:
        """Peak resident set (VmHWM) of the Spark JVM, which also runs the
        local executors."""
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open("/proc/%d/status" % pid) as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("no VmHWM in /proc/%d/status" % pid)


def cpu_jiffies() -> tuple[int, int]:
    """(all, stolen) CPU time of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def start_session(work: str, trace: bool):
    """A session as the program makes it, on ``local[<cores>]``, with every
    scratch path inside this run's work directory."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    from crawl_spark.session import make_session

    cores = len(os.sched_getaffinity(0))
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=%s -XX:-UsePerfData"
        % os.path.join(work, "tmp"),
    }
    if trace:  # keep the status of every job of a run for the job-group counts
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    spark = make_session("perfbench", master="local[%d]" % cores, shuffle_partitions=cores,
                         extra_conf=conf)
    try:
        spark.range(1).collect()
    except BaseException:
        stop_session(spark)
        raise
    return spark


def _read_stat(path: str):
    """(name, fields after the name) of a /proc stat file, or None if the
    process or thread has ended."""
    try:
        with open(path) as f:
            text = f.read()
    except OSError:
        return None
    return text[text.index("(") + 1 : text.rindex(")")], text[text.rindex(")") + 1 :].split()


def _children() -> dict:
    """Parent pid -> pids of its live children, from /proc."""
    out: dict = {}
    for d in os.listdir("/proc"):
        stat = _read_stat("/proc/%s/stat" % d) if d.isdigit() else None
        if stat:
            out.setdefault(int(stat[1][1]), []).append(int(d))
    return out


def _descendants(pid: int) -> list:
    children, out, todo = _children(), [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _running(pid: int) -> bool:
    """Whether ``pid`` exists and has not ended (a zombie has ended)."""
    stat = _read_stat("/proc/%d/stat" % pid)
    return stat is not None and stat[1][0] != "Z"


def stop_session(spark) -> None:
    """Stop Spark, then end its JVM and every process the JVM started (the
    Python workers), and wait until each has ended."""
    proc = spark.sparkContext._gateway.proc
    try:
        spark.stop()
    finally:
        workers = _descendants(proc.pid)
        proc.stdin.close()  # the gateway JVM exits when its stdin ends
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.monotonic() + 30
        for pid in workers:
            while _running(pid):
                if time.monotonic() > deadline:
                    raise RuntimeError("process %d outlived the Spark JVM" % pid)
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    break
                time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops the processes it started (see stop_session)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "crawl_spark")) or not os.path.exists(spec_path):
        print("perfbench: run from a checkout of the repository (crawl_spark/ and "
              "BENCHMARK.json at %s)" % ROOT, file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    metrics = spec["per_layer"] if args.trace else spec["end_to_end"]

    # the benchmark's own directory is not an import root; the checkout is
    sys.path[:] = [p for p in sys.path if os.path.abspath(p or ".") != os.path.dirname(
        os.path.abspath(__file__))]
    sys.path.insert(0, ROOT)
    os.chdir(ROOT)
    cpu0 = cpu_jiffies()
    work = os.path.join(ROOT, ".perfbench_work", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    os.makedirs(work)
    spark = None
    try:
        spark = start_session(work, bool(args.trace))
        session_s = time.perf_counter() - T_PROCESS
        from perfbench import crawl, suite
        from perfbench.spans import Tracer

        tracer = Tracer(spark.sparkContext if args.trace else None)
        ctx = Context(args, work, spark, session_s, tracer)
        result = {"crawl_polite": crawl.run, "query_suite": suite.run}[args.workload](ctx)
        if args.trace:
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(out_dir, "spans-%s-%d.json" % (args.workload, args.seed)))
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    values = result["layer"] if args.trace else result["e2e"]
    unknown = set(values) - {m["name"] for m in metrics}
    if unknown:
        raise RuntimeError("metrics missing from BENCHMARK.json: %s" % sorted(unknown))
    out = {}
    for m in metrics:
        # per-layer metrics of a layer this workload does not run read 0
        v = values[m["name"]] if not args.trace else values.get(m["name"], 0)
        out[m["name"]] = {"value": v, "unit": m["unit"]}
        print("metric %-46s %16.6f %s" % (m["name"], v, m["unit"]))
    # CPU time the hypervisor gave to other guests: a slow run with a high
    # share was slowed by the host, not by the program
    cpu1 = cpu_jiffies()
    result["report"]["host_steal_share"] = (
        "share", (cpu1[1] - cpu0[1]) / max(cpu1[0] - cpu0[0], 1))
    for name, (unit, v) in result["report"].items():
        print("report %-46s %16.6f %s" % (name, v, unit))
    for p in result["problems"]:
        print("FAILED %s" % p)
    failed = len(result["problems"])
    print(json.dumps({"correct": failed == 0, "attempted": result["attempted"],
                      "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
