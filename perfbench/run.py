"""Market-engine benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload hourly_tick --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The run starts one local Spark
session, sets its workload up and runs its warm-up operations (all of
that, cold, is ``setup_s``), then runs operations back to back — a
closed loop with one client — for ``--seconds`` and at least the
workload's ``MIN_OPS``, checks every output against the generated
market and prints one line per metric followed by a JSON summary as
the last line of standard output.

``--trace 0`` reports the end-to-end metrics with tracing off.
``--trace 1`` alternates untraced and traced operations, reports the
per-layer metrics of the traced ones plus the tracing overhead, and
writes the spans to ``.perfbench_out/``.

``--workload all`` runs every workload in turn (one process each) and
prints all their metrics together.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import threading
import time
import zlib

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "binancedatapipeline_spark"
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
DRIVER_MEM = "3g"
SETUP_OP = -1  # the operation index the set-up's spans carry
RSS_PERIOD_S = 0.1


# ----------------------------------------------------------- host probes


class RssSampler:
    """Peak resident set of this process and all its descendants
    (driver JVM, Python workers), sampled from /proc."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.sample())
            self._stop.wait(RSS_PERIOD_S)

    def sample(self) -> int:
        return sum(self._rss(p) for p in descendants(os.getpid()) | {os.getpid()})

    def _rss(self, pid: int) -> int:
        try:
            with open(f"/proc/{pid}/statm") as f:
                return int(f.read().split()[1]) * self._page
        except (OSError, IndexError, ValueError):
            return 0


def descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def host_speed_s() -> float:
    """Seconds for a fixed pure-Python hashing loop (the generator's
    inner loop), to compare hosts."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(200_000):
        acc ^= zlib.crc32(f"7|SYMUSDT|{i}".encode())
    return time.perf_counter() - t0


def host_info(spark) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return {
        "cpus": len(os.sched_getaffinity(0)),
        "mem_gib": round(mem_kb / 2**20, 1),
        "driver_mem": DRIVER_MEM,
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "host_speed_s": round(host_speed_s(), 4),
    }


# ---------------------------------------------------------------- session


def start_session(work: str):
    """Local Spark pinned to the host it runs on: every core, a driver
    heap well below the host's memory, scratch inside the checkout, no
    rate limits (the transports are in-process)."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers must import the package and the transports
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    from binancedatapipeline_spark.session import get_session

    return get_session(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Dderby.system.home={tmp}",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)


# ------------------------------------------------------------------- run


def run(args) -> int:
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            spark = start_session(work)
            session_s = time.perf_counter() - t0
            try:
                out = measure(spark, args, work, session_s)
            finally:
                stop_session(spark)
            out["detail"]["peak_rss_mb"] = rss.peak / 2**20
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report(args, out)
    return 0


def measure(spark, args, work: str, session_s: float) -> dict:
    from perfbench.stats import failures, median
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, log

    tracer = Tracer(spark, enabled=bool(args.trace))
    wl = WORKLOADS[args.workload](spark, args.seed, work, tracer)
    t = time.perf_counter()
    tracer.op = SETUP_OP
    first = wl.setup()
    tracer.op = None
    setup_s = time.perf_counter() - t
    tracer.harvest()
    warm = [first] if first is not None else []
    t = time.perf_counter()
    for _ in range(wl.WARMUP_OPS):
        warm.append(wl.op())
    warmup_s = time.perf_counter() - t
    tracer.skip_jobs()
    results = []
    deadline = time.perf_counter() + args.seconds
    i = 0
    min_ops = wl.MIN_OPS * (2 if args.trace else 1)  # traced runs need one of each
    while time.perf_counter() < deadline or len(results) < min_ops:
        # a traced run alternates untraced and traced operations
        traced = bool(args.trace) and i % 2 == 1
        tracer.enabled = traced
        tracer.op = i if traced else None
        with tracer.span("op"):
            r = wl.op()
        r.extra["traced"] = traced
        if traced:
            tracer.harvest()
        tracer.op = None
        results.append(r)
        i += 1
    tracer.enabled = False
    t = time.perf_counter()
    errors = wl.check()
    check_s = time.perf_counter() - t
    for e in errors:
        log(f"CHECK FAILED {args.workload}: {e}")
    attempted, failed = failures(warm + results)
    if errors:
        failed += 1
        attempted += 1
    untraced = [r.latency_s for r in results if not r.extra["traced"]]
    traced = [r.latency_s for r in results if r.extra["traced"]]
    out = {
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {"setup_s": session_s + setup_s + warmup_s, "op_p50_s": wl.op_p50_s(results)},
        "detail": {
            "session_start_s": session_s,
            "workload_setup_s": setup_s,
            "warmup_s": warmup_s,
            "op_s": untraced,
            "check_s": check_s,
            "ops_failed_ratio": failed / attempted,
            "host": host_info(spark),
        },
    }
    out["detail"].update(wl.issue_metrics(results))
    if args.trace:
        from perfbench.layers import layer_metrics

        out["layers"] = layer_metrics(tracer, wl, results, session_s, SETUP_OP)
        out["layers"]["trace.untraced_op_p50_s"] = median(untraced)
        out["layers"]["trace.traced_op_p50_s"] = median(traced)
        out["layers"]["trace.overhead_s"] = median(traced) - median(untraced)
        os.makedirs(OUT, exist_ok=True)
        tracer.write(os.path.join(OUT, f"spans-{args.workload}-{args.seed}.jsonl"))
    return out


UNITS = {"_s": "s", "_mb": "MB", "_ratio": "ratio", "_per_s": "rows/s", "_pct": "%"}


def unit_of(name: str) -> str:
    for suffix, unit in sorted(UNITS.items(), key=lambda kv: -len(kv[0])):
        if name.endswith(suffix):
            return unit
    return "count"


def report(args, out: dict) -> None:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    source = out["layers"] if args.trace else out["metrics"]
    metrics = {n: {"value": source.get(n, 0.0), "unit": units[n]} for n in names}
    d = out["detail"]
    print(f"# workload {args.workload} seed {args.seed} seconds {args.seconds} "
          f"trace {args.trace} host {json.dumps(d['host'])}")
    shown = dict(out["metrics"], **{k: v for k, v in d.items() if not isinstance(v, (dict, list))})
    for name, value in shown.items():
        print(f"{name} {_fmt(value)} {unit_of(name)}")
    for name in ("op_s",):
        print(f"# {name} {[round(x, 4) for x in d[name]]}")
    if args.trace:
        from perfbench.layers import MOVES

        for name, value in sorted(out["layers"].items()):
            print(f"{name} {_fmt(value)} {units.get(name, unit_of(name))}")
        for prefix, metric, workload in MOVES:
            print(f"# {prefix}* should move {metric} on {workload}")
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(
            OUT, f"result-{args.workload}-{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(out, f, indent=1, default=str)
    print(json.dumps({"correct": out["correct"], "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}))


def _fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def run_all(args) -> int:
    """Every workload in its own process; all metrics printed together."""
    from perfbench.workloads import WORKLOADS

    rows, combined, ok = [], {}, True
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
        sys.stderr.write(proc.stderr)
        if proc.returncode != 0:
            return proc.returncode
        lines = proc.stdout.strip().splitlines()
        last = json.loads(lines[-1])
        ok &= last["correct"] and last["failed"] == 0
        rows += [f"{name}: {line}" for line in lines[:-1] if not line.startswith("#")]
        combined.update({f"{name}.{k}": v for k, v in last["metrics"].items()})
    print("\n".join(rows))
    print(json.dumps({"correct": ok, "metrics": combined}))
    return 0


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ package next to perfbench/ in {ROOT}",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
