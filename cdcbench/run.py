#!/usr/bin/env python3
"""CDC engine benchmark: one workload, one seed, one result line.

    python3 cdcbench/run.py --workload bulk_replay --seed 1 --seconds 20 --trace 0

Run from the root of the repository; the engine (``data_services_spark``)
is imported from there. Everything the run writes — inputs, lakes, the
Spark event log, temp files — lives under ``.cdcbench_work/`` in that
root and is removed at the end, except the small record of untraced
results that ``--trace 1`` compares itself against.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer metrics
(from a Spark event log folded into the benchmark's spans). The line
before it carries the sample counts and the pinned settings. The exit
code is non-zero, with no result line, when the run cannot complete.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".cdcbench_work")
HISTORY = os.path.join(WORK_ROOT, "untraced.jsonl")
DRIVER_MEMORY = "2g"

# environment that would change how the engine runs; unset for every run
_UNPINNED_ENV = ("DSS_PHASE_TIMING", "SPARK_MASTER", "SPARK_LOCAL_DIRS",
                 "SPARK_CONF_DIR", "PYSPARK_SUBMIT_ARGS", "SPARK_UI")


def _cores(workload: str) -> int:
    from cdcbench.workloads import SPARK_SLOTS

    n = len(os.sched_getaffinity(0))
    return min(SPARK_SLOTS[workload] or n, n)


def settings(workload: str) -> dict:
    from cdcbench.workloads import BUCKETS, COMPACT_THRESHOLD, SHUFFLE_PARTITIONS

    return {
        "master": f"local[{_cores(workload)}]", "shuffle_partitions": SHUFFLE_PARTITIONS,
        "bucket_count": BUCKETS, "driver_memory": DRIVER_MEMORY,
        "compact_threshold": COMPACT_THRESHOLD, "DSS_PHASE_TIMING": "unset",
    }


def _pin_environment(work: str) -> None:
    for k in list(os.environ):
        if k in _UNPINNED_ENV or k.startswith("SPARK_GRAFT_"):
            del os.environ[k]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    # every JVM the launcher starts keeps its temp files in the work dir
    # and writes no perf-data file to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (driver JVM, Python workers), sampled from /proc."""

    def __init__(self, period_s: float = 0.2) -> None:
        self.peak_kb = 0
        self._period = period_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc: object) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(me))
            self._stop.wait(self._period)


def _cpu_ticks() -> list[int]:
    """The host-wide ``cpu`` line of /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _host_shares(t0: list[int], t1: list[int]) -> dict[str, float]:
    """Busy and steal time over an interval, as shares of all CPU time."""
    d = [b - a for a, b in zip(t0, t1)]
    total = max(1, sum(d))
    return {"busy": (total - d[3] - d[4] - d[7]) / total, "steal": d[7] / total}


def _tree_rss_kb(root: int) -> int:
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                pass
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    total = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            pass
    return total


def start_spark(work: str, trace: bool, cores: int):
    from data_services_spark.session import get_spark

    from cdcbench.workloads import SHUFFLE_PARTITIONS

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # a fixed heap: when and how far the heap grows no longer depends
        # on GC timing, which moved peak RSS by a fifth between runs
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.compress": "false"})
    return get_spark("cdcbench", cpus=cores, shuffle_partitions=SHUFFLE_PARTITIONS,
                     driver_memory=DRIVER_MEMORY, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import data_services_spark  # noqa: F401  the engine under test
    except ImportError as e:
        print(f"[cdcbench] engine not found under {ROOT}: {e}", file=sys.stderr)
        return 2
    from cdcbench import checks, metrics
    from cdcbench.spans import Tracer
    from cdcbench.workloads import SHAPES, WORKLOADS, Bench, generate_inputs

    if args.workload not in WORKLOADS:
        print(f"[cdcbench] unknown workload {args.workload!r}; "
              f"one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    if args.trace and not _history(args.workload):
        _run_untraced(args)
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _pin_environment(work)
    tracer = Tracer()
    process_start_ms = tracer.now_ms() - (time.monotonic() - T_START) * 1000.0
    try:
        with RssSampler() as rss:
            with tracer.span("session") as sp_session:
                spark = start_spark(work, bool(args.trace), _cores(args.workload))
            try:
                b = Bench(spark, tracer, work, args.workload, args.seed,
                          args.seconds, bool(args.trace))
                b.session_span = sp_session
                b.process_start_ms = process_start_ms
                with tracer.span("generate") as sp_gen:
                    generate_inputs(spark, SHAPES[args.workload], args.seed, b.inputs)
                ticks0 = _cpu_ticks()
                WORKLOADS[args.workload](b)
                host = _host_shares(ticks0, _cpu_ticks())
                window_s = (tracer.now_ms() - b.setup_done_ms) / 1000.0
                with tracer.span("checks") as sp_checks:
                    checks.verify(b)
                layer_inputs = metrics.lake_figures(b) if args.trace else None
                if args.trace:
                    metrics.run_probes(b)
            finally:
                stop_spark(spark)
        e2e = metrics.end_to_end(b, rss.peak_kb)
        if args.trace:
            result = metrics.per_layer(b, layer_inputs, os.path.join(work, "eventlog"),
                                       e2e, _history(args.workload))
        else:
            result = e2e
            _record(args.workload, e2e)
        detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "settings": settings(args.workload),
                  "samples": {k: [round(x, 1) for x in v] for k, v in b.samples.items()},
                  "events": b.events, "shape": SHAPES[args.workload].__dict__,
                  "setup_ms": metrics.setup_parts(b),
                  "generate_ms": sp_gen["end_ms"] - sp_gen["start_ms"],
                  "window_s": window_s, "host_cpu": host,
                  "checks_ms": sp_checks["end_ms"] - sp_checks["start_ms"],
                  "wall_s": time.monotonic() - T_START}
        print(json.dumps({"detail": detail}))
        print(json.dumps({
            "correct": bool(b.correct), "attempted": int(b.attempted),
            "failed": int(b.failed),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in result.items()},
        }))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _record(workload: str, e2e: dict) -> None:
    """Append this untraced result so a later traced run can state its
    overhead against it."""
    with open(HISTORY, "a") as f:
        f.write(json.dumps({"workload": workload,
                            "commit_ms_p50": e2e["commit_ms_p50"][0]}) + "\n")


def _run_untraced(args: argparse.Namespace) -> None:
    """No untraced result recorded yet in this checkout: make one first,
    in its own process, with the same arguments."""
    import subprocess

    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    subprocess.run(cmd, stdout=subprocess.DEVNULL, check=True, timeout=170)


def _history(workload: str) -> list[float]:
    try:
        with open(HISTORY) as f:
            rows = [json.loads(line) for line in f if line.strip()]
    except FileNotFoundError:
        return []
    return [r["commit_ms_p50"] for r in rows if r.get("workload") == workload]


if __name__ == "__main__":
    sys.exit(main())
