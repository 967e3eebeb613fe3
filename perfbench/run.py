#!/usr/bin/env python3
"""Benchmark for the cartography_spark engine.

    python3 perfbench/run.py --workload graph_sync --seed 1 --seconds 1 --trace 0

Run from the root of a checkout.  Each run is one closed-loop client doing
one operation at a time in a fresh process on ``local[<cpus>]``: inputs are
generated from the seed (cached under ``perfbench/.work``), a Spark session
starts, and the workload's operations run cold, as a scheduled batch job
would run them.  Every operation's output is checked.  Whole workload cycles
repeat until ``--seconds`` have elapsed (at least one cycle); later cycles
run warm, so the benchmark's own setting of one second keeps every run at
exactly one cold cycle.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` -- the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1`` (spans around the
engine's public functions plus Spark's event log).  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

E2E_UNITS = {"wall_s": "s", "cpu_s": "s", "setup_s": "s", "output_mb": "MB"}


class HostNoise:
    """CPU steal share and load average over the run (other tenants' noise)."""

    def __init__(self):
        self.load1_start = self._load1()
        self.cpu0 = self._cpu()

    @staticmethod
    def _cpu() -> tuple[int, int]:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
        return sum(vals[:8]), vals[7]  # user..steal, steal

    @staticmethod
    def _load1() -> float:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])

    def finish(self) -> dict[str, float]:
        (t0, s0), (t1, s1) = self.cpu0, self._cpu()
        return {"steal_pct": round(100.0 * (s1 - s0) / max(t1 - t0, 1), 3),
                "load1_start": self.load1_start, "load1_end": self._load1()}


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(run_dir: str, trace: bool):
    from cartography_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # Spark, its Python workers and the JVM write temporary files only here
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    if trace:
        os.makedirs(os.path.join(run_dir, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return get_spark(app_name="perfbench", master=f"local[{cpus()}]", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the launcher exits when its stdin closes
        proc.wait(timeout=60)


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def tree_cpu_s(pid: int) -> float:
    """CPU seconds of this process and of ``pid`` with its descendants (the
    JVM and the Python workers it forks), reaped children included.  Time
    the hypervisor steals from the vCPUs is not counted."""
    ticks, stack = 0, [pid]
    while stack:
        p = stack.pop()
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
            for task in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{task}/children") as f:
                    stack.extend(int(c) for c in f.read().split())
        except (FileNotFoundError, ProcessLookupError):
            continue  # exited meanwhile
    own = os.times()
    return ticks / os.sysconf("SC_CLK_TCK") + own.user + own.system


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def timed_cpu(fn, pid: int) -> tuple[float, float]:
    """(wall seconds, CPU seconds of the JVM tree and this process) of fn()."""
    c0 = tree_cpu_s(pid)
    wall = timed(fn)
    return wall, tree_cpu_s(pid) - c0


def run_cycles(W, args, inputs: str, run_dir: str, expected: dict):
    """Set up a session and run workload cycles; returns the run's record."""
    t0 = time.perf_counter()
    spark = start_spark(run_dir, bool(args.trace))
    session_s = time.perf_counter() - t0
    rec = {"attempted": 0, "failed": 0, "cycles": [], "session_s": session_s}
    pid = jvm_pid(spark)
    tracer = hits = None
    try:
        if args.trace:
            import layers
            from spans import Tracer

            tracer = Tracer()
            hits = layers.install(tracer)
        start = time.perf_counter()
        while True:
            w = W(spark, inputs, os.path.join(run_dir, f"cycle{len(rec['cycles'])}"),
                  args.seed, expected)
            prep = timed(w.prepare)
            walls: dict[str, float] = {}
            cpu = 0.0
            ops = w.ops(tracer)
            for i, (name, op, check) in enumerate(ops):
                rec["attempted"] += 1
                try:
                    if tracer is not None:
                        with tracer.span(f"phase:{name}", "workload"):
                            walls[name], c = timed_cpu(op, pid)
                    else:
                        walls[name], c = timed_cpu(op, pid)
                    cpu += c
                except Exception:
                    traceback.print_exc()
                    left = len(ops) - i - 1  # later operations depend on this one
                    rec["attempted"] += left
                    rec["failed"] += 1 + left
                    break
                try:
                    check()
                except Exception as e:
                    print(f"check failed after {name}: {e!r}", file=sys.stderr)
                    rec["failed"] += 1
            rss = jvm_peak_rss_mb(pid)
            w.summarize(walls)
            rec["cycles"].append({"wall_s": sum(walls.values()), "prep_s": prep,
                                  "cpu_s": cpu,
                                  "peak_rss_mb": rss, "output_mb": w.output_mb,
                                  "walls": walls, "report": w.report, "digests": w.digests})
            if time.perf_counter() - start >= args.seconds:
                break
        if tracer is not None:
            tracer.unpatch()
            rec["counts"] = w.trace_counts()
            rec["store_root"] = getattr(w, "root", None)
            rec["tracer"], rec["hits"] = tracer, hits
    finally:
        if tracer is not None:
            tracer.unpatch()
        stop_spark(spark)
    return rec


def traced_metrics(rec, run_dir: str, wall: float, workload: str) -> dict[str, float]:
    import layers
    from spans import format_table, layer_table, read_event_log

    tracer = rec["tracer"]
    tracer.dump(os.path.join(WORK, f"spans-{workload}-{os.getpid()}.jsonl"))
    phases = [sp for sp in tracer.spans if sp.parent is None]
    # jobs outside the operations (output checks) are not the workload's
    jobs = [j for j in read_event_log(os.path.join(run_dir, "eventlog"))
            if any(p.start <= j.submit <= p.end for p in phases)]
    m = layers.per_layer_metrics(tracer.spans, jobs, rec["hits"], rec["store_root"],
                                 rec["counts"], wall)
    print("per-layer table (jobs attributed to the innermost open span by submission time;")
    print("lazily built frames bill their compute to the action that consumes them):")
    print(format_table(layer_table(tracer.spans, jobs)))
    untraced = [r["wall_s"] for r in read_records() if r["workload"] == workload and not r["trace"]]
    compute = m.get("kg.bulk.compute_s", 0.0)
    if untraced:
        base = statistics.median(untraced)
        print(f"tracing overhead: {wall - compute - base:+.3f} s (traced wall {wall:.3f} s minus the "
              f"compute-only pass {compute:.3f} s minus the untraced median {base:.3f} s "
              f"of {len(untraced)} runs)")
    else:
        print("tracing overhead: n/a (no untraced run of this workload recorded in this checkout)")
    print(f"uncovered by engine spans: {m['trace.uncovered_s']:.3f} s of {wall:.3f} s")
    return m


def read_records() -> list[dict]:
    path = os.path.join(WORK, "records.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import cartography_spark
    except ImportError as e:
        print(f"engine not found in {ROOT}: {e}", file=sys.stderr)
        return 2
    if os.path.dirname(os.path.dirname(os.path.realpath(cartography_spark.__file__))) != os.path.realpath(ROOT):
        print(f"engine imported from outside the checkout: {cartography_spark.__file__}", file=sys.stderr)
        return 2
    import gen
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    W = workloads.WORKLOADS[args.workload]
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f).get(W.name, {}).get(str(args.seed), {})

    os.makedirs(WORK, exist_ok=True)
    inputs = gen.generate(W.shape, args.seed, os.path.join(WORK, "inputs", f"{W.name}-{args.seed}"), WORK)
    run_dir = os.path.join(WORK, "runs", f"{W.name}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    noise = HostNoise()
    try:
        rec = run_cycles(W, args, inputs, run_dir, expected)
        cyc = rec["cycles"]
        med = {k: statistics.median(c[k] for c in cyc)
               for k in ("wall_s", "cpu_s", "peak_rss_mb", "output_mb")}
        e2e = {"wall_s": med["wall_s"], "cpu_s": med["cpu_s"],
               "setup_s": rec["session_s"] + cyc[0]["prep_s"], "output_mb": med["output_mb"]}
        per_layer = traced_metrics(rec, run_dir, med["wall_s"], W.name) if args.trace else None
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    host = noise.finish()

    print(f"workload {W.name} seed {args.seed} cpus {cpus()} cycles {len(cyc)} trace {args.trace}")
    for k, (_, unit) in cyc[0]["report"].items():
        v = statistics.median(c["report"][k][0] for c in cyc)
        print(f"  {k} {v:.4f} {unit}" if isinstance(v, float) else f"  {k} {v} {unit}")
    for k, v in e2e.items():
        print(f"  {k} {v:.4f} {E2E_UNITS[k]}")
    print(f"  peak_rss_mb {med['peak_rss_mb']:.1f} MB")
    print("host " + " ".join(f"{k}={v}" for k, v in host.items()))
    print("digests " + json.dumps({W.name: {str(args.seed): cyc[0]["digests"]}}, sort_keys=True))
    with open(os.path.join(WORK, "records.jsonl"), "a") as f:
        f.write(json.dumps({"workload": W.name, "seed": args.seed, "trace": args.trace,
                            "failed": rec["failed"], **e2e, "peak_rss_mb": med["peak_rss_mb"], **host,
                            "walls": cyc[0]["walls"]}) + "\n")

    if per_layer is None:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    else:
        import layers

        metrics = {k: {"value": v, "unit": layers.unit(k)} for k, v in per_layer.items()}
    print(json.dumps({"correct": rec["failed"] == 0, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
