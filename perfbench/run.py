"""Benchmark entry point.

    python3 perfbench/run.py --workload olap_read --seed 1 --seconds 5 --trace 0

Runs one seeded, closed-loop, single-client workload against the
package in the checkout this file sits in, checks every output, and
prints one JSON line: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. Exits non-zero without a result
when the package or the test data is missing. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

from spans import Tracer, steal_s

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUP_REPS = 3
# client statements; compaction is the initiator's work, measured by the
# hive_acid.compact_* metrics
TXN_VERBS = ("insert", "update", "delete", "merge", "buffered", "commit")
EXT_MODULES = ("dedup", "similarity", "text_analysis", "training")


def mem_gb() -> float:
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh
                  if line.startswith("MemTotal:"))
    return kb / 2**20


def machine_env(work: Path) -> dict[str, str]:
    """Pin cores, Spark driver heap and every scratch directory to the run."""
    cores = len(os.sched_getaffinity(0))
    # a quarter of RAM, 1-8 GiB: the engine's 32g default overcommits
    heap_gb = max(1, min(8, int(mem_gb() / 4)))
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        # Python workers import the engine from this checkout too
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": str(tmp),
        # every JVM, spark-submit's launcher included: no scratch outside
        # the run's directory (UsePerfData writes /tmp/hsperfdata_<user>)
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


class Ctx:
    """Run parameters plus the set-up and stop rules shared by workloads."""

    def __init__(self, args, work: Path, sf_dir: str, cores: int):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = str(work)
        self.sf_dir = sf_dir
        self.cores = cores
        self.setup_s: list[float] = []
        self.session_s: list[float] = []
        self.catalog_s: list[float] = []
        self.spark = None
        self.t0 = time.perf_counter()
        self.phases: dict[str, float] = {}

    def mark(self, phase: str) -> None:
        """Record when ``phase`` ended, in seconds since the run began."""
        self.phases[phase] = round(time.perf_counter() - self.t0, 2)

    def setup(self, fn):
        """Get the session and run ``fn(spark)`` SETUP_REPS times. The
        first ``get_spark`` launches the JVM; later ones return the
        running session, so each later rep redoes the workload's own
        set-up on a warm JVM."""
        from layer_apache_hive_spark.session import get_spark

        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            self.spark = get_spark(app_name="perfbench")
            self.session_s.append(time.perf_counter() - t0)
            fn(self.spark)
            self.setup_s.append(time.perf_counter() - t0)
        self.mark("setup")
        return self.spark

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process, the JVM and the
        JVM's descendants (the Python workers)."""
        from pyspark import SparkContext

        jvm = SparkContext._gateway.proc.pid
        stats = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as fh:
                        f = fh.read().rsplit(")", 1)[1].split()
                except OSError:  # the process has exited meanwhile
                    continue
                # ppid; utime, stime, cutime, cstime in clock ticks
                stats[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]))
        ticks, level = 0, {jvm}
        while level:
            ticks += sum(stats[p][1] for p in level if p in stats)
            level = {p for p, (pp, _) in stats.items() if pp in level}
        own = os.times()
        return ticks / os.sysconf("SC_CLK_TCK") + own.user + own.system

    def meter(self) -> tuple[float, float, float]:
        """(wall, CPU, VM steal) seconds so far; ``measured`` turns two
        readings into the loop's figures."""
        return time.perf_counter(), self.cpu_s(), steal_s()

    def measured(self, start: tuple[float, float, float]) -> dict:
        wall, cpu, steal = (b - a for a, b in zip(start, self.meter()))
        return {"measured_s": wall, "measured_cpu_s": cpu,
                "measured_steal_s": steal}

    def warm_tables(self, spark, tables) -> None:
        """Open each table (file listing, footers, schema); the warm-up
        that follows set-up reads the data."""
        from layer_apache_hive_spark.catalog import read_table

        t0 = time.perf_counter()
        for t in tables:
            read_table(spark, self.sf_dir, t)
        self.catalog_s.append(time.perf_counter() - t0)

    def tracer(self, spark) -> Tracer:
        return Tracer(spark, self.cores)

    def done(self, elapsed: float, n_units: int, min_units: int) -> bool:
        """Stop after whole passes / rounds: at least ``--seconds`` and
        ``min_units`` of them, and two when tracing (one off, one on)."""
        if self.trace:
            min_units = max(min_units, 2)
        return elapsed >= self.seconds and n_units >= min_units


def pct(values, q: float) -> float:
    """Harrell-Davis estimate of the ``q`` quantile (0..1) of ``values``:
    the mean of all order statistics weighted by a Beta((n+1)q,
    (n+1)(1-q)) density. On a run's few samples it varies less from run
    to run than any single order statistic."""
    import numpy as np

    xs = sorted(values)
    n = len(xs)
    if n < 2:
        return xs[0] if xs else 0.0
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    grid = np.linspace(0.0, 1.0, 4001)
    dens = grid ** (a - 1) * (1 - grid) ** (b - 1)
    cdf = np.concatenate([[0.0], np.cumsum(dens[1:] + dens[:-1])])
    weights = np.diff(np.interp(np.arange(n + 1) / n, grid, cdf / cdf[-1]))
    return float(weights @ np.array(xs))


def med(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def end_to_end(ctx, ops: list[dict], result: dict) -> dict:
    walls = [r["wall"] for r in ops]
    n_ok = sum(r["ok"] for r in ops)
    return {
        "setup_s": (med(ctx.setup_s), "s"),
        "ops_per_s": (len(ops) / result["measured_s"], "1/s"),
        "cpu_s_per_op": (result["measured_cpu_s"] / len(ops), "s"),
        "lat_p50_s": (pct(walls, 0.5), "s"),
        "lat_p75_s": (pct(walls, 0.75), "s"),
        "ok_frac": (n_ok / len(ops), "frac"),
    }


def per_layer(ctx, result: dict, ops: list[dict], records: list[dict]) -> dict:
    """Every per-layer metric; zero where the workload has no such call.

    Over the traced passes or rounds only: ``spark.*`` are means per
    traced call, other times medians per call, counts means per call."""
    out: dict[str, tuple[float, str]] = {
        "session.start_s": (ctx.session_s[0], "s"),
        "catalog.read_table_s": (med(ctx.catalog_s), "s"),
    }
    traced = [r for r in records if r.get("traced")]
    sp = [r["spark"] for r in traced]
    for k, src, unit in (("jobs", "jobs", "count"), ("stages", "stages", "count"),
                         ("tasks", "tasks", "count"), ("plan_s", "plan_s", "s"),
                         ("shuffle_bytes", "shuffle_bytes", "B"),
                         ("task_cpu_s", "cpu_s", "s"), ("gc_s", "gc_s", "s"),
                         ("spill_bytes", "spill_bytes", "B"),
                         ("py_bytes", "py_bytes", "B"), ("self_s", "self_s", "s")):
        out[f"spark.{k}"] = (mean(s.get(src, 0.0) for s in sp), unit)
    # pooled over the traced calls: task time / (call wall x cores)
    wall = sum(r["wall"] for r in traced)
    out["spark.idle_frac"] = (
        1 - sum(s["run_s"] for s in sp) / (wall * ctx.cores) if wall else 0.0,
        "frac")

    reg = [r for r in traced if "build" in r]
    ops_layer = [r for r in reg if r["layer"].startswith("operators.")]
    out["operators.build_s"] = (med(r["build"] for r in ops_layer), "s")
    out["operators.exec_s"] = (
        med(r["wall"] - r["build"] for r in ops_layer), "s")
    out["operators.jobs"] = (mean(r["spark"]["jobs"] for r in ops_layer),
                             "count")
    ext = [r for r in reg if r["layer"].startswith("extensions.")]
    for m in EXT_MODULES:
        out[f"extensions.{m}.op_s"] = (
            med(r["wall"] for r in ext if r["layer"] == f"extensions.{m}"),
            "s")
    wall = sum(r["wall"] for r in ext)
    out["extensions.build_frac"] = (
        sum(r["build"] for r in ext) / wall if wall else 0.0, "frac")
    out["extensions.jobs"] = (mean(r["spark"]["jobs"] for r in ext), "count")

    txn = [r for r in traced if r.get("verb") in TXN_VERBS]
    for v in TXN_VERBS:
        rs = [r for r in txn if r["verb"] == v]
        out[f"txn.handle_s.{v}"] = (med(r["wall"] for r in rs), "s")
        out[f"txn.jobs.{v}"] = (mean(r["spark"]["jobs"] for r in rs), "count")
    stmts = [r for r in records if "op" in r]
    commits = [r for r in stmts if r["verb"] in
               ("insert", "update", "delete", "merge", "commit")]
    out["txn.conflict_aborts"] = (
        sum("conflict" in r["answer"] for r in stmts), "count")
    out["txn.commit_ok_frac"] = (
        mean(r["ok"] for r in commits) if commits else 0.0, "frac")
    out.update(hive_acid_layer(result, records, traced))
    reads = [r["wall"] for r in stmts if r["verb"] == "read"]
    durable = [r["wall"] for r in commits]
    out["acid.read_p50_s"] = (med(reads), "s")
    out["acid.commit_p50_s"] = (med(durable), "s")
    out["acid.space_amp"] = (result.get("space_amp", 0.0), "ratio")
    out["fail_frac"] = (mean(not r["ok"] for r in ops), "frac")
    # recording time over the traced passes' remaining wall
    cost = result["tracer"].cost
    on = sum(w for t, w in result["passes"] if t) - cost
    out["trace.overhead_frac"] = (cost / on if on > 0 else 0.0, "frac")
    return out


def hive_acid_layer(result: dict, records: list[dict], traced: list[dict]):
    out = {}
    for suffix, tables in (("", ("flat", "part")), (".flat", ("flat",)),
                           (".part", ("part",))):
        reads = [r for r in traced if r.get("verb") == "read" and r["ok"]
                 and r["op"].table in tables]
        comp = [r for r in traced
                if r.get("verb") == "compact" and r["table"] in tables]
        # every compaction of the run, traced or not, for the count
        comp_all = [r for r in records if r.get("verb") == "compact"
                    and r["table"] in tables]
        written = sum(r["bytes_added"][t] for r in traced
                      if "rows" in r for t in tables)
        rows = sum(r["rows"].get(t, 0) for r in traced
                   if "rows" in r for t in tables)
        vals = {
            "read_s": (med(r["times"]["read_s"] for r in reads), "s"),
            "dirs_at_read": (mean(r["dirs"] for r in reads), "count"),
            "files_at_read": (mean(r["files"] for r in reads), "count"),
            "vwil_s": (med(r["times"]["vwil_s"] for r in reads), "s"),
            "bytes_written_per_row_changed": (
                written / rows if rows else 0.0, "B/row"),
            "compact_s": (med(r["wall"] for r in comp
                              if r["compactions"]), "s"),
            "compact_bytes_rewritten": (
                sum(r["rewritten"] for r in comp), "B"),
            "compactions": (sum(r["compactions"] for r in comp_all), "count"),
        }
        for k, v in vals.items():
            out[f"hive_acid.{k}{suffix}"] = v
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it started, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("olap_read", "acid_wire"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    pkg = ROOT / "layer_apache_hive_spark" / "__init__.py"
    if not pkg.is_file():
        print(f"perfbench: no engine package at {pkg.parent}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from layer_apache_hive_spark.catalog import DEFAULT_SF_DIR

    sf_dir = DEFAULT_SF_DIR
    if not os.path.isfile(os.path.join(sf_dir, "orders.parquet")):
        print(f"perfbench: no test data under {sf_dir}", file=sys.stderr)
        return 2
    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    env = machine_env(work)
    os.environ.update(env)
    cores = int(env["SPARK_GRAFT_CPUS"])
    ctx = Ctx(args, work, sf_dir, cores)
    try:
        if args.workload == "acid_wire":
            import acid_wire

            result = acid_wire.run(ctx)
            records = [r for r in result["log"] if not r["warmup"]]
            ops = acid_wire.client_ops(records)
        else:
            import registry_ops as ro

            result = ro.run(ctx, ro.olap_ids(), ro.OLAP_TABLES)
            records = ops = result["samples"]
        if args.trace:
            result["tracer"].write(
                str(work.parent / f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        stop_spark(ctx.spark)
    ctx.mark("stop")

    for k, v in result["problems"].items():
        print(f"perfbench: WRONG {k}: {'; '.join(v)[:500]}", file=sys.stderr)
    if args.trace:
        metrics = per_layer(ctx, result, ops, records)
    else:
        metrics = end_to_end(ctx, ops, result)
    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "mem_gb": round(mem_gb(), 1),
        "driver_mem": env["SPARK_GRAFT_DRIVER_MEM"],
        "ops": len(ops),
        "units": len(result["passes"]),
        "unit_s": [round(w, 2) for _, w in result["passes"]],
        "measured_s": round(result["measured_s"], 3),
        # share of the VM's CPU time the hypervisor gave to others
        # during the measured loop: walls above include it
        "steal_frac": round(result["measured_steal_s"]
                            / (result["measured_s"] * (os.cpu_count() or 1)),
                            3),
        "phase_end_s": ctx.phases,
        "unchecked": result.get("unchecked", []),
    }), file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": not result["problems"],
        "attempted": len(ops),
        "failed": sum(not r["ok"] for r in ops),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if not result["problems"] else 1


if __name__ == "__main__":
    sys.exit(main())
