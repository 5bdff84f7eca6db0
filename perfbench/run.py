"""Layered engine benchmark.

    python3 perfbench/run.py --workload sql_read --seed 1 --seconds 5 --trace 0

Runs one workload from the repository root as a single closed-loop
client and prints, as its last stdout line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones of BENCHMARK.json; with
``--trace 1`` they are the per-layer ones, from a run that records
spans around every call into the engine and reads Spark's job records
for each op. Lines before the last one summarise the run for people.

Workloads, inputs and the prediction map are described in
perfbench/README.md. All inputs are generated from ``--seed``; all
files are written under ``.perfbench_work/`` (removed at exit) and,
for traced runs, the span dump under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import config  # noqa: E402
from spans import Recorder  # noqa: E402


class Bench:
    """State of one benchmark run, handed to the workload function."""

    def __init__(self, seed: int, seconds: float, trace: bool, work: str):
        self.seed, self.seconds, self.trace, self.work = seed, seconds, trace, work
        self.rec = Recorder()
        self.phases: dict[str, float] = {}
        self.spark = None
        self.engine = None
        self.warehouse = None
        self.spark_conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
        }

    @contextlib.contextmanager
    def phase(self, name: str):
        """Wall time of one phase of the run (inputs, setup, ...), for
        the summary lines."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0


def _vm_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver process tree, Python plus JVM,
    for the summary lines."""
    jvm_pid = spark.sparkContext._gateway.proc.pid
    return (_vm_kb(os.getpid(), "VmHWM") + _vm_kb(jvm_pid, "VmHWM")) / 1024


def _cpu_ticks() -> list[int]:
    """The machine's CPU time counters from /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal, ...), or [] off Linux."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


def _stop_spark(bench: Bench) -> None:
    """Stop the SparkContext and the JVM behind it, and wait for it."""
    from pyspark import SparkContext

    if bench.engine is not None:
        bench.engine.close()
    if bench.spark is not None:
        bench.spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def _quantile_note(xs: list[float]) -> str:
    if len(xs) < 2:
        return f"n={len(xs)}"
    q = statistics.quantiles(xs, n=4)
    return f"n={len(xs)} q1={q[0]:.1f} q3={q[2]:.1f}"


def _e2e(name: str, res: dict, bench: Bench) -> tuple[dict, list[str]]:
    """End-to-end metrics (the same set on every workload) and the
    human-readable summary lines."""
    notes = []
    setup_s = statistics.median(res["setup"])
    if name == "corpus_dedup":
        lat = res["lat"]
        ops_per_s = len(lat) / res["wall"]
        docs_per_s = res["docs"] * ops_per_s
        notes.append(f"pass_ms p50={statistics.median(lat):.1f} ms ({_quantile_note(lat)})")
        notes.append(f"docs_per_s={docs_per_s:.1f} 1/s at {res['docs']} docs")
        notes.append(f"dup_recall={res['recall']:.4f}")
    else:
        ops = res["log"]
        lat = [o["ms"] for o in ops]
        ops_per_s = len(ops) / res["wall"]
        for kind in ("read", "write"):
            xs = [o["ms"] for o in ops if o["kind"] == kind]
            if xs:
                q90 = (
                    f" p90={statistics.quantiles(xs, n=10)[-1]:.1f} ms"
                    if len(xs) >= 100 else " (p90 needs 100 samples)"
                )
                notes.append(
                    f"{kind}_p50={statistics.median(xs):.1f} ms{q90} ({_quantile_note(xs)})"
                )
        for i, o in enumerate(ops):
            if "error" in o:
                notes.append(f"op {i} engine error ({o['cls']}): {o['error']}")
            elif i in res["failed"]:
                notes.append(f"op {i} mismatch ({o['cls']}): {res['sql'][i][:300]}")
    notes.append(f"setup_s reps={[round(x, 3) for x in res['setup']]}")
    notes.append(f"peak_rss_mb={res['peak_rss_mb']:.1f} MB (Python + JVM)")
    notes.append(
        "phases_s=" + json.dumps({k: round(v, 2) for k, v in bench.phases.items()})
    )
    notes.append(f"ops_per_s={ops_per_s:.4f} 1/s")
    notes.append(f"op_p50_ms={statistics.median(lat):.1f} ms ({_quantile_note(lat)})")
    # The geometric mean, as in TPC-H's power metric: a deck mixes 100 ms
    # lookups with 1 s joins, and its median falls in a sparse stretch
    # between template clusters, where a few ms of jitter move it by 30%.
    gmean = math.exp(statistics.fmean(math.log(x) for x in lat))
    metrics = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_gmean_ms": {"value": gmean, "unit": "ms"},
        "warehouse_mb": {"value": res["space_mb"], "unit": "MB"},
    }
    return metrics, notes


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument(
        "--workload", required=True, choices=[w["name"] for w in config.WORKLOADS]
    )
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "andb_spark")):
        print(f"andb_spark package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))

    import workloads

    bench = Bench(args.seed, args.seconds, bool(args.trace), work)
    ticks0 = _cpu_ticks()
    try:
        res = getattr(workloads, args.workload)(bench)
        res["peak_rss_mb"] = peak_rss_mb(bench.spark)
    finally:
        _stop_spark(bench)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may share it
            os.rmdir(os.path.dirname(work))

    if args.workload == "corpus_dedup":
        attempted, failed = res["attempted"], res["n_failed"]
        correct = failed == 0
    else:
        # sql_write's final-state comparison counts as one more check
        final_check = "state_ok" in res
        attempted = len(res["log"]) + final_check
        failed = len(res["failed"]) + (final_check and not res["state_ok"])
        correct = failed == 0
    metrics, notes = _e2e(args.workload, res, bench)
    ticks = [b - a for a, b in zip(ticks0, _cpu_ticks())]
    if len(ticks) > 7 and sum(ticks):
        # time the hypervisor gave to other guests: a noisy host shows here
        notes.append(f"cpu_steal_share={ticks[7] / sum(ticks):.4f} over the run")
    notes.append(
        f"error_rate={failed / attempted:.4f} ({failed} of {attempted} failed"
        " or mismatched)"
    )
    if args.trace:
        rec = bench.rec
        layers = res["layers"]
        layers["trace.overhead_frac"] = rec.overhead_s / res["wall"]
        notes.append(f"self_ms_by_layer={json.dumps(rec.self_time_by_layer())}")
        optimized = [
            (res["sql"][i].split()[1], o["commit_files"])
            for i, o in enumerate(res.get("log", [])) if o["cls"] == "optimize"
        ]
        if optimized:
            notes.append(f"optimize_commit_files={json.dumps(optimized)}")
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        rec.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
        names = {m["name"] for m in config.per_layer()}
        if set(layers) - names:
            raise RuntimeError(f"undeclared layer metrics: {set(layers) - names}")
        metrics = {
            m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in config.per_layer()
        }
    for n in notes:
        print(f"# {args.workload} seed={args.seed}: {n}")
    print(json.dumps({
        "correct": bool(correct), "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
