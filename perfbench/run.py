"""pgd_spark benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload census_dense --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout (the directory holding
``pgd_spark/``).  A run clears state earlier runs left, sets up its
inputs from the seed (several times, to time set-up), runs one cold
pass and then warm passes for ``--seconds``, checks every output
outside the timed window, and prints as its last line
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones (times net of the CPU a hypervisor
withheld, see proctree.NetClock); with ``--trace 1`` the run also
repeats the warm passes with the Spark event log on and reports the
per-layer ones (see README.md).  Everything the run writes goes under
``.perfbench_work/`` in the checkout and is removed at exit, except the
program's own machine-wide caches in /dev/shm: the compiled kernel is
kept (its presence is reported), the CSR state is removed.
"""

from __future__ import annotations

import argparse
import gc
import glob
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SHM = "/dev/shm"
SETUP_ROUNDS = 3
MIN_WARM = 1
DRIVER_MEM = "1g"

END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_job_s": "s",
    "job_s": "s",
    "cpu_s": "CPU-s",
    "peak_rss_mb": "MiB",
    "ok_rate": "ratio",
}
PROBE_UNITS = {
    "session.get_spark_s": "s",
    "ckernel.load_s": "s",
    "ckernel.compiled": "bool",
    "kernels.csr_build_s": "s",
    "ckernel.single_thread_s": "s",
    "ckernel.entries": "count",
    "ckernel.ns_per_entry": "ns",
    "kernels.loop_us_per_edge": "us",
    "kernels.udf_passthrough_s": "s",
    "graphlets.parallel_efficiency": "ratio",
}
COUNT_UNITS = {
    "graph.edges": "count",
    "graph.vertices": "count",
    "graph.max_degree": "count",
    "graph.wedges": "count",
    "graph.leaked_caches": "count",
    "pregel.cc.rounds": "count",
    "dedup.minhash.pairs": "count",
    "similarity.emb_neardup.pairs": "count",
    "trace.overhead_s": "s",
    "trace.span_coverage": "ratio",
    "host.steal_share": "ratio",
}


def per_layer_units() -> dict[str, str]:
    from perfbench.tracing import SPAN_METRICS, SPAN_UNITS
    from perfbench.workloads import WORKLOADS

    spans = dict.fromkeys(s for w in WORKLOADS.values() for s in w.spans)
    units = {f"{s}.{m}": SPAN_UNITS[m] for s in spans for m in SPAN_METRICS}
    return {**units, **PROBE_UNITS, **COUNT_UNITS}


def clear_csr_state() -> None:
    """The content-keyed CSR state the broadcast census keeps in shared
    memory for an hour: a repeat run of a seed would otherwise start warm."""
    for path in glob.glob(os.path.join(SHM, "pgd_csr_*")):
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        else:
            try:
                os.remove(path)
            except FileNotFoundError:
                pass


def leaked_caches(spark) -> int:
    """Persisted RDDs other than local checkpoints (which the program
    uses for results, and the context cleaner reclaims).  A pass leaks
    what it adds to this count and does not release."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return sum(not rdds.get(k).rdd().isLocallyCheckpointed() for k in rdds.keySet().toArray())


class Bench:
    def __init__(self, args, work: str):
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.wl = WORKLOADS[args.workload](args.seed, args.size, os.path.join(work, "inputs"))
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []
        self.leaks = 0
        self.first: dict | None = None
        self.layer: dict[str, float] = {}

    # -- session ------------------------------------------------------
    def start(self, event_log: str | None = None) -> float:
        from pgd_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": event_log,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench_{self.wl.name}", master=f"local[{self.cores}]", extra_conf=conf
        )
        return time.perf_counter() - t0

    def shutdown(self) -> None:
        """Stop Spark and wait for its JVM (and so its Python workers)."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
                raise

    # -- set-up -------------------------------------------------------
    def setup(self, run_clock) -> float:
        """Process start to the first timed call: the session start, once,
        plus the median of SETUP_ROUNDS rounds of input generation, writes
        and references; net of steal."""
        from perfbench.proctree import NetClock
        from pgd_spark.operators import ckernel

        self.layer["session.get_spark_s"] = self.start()
        t_k = time.perf_counter()
        ckernel.get_lib()
        self.layer["ckernel.load_s"] = time.perf_counter() - t_k
        _, session = run_clock.read()
        rounds = []
        for _ in range(SETUP_ROUNDS):
            clock = NetClock()
            self.wl.setup(self.spark)
            rounds.append(clock.read()[1])
        self.setup_rounds = rounds
        return session + statistics.median(rounds)

    # -- passes -------------------------------------------------------
    def one_pass(self, index: int, root_pid: int, traced: bool):
        from perfbench.proctree import NetClock, tree_cpu_s
        from perfbench.tracing import CallFailed, Pass

        p = Pass(index, self.spark if traced else None)
        out: dict = {}
        held = leaked_caches(self.spark)
        c0 = tree_cpu_s(root_pid)
        clock = NetClock()
        try:
            self.wl.run_pass(self.spark, p, out)
            ok = True
        except CallFailed as e:
            self.reasons.append(str(e))
            ok = False
        p.wall_s, wall = clock.read()
        cpu = tree_cpu_s(root_pid) - c0
        spans = " ".join(f"{name}={t1 - ts:.2f}" for name, ts, t1 in p.spans)
        print(
            f"[perfbench] pass {index}: {p.wall_s:.2f} s ({wall:.2f} s net of steal), {cpu:.1f} CPU-s; {spans}",
            file=sys.stderr,
        )
        self.attempted += len(p.attempted)
        self.failed += len(p.raised)
        if ok:
            bad = self.wl.check(out, self.first)
            self.failed += len(bad)
            self.reasons += [f"{k}: {v}" for k, v in bad.items()]
            if self.first is None:
                self.first = out
        self.wl.release(out)
        out.pop("frames", None)
        out.pop("graphs", None)
        gc.collect()
        self.leaks = max(self.leaks, leaked_caches(self.spark) - held)
        return p, wall, cpu

    def passes(self, first_index: int, seconds: float, root_pid: int, traced: bool):
        """Warm passes for ``seconds`` (at least MIN_WARM)."""
        walls, cpus, done = [], [], []
        t_end = time.perf_counter() + seconds
        i = first_index
        while len(walls) < MIN_WARM or time.perf_counter() < t_end:
            p, wall, cpu = self.one_pass(i, root_pid, traced)
            walls.append(wall)
            cpus.append(cpu)
            done.append(p)
            i += 1
        return walls, cpus, done

    # -- the run ------------------------------------------------------
    def execute(self, run_clock) -> dict:
        from perfbench.proctree import MemorySampler

        root = os.getpid()
        args = self.args
        with MemorySampler(root) as mem:
            setup_s = self.setup(run_clock)
            _, cold, _ = self.one_pass(0, root, traced=False)
            warm_s = args.seconds / 2 if args.trace else args.seconds
            walls, cpus, _ = self.passes(1, warm_s, root, traced=False)
            if args.trace:
                self.trace(len(walls) + 1, warm_s, statistics.median(walls), root)
            self.shutdown()
        metrics = {
            "setup_s": setup_s,
            "cold_job_s": cold,
            "job_s": statistics.median(walls),
            "cpu_s": statistics.median(cpus),
            "peak_rss_mb": mem.peak_bytes / float(1 << 20),
            "ok_rate": 1.0 - self.failed / max(self.attempted, 1),
        }
        print(
            f"[perfbench] {self.wl.name} seed={args.seed} setup={setup_s:.3f} rounds={self.setup_rounds} "
            f"cold={cold:.3f} warm={walls} cpu={cpus} reasons={self.reasons}",
            file=sys.stderr,
        )
        if args.trace:
            wall, net = run_clock.read()
            self.layer["host.steal_share"] = 1.0 - net / wall
            units = per_layer_units()
            values = {name: self.layer.get(name, 0.0) for name in units}
        else:
            units, values = END_TO_END_UNITS, metrics
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
        }

    def trace(self, first_index: int, seconds: float, untraced_job_s: float, root: int) -> None:
        from perfbench import probes
        from perfbench.tracing import read_event_log, span_metrics

        log_dir = os.path.join(self.work, "eventlog")
        self.start(event_log=log_dir)
        self.wl.setup(self.spark)
        # the probes also respawn the new context's Python workers, so
        # the traced passes start as warm as the untraced ones
        self.layer.update(probes.run(self.spark, self.args.seed, self.args.size))
        walls, _, traced = self.passes(first_index, seconds, root, traced=True)
        self.spark.stop()
        self.spark = None
        for span, row in span_metrics(traced, read_event_log(log_dir)).items():
            for m, v in row.items():
                self.layer[f"{span}.{m}"] = v
        job_s = statistics.median(walls)
        covered = [sum(t1 - t0 for _, t0, t1 in p.spans) / max(p.wall_s, 1e-9) for p in traced]
        self.layer["trace.overhead_s"] = job_s - untraced_job_s
        self.layer["trace.span_coverage"] = statistics.median(covered)
        self.layer["graph.leaked_caches"] = self.leaks
        self.layer.update(self.wl.counts)


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, ROOT)
    from perfbench.proctree import NetClock

    run_clock = NetClock()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full", help="tiny: self-test inputs")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pgd_spark", "__init__.py")):
        print(f"perfbench: no pgd_spark package under {ROOT}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update(
        {
            "TMPDIR": os.path.join(work, "tmp"),
            "PGD_SPARK_DRIVER_MEM": DRIVER_MEM,
            # the program's benchmark setting: a pre-faulted fixed heap
            "PGD_SPARK_PRETOUCH": "1",
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        }
    )
    clear_csr_state()
    compiled = bool(glob.glob(os.path.join(SHM, "pgd_ckernel_*.so.done")))
    bench = Bench(args, work)
    bench.layer["ckernel.compiled"] = float(compiled)
    try:
        result = bench.execute(run_clock)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            bench.shutdown()
        finally:
            clear_csr_state()
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
