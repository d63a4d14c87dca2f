"""Fixed cost of one Python UDF task in a reused PySpark worker.

Runs a ``mapInPandas`` job of N near-empty tasks on ``local[1]``, so
one reused Python worker runs every task back to back, and prints:

* the Python CPU (and wall) the worker spends between consecutive
  tasks — from the end of one task's function to the start of the
  next: Arrow stream set-up, the per-task ``setup_spark_files`` (which
  calls ``importlib.invalidate_caches()``) and whatever that triggers;
* the zip importers on the worker's ``sys.path`` — each one re-reads
  its archive's directory on the first import after the caches were
  invalidated — and the CPU one invalidate-then-import costs there.

This is the measurement behind sizing Python UDF jobs to one task per
core (README, "Python UDF tasks").  Re-check it on a new host or
Python version:

    python tools/udf_task_overhead.py [--tasks 16]
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _task(batches):
    import importlib
    import time
    import zipimport

    import pandas as pd

    cpu0, wall0 = time.process_time(), time.time()
    for _ in batches:
        pass
    zips = sorted(
        p for p, imp in sys.path_importer_cache.items()
        if isinstance(imp, zipimport.zipimporter)
    )
    # what one invalidate + a fresh import costs in this worker
    t = time.process_time()
    importlib.invalidate_caches()
    try:
        importlib.import_module("pgd_udf_overhead_absent_module")
    except ImportError:
        pass
    rescan = time.process_time() - t
    yield pd.DataFrame(
        {
            "pid": [os.getpid()],
            "cpu0": [cpu0],
            "wall0": [wall0],
            "cpu1": [time.process_time()],
            "wall1": [time.time()],
            "rescan": [rescan],
            "zips": ["\n".join(zips)],
        }
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--tasks", type=int, default=16)
    args = ap.parse_args()
    os.environ.setdefault("PGD_SPARK_DRIVER_MEM", "1g")
    from pgd_spark.session import get_spark

    spark = get_spark(
        app_name="udf_task_overhead", master="local[1]", shuffle_partitions=1,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    schema = (
        "pid long, cpu0 double, wall0 double, cpu1 double, wall1 double, "
        "rescan double, zips string"
    )
    ids = spark.range(0, args.tasks, 1, args.tasks)
    ids.mapInPandas(_task, schema=schema).collect()  # worker start-up
    rows = sorted(ids.mapInPandas(_task, schema=schema).collect(), key=lambda r: r["wall0"])
    spark.stop()

    cpu_gaps, wall_gaps = [], []
    for a, b in zip(rows, rows[1:]):
        if a["pid"] == b["pid"]:
            cpu_gaps.append(b["cpu0"] - a["cpu1"])
            wall_gaps.append(b["wall0"] - a["wall1"])
    print(f"python {sys.version.split()[0]}, {len(rows)} tasks, "
          f"{len({r['pid'] for r in rows})} worker process(es)")
    if cpu_gaps:
        print(f"between consecutive tasks of one worker ({len(cpu_gaps)} gaps): "
              f"python CPU median {statistics.median(cpu_gaps):.3f} s "
              f"(min {min(cpu_gaps):.3f}, max {max(cpu_gaps):.3f}); "
              f"wall median {statistics.median(wall_gaps):.3f} s")
    print(f"invalidate_caches() + one import: median "
          f"{statistics.median(r['rescan'] for r in rows):.3f} CPU-s")
    zips = rows[-1]["zips"].split("\n") if rows[-1]["zips"] else []
    print(f"zip importers on the worker path: {len(zips)}")
    for z in zips:
        print(f"  {z}")


if __name__ == "__main__":
    main()
