"""Time the driver JVM's start with and without the class-data archive.

    python tools/session_start.py [--pairs 5] [--master local[2]]

Each run is a fresh Python process that calls ``get_spark``, runs one
trivial job and exits.  Three states, set only through
``XDG_CACHE_HOME``:

- ``write``: an empty cache dir.  The JVM starts without an archive
  and writes one at its exit, which this process's exit waits for.
  Runs once, first, and is reported on its own.
- ``archive``: the cache dir the ``write`` run filled.
- ``control``: a cache path under a regular file, so no archive can be
  read or written (``get_spark`` warns and starts without one).

``archive`` and ``control`` then alternate for ``--pairs`` pairs (the
order flips each pair).  Per run it prints ``get_spark`` s, the first
job's s, the process's whole wall s, the tail after the script's last
line (stop, JVM exit, and for ``write`` the archive's dump and check),
and the peak RSS of the largest process in the run's tree.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = """
import json, sys, time
t0 = time.perf_counter()
sys.path.insert(0, {root!r})
from pgd_spark import session
spark = session.get_spark(master={master!r}, shuffle_partitions=2)
t1 = time.perf_counter()
spark.range(1000).selectExpr("sum(id)").collect()
t2 = time.perf_counter()
print(json.dumps({{"get_spark_s": t1 - t0, "first_job_s": t2 - t1,
                  "cds": session.cds_decision()["state"], "end": time.time()}}), flush=True)
# wait for the JVM, as perfbench's shutdown does, so it is reaped here
# and counts in this process's rusage
from pyspark import SparkContext
proc = SparkContext._gateway.proc
spark.stop()
proc.stdin.close()
proc.wait()
"""


def run(state: str, cache: str, master: str, log: str) -> dict:
    env = dict(os.environ, XDG_CACHE_HOME=cache)
    t0 = time.time()
    with open(log, "ab") as err:
        p = subprocess.Popen(
            [sys.executable, "-c", CHILD.format(root=ROOT, master=master)],
            stdout=subprocess.PIPE, stderr=err, env=env, cwd=tempfile.gettempdir(),
        )
        out = p.stdout.read()
        p.stdout.close()
        # wait4's rusage covers the child and every descendant it reaped
        # (the JVM), so ru_maxrss is the largest process in the tree
        _, status, usage = os.wait4(p.pid, 0)
    t1 = time.time()
    p.returncode = os.waitstatus_to_exitcode(status)
    lines = out.decode(errors="replace").splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{state} run failed (exit {p.returncode}); see {log}")
    row = json.loads(lines[-1])
    row.update(
        state=state,
        wall_s=t1 - t0,
        tail_s=t1 - row.pop("end"),
        peak_rss_mb=usage.ru_maxrss / 1024.0,
        cds_lines=sum("[cds" in line for line in lines),
    )
    return row


FIELDS = ("get_spark_s", "first_job_s", "wall_s", "tail_s", "peak_rss_mb")


def show(row: dict) -> None:
    print(
        f"{row['state']:>8} ({row['cds']:>8}): "
        + "  ".join(f"{k} {row[k]:7.2f}" for k in FIELDS)
        + (f"  [cds lines on stdout: {row['cds_lines']}]" if row["cds_lines"] else "")
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--master", default="local[2]")
    args = ap.parse_args(argv)
    with tempfile.TemporaryDirectory(prefix="session_start_") as work:
        cache = os.path.join(work, "cache")
        blocked = os.path.join(work, "not_a_dir")
        open(blocked, "w").close()
        log = os.path.join(work, "stderr.log")
        write = run("write", cache, args.master, log)
        archives = glob.glob(os.path.join(cache, "pgd_spark", "cds", "*.jsa"))
        print("the run that writes the archive:")
        show(write)
        size = sum(os.path.getsize(a) for a in archives) / float(1 << 20)
        print(f"  archives written: {len(archives)}, {size:.1f} MiB on disk\n")
        rows: dict[str, list[dict]] = {"archive": [], "control": []}
        for i in range(args.pairs):
            order = ("archive", "control") if i % 2 == 0 else ("control", "archive")
            for state in order:
                row = run(state, cache if state == "archive" else blocked, args.master, log)
                rows[state].append(row)
                show(row)
        print(f"\nmedians over {args.pairs} pairs (archive / control):")
        for k in FIELDS:
            a = statistics.median(r[k] for r in rows["archive"])
            c = statistics.median(r[k] for r in rows["control"])
            print(f"  {k:12} {a:7.2f} / {c:7.2f}  ({a / c:.2f}x)")
        tail = statistics.median(r["tail_s"] for r in rows["archive"])
        print(f"  the write run's tail beyond the archive runs' (dump + check): {write['tail_s'] - tail:.2f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
