"""SparkSession factory with scale-appropriate defaults.

Local mode is the test harness; the same config keys are what we would
set on a 1000-executor cluster (AQE on, skew-join handling on, Arrow
transfers on).  Shuffle partitions default to the core count locally —
on a real cluster AQE coalesces from a high initial number instead.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession


def _ship_package(spark: SparkSession) -> None:
    """Ship pgd_spark to executors (programmatic --py-files).

    Python workers unpickle pandas-UDF closures by module reference;
    when the driver imported pgd_spark from a path the workers don't
    share, the import fails.  Zipping the package once per session and
    addPyFile-ing it makes the library self-contained, the same layout
    a cluster submit uses.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    out = os.path.join(tempfile.gettempdir(), f"pgd_spark_ship_{os.getpid()}")
    zip_path = out + ".zip"
    if not os.path.exists(zip_path):
        staging = out + "_stage"
        shutil.rmtree(staging, ignore_errors=True)
        shutil.copytree(pkg_dir, os.path.join(staging, "pgd_spark"))
        shutil.make_archive(out, "zip", staging)
        shutil.rmtree(staging, ignore_errors=True)
    spark.sparkContext.addPyFile(zip_path)


def _default_driver_mem() -> str:
    """Heap default sized to the host: 60% of MemAvailable capped at
    48 GiB, floor 2 GiB — so the -Xms pin (see below) can't fail JVM
    startup under a small cgroup limit or strict overcommit."""
    avail_gb = None
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    avail_gb = int(line.split()[1]) / (1 << 20)
                    break
    except OSError:
        pass
    if avail_gb is None:
        return "4g"
    return f"{max(2, min(48, int(avail_gb * 0.6)))}g"


def normalize_mem(mem: str) -> str:
    """Normalize a user-supplied memory string so every consumer agrees
    on its meaning.  Spark parses a suffix-less spark.driver.memory as
    MiB while -Xms treats a bare number as BYTES (which for '4096'
    fails JVM startup outright), so a bare number is ambiguous at the
    env-var boundary (ADVICE r5) — append 'm' to match Spark's reading,
    the interpretation the user who typed '4096' almost surely meant."""
    s = mem.strip()
    return s + "m" if s.replace(".", "", 1).isdigit() else s


def _mem_to_mb(mem: str) -> int:
    """'14g' / '4gb' / '512m' → MiB.  Accepts the JVM -Xmx suffixes
    k/m/g/t plus the colloquial kb/mb/gb/tb spellings; a bare number is
    MiB, matching Spark's own reading of spark.driver.memory (callers
    inside this module always normalize_mem first, so the bare branch
    only fires for strings from other config surfaces, where Spark's
    MiB convention is the right one).  An unparseable string (e.g. a
    typo'd PGD_SPARK_DRIVER_MEM) warns and falls back to 4096 MiB —
    never a silent wrong broadcast threshold (ADVICE r4)."""
    import warnings

    s = mem.strip().lower()
    if len(s) > 1 and s.endswith("b") and s[-2] in "kmgt":
        s = s[:-1]
    try:
        if s.endswith("t"):
            return int(float(s[:-1]) * 1024 * 1024)
        if s.endswith("g"):
            return int(float(s[:-1]) * 1024)
        if s.endswith("m"):
            return int(float(s[:-1]))
        if s.endswith("k"):
            return max(int(float(s[:-1]) / 1024), 1)
        return max(int(float(s)), 1)
    except ValueError:
        warnings.warn(
            f"unparseable memory string {mem!r}; assuming 4096 MiB for the "
            "broadcast-threshold calculation",
            stacklevel=2,
        )
        return 4096


def parse_size_bytes(size: str | int, default: int) -> int:
    """Spark size-string → bytes ('64m', '100MB', '1g', bare bytes).
    Spark session confs like autoBroadcastJoinThreshold accept suffixed
    strings, so callers reading them back must parse the same grammar
    (ADVICE r5: int('64m') crashed ivf auto-sizing).  Unparseable →
    ``default``."""
    if isinstance(size, int):
        return size
    s = size.strip().lower()
    if s.lstrip("-").isdigit():
        return int(s)
    if len(s) > 1 and s.endswith("b"):
        if s[-2] in "kmgtp":
            s = s[:-1]
        elif s[:-1].lstrip("-").isdigit():
            # bare-byte suffix ('10485760b') — Spark's byteStringAs
            # grammar accepts it as plain bytes (ADVICE r6)
            return int(s[:-1])
    mult = {
        "k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4, "p": 1024**5
    }.get(s[-1:], None)
    try:
        if mult is not None:
            return int(float(s[:-1]) * mult)
        return int(float(s))
    except ValueError:
        return default


def broadcast_budget(spark) -> int:
    """``spark.sql.autoBroadcastJoinThreshold`` in bytes, read with
    Spark's size grammar; 0 when broadcasting is off (-1).  The knob
    admins size to executor memory, and the budget every operator here
    sizes its broadcast and driver-side tables against."""
    return max(
        parse_size_bytes(
            spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "67108864"),
            default=64 * 1024 * 1024,
        ),
        0,
    )


def num_partitions(df) -> int:
    """Partition count of ``df``'s physical plan, read from the JVM
    plan's own RDD: ``DataFrame.rdd`` would first wrap the plan in a
    Python row RDD, for nothing."""
    return df._jdf.queryExecution().toRdd().getNumPartitions()


def shuffle_width(spark) -> int:
    """``spark.sql.shuffle.partitions`` as a positive int.  A value that
    is not an integer (e.g. ``"auto"``, which some platforms accept)
    falls back to ``defaultParallelism`` instead of crashing the
    operator that sizes its exchanges from it."""
    try:
        return max(int(spark.conf.get("spark.sql.shuffle.partitions")), 1)
    except (TypeError, ValueError):
        return max(spark.sparkContext.defaultParallelism, 1)


def get_spark(
    app_name: str = "pgd_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N-ish partitions; AQE coalesces small stages further.
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
        shuffle_partitions = cpus if n == "*" else max(int(n), 1)
    driver_mem = normalize_mem(os.environ.get("PGD_SPARK_DRIVER_MEM") or _default_driver_mem())
    # -Xms = -Xmx: G1's adaptive heap SHRINKS the committed heap after
    # GC cycles, and on this virtualized host re-faulting the returned
    # pages under concurrent tasks serializes on mmap_lock — measured
    # 4x executor-CPU inflation and 3x run-to-run swings on identical
    # stages.  A fixed-size heap faults each page once.  Pinning is safe
    # because the DEFAULT size now adapts to the host (see
    # _default_driver_mem) instead of assuming 48 GiB everywhere.
    # Benchmark runs can additionally set PGD_SPARK_PRETOUCH=1 to
    # pre-fault the whole heap at startup (AlwaysPreTouch) so even the
    # first timed run is steady-state; too slow (~9 s/GiB here) to
    # default on for tests.
    jvm_opts = f"-Xms{driver_mem}"
    if os.environ.get("PGD_SPARK_PRETOUCH") == "1":
        jvm_opts += " -XX:+AlwaysPreTouch"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        # broadcast budget: operators derive their broadcast-vs-shuffle
        # cutoffs from this (graphlets.py), so it states the per-JVM
        # memory truth — in single-JVM local mode up to 384 MB but never
        # more than heap/8 (ADVICE r3: the heap default adapts down to a
        # 2 GiB floor on small hosts, and a fixed 384 MB threshold would
        # let Spark plan ~384 MB HashedRelations into that heap), the
        # conservative 64 MB default anywhere else where each executor
        # must hold its own copy next to shuffle buffers.
        .config(
            "spark.sql.autoBroadcastJoinThreshold",
            str(
                min(384, max(_mem_to_mb(driver_mem) // 8, 16)) * 1024 * 1024
                if master.startswith("local")
                else 64 * 1024 * 1024
            ),
        )
    )
    if jvm_opts:
        builder = builder.config("spark.driver.extraJavaOptions", jvm_opts)
    if not master.startswith("local") and "spark.executor.extraJavaOptions" not in (
        extra_conf or {}
    ):
        # Cluster masters: executor JVMs need the same fixed/pre-faulted
        # heap as the driver, or every sort/agg-heavy stage pays the
        # lazy page-fault storm per executor — measured on a standalone
        # 4×2-core cluster: the SAME window-sort stage burned 958 s of
        # executor CPU with default lazily-faulted 6 GiB heaps vs 121 s
        # in an equivalently-sized pre-faulted JVM (6.6× wall: 216 s →
        # 33 s end-to-end).  -Xms is pinned to spark.executor.memory so
        # the committed heap never shrinks/re-faults mid-job; pretouch
        # follows the same PGD_SPARK_PRETOUCH opt-in as the driver.
        exec_mem = (extra_conf or {}).get("spark.executor.memory") or os.environ.get(
            "PGD_SPARK_EXECUTOR_MEM"
        )
        if exec_mem:
            exec_mem = normalize_mem(exec_mem)
            builder = builder.config("spark.executor.memory", exec_mem)
            eopts = f"-Xms{exec_mem}"
            if os.environ.get("PGD_SPARK_PRETOUCH") == "1":
                eopts += " -XX:+AlwaysPreTouch"
            builder = builder.config("spark.executor.extraJavaOptions", eopts)
    # shuffle/spill to tmpfs when available — the sandbox's /tmp is a
    # spinning-rust-class virtual disk and serializes shuffle-heavy
    # stages; on a real cluster this is the local-SSD scratch dir
    shm = "/dev/shm/pgd-spark-local"
    try:
        os.makedirs(shm, exist_ok=True)
        builder = builder.config("spark.local.dir", shm)
    except OSError:
        pass
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark
