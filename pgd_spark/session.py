"""SparkSession factory with scale-appropriate defaults.

Local mode is the test harness; the same config keys are what we would
set on a 1000-executor cluster (AQE on, skew-join handling on, Arrow
transfers on).  Shuffle partitions default to the core count locally —
on a real cluster AQE coalesces from a high initial number instead.
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import json
import os
import shutil
import stat
import subprocess
import tempfile
import warnings

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


# -- session start: a per-user class-data archive ----------------------
#
# A JDK dynamic AppCDS archive holds the driver JVM's already-parsed
# classes (Spark's ~290 jars).  The JVM maps it at start instead of
# loading each class from its jar, which roughly halves get_spark and
# the first job's class loading.  Only a JVM that get_spark itself
# launches (local master, JDK >= 13) gets one.  The first such start
# asks the JVM to write the archive at its exit, to a per-pid temp
# name; this process's atexit hook waits for that JVM, checks the file
# and renames it into place.  A truncated archive crashes the JVM that
# maps it (SIGBUS in FileMapInfo::relocate_pointers_in_core_regions,
# even with -XX:+VerifySharedSpaces), so no file reaches
# -XX:SharedArchiveFile unless a JVM that exited 0 wrote it and a child
# `java -Xshare:on -version` on the same classpath mapped it cleanly.
# The JVM maps the archive's classes as code, so, as with ckernel's
# .so, only a file this uid owns and no one else can write is used.

# the CDS tags the JVM logs to stdout (a stale archive's one warning
# line, and the ~90 KB of warnings a write prints), where they would
# mix with the caller's output
_CDS_LOG_OFF = "-Xlog:cds=off,cds+dynamic=off"
_CDS_WAIT_S = 60
# one driver JVM per process, so one decision: made when get_spark
# launches it, kept while get_spark reuses it
_cds = {"state": "skipped", "archive": None, "reason": "get_spark has launched no driver JVM"}
_cds_warned: set[str] = set()
_cds_pending: dict | None = None  # the archive write this process asked for


def cds_decision() -> dict:
    """How the current driver JVM started: ``{"state", "archive", "reason"}``.

    ``state`` is ``"used"`` (it mapped ``archive``), ``"writing"`` (it
    writes ``archive`` when it exits; later starts map it) or
    ``"skipped"`` (no archive; ``reason`` says why)."""
    return dict(_cds)


def _cds_skip(reason: str, warn: bool = False) -> tuple[str, dict]:
    """Record a start without CDS.  ``warn`` marks reasons that hide a
    problem the user can fix; each warns once per process."""
    _cds.update(state="skipped", archive=None, reason=reason)
    if warn and reason not in _cds_warned:
        _cds_warned.add(reason)
        warnings.warn(f"pgd_spark: the driver JVM starts without a class-data archive: {reason}", stacklevel=4)
    return "", {}


def _cds_dir() -> str:
    root = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(root, "pgd_spark", "cds")


def _cds_java() -> tuple[str, str] | None:
    """The ``java`` that spark-class runs ($JAVA_HOME/bin/java, else the
    one on PATH), resolved, and its JDK's ``release`` file."""
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.isfile(exe):
        return None
    exe = os.path.realpath(exe)
    try:
        with open(os.path.join(os.path.dirname(os.path.dirname(exe)), "release")) as f:
            return exe, f.read()
    except OSError:
        return None


def _jdk_major(release: str) -> int:
    for line in release.splitlines():
        if line.startswith("JAVA_VERSION="):
            parts = line.split("=", 1)[1].strip('"').split(".")
            try:
                return int(parts[1] if parts[0] == "1" else parts[0])
            except (IndexError, ValueError):
                return 0
    return 0


def _private(st: os.stat_result) -> bool:
    return st.st_uid == os.getuid() and not st.st_mode & 0o022


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _cds_key(java: str, release: str, spark_home: str, driver_mem: str, conf: dict) -> str:
    """Everything that decides which classes the driver loads from
    where: the JDK, Spark's jars (name, size, mtime), pyspark, the
    compressed-oops mode (off from a 32 GiB heap) and any extra
    classpath.  A key miss only costs a rewrite; the JVM itself checks
    an archive's JDK and classpath and ignores one that does not match."""
    import pyspark

    jars = os.path.join(spark_home, "jars")
    entries = [
        (e.name, e.stat().st_size, e.stat().st_mtime_ns)
        for e in sorted(os.scandir(jars), key=lambda e: e.name)
    ] if os.path.isdir(jars) else []
    material = [
        java,
        release,
        entries,
        pyspark.__version__,
        _mem_to_mb(driver_mem) >= 32 * 1024,
        [conf.get(k) for k in ("spark.jars", "spark.jars.packages", "spark.driver.extraClassPath")],
        [os.environ.get(k) for k in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")],
    ]
    return hashlib.sha256(json.dumps(material).encode()).hexdigest()[:24]


def _cds_plan(master: str, driver_mem: str, conf: dict, caller_opts: str) -> tuple[str, dict]:
    """The CDS flags for the driver JVM about to start, and the env
    vars to swap in for its launch; records the decision."""
    global _cds_pending
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home

    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return "", {}  # no JVM starts here
    if _cds_pending is not None:
        if _cds_pending["proc"].poll() is None:
            return _cds_skip("this process's previous driver JVM is still writing its archive")
        _cds_finish()
    if not master.startswith("local"):
        return _cds_skip("not a local master")
    if any(f in caller_opts for f in ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit")):
        return _cds_skip("the caller's spark.driver.extraJavaOptions set class-data sharing")
    found = _cds_java()
    if found is None:
        return _cds_skip("no java with a JDK release file")
    java, release = found
    if _jdk_major(release) < 13:
        return _cds_skip("the JDK is older than 13")
    spark_home = _find_spark_home()
    # spark-class puts the conf dir on the classpath, and a JVM with a
    # non-empty directory there writes no archive: its exit fails with
    # "Cannot have non-empty directory in paths", exit code 1
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    names = os.listdir(conf_dir) if os.path.isdir(conf_dir) else []
    if any(not n.endswith(".template") for n in names):
        return _cds_skip(f"the Spark conf dir {conf_dir} holds a real configuration", warn=True)
    extra = [conf.get("spark.driver.extraClassPath")] + [
        os.environ.get(k) for k in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
    ]
    for entry in os.pathsep.join(e for e in extra if e).split(os.pathsep):
        if entry and os.path.isdir(entry) and os.listdir(entry):
            return _cds_skip(f"{entry} is a non-empty directory on the driver classpath", warn=True)
    cache = _cds_dir()
    if any(c.isspace() or c in "\"'\\" for c in cache):
        return _cds_skip(f"the cache dir {cache!r} holds a space or quote", warn=True)
    try:
        os.makedirs(os.path.join(cache, "conf"), mode=0o700, exist_ok=True)
        st = os.lstat(cache)
        if not stat.S_ISDIR(st.st_mode) or st.st_uid != os.getuid():
            return _cds_skip(f"the cache dir {cache} is not this user's own directory", warn=True)
        if stat.S_IMODE(st.st_mode) != 0o700:
            os.chmod(cache, 0o700)
        if not os.access(cache, os.W_OK):
            raise PermissionError(f"{cache} is not writable")
        for tmp in glob.glob(os.path.join(cache, "*.tmp")):
            pid = tmp.rsplit(".", 2)[-2]
            # a dead writer's file may be cut short; never promote it
            if pid.isdigit() and int(pid) != os.getpid() and not _pid_alive(int(pid)):
                os.unlink(tmp)
        key = _cds_key(java, release, spark_home, driver_mem, conf)
    except OSError as e:
        return _cds_skip(f"the cache dir {cache} is not writable ({e})", warn=True)
    env = {"SPARK_CONF_DIR": os.path.join(cache, "conf")} if names else {}
    archive = os.path.join(cache, key + ".jsa")
    try:
        st = os.lstat(archive)
    except FileNotFoundError:
        st = None
    if st is not None:
        if not (stat.S_ISREG(st.st_mode) and _private(st)):
            return _cds_skip(f"{archive} is not a file that only this user can write", warn=True)
        _cds.update(state="used", archive=archive, reason="an archive for this JDK and classpath exists")
        return f"-XX:SharedArchiveFile={archive} {_CDS_LOG_OFF}", env
    tmp = os.path.join(cache, f"{key}.{os.getpid()}.tmp")
    if os.path.exists(tmp):
        os.unlink(tmp)
    _cds.update(state="writing", archive=archive, reason="no archive for this JDK and classpath yet")
    _cds_pending = {"java": java, "tmp": tmp, "archive": archive, "cache": cache}
    return f"-XX:ArchiveClassesAtExit={tmp} {_CDS_LOG_OFF}", env


def _cds_launch(builder, env: dict) -> SparkSession:
    """``builder.getOrCreate()`` with ``env`` in os.environ for the
    launch only; binds a pending archive write to the JVM it started."""
    global _cds_pending
    from pyspark import SparkContext

    saved = {k: os.environ.get(k) for k in env}
    os.environ.update(env)
    try:
        spark = builder.getOrCreate()
    except BaseException:
        if _cds_pending is not None and "proc" not in _cds_pending:
            _cds_pending = None
        raise
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
    if _cds_pending is not None and "proc" not in _cds_pending:
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is None:
            _cds_pending = None
        else:
            _cds_pending["proc"] = proc
            # the child check must map the archive on the classpath it
            # was written with, or the JVM would just ignore it
            _cds_pending["classpath"] = spark._jvm.System.getProperty("java.class.path")
            atexit.unregister(_cds_finish)
            atexit.register(_cds_finish)
    return spark


def _cds_check(job: dict) -> bool:
    """A child JVM maps the archive with -Xshare:on (an archive it cannot
    use fails it) on the writer's classpath; any crash or error fails."""
    try:
        return subprocess.run(
            [job["java"], f"-XX:SharedArchiveFile={job['tmp']}", "-Xshare:on", _CDS_LOG_OFF,
             "-XX:ErrorFile=/dev/null", "-XX:-CreateCoredumpOnCrash",
             "-cp", job["classpath"], "-version"],
            stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
            timeout=_CDS_WAIT_S,
        ).returncode == 0
    except (OSError, subprocess.TimeoutExpired):
        return False


def _cds_finish() -> None:
    """Let the archive-writing JVM exit and promote its file.  The JVM
    writes at its own exit, so stop the session, close the gateway's
    stdin (the JVM exits on EOF) and wait, bounded; then check the file
    and rename it into place.  Registered with atexit, so no JVM
    outlives this process while it writes."""
    global _cds_pending
    job, _cds_pending = _cds_pending, None
    if job is None:
        return
    proc, tmp = job["proc"], job["tmp"]
    if proc.poll() is None:
        from pyspark import SparkContext

        try:
            if SparkContext._active_spark_context is not None:
                SparkContext._active_spark_context.stop()
        except Exception:
            pass
        try:
            proc.stdin.close()
        except (AttributeError, OSError):
            pass
        try:
            proc.wait(timeout=_CDS_WAIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    try:
        if proc.returncode == 0 and os.path.isfile(tmp) and _cds_check(job):
            os.chmod(tmp, 0o400)
            os.replace(tmp, job["archive"])
            # one archive per user: drop other keys' archives
            for old in glob.glob(os.path.join(job["cache"], "*.jsa")):
                if old != job["archive"]:
                    os.unlink(old)
            return
        if os.path.exists(tmp):
            os.unlink(tmp)
    except OSError:
        return
    _cds_skip(
        f"the JVM that was to write {job['archive']} exited with code {proc.returncode}"
        if proc.returncode
        else f"the archive the JVM wrote to {tmp} is missing or failed its check",
        warn=True,
    )


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
    # one option string: ours first, the caller's last, so the caller
    # wins a conflict without dropping the heap pin or the CDS flags
    conf = dict(extra_conf or {})
    caller_opts = conf.pop("spark.driver.extraJavaOptions", "")
    cds_opts, cds_env = _cds_plan(master, driver_mem, conf, caller_opts)
    jvm_opts = " ".join(o for o in (jvm_opts, cds_opts, caller_opts) if o)
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
    builder = builder.config("spark.driver.extraJavaOptions", jvm_opts)
    if not master.startswith("local") and "spark.executor.extraJavaOptions" not in conf:
        # Cluster masters: executor JVMs need the same fixed/pre-faulted
        # heap as the driver, or every sort/agg-heavy stage pays the
        # lazy page-fault storm per executor — measured on a standalone
        # 4×2-core cluster: the SAME window-sort stage burned 958 s of
        # executor CPU with default lazily-faulted 6 GiB heaps vs 121 s
        # in an equivalently-sized pre-faulted JVM (6.6× wall: 216 s →
        # 33 s end-to-end).  -Xms is pinned to spark.executor.memory so
        # the committed heap never shrinks/re-faults mid-job; pretouch
        # follows the same PGD_SPARK_PRETOUCH opt-in as the driver.
        exec_mem = conf.get("spark.executor.memory") or os.environ.get(
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
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = _cds_launch(builder, cds_env)
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark
