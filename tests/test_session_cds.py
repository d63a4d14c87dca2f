"""The driver JVM's class-data archive (``session._cds_*``).

Each JVM test starts ``get_spark`` in a child Python process whose
``XDG_CACHE_HOME`` is under ``tmp_path`` and reads the JVM's input
arguments through py4j.  The archive-writing start runs once per module
and the other tests copy its cache.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import stat
import subprocess
import sys
import warnings

import pytest

from pgd_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, os, sys, warnings
sys.path.insert(0, sys.argv[1])
report_path, conf = sys.argv[2], json.loads(sys.argv[3])
with warnings.catch_warnings(record=True) as caught:
    warnings.simplefilter("always")
    from pgd_spark import session
    before = os.environ.get("SPARK_CONF_DIR")
    spark = session.get_spark(master="local[1]", shuffle_partitions=1, extra_conf=conf)
jvm = spark._jvm
with open(report_path, "w") as f:
    json.dump({
        "pid": os.getpid(),
        "args": list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()),
        "cds": session.cds_decision(),
        "warnings": [str(w.message) for w in caught if "class-data archive" in str(w.message)],
        "conf_dir_before": before,
        "conf_dir_after": os.environ.get("SPARK_CONF_DIR"),
        "jvm_conf_dir": jvm.System.getenv("SPARK_CONF_DIR"),
    }, f)
"""


def _env(cache: str, **extra) -> dict:
    env = {k: v for k, v in os.environ.items() if k != "SPARK_CONF_DIR"}
    env.update(XDG_CACHE_HOME=cache, PGD_SPARK_DRIVER_MEM="1g", **extra)
    return env


def _start(cache, tmp_path, conf=None, **env) -> tuple[dict, str]:
    """get_spark in a fresh process; (its report, its stdout)."""
    report = os.path.join(str(tmp_path), "report.json")
    out = subprocess.run(
        [sys.executable, "-c", CHILD, ROOT, report, json.dumps(conf or {})],
        env=_env(str(cache), **env), cwd=str(tmp_path), stdout=subprocess.PIPE,
        stderr=subprocess.PIPE, timeout=240,
    )
    assert out.returncode == 0, out.stderr.decode(errors="replace")[-3000:]
    with open(report) as f:
        return json.load(f), out.stdout.decode(errors="replace")


def _cds_dir(cache) -> str:
    return os.path.join(str(cache), "pgd_spark", "cds")


def _cds_args(report: dict) -> list[str]:
    return [a for a in report["args"] if "Archive" in a or "Xshare" in a or "Xlog" in a]


def _stock_conf_is_templates() -> bool:
    from pyspark.find_spark_home import _find_spark_home

    conf = os.path.join(_find_spark_home(), "conf")
    return not os.path.isdir(conf) or all(n.endswith(".template") for n in os.listdir(conf))


_java = session._cds_java()
pytestmark = pytest.mark.skipif(
    _java is None or session._jdk_major(_java[1]) < 13 or not _stock_conf_is_templates(),
    reason="needs JDK >= 13 and a Spark conf dir of templates only",
)


@pytest.fixture(scope="module")
def written(tmp_path_factory):
    """One archive-writing start: (cache dir, report, stdout)."""
    work = tmp_path_factory.mktemp("cds_write")
    cache = work / "cache"
    report, stdout = _start(cache, work)
    return cache, report, stdout


def _copy(written, work):
    """A private copy of the written cache and its one archive."""
    cache = work / "cache"
    shutil.copytree(written[0], cache)
    (archive,) = glob.glob(os.path.join(_cds_dir(cache), "*.jsa"))
    return cache, archive


@pytest.fixture
def cache_copy(written, tmp_path):
    return _copy(written, tmp_path)


def test_first_start_writes_and_promotes_one_archive(written):
    cache, report, stdout = written
    d = _cds_dir(cache)
    (archive,) = glob.glob(os.path.join(d, "*.jsa"))
    key = os.path.basename(archive)[: -len(".jsa")]
    assert report["cds"] == {"state": "writing", "archive": archive, "reason": report["cds"]["reason"]}
    assert _cds_args(report) == [
        f"-XX:ArchiveClassesAtExit={d}/{key}.{report['pid']}.tmp",
        "-Xlog:cds=off,cds+dynamic=off",
    ]
    # promoted by rename at exit: no temp file left, private to this uid
    assert glob.glob(os.path.join(d, "*.tmp")) == []
    st = os.stat(archive)
    assert st.st_uid == os.getuid() and not st.st_mode & 0o077 and st.st_size > 1 << 20
    assert stat.S_IMODE(os.stat(d).st_mode) == 0o700
    assert report["warnings"] == [] and "[cds" not in stdout


def test_launch_env_is_restored(written):
    cache, report, _ = written
    # the JVM ran with an empty per-user conf dir (the stock one holds
    # only templates); the parent's environment is back as it was
    assert report["jvm_conf_dir"] == os.path.join(_cds_dir(cache), "conf")
    assert os.listdir(report["jvm_conf_dir"]) == []
    assert report["conf_dir_before"] is None and report["conf_dir_after"] is None


@pytest.fixture(scope="module")
def second_start(written, tmp_path_factory):
    """A second start on the written archive, with a caller JVM flag."""
    work = tmp_path_factory.mktemp("cds_use")
    cache, archive = _copy(written, work)
    report, _ = _start(cache, work, {"spark.driver.extraJavaOptions": "-Dpgd.caller.flag=1"})
    return report, archive


def test_second_start_maps_the_archive(second_start):
    report, archive = second_start
    assert report["cds"]["state"] == "used" and report["cds"]["archive"] == archive
    assert _cds_args(report) == [f"-XX:SharedArchiveFile={archive}", "-Xlog:cds=off,cds+dynamic=off"]
    assert report["warnings"] == []


def test_caller_java_options_keep_the_heap_pin(second_start):
    args = second_start[0]["args"]
    assert "-Xms1g" in args and "-Dpgd.caller.flag=1" in args
    # ours first, the caller's last: the caller wins a conflict
    assert args.index("-Xms1g") < args.index("-Dpgd.caller.flag=1")


@pytest.mark.parametrize("how", ["group_writable", "foreign_owner"])
def test_unsafe_archive_is_not_used(cache_copy, tmp_path, how):
    cache, archive = cache_copy
    if how == "group_writable":
        os.chmod(archive, 0o664)
    else:
        if os.geteuid() != 0:
            pytest.skip("giving a file to another uid needs root")
        os.chown(archive, 65534, -1)
    report, _ = _start(cache, tmp_path)
    assert report["cds"]["state"] == "skipped" and _cds_args(report) == []
    assert len(report["warnings"]) == 1 and "only this user can write" in report["warnings"][0]


def test_dead_writers_truncated_tmp_is_deleted(cache_copy, tmp_path):
    cache, archive = cache_copy
    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait()
    key = os.path.basename(archive)[: -len(".jsa")]
    leftover = os.path.join(_cds_dir(cache), f"{key}.{dead.pid}.tmp")
    with open(archive, "rb") as src, open(leftover, "wb") as dst:
        dst.write(src.read(4 << 20))  # a cut-short archive crashes the JVM that maps it
    size = os.path.getsize(archive)
    report, _ = _start(cache, tmp_path)
    assert not os.path.exists(leftover)
    assert not any(leftover in a for a in report["args"])
    assert _cds_args(report)[0] == f"-XX:SharedArchiveFile={archive}"
    assert os.path.getsize(archive) == size


def test_real_spark_conf_dir_gets_no_cds(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.pgd.probe true\n")
    report, _ = _start(tmp_path / "cache", tmp_path, SPARK_CONF_DIR=str(conf))
    assert report["cds"]["state"] == "skipped" and _cds_args(report) == []
    assert len(report["warnings"]) == 1 and "real configuration" in report["warnings"][0]
    assert report["conf_dir_after"] == str(conf) == report["jvm_conf_dir"]
    assert not os.path.exists(_cds_dir(tmp_path / "cache"))


def test_cli_prints_no_cds_lines(tmp_path):
    """Neither the archive-writing run nor the one that maps the archive
    puts a JVM CDS log line on stdout."""
    cmd = [sys.executable, "-m", "pgd_spark", "-f", os.path.join(ROOT, "tests", "data", "4-clique.txt"), "-w", "1"]
    outs = []
    for _ in range(2):
        out = subprocess.run(
            cmd, env=_env(str(tmp_path / "cache"), PYTHONPATH=ROOT), cwd=str(tmp_path),
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, timeout=240,
        )
        assert out.returncode == 0, out.stderr.decode(errors="replace")[-3000:]
        outs.append(out.stdout.decode(errors="replace"))
        assert len(glob.glob(os.path.join(_cds_dir(tmp_path / "cache"), "*.jsa"))) == 1
    for stdout in outs:
        assert "|V| = 4, |E| = 6" in stdout
        assert "[cds" not in stdout


def test_decisions_made_without_a_jvm(monkeypatch, tmp_path):
    """The launch-free reasons: a non-local master is silent; an
    unwritable cache dir warns once and writes nothing; so does a
    non-empty directory on the driver classpath, where the archive's
    dump would fail the JVM's exit."""
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(session, "_cds", dict(session._cds))
    monkeypatch.setattr(session, "_cds_warned", set())
    monkeypatch.setattr(session, "_cds_pending", None)
    for var in ("PYSPARK_GATEWAY_PORT", "SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR"):
        monkeypatch.delenv(var, raising=False)
    assert session._cds_plan("spark://h:7077", "1g", {}, "") == ("", {})
    assert session.cds_decision()["reason"] == "not a local master"
    blocker = tmp_path / "file"
    blocker.write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(blocker))
    with pytest.warns(UserWarning, match="not writable"):
        assert session._cds_plan("local[1]", "1g", {}, "") == ("", {})
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # once per reason
        assert session._cds_plan("local[1]", "1g", {}, "") == ("", {})
    assert session.cds_decision()["state"] == "skipped"
    assert session._cds_pending is None and blocker.read_text() == ""
    hadoop = tmp_path / "hadoop"
    hadoop.mkdir()
    (hadoop / "core-site.xml").write_text("<configuration/>\n")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.setenv("HADOOP_CONF_DIR", str(hadoop))
    with pytest.warns(UserWarning, match="non-empty directory on the driver classpath"):
        assert session._cds_plan("local[1]", "1g", {}, "") == ("", {})
    assert session._cds_pending is None and not (tmp_path / "cache").exists()
