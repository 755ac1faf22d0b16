"""Lifecycle of the driver JVM's class-data-sharing archive (hadoop_spark/cds.py).

Every case runs fresh Python processes, each pointed by XDG_CACHE_HOME at
its own cache, because the archive is chosen when a process starts its JVM:
a cold start dumps and, at exit, waits for its JVM to write the archive and
publishes it; later starts map it. A bad archive must never fail a session,
and a dump that leaves no archive must not make every later start dump."""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pytest

from tests.conftest import SF_DIR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = """
import json, os
from hadoop_spark.session import get_session, jvm_start_info
spark = get_session(app_name="cds_probe", master="local[1]")
assert spark.range(10).count() == 10
print(json.dumps({"info": jvm_start_info(), "conf_dir": os.environ.get("SPARK_CONF_DIR"),
                  "marker": spark.conf.get("spark.hadoop_spark.cds_probe", None)}), flush=True)
"""
# PROBE, then stays alive until a line arrives on stdin.
HOLD = PROBE + "import sys; sys.stdin.readline()\n"
# Starts a dumping session, then kills its JVM or its own Python process.
KILL = """
import os, signal, sys
from hadoop_spark.session import get_session, jvm_start_info
spark = get_session(app_name="cds_probe", master="local[1]")
assert jvm_start_info()["mode"] == "dump"
jvm = spark.sparkContext._gateway.proc.pid
os.kill(jvm if sys.argv[1] == "jvm" else os.getpid(), signal.SIGKILL)
"""
# Only decides the mode; starts no JVM.
CHOOSE = """
import json
from hadoop_spark import cds
print(json.dumps({"opts": cds.java_options(), "status": cds.status}))
"""


def _env(cache, **extra) -> dict:
    env = dict(os.environ, XDG_CACHE_HOME=str(cache), PYTHONPATH=ROOT, **extra)
    # this test process's own session may have pointed it at its cache
    if env.get("SPARK_CONF_DIR", "").endswith(os.path.join("hadoop_spark", "cds", "conf")):
        del env["SPARK_CONF_DIR"]
    return env


def _python(args, cache, **extra) -> subprocess.CompletedProcess:
    # The JVM shares the pipes, so this returns only once it has exited too.
    return subprocess.run(
        [sys.executable, *args], env=_env(cache, **extra), capture_output=True, text=True, timeout=600
    )


def _last_json(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _cds_dir(cache) -> str:
    return os.path.join(str(cache), "hadoop_spark", "cds")


def _files(cache, pattern: str) -> list[str]:
    return sorted(glob.glob(os.path.join(_cds_dir(cache), pattern)))


def _start_files(cache) -> list[str]:
    """Per-start dump, log and lock files (``<key>.<token>.<ext>``)."""
    return _files(cache, "*.*.*")


@pytest.fixture
def fresh_cache(tmp_path):
    yield tmp_path
    shutil.rmtree(tmp_path, ignore_errors=True)  # archives are ~150 MB


@pytest.fixture(scope="module")
def lifecycle(tmp_path_factory):
    """A cold CLI run, then a warm session."""
    cache = tmp_path_factory.mktemp("cds_lifecycle")
    facts = {"cache": cache}
    facts["cold"] = _python(["-m", "hadoop_spark", "tpch_q6", "--sf-dir", SF_DIR], cache)
    facts["after_cold"] = {"jsa": _files(cache, "*.jsa"), "start": _start_files(cache)}
    facts["warm"] = _last_json(_python(["-c", PROBE], cache))
    yield facts
    shutil.rmtree(cache, ignore_errors=True)


def test_cold_cli_run_keeps_cds_logging_off_stdout(lifecycle):
    cold = lifecycle["cold"]
    assert cold.returncode == 0, cold.stderr[-3000:]
    assert "revenue" in cold.stdout
    assert "[cds" not in cold.stdout
    assert "[cds" not in cold.stderr


def test_cold_run_publishes_its_archive_before_it_exits(lifecycle):
    after = lifecycle["after_cold"]
    assert len(after["jsa"]) == 1
    assert after["start"] == []  # its dump, log and lock are gone
    assert lifecycle["warm"]["info"]["archive"] == after["jsa"][0]


def test_warm_start_maps_the_published_archive(lifecycle):
    info = lifecycle["warm"]["info"]
    assert info["mode"] == "use" and info["mapped"] is True and info["reason"] is None
    cache = lifecycle["cache"]
    assert _files(cache, "*.jsa") == [info["archive"]]
    assert _start_files(cache) == []
    assert lifecycle["warm"]["conf_dir"] == os.path.join(_cds_dir(cache), "conf")


def _truncate(path):
    with open(path, "r+b") as f:
        f.truncate(os.path.getsize(path) // 3)


def _flip_bytes(path):
    with open(path, "r+b") as f:
        f.seek(os.path.getsize(path) // 2)
        f.write(b"\xff" * 4096)


@pytest.mark.parametrize("damage", ["truncated", "corrupt", "classpath_mismatch"])
def test_bad_archive_never_fails_the_session(lifecycle, fresh_cache, damage):
    # A copy in another cache sees another conf dir on its classpath, so
    # an undamaged copy is a classpath mismatch.
    (good,) = _files(lifecycle["cache"], "*.jsa")
    os.makedirs(_cds_dir(fresh_cache))
    bad = os.path.join(_cds_dir(fresh_cache), os.path.basename(good))
    shutil.copyfile(good, bad)
    {"truncated": _truncate, "corrupt": _flip_bytes, "classpath_mismatch": lambda p: None}[damage](bad)

    proc = _python(["-c", PROBE], fresh_cache)
    info = _last_json(proc)["info"]
    assert info["mapped"] is False
    assert not os.path.exists(bad)
    assert "CDS archive" in proc.stderr  # reported, not silent
    assert "[cds" not in proc.stdout
    if damage == "truncated":  # caught before the JVM starts: dump a fresh one
        assert info["mode"] == "dump"
    else:  # the JVM rejected it
        assert info["mode"] == "use"
        if damage == "classpath_mismatch":
            assert "mismatch" in info["reason"]


def test_extra_classpath_gets_an_archive_of_its_own(lifecycle, fresh_cache):
    # A session that adds to the driver classpath must neither map nor
    # delete the archive built without it.
    (good,) = _files(lifecycle["cache"], "*.jsa")
    os.makedirs(_cds_dir(fresh_cache))
    copy = os.path.join(_cds_dir(fresh_cache), os.path.basename(good))
    shutil.copyfile(good, copy)
    with_cp = CHOOSE.replace("java_options()", 'java_options("/opt/extra/lib.jar")')
    assert _last_json(_python(["-c", with_cp], fresh_cache))["status"]["mode"] == "dump"
    plain = _last_json(_python(["-c", CHOOSE], fresh_cache))["status"]
    assert plain["mode"] == "use" and plain["archive"] == copy


def test_conf_dir_with_a_real_file_declines(fresh_cache):
    from pyspark.find_spark_home import _find_spark_home

    real_home = _find_spark_home()
    home = fresh_cache / "spark_home"
    home.mkdir()
    for name in os.listdir(real_home):
        if name != "conf":
            os.symlink(os.path.join(real_home, name), home / name)
    (home / "conf").mkdir()
    (home / "conf" / "spark-defaults.conf").write_text("spark.hadoop_spark.cds_probe marker\n")

    out = _last_json(_python(["-c", PROBE], fresh_cache, SPARK_HOME=str(home)))
    assert out["info"]["mode"] == "declined" and out["info"]["mapped"] is False
    assert "spark-defaults.conf" in out["info"]["reason"]
    assert out["conf_dir"] is None  # SPARK_CONF_DIR left unset
    assert out["marker"] == "marker"  # and the real conf dir was read
    assert not os.path.exists(_cds_dir(fresh_cache))


def test_user_conf_dir_declines_and_stays_untouched(fresh_cache):
    conf = fresh_cache / "conf"
    conf.mkdir()
    out = _last_json(_python(["-c", CHOOSE], fresh_cache, SPARK_CONF_DIR=str(conf)))
    assert out["opts"] == ""
    assert out["status"]["mode"] == "declined" and out["status"]["reason"] == "SPARK_CONF_DIR is set"


def _hold(cache, stderr_path) -> tuple[subprocess.Popen, dict]:
    with open(stderr_path, "w") as err:
        p = subprocess.Popen(
            [sys.executable, "-c", HOLD], env=_env(cache), text=True,
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=err,
        )
    line = p.stdout.readline()
    assert line, open(stderr_path).read()[-3000:]
    return p, json.loads(line)["info"]


def _release(p: subprocess.Popen, stderr_path) -> None:
    p.communicate("\n", timeout=600)
    assert p.returncode == 0, open(stderr_path).read()[-3000:]


def test_concurrent_cold_starts_publish_one_archive_after_their_writers_exit(fresh_cache):
    errs = [fresh_cache / f"err{i}" for i in range(2)]
    first, first_info = _hold(fresh_cache, errs[0])
    second, second_info = _hold(fresh_cache, errs[1])
    assert first_info["mode"] == second_info["mode"] == "dump"
    assert _files(fresh_cache, "*.jsa") == []  # nothing while the JVMs run
    _release(first, errs[0])
    (archive,) = _files(fresh_cache, "*.jsa")
    _release(second, errs[1])  # its archive is a duplicate and is dropped
    assert _files(fresh_cache, "*.jsa") == [archive]
    assert _start_files(fresh_cache) == [] and _files(fresh_cache, "*.failed") == []
    chosen = _last_json(_python(["-c", CHOOSE], fresh_cache))
    assert chosen["status"]["mode"] == "use" and chosen["status"]["archive"] == archive


@pytest.mark.parametrize("victim", ["jvm", "python"])
def test_killed_dump_makes_later_starts_decline_instead_of_dumping(fresh_cache, victim):
    _python(["-c", KILL, victim], fresh_cache)
    for _ in range(2):
        chosen = _last_json(_python(["-c", CHOOSE], fresh_cache))
        assert chosen["opts"] == ""
        assert chosen["status"]["mode"] == "declined"
        assert "earlier dump" in chosen["status"]["reason"]
    assert _files(fresh_cache, "*.jsa") == [] and _start_files(fresh_cache) == []
