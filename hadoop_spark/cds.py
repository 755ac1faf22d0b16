"""Class-data sharing (CDS) for the driver JVM.

Every driver JVM loads, parses and verifies the same ~12 k Spark classes
from ~290 jars before it answers anything: most of a session's start-up.
JDK 13+ dynamic CDS writes those classes, already parsed, into an archive
that a later JVM maps in one go. ``get_session`` keeps one archive per cache
key in ``$XDG_CACHE_HOME/hadoop_spark/cds`` (``~/.cache/...`` when unset),
outside any checkout. The key covers the JDK build, the Spark jar set and
the settings that add to the driver classpath.

- **miss**: the JVM starts with ``-XX:ArchiveClassesAtExit=<key>.<token>.dump``
  and writes the archive as it exits. The process that started it waits for
  that at exit (``atexit``), checks the file with ``java -Xshare:on
  -XX:+VerifySharedSpaces <same flags> -cp <same classpath> -version`` and
  moves it to ``<key>-<size>.jsa`` with ``os.replace``, under a lock.
- **hit**: later starts add ``-XX:SharedArchiveFile=<archive>``.
- **failed dump**: when a dump leaves no usable archive (its JVM or its
  Python process was killed, or the check failed), ``<key>.failed`` records
  why and later starts decline CDS for that key instead of dumping again.

The JVM never fails over an archive it cannot use: Spark's launcher passes
``-XX:+IgnoreUnrecognizedVMOptions``, and a classpath mismatch or a bad
checksum only turns sharing off. So whether the archive was mapped is read
from the JVM's ``-Xlog:cds`` file, which also keeps CDS messages off the
stdout the JVM shares with Python. A rejected archive is reported with a
warning and removed; the next start writes a fresh one. A truncated one
would crash the JVM instead, so its size is checked before use.

CDS refuses a classpath that holds a non-empty directory, and the launcher
always puts the Spark conf dir on it. CDS is therefore used only when the
default conf dir holds nothing but ``*.template`` files (which Spark never
reads) and no variable adds a directory of its own; ``SPARK_CONF_DIR`` is
then pointed at an empty directory in the cache.

Each start holds an ``flock`` on its ``<key>.<token>.lock`` until it has
cleaned up its own files, so a later start can tell the files of a killed
process from those of a live one and remove them.
"""

from __future__ import annotations

import atexit
import contextlib
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import uuid
import warnings

from pyspark.find_spark_home import _find_spark_home

# Variables whose value the launcher puts on the driver classpath.
_CLASSPATH_ENV = ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
# Flags of a dumping JVM that its archive's validation run must not repeat.
_DUMP_ONLY_FLAGS = ("-XX:ArchiveClassesAtExit=", "-Xlog:")
# Seconds a dumping session waits at exit for its JVM to write the archive.
_DUMP_WAIT_S = 180

status: dict = {
    "archive": None,
    "mode": "declined",
    "mapped": False,
    "reason": "the driver JVM was not started by get_session",
    "log": None,
}
# This start's files and lock, while it has any: cache, key, stem, lock fd,
# and for a dump the JVM's java binary, flags and classpath.
_start: dict = {}


def cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(base, "hadoop_spark", "cds")


def java_options(extra_classpath: str = "") -> str:
    """Pick the CDS mode for the driver JVM about to start and return its
    flags ("" when CDS is declined). ``extra_classpath`` is the session's
    ``spark.driver.extraClassPath``."""
    _end_start()
    try:
        return _choose(extra_classpath)
    except Exception as e:  # noqa: BLE001 — a start-up cache must never fail the session
        warnings.warn(f"CDS declined: {type(e).__name__}: {e}", RuntimeWarning)
        _end_start()
        return _declined(f"{type(e).__name__}: {e}")


def _choose(extra_classpath: str) -> str:
    cache = cache_dir()
    conf = os.path.join(cache, "conf")
    java = _java()
    reason = _decline_reason(conf, java)
    if reason:
        return _declined(reason)
    os.makedirs(conf, exist_ok=True)
    key = _key(java, extra_classpath)
    with _locked(cache):
        _sweep(cache, key)
        failed = _read(os.path.join(cache, key + ".failed"))
        if failed is not None:
            return _declined(f"an earlier dump for this JDK and classpath left no usable archive ({failed}); "
                             f"remove {cache} to try again")
        archive = _find(cache, key)
        stem = os.path.join(cache, f"{key}.{uuid.uuid4().hex[:12]}")
        lock = os.open(stem + ".lock", os.O_WRONLY | os.O_CREAT, 0o644)
        _start.update(cache=cache, key=key, stem=stem, lock=lock)
        fcntl.flock(lock, fcntl.LOCK_EX)
        os.write(lock, b"use" if archive else b"dump")
    os.environ["SPARK_CONF_DIR"] = conf
    log = stem + ".log"
    xlog = f"-Xlog:cds*=off -Xlog:cds*=info:file={log}"
    if archive:
        status.update(archive=archive, mode="use", mapped=False, reason=None, log=log)
        # the checksum costs ~0.1 s and keeps a damaged archive from crashing the JVM
        return f"-XX:SharedArchiveFile={archive} -XX:+VerifySharedSpaces {xlog}"
    dump = stem + ".dump"
    reason = "no archive yet for this JDK and classpath"
    status.update(archive=dump, mode="dump", mapped=False, reason=reason, log=log)
    return f"-XX:ArchiveClassesAtExit={dump} -XX:+VerifySharedSpaces {xlog}"


def record_start(spark) -> None:
    """After the JVM started: for a dump, note its classpath and flags and
    arrange to publish the archive at exit; otherwise read from the log
    whether the archive was mapped."""
    if status["mode"] == "dump":
        jvm = spark._jvm
        args = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
        _start.update(
            java=_java(),
            args=[a for a in args if not a.startswith(_DUMP_ONLY_FLAGS)],
            classpath=jvm.System.getProperty("java.class.path"),
            pid=os.getpid(),
        )
        atexit.register(_finish_dump)
    elif status["mode"] == "use":
        text = _read(status["log"]) or ""
        status["log"] = None
        status["mapped"] = "Mapped dynamic region" in text and "Unable to use shared archive" not in text
        with _locked(_start["cache"]):
            if not status["mapped"]:
                said = [ln.split("UseSharedSpaces: ", 1)[1] for ln in text.splitlines() if "UseSharedSpaces: " in ln]
                status["reason"] = said[0] if said else "the JVM did not map it"
                _remove(status["archive"])
                warnings.warn(
                    f"driver JVM rejected CDS archive {status['archive']} ({status['reason']}); "
                    "removed it, the next session writes a fresh one",
                    RuntimeWarning,
                )
            _end_start()


def _finish_dump() -> None:
    """At exit of the dumping process: end the JVM, wait until it has
    written the archive, then publish it or record why there is none."""
    if _start.get("pid") != os.getpid():  # a forked child
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None and proc.poll() is None:
        # as the JVM sees Python go: it exits when its stdin closes
        with contextlib.suppress(Exception):
            SparkContext._active_spark_context.stop()
        with contextlib.suppress(Exception):
            gateway.shutdown()
        with contextlib.suppress(OSError):
            proc.stdin.close()
        with contextlib.suppress(subprocess.TimeoutExpired):
            proc.wait(timeout=_DUMP_WAIT_S)
    cache, key, dump = _start["cache"], _start["key"], _start["stem"] + ".dump"
    running = proc is not None and proc.poll() is None
    failure = f"its JVM was still running after {_DUMP_WAIT_S} s" if running else _validate(dump)
    with _locked(cache):
        if failure is None and _find(cache, key) is None:
            os.replace(dump, os.path.join(cache, f"{key}-{os.path.getsize(dump)}.jsa"))
        elif failure is not None:
            _fail(cache, key, failure)
        _end_start()


def _validate(dump: str) -> str | None:
    """Why the dump is unusable under its writer's flags, or None."""
    if not os.path.exists(dump):
        return "the JVM wrote no archive"
    cmd = [
        _start["java"],
        "-Xshare:on",
        f"-XX:SharedArchiveFile={dump}",
        "-XX:+VerifySharedSpaces",
        f"-XX:ErrorFile={os.devnull}",
        "-XX:-CreateCoredumpFileOnCrash",
        *_start["args"],
        "-cp",
        _start["classpath"],
        "-version",
    ]
    try:
        r = subprocess.run(cmd, capture_output=True, text=True, timeout=120)
    except (OSError, subprocess.TimeoutExpired) as e:
        return str(e)
    if r.returncode:
        lines = (r.stdout + r.stderr).strip().splitlines()
        return f"validation exited {r.returncode}" + (f": {lines[-1]}" if lines else "")
    return None


def _fail(cache: str, key: str, why: str) -> None:
    with open(os.path.join(cache, key + ".failed"), "w") as f:
        f.write(why)
    warnings.warn(f"CDS dump for {key} left no usable archive ({why}); later sessions start without CDS "
                  f"until {cache} is removed", RuntimeWarning)


def _end_start() -> None:
    """Remove this start's own files and release its lock."""
    if "stem" in _start:
        for path in glob.glob(glob.escape(_start["stem"]) + ".*"):
            _remove(path)
        os.ftruncate(_start["lock"], 0)  # a sweep that opened it first must not count a failed dump
        os.close(_start["lock"])
    _start.clear()


def _sweep(cache: str, key: str) -> None:
    """Remove the files of starts whose process is gone. A dump of this key
    among them never got to publish its archive."""
    names = {".".join(os.path.basename(p).split(".")[:2]) for p in glob.glob(os.path.join(glob.escape(cache), "*.*.*"))}
    for name in sorted(names):
        stem = os.path.join(cache, name)
        doing = _owner(stem + ".lock")
        if doing is None:
            continue
        for path in glob.glob(glob.escape(stem) + ".*"):
            _remove(path)
        if doing == "dump" and name.startswith(key + "."):
            _fail(cache, key, "its process was killed before the archive was published")


def _owner(lock: str) -> str | None:
    """None while the start that holds ``lock`` runs; once it is gone, what
    it was doing ("dump", "use", or "" when unknown)."""
    try:
        fd = os.open(lock, os.O_RDONLY)
    except FileNotFoundError:
        return ""
    try:
        fcntl.flock(fd, fcntl.LOCK_SH | fcntl.LOCK_NB)
        return os.read(fd, 16).decode(errors="replace")
    except BlockingIOError:
        return None
    finally:
        os.close(fd)


def _declined(reason: str) -> str:
    status.update(archive=None, mode="declined", mapped=False, reason=reason, log=None)
    return ""


def _decline_reason(conf: str, java: str | None) -> str | None:
    for var in _CLASSPATH_ENV:
        if os.environ.get(var) and os.environ[var] != conf:
            return f"{var} is set"
    default_conf = os.path.join(_find_spark_home(), "conf")
    if os.path.isdir(default_conf):
        real = sorted(n for n in os.listdir(default_conf) if not n.endswith(".template"))
        if real:
            return f"{default_conf} holds {real[0]}"
    if java is None:
        return "no java binary found"
    if any(c.isspace() or c == ":" for c in conf):
        return f"cache path {conf!r} cannot be passed in JVM flags"
    return None


def _java() -> str | None:
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java and os.path.exists(java) else None


def _key(java: str, extra_classpath: str) -> str:
    """Digest of the JDK build, the Spark jar set (paths, sizes, mtimes) and
    what else may put entries on the driver classpath."""
    jdk = os.path.dirname(os.path.dirname(java))
    jars = sorted(glob.glob(os.path.join(_find_spark_home(), "jars", "*")))
    h = hashlib.sha256()
    for path in [java, os.path.join(jdk, "lib", "modules"), os.path.join(jdk, "lib", "server", "libjvm.so"), *jars]:
        with contextlib.suppress(OSError):
            st = os.stat(path)
            h.update(f"{path}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    h.update(f"{extra_classpath}\0{os.environ.get('PYSPARK_SUBMIT_ARGS', '')}".encode())
    return h.hexdigest()[:16]


@contextlib.contextmanager
def _locked(cache: str):
    with open(os.path.join(cache, ".lock"), "w") as f:
        fcntl.flock(f, fcntl.LOCK_EX)
        yield


def _find(cache: str, key: str) -> str | None:
    """The published archive, if its size still matches the one in its name."""
    for path in glob.glob(os.path.join(glob.escape(cache), key + "-*.jsa")):
        want = os.path.basename(path)[len(key) + 1 : -len(".jsa")]
        if want.isdigit() and os.path.getsize(path) == int(want):
            return path
        _remove(path)
        warnings.warn(f"CDS archive {path} is truncated or corrupt; removed it", RuntimeWarning)
    return None


def _read(path: str) -> str | None:
    try:
        with open(path, errors="replace") as f:
            return f.read()
    except OSError:
        return None


def _remove(path: str) -> None:
    with contextlib.suppress(FileNotFoundError):
        os.remove(path)
