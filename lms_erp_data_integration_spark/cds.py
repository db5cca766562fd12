"""Class-data sharing (dynamic AppCDS, JEP 350) for the driver JVM.

Most of a cold session's start-up is the JVM loading and verifying the
JDK and Spark-jar classes. A dynamic CDS archive of those classes,
mapped at launch, removes about half of it. The first run for a key
dumps the archive when its JVM exits (``-XX:ArchiveClassesAtExit``);
later runs map it (``-XX:SharedArchiveFile``).

The archives live in ``$XDG_CACHE_HOME/lms_erp_data_integration_spark/cds``
(default ``~/.cache``) as ``<key>.jsa``. They hold only JDK and
Spark-jar classes, so they stay valid across checkouts. The key covers
what an archive is valid for: the JDK build, the launcher classpath and
the heap's compressed-oops class, because an archive dumped with
compressed oops is not used by a heap without them, and vice versa.

Only a complete archive is ever passed to the JVM. A dump is written to
``<key>.<pid>.tmp`` and renamed to ``<key>.jsa`` only after that JVM
exits with 0: a truncated archive with a valid header crashes the JVM
with SIGBUS while mapping. One process per key dumps, chosen by an
exclusive ``flock`` on ``<key>.lock``, which the kernel releases when
its holder dies. A file without the dynamic-archive magic is never
passed either: the JVM starts with it, but with the JDK's base archive
turned off as well, so slower than with no archive.

When a condition fails (a real file in the Spark conf directory, a
Hadoop or YARN conf directory or extra classpath from the environment,
a directory on the driver classpath, no JDK ``release`` file, a cache
directory that cannot be written), the session starts without CDS.
"""

from __future__ import annotations

import atexit
import contextlib
import fcntl
import glob
import hashlib
import os
import shutil
import stat
import subprocess

# Spark's launcher puts these directories or paths on the driver
# classpath. JDK 17 will not dump with a non-empty directory there.
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
_DYNAMIC_MAGIC = (0xF00BABA8).to_bytes(4, "little")
# The largest heap HotSpot gives compressed oops: 32 GiB less the null
# page, padded to G1's largest region size (32 MiB).
_COOPS_MAX_MB = 32 * 1024 - 32
# A dump prints ~600 "Skipping ..." warnings, and the default log
# output is stdout, which is the CLI's output.
_QUIET = "-Xlog:cds*=off"
# The dump runs at JVM exit; it took 9-20 s on 4 cores.
_DUMP_WAIT_S = 120


def _cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    return os.path.join(base, "lms_erp_data_integration_spark", "cds")


def _spark_home() -> str:
    from pyspark.find_spark_home import _find_spark_home

    return _find_spark_home()


def _java_home() -> str | None:
    """The JDK Spark's launcher runs: ``$JAVA_HOME``, else ``java`` on
    the PATH."""
    if os.environ.get("JAVA_HOME"):
        return os.environ["JAVA_HOME"]
    java = shutil.which("java")
    return os.path.dirname(os.path.dirname(os.path.realpath(java))) if java else None


def _templates_only(conf_dir: str) -> bool:
    try:
        return all(n.endswith(".template") for n in os.listdir(conf_dir))
    except FileNotFoundError:
        return True
    except OSError:
        return False


def archive_key(heap_mb: float, extra_class_path: str = "") -> str | None:
    """Key of the archive for a driver launch, or None when this launch
    cannot use one (no JDK or no ``release`` file in it, no jars
    directory, or a directory on the extra classpath)."""
    java_home = _java_home()
    if java_home is None:
        return None
    jars = os.path.join(_spark_home(), "jars")
    try:
        with open(os.path.join(java_home, "release"), "rb") as f:
            h = hashlib.sha256(f.read())
        paths = [os.path.join(jars, n) for n in sorted(os.listdir(jars))
                 if n.lower().endswith(".jar")]
    except OSError:
        return None
    for entry in filter(None, extra_class_path.split(os.pathsep)):
        # the launcher expands "dir/*" to the jars in dir
        paths += sorted(glob.glob(entry + ".jar")) if entry.endswith("*") else [entry]
    for p in paths:
        try:
            st = os.stat(p)
        except FileNotFoundError:
            h.update(f"{p}\0-\n".encode())
            continue
        if stat.S_ISDIR(st.st_mode):
            return None
        h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    h.update(os.environ.get("PYSPARK_SUBMIT_ARGS", "").encode())
    h.update(b"coops" if heap_mb <= _COOPS_MAX_MB else b"nocoops")
    return h.hexdigest()[:24]


def _is_archive(path: str) -> bool:
    try:
        with open(path, "rb") as f:
            return f.read(4) == _DYNAMIC_MAGIC
    except OSError:
        return False


def _try_lock(path: str) -> int | None:
    fd = os.open(path, os.O_RDWR | os.O_CREAT, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        os.close(fd)
        return None
    return fd


class Launch:
    """The CDS options of one driver launch. ``start`` launches it;
    a dumping launch holds the key's lock until its archive is
    published at interpreter exit."""

    def __init__(self, options: str, conf_dir: str, dump=None):
        self.options = options
        self.conf_dir = conf_dir
        self.dump: tuple[int, str, str] | None = dump  # lock fd, tmp, archive

    def start(self, builder):
        """``builder.getOrCreate()`` with ``spark.driver.defaultJavaOptions``
        extended by the CDS options and ``SPARK_CONF_DIR`` pointed at an
        empty directory for the launch."""
        from pyspark import SparkContext

        before = os.environ.get("SPARK_CONF_DIR")
        os.environ["SPARK_CONF_DIR"] = self.conf_dir
        try:
            spark = builder.config(
                "spark.driver.defaultJavaOptions", self.options
            ).getOrCreate()
        except BaseException:
            if self.dump:
                os.close(self.dump[0])
            raise
        finally:
            if before is None:
                os.environ.pop("SPARK_CONF_DIR", None)
            else:
                os.environ["SPARK_CONF_DIR"] = before
        if self.dump:
            # hold the gateway's own Popen: callers may drop the gateway
            atexit.register(_publish, SparkContext._gateway.proc, *self.dump)
        return spark


def _publish(proc: subprocess.Popen, lock_fd: int, tmp: str, archive: str) -> None:
    """Let the dumping JVM exit (it exits on EOF on its stdin), and
    publish its archive only after a 0 exit."""
    from pyspark import SparkContext

    try:
        if proc.poll() is None and SparkContext._active_spark_context is not None:
            # Stopped first, its accumulator server does not see the
            # JVM's connection drop and print an EOFError at exit.
            SparkContext._active_spark_context.stop()
        with contextlib.suppress(OSError):
            proc.stdin.close()
        proc.wait(timeout=_DUMP_WAIT_S)
        if proc.returncode == 0 and os.path.exists(tmp):
            fd = os.open(tmp, os.O_RDONLY)
            try:
                os.fsync(fd)
            finally:
                os.close(fd)
            os.replace(tmp, archive)
    except (OSError, subprocess.TimeoutExpired):
        pass
    finally:
        with contextlib.suppress(OSError):
            os.unlink(tmp)
        os.close(lock_fd)


def plan(heap_mb: float | None, extra_conf: dict[str, str]) -> Launch | None:
    """The CDS launch for a new driver JVM, or None to start without
    CDS. Call only when no gateway JVM is running."""
    if heap_mb is None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None
    if any(os.environ.get(v) for v in _CLASSPATH_ENV):
        return None
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(_spark_home(), "conf")
    if not _templates_only(conf_dir):
        return None
    key = archive_key(heap_mb, extra_conf.get("spark.driver.extraClassPath", ""))
    if key is None:
        return None
    cache = _cache_dir()
    # The launcher puts the conf directory on the classpath; this empty
    # one stands in for a real one that holds only templates.
    empty_conf = os.path.join(cache, "conf")
    archive = os.path.join(cache, f"{key}.jsa")
    own = extra_conf.get("spark.driver.defaultJavaOptions", "")

    def launch(flag: str, dump=None) -> Launch:
        return Launch(f"{own} {_QUIET} {flag}".strip(), empty_conf, dump)

    try:
        os.makedirs(empty_conf, exist_ok=True)
        if os.listdir(empty_conf):
            return None
        if _is_archive(archive):
            return launch(f"-XX:SharedArchiveFile={archive}")
        lock_fd = _try_lock(os.path.join(cache, f"{key}.lock"))
    except OSError:
        return None
    if lock_fd is None:
        return None  # another process is dumping this key
    if _is_archive(archive):  # published while we took the lock
        os.close(lock_fd)
        return launch(f"-XX:SharedArchiveFile={archive}")
    try:
        # a garbage archive, and tmp files of dumps that never finished
        for stale in [archive, *glob.glob(os.path.join(cache, f"{key}.*.tmp"))]:
            with contextlib.suppress(FileNotFoundError):
                os.unlink(stale)
    except OSError:
        os.close(lock_fd)
        return None
    tmp = os.path.join(cache, f"{key}.{os.getpid()}.tmp")
    return launch(f"-XX:ArchiveClassesAtExit={tmp}", (lock_fd, tmp, archive))
