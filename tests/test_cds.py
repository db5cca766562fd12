"""Class-data sharing for the driver JVM (``cds.py``).

The session tests start fresh ``python -c`` processes under a temporary
``XDG_CACHE_HOME`` and read the driver JVM's command line and
environment from ``/proc``, so they check what the JVM was given, not
what ``get_spark`` meant to give it.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

from lms_erp_data_integration_spark import cds, session
from lms_erp_data_integration_spark.session import _heap_mb, _max_result_size_mb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SESSION = textwrap.dedent("""
    import json, sys
    from pyspark import SparkContext
    from lms_erp_data_integration_spark.session import get_spark
    spark = get_spark(master="local[1]", shuffle_partitions=1,
                      extra_conf=json.loads(sys.argv[1]))
    acc = spark.sparkContext.accumulator(0)  # a live accumulator-server connection
    spark.sparkContext.parallelize(range(3), 1).foreach(lambda x: acc.add(1))
    assert acc.value == 3
    pid = SparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/cmdline", "rb") as f:
        argv = f.read().decode().split("\\0")
    with open(f"/proc/{pid}/environ", "rb") as f:
        env = dict(e.split("=", 1) for e in f.read().decode().split("\\0") if "=" in e)
    print("JVM " + json.dumps({"argv": argv, "conf_dir": env.get("SPARK_CONF_DIR")}))
""")


def _env(tmp_path, **extra) -> dict[str, str]:
    env = dict(os.environ)
    path = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    env.update(
        XDG_CACHE_HOME=str(tmp_path / "xdg"),
        SPARK_DRIVER_MEM="1g",
        PYTHONPATH=os.pathsep.join([ROOT, *path]),
        **extra,
    )
    return env


def _start(tmp_path, extra_conf=None, **env) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, "-c", _SESSION, json.dumps(extra_conf or {})],
        cwd=tmp_path, env=_env(tmp_path, **env),
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )


def _finish(proc: subprocess.Popen) -> dict:
    """The JVM's argv and SPARK_CONF_DIR, once the process has exited
    (after a dump, its archive is published by then)."""
    out, err = proc.communicate(timeout=600)
    assert proc.returncode == 0, err[-3000:]
    assert "Traceback" not in err, err[-3000:]  # none at exit either
    lines = [ln for ln in out.splitlines() if ln.startswith("JVM ")]
    assert len(lines) == 1, out[-3000:]
    return json.loads(lines[0][4:])


def _flags(jvm: dict) -> list[str]:
    """The JVM options that name an archive (the argv also holds the
    ``--conf`` that carried them, which is not an option)."""
    return [a for a in jvm["argv"]
            if a.startswith(("-XX:SharedArchiveFile=", "-XX:ArchiveClassesAtExit="))]


def _cache(tmp_path) -> str:
    return os.path.join(tmp_path, "xdg", "lms_erp_data_integration_spark", "cds")


def _is_archive(path) -> bool:
    with open(path, "rb") as f:
        return f.read(4) == (0xF00BABA8).to_bytes(4, "little")


def test_first_runs_dump_once_then_the_next_maps(tmp_path):
    """Two simultaneous first runs give one dumper; the archive it
    publishes is mapped by the next run, beside the caller's own
    ``spark.driver.extraJavaOptions``."""
    first = [_start(tmp_path), _start(tmp_path)]
    flags = [_flags(_finish(p)) for p in first]
    dumpers = [f for f in flags if f and "ArchiveClassesAtExit" in f[0]]
    assert len(dumpers) == 1 and len(dumpers[0]) == 1, flags
    assert sorted(map(len, flags)) == [0, 1], flags  # the other: no CDS
    names = sorted(os.listdir(_cache(tmp_path)))
    jsa = [n for n in names if n.endswith(".jsa")]
    assert len(jsa) == 1 and not [n for n in names if n.endswith(".tmp")], names
    archive = os.path.join(_cache(tmp_path), jsa[0])
    assert _is_archive(archive)

    log = tmp_path / "cds.log"
    jvm = _finish(_start(tmp_path, {
        "spark.driver.extraJavaOptions": f"-Dcds.probe=1 -Xlog:cds=info:file={log}",
    }))
    assert _flags(jvm) == [f"-XX:SharedArchiveFile={archive}"]
    assert "-Dcds.probe=1" in jvm["argv"]
    assert "dynamic region" in log.read_text()  # mapped, not only passed


def test_garbage_archive_and_dead_tmp_are_never_passed(tmp_path):
    cache = _cache(tmp_path)
    os.makedirs(cache)
    key = cds.archive_key(_heap_mb("1g"))
    dead = subprocess.Popen(["true"])
    dead.wait()
    archive = os.path.join(cache, f"{key}.jsa")
    stale = os.path.join(cache, f"{key}.{dead.pid}.tmp")
    with open(archive, "wb") as f:
        f.write(b"not an archive\n" * 100)
    with open(stale, "wb") as f:  # a valid header, then nothing
        f.write((0xF00BABA8).to_bytes(4, "little") + bytes(4092))

    jvm = _finish(_start(tmp_path))
    flags = _flags(jvm)
    assert len(flags) == 1 and "ArchiveClassesAtExit" in flags[0], flags
    assert stale not in flags[0]
    assert _is_archive(archive)  # the garbage was replaced by a real dump
    assert not os.path.exists(stale)


def test_real_spark_defaults_means_no_redirect_and_no_flag(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.ui.showConsoleProgress false\n")
    (conf / "log4j2.properties.template").write_text("")
    jvm = _finish(_start(tmp_path, SPARK_CONF_DIR=str(conf)))
    assert _flags(jvm) == []
    assert jvm["conf_dir"] == str(conf)
    assert not os.path.exists(_cache(tmp_path))


def test_heap_mb_and_max_result_size():
    assert _heap_mb("48g") == 48 * 1024
    assert _heap_mb("512MB") == 512
    assert _heap_mb("2097152") == 2
    assert _heap_mb("junk") is None and _heap_mb("") is None
    assert _max_result_size_mb("48g") == 8 * 1024
    assert _max_result_size_mb("12Gb") == 2048
    assert _max_result_size_mb("4g") == 1024
    assert _max_result_size_mb("junk") == 1024


def test_compressed_oops_classes_get_their_own_keys():
    key = {m: cds.archive_key(_heap_mb(m)) for m in ("4g", "8g", "31g", "32g", "48g")}
    assert None not in key.values()
    assert key["4g"] == key["8g"] == key["31g"]
    assert key["32g"] == key["48g"] != key["4g"]


def test_plan_conditions_and_the_single_dumper(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    heap = _heap_mb("1g")

    monkeypatch.setenv("HADOOP_CONF_DIR", str(tmp_path))
    assert cds.plan(heap, {}) is None
    monkeypatch.delenv("HADOOP_CONF_DIR")
    assert cds.plan(heap, {"spark.driver.extraClassPath": str(tmp_path)}) is None

    first = cds.plan(heap, {"spark.driver.defaultJavaOptions": "-Dmine=1"})
    try:
        assert first.options.startswith("-Dmine=1 ")
        assert "-XX:ArchiveClassesAtExit=" in first.options
        assert cds.plan(heap, {}) is None  # the key's lock is held
    finally:
        os.close(first.dump[0])
    archive = first.dump[2]
    with open(archive, "wb") as f:
        f.write((0xF00BABA8).to_bytes(4, "little"))
    mapped = cds.plan(heap, {})
    assert mapped.dump is None
    assert mapped.options.endswith(f"-XX:SharedArchiveFile={archive}")


def test_a_running_gateway_is_reused_without_a_plan(spark, monkeypatch):
    def no_plan(*_):
        raise AssertionError("planned a launch with a gateway running")

    monkeypatch.setattr(cds, "plan", no_plan)
    assert session.get_spark(
        app_name="tests", master="local[4]", shuffle_partitions=4
    ) is spark
