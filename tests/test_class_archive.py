"""The driver JVM's class-data-sharing archive: which launches record or map
one, what its file name depends on, and that a launch without one is the
launch the engine made before it had one."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from types import SimpleNamespace

import pytest
from pyspark import SparkContext
from pyspark.sql import SparkSession

from ai_powered_e_commerce_analytics_spark import session
from ai_powered_e_commerce_analytics_spark.session import (
    DRIVER_JIT_OPTIONS,
    class_archive_launch,
    get_spark,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CONF = {"spark.driver.memory": "1g"}
RECORD = "-Xlog:cds=error -XX:ArchiveClassesAtExit="
MAP = "-XX:SharedArchiveFile="


def _jdk(path):
    (path / "bin").mkdir(parents=True)
    (path / "bin" / "java").write_text("")
    (path / "lib").mkdir()
    (path / "lib" / "modules").write_bytes(b"modules")
    return path


@pytest.fixture
def homes(tmp_path, monkeypatch):
    """A fake Spark install (two jars, a conf dir of templates) and JDK."""
    spark_home = tmp_path / "spark"
    (spark_home / "jars").mkdir(parents=True)
    for name in ("a.jar", "b.jar"):
        (spark_home / "jars" / name).write_bytes(b"jar")
    (spark_home / "conf").mkdir()
    (spark_home / "conf" / "spark-defaults.conf.template").write_text("# spark.master\n")
    monkeypatch.setenv("SPARK_HOME", str(spark_home))
    monkeypatch.setenv("JAVA_HOME", str(_jdk(tmp_path / "jdk")))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    for var in ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
                "PYSPARK_GATEWAY_PORT"):
        monkeypatch.delenv(var, raising=False)
    return SimpleNamespace(
        spark=spark_home, tmp=tmp_path,
        cache=tmp_path / "cache" / "ai_powered_e_commerce_analytics_spark",
    )


@pytest.mark.parametrize("conf_dir", ["templates", "empty", "missing"])
def test_template_only_conf_dir_records_with_an_empty_conf_dir(homes, conf_dir):
    conf = homes.spark / "conf"
    if conf_dir != "templates":
        (conf / "spark-defaults.conf.template").unlink()
    if conf_dir == "missing":
        conf.rmdir()
    flag, archive, launch_conf_dir = class_archive_launch(CONF)
    assert flag == f'{RECORD}"{archive}"'
    assert os.path.dirname(archive) == str(homes.cache)
    assert launch_conf_dir == str(homes.cache / "empty-conf")
    assert os.listdir(launch_conf_dir) == []


class _Launched(Exception):
    pass


def _launch(monkeypatch, extra_conf):
    """The driver JVM options and SPARK_CONF_DIR get_spark would launch
    with, were no JVM running in this process."""
    seen = {}

    def get_or_create(builder):
        seen["options"] = builder._options["spark.driver.defaultJavaOptions"]
        seen["conf_dir"] = os.environ.get("SPARK_CONF_DIR")
        raise _Launched

    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
    with pytest.raises(_Launched):
        get_spark(extra_conf=extra_conf)
    assert "SPARK_CONF_DIR" not in os.environ
    return seen["options"], seen["conf_dir"]


def test_template_only_conf_dir_launches_with_the_archive(homes, monkeypatch):
    options, conf_dir = _launch(monkeypatch, {})
    assert options.startswith(f"{DRIVER_JIT_OPTIONS} {RECORD}")
    assert conf_dir == str(homes.cache / "empty-conf")


@pytest.mark.parametrize("case", ["real conf file", "caller's java options"])
def test_launch_without_an_archive_is_unchanged(homes, monkeypatch, case):
    extra = {}
    if case == "real conf file":
        (homes.spark / "conf" / "spark-defaults.conf").write_text("spark.ui.enabled false\n")
    else:
        extra = {"spark.driver.defaultJavaOptions": "-Xss4m"}
    assert class_archive_launch({**CONF, **extra}) == ("", None, None)
    options, conf_dir = _launch(monkeypatch, extra)
    assert options == extra.get("spark.driver.defaultJavaOptions", DRIVER_JIT_OPTIONS)
    assert conf_dir is None


def test_a_non_empty_classpath_directory_turns_the_archive_off(homes):
    classes = homes.tmp / "classes"
    classes.mkdir()
    (classes / "A.class").write_bytes(b"\xca\xfe")
    assert class_archive_launch({**CONF, "spark.driver.extraClassPath": str(classes)}) == (
        "", None, None
    )


def test_archive_key_follows_jars_jdk_and_heap(homes, monkeypatch):
    def key(conf=CONF):
        return os.path.basename(class_archive_launch(conf)[1])

    seen = [key()]
    assert key() == seen[0]
    jar = homes.spark / "jars" / "a.jar"
    jar.write_bytes(b"jar, rebuilt")  # size
    seen.append(key())
    st = jar.stat()
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))  # mtime only
    seen.append(key())
    monkeypatch.setenv("JAVA_HOME", str(_jdk(homes.tmp / "jdk-other")))
    seen.append(key())
    seen.append(key({"spark.driver.memory": "32g"}))  # no compressed oops
    assert len(set(seen)) == len(seen)


def test_only_the_archive_as_recorded_is_mapped(homes, monkeypatch):
    (homes.cache).mkdir(parents=True)
    (homes.cache / "0123456789abcdef.jsa").write_bytes(b"older key")
    flag, archive, _ = class_archive_launch(CONF)
    assert flag.startswith(RECORD)
    assert os.listdir(homes.cache) == ["empty-conf"]  # the older key's archive is gone
    # As the recording JVM would: write the archive, then exit.
    with open(archive, "wb") as fh:
        fh.write(b"archive" * 100)
    jvm = subprocess.Popen([sys.executable, "-c", ""], stdin=subprocess.PIPE)
    monkeypatch.setattr(session, "_RECORDING", [(jvm, archive)])
    session._seal_recorded(wait=True)
    assert session._RECORDING == []
    assert class_archive_launch(CONF)[0] == f'{MAP}"{archive}"'
    os.truncate(archive, 350)
    assert class_archive_launch(CONF)[0].startswith(RECORD)
    assert not os.path.exists(archive) and not os.path.exists(archive + ".seal")


CHILD = """
import json
from ai_powered_e_commerce_analytics_spark.session import class_archive, get_spark
spark = get_spark()
print(json.dumps({"archive": class_archive(spark), "rows": spark.range(3).count()}))
"""


def _child_session(env) -> str:
    """Start a session in a new process; return what its JVM did with the
    archive once the process has exited."""
    out = subprocess.run(
        [sys.executable, "-c", CHILD], env=env, cwd=ROOT,
        capture_output=True, text=True, timeout=600,
    )
    (line,) = [x for x in out.stdout.splitlines() if x.startswith("{")] or [out.stderr[-2000:]]
    result = json.loads(line)
    assert result["rows"] == 3
    return result["archive"]


def test_child_sessions_record_then_map_the_archive(tmp_path):
    env = dict(os.environ, XDG_CACHE_HOME=str(tmp_path), PYTHONPATH=ROOT,
               SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    for var in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET"):
        env.pop(var, None)
    cache = tmp_path / "ai_powered_e_commerce_analytics_spark"

    assert _child_session(env) == "recorded"
    (archive,) = cache.glob("*.jsa")
    size = archive.stat().st_size
    assert size > 0
    assert _child_session(env) == "mapped"

    # Cut to half its size, the archive would crash the JVM that maps it.
    os.chmod(archive, 0o644)
    os.truncate(archive, size // 2)
    assert _child_session(env) == "recorded"
    assert archive.stat().st_size > size // 2
    assert session._sealed(str(archive))

    # An archive the JVM refuses (here: not an archive, but sealed) is
    # deleted once the session has started without it.
    os.chmod(archive, 0o644)
    archive.write_bytes(b"\0" * 4096)
    (cache / f"{archive.name}.seal").write_text(json.dumps(session._stat(str(archive))))
    assert _child_session(env) == "off"
    assert not archive.exists()
