"""The driver JVM's AppCDS archive (``session.cds_launch`` and friends).

The unit tests run the pure launch helper against a fake ``SPARK_HOME``
and JDK under ``tmp_path`` and start no JVM. One subprocess test starts
real sessions against a ``tmp_path`` cache: the first dumps and
promotes an archive, the second maps it, and a session still starts
when the archive on disk is short.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from etl_finance_pipeline_spark.session import cds_launch, promote_archive

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def home(tmp_path):
    """A fake Spark home with two jars and a fake JDK; returns
    (cache_dir, spark_home, env)."""
    spark_home = tmp_path / "spark"
    (spark_home / "jars").mkdir(parents=True)
    for name in ("a.jar", "b.jar"):
        (spark_home / "jars" / name).write_bytes(b"jar")
    jdk = tmp_path / "jdk"
    jdk.mkdir()
    (jdk / "release").write_text('JAVA_VERSION="17.0.20"\n')
    return str(tmp_path / "cache"), str(spark_home), {"JAVA_HOME": str(jdk)}


def _dumped(launch, payload: bytes = b"archive") -> str:
    """Stand in for the JVM: write *payload* where *launch* dumps, then
    promote it as after a clean exit; returns the archive's path."""
    with open(launch.dump_to, "wb") as fh:
        fh.write(payload)
    promote_archive(launch.dump_to, 0)
    (name,) = [n for n in os.listdir(os.path.dirname(launch.dump_to)) if n.endswith(".jsa")]
    return os.path.join(os.path.dirname(launch.dump_to), name)


def test_missing_conf_dir_dumps_without_redirect(home):
    cache, spark_home, env = home
    launch = cds_launch(cache, spark_home, env)
    assert launch.conf_dir is None
    assert launch.dump_to.startswith(cache + os.sep)
    assert launch.java_options.startswith(f"-XX:ArchiveClassesAtExit={launch.dump_to} ")
    assert "-Xlog:cds*=error:stderr" in launch.java_options
    assert "-Xshare:on" not in launch.java_options


def test_templates_only_conf_dir_is_swapped_for_an_empty_one(home):
    cache, spark_home, env = home
    os.makedirs(os.path.join(spark_home, "conf"))
    open(os.path.join(spark_home, "conf", "spark-defaults.conf.template"), "w").close()
    launch = cds_launch(cache, spark_home, env)
    assert launch.conf_dir == os.path.join(cache, "conf")
    assert os.listdir(launch.conf_dir) == []


@pytest.mark.parametrize("via_env", [False, True])
def test_conf_dir_with_a_real_file_uses_no_archive(home, tmp_path, via_env):
    cache, spark_home, env = home
    conf = str(tmp_path / "myconf") if via_env else os.path.join(spark_home, "conf")
    os.makedirs(conf)
    open(os.path.join(conf, "spark-defaults.conf.template"), "w").close()
    open(os.path.join(conf, "log4j2.properties"), "w").close()
    if via_env:
        env = {**env, "SPARK_CONF_DIR": conf}
    assert cds_launch(cache, spark_home, env) is None


def test_promoted_archive_is_mapped_until_it_goes_stale(home):
    cache, spark_home, env = home
    # the dump of a session killed before it could promote
    os.makedirs(cache)
    open(os.path.join(cache, "0123456789abcdef.42.tmp"), "wb").close()
    archive = _dumped(cds_launch(cache, spark_home, env))
    assert os.path.basename(archive).endswith(f"-{len(b'archive')}.jsa")
    assert [n for n in os.listdir(cache) if n.endswith(".tmp")] == []

    launch = cds_launch(cache, spark_home, env)
    assert launch.dump_to is None
    assert launch.java_options.startswith(f"-XX:SharedArchiveFile={archive} ")
    assert "-Xlog:cds*=warning:stderr" in launch.java_options

    # a new jar set is a new key: dump again, and the promotion keeps
    # only the new key's archive
    with open(os.path.join(spark_home, "jars", "a.jar"), "ab") as fh:
        fh.write(b"v2")
    launch = cds_launch(cache, spark_home, env)
    assert launch.dump_to is not None
    assert _dumped(launch, b"archive v2") != archive
    assert not os.path.exists(archive)


def test_short_archive_is_not_mapped(home):
    cache, spark_home, env = home
    archive = _dumped(cds_launch(cache, spark_home, env))
    with open(archive, "r+b") as fh:
        fh.truncate(3)
    launch = cds_launch(cache, spark_home, env)
    assert launch.dump_to is not None
    assert "SharedArchiveFile" not in launch.java_options


@pytest.mark.parametrize("returncode", [1, -9, None])
def test_archive_is_promoted_only_after_a_clean_exit(home, returncode):
    cache, spark_home, env = home
    launch = cds_launch(cache, spark_home, env)
    with open(launch.dump_to, "wb") as fh:
        fh.write(b"partial")
    promote_archive(launch.dump_to, returncode)
    assert [n for n in os.listdir(cache) if n != "conf"] == []


def test_unwritable_cache_uses_no_archive(home, tmp_path):
    _, spark_home, env = home
    blocker = tmp_path / "not-a-dir"
    blocker.write_text("")
    assert cds_launch(str(blocker / "cds"), spark_home, env) is None


def test_callers_java_options_are_kept(home):
    cache, spark_home, env = home
    launch = cds_launch(cache, spark_home, env, "-Dfoo=bar -Xss4m")
    assert launch.java_options.startswith("-Dfoo=bar -Xss4m -XX:ArchiveClassesAtExit=")
    # a caller who sets class sharing up itself keeps it
    assert cds_launch(cache, spark_home, env, "-Xshare:off") is None


_SESSION = """
import json, os, sys
from etl_finance_pipeline_spark import session
session.CACHE_DIR = sys.argv[1]
spark = session.get_spark(app_name="cds-test", master="local[1]", shuffle_partitions=1)
mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
print(json.dumps({
    "rows": spark.range(5).count(),
    "archives": sorted(n for n in os.listdir(sys.argv[1]) if n.endswith(".jsa")),
    "args": [a for a in mx.getInputArguments() if "Archive" in a],
}))
"""


def _start(cache: str) -> tuple[dict, str]:
    env = {**os.environ, "SPARK_DRIVER_MEM": "1g", "PYTHONPATH": ROOT}
    proc = subprocess.run(
        [sys.executable, "-c", _SESSION, cache],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1]), proc.stderr


def test_session_builds_the_archive_once_then_maps_it(tmp_path):
    cache = str(tmp_path / "cds")

    first, _ = _start(cache)
    assert first["rows"] == 5
    assert first["archives"] == []  # nothing is promoted before the JVM exits
    assert [a.split("=")[0] for a in first["args"]] == ["-XX:ArchiveClassesAtExit"]
    archives = [n for n in os.listdir(cache) if n.endswith(".jsa")]
    assert len(archives) == 1
    assert [n for n in os.listdir(cache) if n.endswith(".tmp")] == []
    archive = os.path.join(cache, archives[0])

    second, stderr = _start(cache)
    assert second["rows"] == 5
    assert second["args"] == [f"-XX:SharedArchiveFile={archive}"]
    assert "Unable to use shared archive" not in stderr

    # a short archive would kill the JVM if mapped: it is rebuilt instead
    os.chmod(archive, 0o644)
    with open(archive, "r+b") as fh:
        fh.truncate(1 << 20)
    third, _ = _start(cache)
    assert third["rows"] == 5
    assert [a.split("=")[0] for a in third["args"]] == ["-XX:ArchiveClassesAtExit"]
    (rebuilt,) = [n for n in os.listdir(cache) if n.endswith(".jsa")]
    assert os.path.getsize(os.path.join(cache, rebuilt)) > 1 << 20
