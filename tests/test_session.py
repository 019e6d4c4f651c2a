"""The driver JVM's class-data-sharing archive (``session.get_spark``).

One end-to-end sequence runs three fresh interpreters against one cache:
the first dumps and publishes the archive, the second maps it, the third
finds it truncated and must still start and answer. The rest checks the
flag choice and the publishing step without a JVM.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap
import time

import pytest

from ecommerce_dbt_medallion_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = textwrap.dedent(
    """
    import json, re, subprocess, sys
    from ecommerce_dbt_medallion_spark.session import get_spark

    spark = get_spark("cds-test")
    rows = spark.range(1000).selectExpr("id % 3 AS k").groupBy("k").count().orderBy("k").collect()
    acc = spark.sparkContext.accumulator(0)  # the JVM connects to the accumulator server
    spark.sparkContext.parallelize(range(10), 2).foreach(lambda x: acc.add(x))
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    info = subprocess.run([sys.argv[1], str(pid), "VM.info"], capture_output=True, text=True).stdout
    m = re.search(r"CDS archive\\(s\\) mapped at: .*?size (\\d+)", info)
    print(json.dumps({"rows": [list(r) for r in rows], "mapped": int(m.group(1)) if m else 0}))
    """
)


def _jcmd() -> str:
    java_home = os.environ.get("JAVA_HOME")
    jcmd = os.path.join(java_home, "bin", "jcmd") if java_home else shutil.which("jcmd")
    if not jcmd or not os.path.exists(jcmd):
        pytest.skip("jcmd not found")
    return jcmd


def _cold_session(tmp_path, jcmd: str) -> dict:
    """One fresh interpreter's session, started the way perfbench starts
    it: a ``--driver-java-options`` in ``PYSPARK_SUBMIT_ARGS``."""
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET")}
    env.update(
        XDG_CACHE_HOME=str(tmp_path / "cache"),
        PYSPARK_SUBMIT_ARGS=f'--driver-java-options "-Djava.io.tmpdir={tmp_path}" pyspark-shell',
        SPARK_GRAFT_CPUS="2",
        SPARK_DRIVER_MEMORY="1g",
        PYTHONPATH=os.pathsep.join(p for p in (REPO, env.get("PYTHONPATH")) if p),
    )
    out = subprocess.run([sys.executable, "-c", CHILD, jcmd], env=env, cwd=tmp_path,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "Traceback" not in out.stderr, out.stderr[-3000:]  # the exit that dumps is quiet too
    return json.loads(out.stdout.strip().splitlines()[-1])


def _cds_dir(tmp_path) -> str:
    return str(tmp_path / "cache" / session.CACHE / "cds")


def _cache(tmp_path) -> list[str]:
    return sorted(os.listdir(_cds_dir(tmp_path)))


@pytest.fixture
def cold(tmp_path):
    """Fresh sessions against an empty cache, removed afterwards (each
    archive is ~150 MB)."""
    jcmd = _jcmd()
    yield lambda: _cold_session(tmp_path, jcmd)
    shutil.rmtree(tmp_path / "cache", ignore_errors=True)


def test_archive_is_dumped_then_mapped_and_a_truncated_one_falls_back(tmp_path, cold):
    rows = [[0, 334], [1, 333], [2, 333]]

    first = cold()
    assert first["rows"] == rows
    (published,) = _cache(tmp_path)  # published at exit, no temp left
    assert published.endswith(".jsa")

    # The second start maps the whole dynamic archive, not only the JDK's
    # base archive the first one mapped. The flag must survive a caller's
    # --driver-java-options, which overwrites spark.driver.extraJavaOptions.
    second = cold()
    assert second["rows"] == rows
    assert second["mapped"] > 2 * first["mapped"] > 0, (first, second)
    assert _cache(tmp_path) == [published]

    path = os.path.join(_cds_dir(tmp_path), published)
    os.chmod(path, 0o644)
    os.truncate(path, 4096)
    third = cold()
    assert third["rows"] == rows
    (republished,) = _cache(tmp_path)
    key, size, _ = republished.split(".")
    assert key == published.split(".")[0]
    assert int(size) == os.path.getsize(os.path.join(_cds_dir(tmp_path), republished))


@pytest.fixture
def home(tmp_path, monkeypatch):
    """A Spark home whose conf dir holds only templates, an empty cache
    and no live gateway."""
    spark_home = tmp_path / "spark"
    (spark_home / "jars").mkdir(parents=True)
    (spark_home / "jars" / "spark-core.jar").write_bytes(b"jar")
    (spark_home / "conf").mkdir()
    (spark_home / "conf" / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("SPARK_HOME", str(spark_home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    # set first so that teardown also undoes the value _cds_flag sets
    monkeypatch.setenv("SPARK_CONF_DIR", "")
    monkeypatch.delenv("SPARK_CONF_DIR")
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setattr(session.SparkContext, "_gateway", None)
    return spark_home


def test_missing_archive_dumps_and_a_published_one_maps(home, tmp_path):
    flag, temp = session._cds_flag()
    empty_conf = str(tmp_path / "cache" / session.CACHE / "conf")
    assert os.environ["SPARK_CONF_DIR"] == empty_conf
    assert os.listdir(empty_conf) == []
    assert flag == f"-Xlog:cds*=off -XX:ArchiveClassesAtExit={temp}"
    key, pid, ext = os.path.basename(temp).split(".")
    assert (int(pid), ext, os.path.dirname(temp)) == (os.getpid(), "tmp", _cds_dir(tmp_path))

    archive = os.path.join(_cds_dir(tmp_path), f"{key}.3.jsa")
    with open(archive, "wb") as fh:
        fh.write(b"cds")
    assert session._cds_flag() == (f"-Xlog:cds*=off -XX:SharedArchiveFile={archive}", None)

    os.truncate(archive, 2)  # not the size it was published with
    assert "-XX:ArchiveClassesAtExit=" in session._cds_flag()[0]


def test_caller_conf_dir_is_kept(home, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "mine"))
    assert session._cds_flag() == (None, None)
    assert os.environ["SPARK_CONF_DIR"] == str(tmp_path / "mine")


def test_user_conf_file_means_no_archive_and_no_redirect(home):
    (home / "conf" / "spark-defaults.conf").write_text("spark.ui.enabled false\n")
    assert session._cds_flag() == (None, None)
    assert "SPARK_CONF_DIR" not in os.environ


def test_live_gateway_adds_nothing(home, monkeypatch):
    monkeypatch.setattr(session.SparkContext, "_gateway", object())
    assert session._cds_flag() == (None, None)
    monkeypatch.setattr(session.SparkContext, "_gateway", None)
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    assert session._cds_flag() == (None, None)
    assert "SPARK_CONF_DIR" not in os.environ


def _writer(temp: str, body: str) -> subprocess.Popen:
    """A stand-in for the gateway JVM: it writes ``temp`` part-way, and the
    rest only after EOF on its stdin, as the JVM dumps at exit."""
    code = textwrap.dedent(
        f"""
        import sys, time
        fh = open({temp!r}, "wb")
        fh.write(b"x" * 10); fh.flush()
        sys.stdin.read()
        {body}
        """
    )
    proc = subprocess.Popen([sys.executable, "-c", code], stdin=subprocess.PIPE)
    while not os.path.exists(temp):
        time.sleep(0.01)
    return proc


def test_temp_is_published_only_after_its_writer_exits(spark, tmp_path):
    cds = tmp_path / "cds"
    cds.mkdir()
    temp = str(cds / f"k.{os.getpid()}.tmp")
    proc = _writer(temp, "time.sleep(0.3); fh.write(b'y' * 90); fh.close()")
    session._publish_at_exit(proc, temp)
    assert proc.returncode == 0
    assert os.listdir(cds) == ["k.100.jsa"]
    assert session._published(str(cds), "k") == str(cds / "k.100.jsa")
    # ending another writer leaves this process's own session running
    assert spark.range(3).count() == 3


def test_killed_writer_publishes_nothing(tmp_path):
    cds = tmp_path / "cds"
    cds.mkdir()
    (cds / "k.7.jsa").write_bytes(b"1234567")
    temp = str(cds / f"k.{os.getpid()}.tmp")
    proc = _writer(temp, "import os, signal; os.kill(os.getpid(), signal.SIGKILL)")
    session._publish_at_exit(proc, temp)
    assert proc.returncode < 0
    assert os.listdir(cds) == ["k.7.jsa"]


def test_publish_removes_other_archives_and_dead_writers_temps(tmp_path):
    cds = tmp_path / "cds"
    cds.mkdir()
    dead = subprocess.Popen([sys.executable, "-c", ""])
    dead.wait()
    for name in ("old.5.jsa", "k.9.jsa", f"k.{dead.pid}.tmp", f"other.{os.getppid()}.tmp"):
        (cds / name).write_bytes(b"z")
    temp = str(cds / f"k.{os.getpid()}.tmp")
    proc = _writer(temp, "fh.close()")
    session._publish_at_exit(proc, temp)
    # a live writer's temp stays; everything else but the new archive goes
    assert sorted(os.listdir(cds)) == ["k.10.jsa", f"other.{os.getppid()}.tmp"]
