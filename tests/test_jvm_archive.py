"""The driver JVM's class-data-sharing archive (session.py::_class_archive).

The decision tests drive ``_class_archive`` directly with a stand-in build
child, so they start no JVM; one test builds and maps a real archive in
two fresh processes."""

from __future__ import annotations

import fcntl
import json
import os
import subprocess
import sys
import time

import pytest

from numaflow_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def cache(tmp_path, monkeypatch):
    """An empty cache dir and a templates-only conf dir, like Spark's
    distribution default."""
    conf = tmp_path / "spark-conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("# template\n")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    return tmp_path / "cache" / "numaflow_spark" / "jvm"


def fake_builder(monkeypatch, tmp_path, body: str) -> str:
    """Replace the warm-up child with ``python -c body`` (``tmp`` is the
    archive's temporary path); returns a file that counts the runs."""
    runs = str(tmp_path / "runs")
    script = (f"import os, signal, sys\ntmp = sys.argv[1]\n"
              f"open({runs!r}, 'a').write('x')\n{body}")
    monkeypatch.setattr(session, "_archive_builder_argv",
                        lambda tmp, conf: [sys.executable, "-c", script, tmp])
    return runs


def n_runs(runs: str) -> int:
    return len(open(runs).read()) if os.path.exists(runs) else 0


CONF = {"spark.driver.memory": "2g"}


def test_build_once_then_reuse(cache, monkeypatch, tmp_path):
    runs = fake_builder(monkeypatch, tmp_path, "open(tmp, 'wb').write(b'archive')")
    path, conf_dir = session._class_archive(CONF)
    assert os.path.dirname(path) == str(cache) and path.endswith(".jsa")
    assert open(path, "rb").read() == b"archive"
    assert conf_dir == str(cache / "conf") and os.listdir(conf_dir) == []
    assert oct(os.stat(cache).st_mode & 0o777) == "0o700"
    assert session._class_archive(CONF) == (path, conf_dir)
    assert n_runs(runs) == 1
    assert [n for n in os.listdir(cache) if n.endswith(".tmp")] == []
    # a heap past the compressed-oops limit is another archive
    other, _ = session._class_archive({"spark.driver.memory": "40g"})
    assert other != path and n_runs(runs) == 2


def test_real_conf_dir_launches_plain(cache, monkeypatch, tmp_path):
    runs = fake_builder(monkeypatch, tmp_path, "open(tmp, 'wb').write(b'archive')")
    conf_dir = os.environ["SPARK_CONF_DIR"]
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.write("spark.driver.cores 2\n")
    assert session._class_archive(CONF) is None
    assert os.environ["SPARK_CONF_DIR"] == conf_dir
    assert n_runs(runs) == 0


def test_unwritable_cache_launches_plain(monkeypatch, tmp_path):
    runs = fake_builder(monkeypatch, tmp_path, "open(tmp, 'wb').write(b'archive')")
    blocker = tmp_path / "file"
    blocker.write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(blocker / "cache"))
    assert session._class_archive(CONF) is None
    assert n_runs(runs) == 0


def test_cache_open_to_others_launches_plain(cache, monkeypatch, tmp_path):
    runs = fake_builder(monkeypatch, tmp_path, "open(tmp, 'wb').write(b'archive')")
    cache.mkdir(mode=0o700, parents=True)
    cache.chmod(0o777)  # anyone could plant an archive here
    assert session._class_archive(CONF) is None
    assert n_runs(runs) == 0


def test_failed_build_is_not_retried(cache, monkeypatch, tmp_path):
    runs = fake_builder(monkeypatch, tmp_path,
                        "open(tmp, 'wb').write(b'half')\nprint('warm-up broke')\nsys.exit(1)")
    assert session._class_archive(CONF) is None
    assert session._class_archive(CONF) is None
    assert n_runs(runs) == 1
    (marker,) = [n for n in os.listdir(cache) if n.endswith(".failed")]
    assert "warm-up broke" in (cache / marker).read_text()
    assert [n for n in os.listdir(cache) if n.endswith((".jsa", ".tmp"))] == []


def test_build_killed_mid_dump_leaves_no_archive(cache, monkeypatch, tmp_path):
    runs = fake_builder(monkeypatch, tmp_path,
                        "f = open(tmp, 'wb'); f.write(b'trunc'); f.flush()\n"
                        "os.kill(os.getpid(), signal.SIGKILL)")
    assert session._class_archive(CONF) is None
    assert n_runs(runs) == 1
    assert [n for n in os.listdir(cache) if n.endswith((".jsa", ".tmp"))] == []


def test_busy_lock_launches_plain_without_waiting(cache, monkeypatch, tmp_path):
    runs = fake_builder(monkeypatch, tmp_path, "open(tmp, 'wb').write(b'archive')")
    cache.mkdir(mode=0o700, parents=True)
    conf_dir = session._launch_conf_dir(str(cache / "conf"))
    key = session._archive_key(CONF, conf_dir)
    fd = os.open(cache / f"{key}.lock", os.O_CREAT | os.O_RDWR, 0o600)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        t0 = time.monotonic()
        assert session._class_archive(CONF) is None
        assert time.monotonic() - t0 < 1.0
        assert n_runs(runs) == 0
    finally:
        os.close(fd)
    assert session._class_archive(CONF) is not None  # lock free again: built


PROBE = """
import glob, json, os, sys
from numaflow_spark.session import get_spark
spark = get_spark("archive-probe", cpus=1, extra_conf={
    "spark.driver.extraJavaOptions": "-Xshare:on",
    "spark.driver.defaultJavaOptions": "-Dprobe.caller=kept"})
jvm = spark.sparkContext._jvm
dump = ("-XX:ArchiveClasses" "AtExit=" + os.environ["XDG_CACHE_HOME"]).encode()
builders = [p for p in glob.glob("/proc/[0-9]*/cmdline") if dump in open(p, "rb").read()]
print(json.dumps({
    "args": list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()),
    "vm_info": jvm.java.lang.System.getProperty("java.vm.info"),
    "builders": builders,
}))
"""


def test_second_launch_maps_the_key_archive(tmp_path):
    """Two fresh processes on an empty cache: the first builds the archive
    (its build child and JVM gone once get_spark returns), the second maps
    it without a rebuild. -Xshare:on makes a JVM that cannot map the
    archive fail to start instead of running unshared."""
    env = {**os.environ, "XDG_CACHE_HOME": str(tmp_path), "PYTHONPATH": REPO}
    env.pop("SPARK_CONF_DIR", None)
    cache = tmp_path / "numaflow_spark" / "jvm"

    def launch():
        out = subprocess.run([sys.executable, "-c", PROBE], env=env, cwd=str(tmp_path),
                             capture_output=True, text=True, timeout=900)
        assert out.returncode == 0, out.stderr[-3000:]
        return json.loads(out.stdout.strip().splitlines()[-1])

    first = launch()
    assert first["builders"] == []
    (archive,) = [n for n in os.listdir(cache) if n.endswith(".jsa")]
    built = os.stat(cache / archive).st_mtime_ns
    second = launch()
    flag = f"-XX:SharedArchiveFile={cache / archive}"
    for run in (first, second):
        assert flag in run["args"]
        # the caller's own default options follow the archive's, not dropped
        assert run["args"].index(flag) < run["args"].index("-Dprobe.caller=kept")
        assert "sharing" in run["vm_info"]
    assert os.stat(cache / archive).st_mtime_ns == built
    assert [n for n in os.listdir(cache) if n.endswith((".failed", ".tmp"))] == []
