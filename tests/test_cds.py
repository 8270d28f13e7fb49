"""The driver JVM starts from a class-data sharing archive.

Each session here runs in its own Python process, so it launches its own
JVM, with ``XDG_CACHE_HOME`` in a temp dir so it gets its own archive
cache. The module fixture walks one archive through its life: the first
session dumps it at JVM exit, the second publishes and maps it, a third
finds it truncated and still starts.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent

SESSION = r"""
import json, os
from pyspark import SparkContext
from riptable_spark.session import get_spark

conf_dir = os.environ.get("SPARK_CONF_DIR")
spark = get_spark("cds_test")
pid = SparkContext._gateway.proc.pid
with open(f"/proc/{pid}/maps") as fh:
    mapped = sorted({line.split()[-1] for line in fh if line.rstrip().endswith(".jsa")})
with open(f"/proc/{pid}/cmdline", "rb") as fh:
    cmdline = fh.read().decode().split("\0")
print("RESULT " + json.dumps({
    "pid": pid,
    "mapped": mapped,
    "cmdline": cmdline,
    "conf_dir_before": conf_dir,
    "conf_dir_after": os.environ.get("SPARK_CONF_DIR"),
    "rows": spark.range(100).count(),
}))
"""

CDS_FLAGS = ("-XX:SharedArchiveFile=", "-XX:ArchiveClassesAtExit=")


def _wait_exit(pid: int, timeout: float = 180) -> None:
    """Until the JVM ``pid`` has exited (gone, or a zombie)."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                if fh.read().rsplit(")", 1)[1].split()[0] == "Z":
                    return
        except FileNotFoundError:
            return
        time.sleep(0.2)
    raise AssertionError(f"JVM {pid} still running after {timeout} s")


def _session(cache: Path, conf_dir: Path, cwd: Path) -> tuple[dict, str]:
    """Run a session in a new Python process and wait for its JVM to exit;
    returns what it saw and everything it printed."""
    env = {
        k: v for k, v in os.environ.items()
        if k not in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "JAVA_TOOL_OPTIONS",
                     "PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET")
    }
    env.update(
        XDG_CACHE_HOME=str(cache),
        SPARK_CONF_DIR=str(conf_dir),
        SPARK_GRAFT_DRIVER_MEM="1g",
        PYTHONPATH=os.pathsep.join(p for p in (str(ROOT), env.get("PYTHONPATH")) if p),
    )
    proc = subprocess.run(
        [sys.executable, "-c", SESSION], cwd=cwd, env=env,
        capture_output=True, text=True, timeout=300,
    )
    out = proc.stdout + proc.stderr
    assert proc.returncode == 0, out[-3000:]
    [line] = [x for x in proc.stdout.splitlines() if x.startswith("RESULT ")]
    result = json.loads(line[len("RESULT "):])
    _wait_exit(result["pid"])
    return result, out


def _cds_flags(result: dict) -> list[str]:
    return [a for a in result["cmdline"] if a.startswith(CDS_FLAGS)]


def _templates_only(path: Path) -> Path:
    path.mkdir()
    (path / "spark-defaults.conf.template").write_text("# spark.master local[1]\n")
    return path


@pytest.fixture(scope="module")
def life(tmp_path_factory):
    """Three sessions on one cache, and the cache's files after each."""
    tmp = tmp_path_factory.mktemp("cds")
    cache, conf_dir = tmp / "cache", _templates_only(tmp / "conf")
    store = cache / "riptable_spark"

    def files():
        return sorted(p.name for p in store.iterdir() if p.is_file())

    steps = {}
    steps["dump"] = (*_session(cache, conf_dir, tmp), files())
    steps["map"] = (*_session(cache, conf_dir, tmp), files())
    [archive] = store.glob("*.jsa")
    archive.chmod(0o644)
    os.truncate(archive, archive.stat().st_size // 2)
    steps["truncated"] = (*_session(cache, conf_dir, tmp), files())
    return store, archive, steps


def test_first_session_dumps_an_archive_at_exit(life):
    store, archive, steps = life
    result, _, files = steps["dump"]
    [flag] = _cds_flags(result)
    part = flag.split("=", 1)[1]
    assert flag.startswith("-XX:ArchiveClassesAtExit=") and part.endswith(".jsa.part")
    assert Path(part).parent == store
    assert result["rows"] == 100
    # the JVM has exited: its dump is complete but not published yet
    assert Path(part).name in files and archive.name not in files
    # the conf dir pointed at an empty one only while the JVM launched
    assert result["conf_dir_after"] == result["conf_dir_before"]
    assert any(a.startswith(str(store / "conf") + "/:") for a in result["cmdline"])


def test_second_session_publishes_and_maps_the_archive(life):
    store, archive, steps = life
    result, _, files = steps["map"]
    assert _cds_flags(result) == [f"-XX:SharedArchiveFile={archive}"]
    assert str(archive) in result["mapped"]
    assert files == [archive.name]  # the dump and its pid file are gone
    assert result["rows"] == 100


def test_truncated_archive_is_removed_and_the_session_starts(life):
    _, archive, steps = life
    result, _, files = steps["truncated"]
    assert result["rows"] == 100
    assert _cds_flags(result) == []  # the retry launched without CDS
    assert str(archive) not in result["mapped"]
    assert files == []


def test_sessions_print_no_cds_log_lines(life):
    _, _, steps = life
    for _, out, _ in steps.values():
        assert "[cds" not in out


def test_real_conf_dir_gets_no_archive(tmp_path):
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf").write_text("# a real conf file\n")
    result, out = _session(tmp_path / "cache", conf_dir, tmp_path)
    assert _cds_flags(result) == []
    assert result["conf_dir_before"] == result["conf_dir_after"] == str(conf_dir)
    assert any(a.startswith(f"{conf_dir}/:") for a in result["cmdline"])
    assert not (tmp_path / "cache").exists()
    assert "[cds" not in out
