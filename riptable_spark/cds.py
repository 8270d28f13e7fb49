"""Class-data sharing (CDS) for the driver JVM that ``get_spark`` launches.

A fresh JVM spends most of a Spark session's start-up and first pass
loading, verifying and interpreting classes. JDK 13+ can map a dynamic
CDS archive of the classes an earlier run loaded
(``-XX:SharedArchiveFile``), so those are not parsed or verified again.
The archive holds JVM class metadata only: no data, no heap objects, no
compiled code, so it cannot change a result.

Life cycle of the archive for one cache key:

1. No archive yet: the JVM starts with ``-XX:ArchiveClassesAtExit=<part>``,
   a file unique to that launch, and HotSpot writes it when the JVM
   exits normally. PySpark's gateway JVM calls ``System.exit`` when its
   stdin closes, i.e. when the Python process exits or closes it. The
   pid of that JVM is recorded next to the file.
2. A later launch publishes the file to ``<key>.jsa`` with an atomic
   rename, but only once its writer has exited; a half-written archive
   crashes the JVM that maps it. Leftovers of other writers and the
   archives of other keys are removed.
3. Every launch after that starts with ``-XX:SharedArchiveFile=<key>.jsa``.
   If the gateway still fails to start (a truncated archive dies with
   SIGBUS), the archive is deleted and the launch retried without CDS.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import re
import shlex
import shutil
import sys
import uuid
from typing import Callable, TypeVar

S = TypeVar("S")

ARCHIVE = ".jsa"
PART = ".jsa.part"  # a dump a JVM writes at exit
PID = ".pid"  # next to a part: the pid of the JVM that writes it
# A dump warns once per class it cannot archive (signed JARs, old class
# file versions): ~600 lines on the JVM's stdout. Mapping warns too
# when an archive does not match the JVM.
QUIET = "-Xlog:cds=off,cds+dynamic=off"
# JVM options of the caller that already choose an archive
_CALLER_CDS = re.compile(r"-Xshare|SharedArchiveFile|ArchiveClassesAtExit")


def cache_dir() -> str:
    """``${XDG_CACHE_HOME:-~/.cache}/riptable_spark``."""
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "riptable_spark")


def cache_key(home: str) -> str:
    """Hash of what the archived classes come from: the ``java`` binary
    spark-class runs and its JDK ``release`` file, the Spark version, and
    the name, size and mtime of every jar under ``<home>/jars``. Raises
    OSError when there is no JDK ``release`` file to key on."""
    import pyspark

    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if java is None:
        raise FileNotFoundError("java")
    java = os.path.realpath(java)
    h = hashlib.sha256(f"{java}\0{pyspark.__version__}\0".encode())
    with open(os.path.join(os.path.dirname(os.path.dirname(java)), "release"), "rb") as fh:
        h.update(fh.read())
    for jar in sorted(os.scandir(os.path.join(home, "jars")), key=lambda e: e.name):
        st = jar.stat()
        h.update(f"{jar.name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def applies(home: str) -> bool:
    """Whether this process may launch its JVM with an archive.

    Not when a gateway JVM already exists (spark-submit, a cluster
    driver, an earlier session) or the caller's JVM options pick an
    archive. Not on a classpath holding a directory with files in it,
    which HotSpot refuses to dump: Spark's conf dir is on the driver
    classpath, so it may hold only ``*.template`` files (which Spark
    never reads), and no Hadoop or YARN conf dir may be set.
    """
    from pyspark import SparkContext

    if not sys.platform.startswith("linux"):  # a writer's liveness is read from /proc
        return False
    if "PYSPARK_GATEWAY_PORT" in os.environ or SparkContext._gateway is not None:
        return False
    if os.environ.get("HADOOP_CONF_DIR") or os.environ.get("YARN_CONF_DIR"):
        return False
    if _CALLER_CDS.search(os.environ.get("JAVA_TOOL_OPTIONS", "")):
        return False
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(home, "conf")
    try:
        names = os.listdir(conf)
    except FileNotFoundError:
        names = []
    except OSError:
        return False
    return all(name.endswith(".template") for name in names)


def _remove(path: str) -> None:
    try:
        os.remove(path)
    except FileNotFoundError:
        pass


def _writing(pid: int, part: str) -> bool:
    """True while the JVM ``pid`` that dumps to ``part`` is running; its
    command line names ``part``, so a reused pid does not count."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return part.encode() in fh.read()
    except OSError:
        return False


def collect(cache: str, key: str) -> str:
    """Publish or remove every dump whose writer has exited; returns the
    path of ``key``'s archive (which may not exist)."""
    archive = os.path.join(cache, key + ARCHIVE)
    names = set(os.listdir(cache))
    for name in names:
        path = os.path.join(cache, name)
        if name.endswith(PID):
            part = path[: -len(PID)] + PART
            try:
                with open(path) as fh:
                    pid = int(fh.read())
            except (OSError, ValueError):
                pid = 0
            if pid and _writing(pid, part):
                continue
            if name.startswith(key + ".") and not os.path.exists(archive):
                try:
                    os.replace(part, archive)
                except FileNotFoundError:
                    pass  # the JVM died without dumping, or another session published it
                else:
                    for other in os.listdir(cache):
                        if other.endswith(ARCHIVE) and other != key + ARCHIVE:
                            _remove(os.path.join(cache, other))
            _remove(part)
            _remove(path)
        elif name.endswith(PART) and name[: -len(PART)] + PID not in names:
            _remove(path)  # its launcher died before it recorded the writer
    return archive


def launch(start: Callable[[str | None], S]) -> S:
    """Call ``start(java_options)``, which must launch the gateway JVM
    with ``java_options`` as ``spark.driver.extraJavaOptions`` (None: no
    options), so that the JVM maps this machine's archive, or dumps one
    at exit when there is none yet.

    While the JVM launches, ``SPARK_CONF_DIR`` points at an empty
    directory in the cache (the caller's held only templates). The
    launch goes ahead without CDS, and the environment untouched, when
    CDS does not apply or the cache is not writable.
    """
    from pyspark import SparkContext
    from pyspark.errors import PySparkRuntimeError
    from pyspark.find_spark_home import _find_spark_home

    home = _find_spark_home()
    if not applies(home):
        return start(None)
    cache = cache_dir()
    conf_dir = os.path.join(cache, "conf")
    try:
        os.makedirs(conf_dir, exist_ok=True)
        if not os.access(cache, os.W_OK):
            raise PermissionError(cache)
        key = cache_key(home)
        archive = collect(cache, key)
    except OSError:
        return start(None)
    if os.path.exists(archive):
        part, flag = None, f"-XX:SharedArchiveFile={archive}"
    else:
        part = os.path.join(cache, f"{key}.{uuid.uuid4().hex}{PART}")
        flag = f"-XX:ArchiveClassesAtExit={part}"
    prior = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        session = start(shlex.join([flag, QUIET]))
    except PySparkRuntimeError as e:
        if e.getCondition() != "JAVA_GATEWAY_EXITED":
            raise
        _remove(part or archive)
        session = None
    finally:
        if prior is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = prior
    if session is None:
        return start(None)
    if part is not None:
        with contextlib.suppress(OSError), open(part[: -len(PART)] + PID, "w") as fh:
            fh.write(str(SparkContext._gateway.proc.pid))
    return session
