"""Host sizing, the benchmark's private work directory, and Spark sessions.

Everything the benchmark writes lives under ``<checkout>/.perfbench``:
generated inputs, prepared tables, Spark scratch space, event logs and
temporary files.  Sessions are sized from the host, not from the
engine's defaults (``session.get_spark`` defaults to a 48g driver heap):
``local[<usable cores>]``, a heap that leaves most of physical memory to
the rest of the machine, and ``SPARK_LOCAL_DIRS`` inside the work dir.
"""

from __future__ import annotations

import os
import platform
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # non-Linux
        return os.cpu_count() or 1


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb() -> int:
    """A quarter of physical memory, clamped to [1 GiB, 4 GiB] and rounded
    down to 512 MiB: local mode runs every task in this one heap, and the
    largest prepared table (the 16M-row prefix index) sorts in well under
    that, spilling to the local dirs if it has to."""
    mb = min(4096, max(1024, mem_total_mb() // 4))
    return mb // 512 * 512


def host_info() -> dict:
    return {
        "cores": cores(),
        "mem_total_mb": mem_total_mb(),
        "driver_heap_mb": driver_heap_mb(),
        "machine": platform.machine(),
        "python": platform.python_version(),
    }


def prepare_process_env() -> None:
    """Point every scratch location of this process and its children
    into the work dir (call before pyspark is imported)."""
    tmp = WORK / "tmp"
    local = WORK / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    # every JVM the run starts, the launcher's too: no hsperfdata files,
    # which the JVM writes under /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ.pop("SPARK_MASTER", None)
    import tempfile

    tempfile.tempdir = str(tmp)


def session_conf(event_log_dir: Path | None = None) -> dict[str, str]:
    tmp = WORK / "tmp"
    conf = {
        "spark.driver.memory": f"{driver_heap_mb()}m",
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
        ),
        "spark.log.level": "ERROR",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir is not None:
        event_log_dir.mkdir(parents=True, exist_ok=True)
        # Spark 4.1 defaults to rolling zstd logs; zstandard is not a
        # dependency, so write one plain JSON-lines file per application
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log_dir.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def start_session(event_log_dir: Path | None = None):
    from hilbert_curve_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cores()}]",
        extra_conf=session_conf(event_log_dir),
    )


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None) if SparkContext._gateway else None
    return proc.pid if proc is not None else None


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of the Spark JVM plus this process."""
    kb = _vm_hwm_kb(os.getpid())
    pid = jvm_pid()
    if pid is not None:
        kb += _vm_hwm_kb(pid)
    return kb / 1024.0


def shutdown_jvm() -> None:
    """Stop the gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=20)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
