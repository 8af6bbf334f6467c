"""Process-level plumbing: a private work area inside the checkout, the one
SparkSession, peak memory, and the run record.

Everything the run writes goes under ``<checkout>/.bench_work/<run>/``
(inputs, lake directories, Spark scratch, JVM temp) and is deleted at the
end; records and spans go to ``<checkout>/.bench_out/``.
"""

from __future__ import annotations

import hashlib
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

CHECKOUT = Path(__file__).resolve().parent.parent
OUT_DIR = CHECKOUT / ".bench_out"


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: Path) -> None:
    """Point every temp/scratch location of Python, Spark and the JVM into
    ``work``. Must run before pyspark is imported."""
    tmp = work / "tmp"
    local = work / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
            "pyspark-shell",
        ]
    )


class Session:
    """The run's single SparkSession, started through the package's own
    ``session.get_spark`` with ``local[nproc]``."""

    def __init__(self, app: str):
        from datalakejson_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app, cpus=cpu_count())
        self.start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.sc = self.spark.sparkContext

    def jvm_pid(self) -> int | None:
        proc = getattr(self.sc._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def cpu_s(self) -> float:
        """CPU seconds (user + system) used so far by this process and its
        descendants: the JVM and its Python workers. A hypervisor's steal
        time is not in it, so it moves less than wall time with the load
        of a shared host."""
        return tree_cpu_s(os.getpid())

    def peak_rss_mb(self) -> float:
        """VmHWM of this Python process plus the JVM, in MiB."""
        total = _vm_hwm_kb(os.getpid())
        pid = self.jvm_pid()
        if pid is not None:
            total += _vm_hwm_kb(pid)
        return total / 1024.0

    def versions(self) -> dict:
        import duckdb
        import pyspark

        jvm = self.spark._jvm
        return {
            "spark": self.sc.version,
            "pyspark": pyspark.__version__,
            "java": jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "duckdb": duckdb.__version__,
        }

    def stop(self) -> None:
        """Stop Spark, shut the py4j gateway and wait for the JVM to exit."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        self.spark.stop()
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 — already closed
                pass
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def tree_cpu_s(root: int) -> float:
    """utime + stime + cutime + cstime of ``root`` and every live process
    below it, in seconds. Reaped children are in their parent's c-times."""
    procs: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process has just exited
        procs[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    ticks = 0
    for pid, (ppid, t) in procs.items():
        while pid != root and pid in procs:
            pid = procs[pid][0]
        if pid == root:
            ticks += t
    return ticks / os.sysconf("SC_CLK_TCK")


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_digest(root: Path) -> str:
    """SHA-256 over every file under ``root`` (relative path + bytes)."""
    h = hashlib.sha256()
    for p in sorted(q for q in root.rglob("*") if q.is_file()):
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def code_identity() -> dict:
    """The git commit when the checkout is a repository, and always a digest
    of the package source (the benchmark checkout may not be one)."""
    commit = None
    try:
        if not (CHECKOUT / ".git").exists():
            raise FileNotFoundError(".git")  # never search above the checkout
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=CHECKOUT,
            capture_output=True,
            text=True,
            timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    pkg = CHECKOUT / "datalakejson_spark"
    for p in sorted(pkg.rglob("*.py")):
        h.update(str(p.relative_to(pkg)).encode())
        h.update(p.read_bytes())
    return {"git_commit": commit, "package_digest": h.hexdigest()}


def remove(work: Path) -> None:
    """Delete a run's work directory, and its parent once no run uses it."""
    for _ in range(3):
        shutil.rmtree(work, ignore_errors=True)
        if not work.exists():
            break
        time.sleep(1)  # a JVM that was just stopped may still be closing files
    try:
        work.parent.rmdir()
    except OSError:
        pass  # another run's directory is still there
