"""Session, checks, tracing spans and the result line shared by every
workload.

One benchmark process runs one workload on one ``local[nproc]`` Spark
session. Everything it writes (Spark local dirs, the event log, crawl
workdirs, generated tables, temp files) lives under
``<checkout>/.perfbench_work/<workload>-<pid>`` and is removed at exit.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

from stats import vm_hwm_mb

WORK_DIRNAME = ".perfbench_work"


def cores() -> int:
    return len(os.sched_getaffinity(0))


class Checks:
    """Output checks. Every check is one attempted operation; a false
    condition is one failed operation, reported on stderr."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED {name}: {detail}", file=sys.stderr)
        return ok


class Tracer:
    """Timing spans around calls into the program's public functions.

    ``wrap`` replaces ``owner.attr`` (a module function, or a method on
    a class) with a wrapper that records ``(name, start, end)`` per call;
    ``restore`` puts every original back. Calls from worker threads are
    recorded too, so spans of overlapped calls may overlap.
    """

    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float]] = []
        self._saved: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, name: str) -> None:
        original = getattr(owner, attr)
        spans = self.spans

        def timed(*args, **kwargs):
            t0 = time.time()
            try:
                return original(*args, **kwargs)
            finally:
                spans.append((name, t0, time.time()))

        self._saved.append((owner, attr, original))
        setattr(owner, attr, timed)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._saved):
            setattr(owner, attr, original)
        self._saved.clear()

    def total(self, name: str) -> float:
        return sum(e - s for n, s, e in self.spans if n == name)

    def count(self, name: str) -> int:
        return sum(1 for n, _, _ in self.spans if n == name)


class Bench:
    """Owns the work directory and the Spark session of one run."""

    def __init__(self, root: str, workload: str, trace: bool) -> None:
        self.root = root
        self.trace = trace
        self.work = os.path.join(root, WORK_DIRNAME, f"{workload}-{os.getpid()}")
        self.tmp = os.path.join(self.work, "tmp")
        self.event_dir = os.path.join(self.work, "eventlog")
        os.makedirs(self.tmp, exist_ok=True)
        os.makedirs(self.event_dir, exist_ok=True)
        self.spark = None
        self.cores = cores()

    def path(self, *parts: str) -> str:
        """A path under the work directory; its parent exists."""
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def start_spark(self):
        # Python workers import the package from the checkout; temp files
        # of the driver, the JVM and Spark's shuffle all stay in the
        # work directory.
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["TMPDIR"] = self.tmp
        # every JVM (the spark-submit launcher too): temp files in the
        # work dir, and no hsperfdata file under /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}"
        import tempfile

        tempfile.tempdir = self.tmp
        from fundcrawler_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark(app_name="perfbench", cores=self.cores, extra_conf=conf)
        return self.spark

    def peak_rss_mb(self) -> float:
        """VmHWM of the driver JVM plus this Python driver process."""
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        jvm = vm_hwm_mb(proc.pid) if proc is not None else 0.0
        return jvm + vm_hwm_mb("self")

    def stop(self) -> None:
        """Stop Spark and wait for the JVM to exit (the event log is
        complete only then)."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        parent = os.path.dirname(self.work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def emit(checks: Checks, metrics: dict[str, tuple[float, str]]) -> None:
    """Print the result line: the last line of standard output."""
    out = {
        "correct": checks.failed == 0,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    sys.stdout.flush()
    print(json.dumps(out), flush=True)
