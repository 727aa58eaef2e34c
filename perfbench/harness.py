"""Process-level plumbing shared by the workloads: environment, the Spark
session's lifetime, the set-up clock, per-op Spark work counts and
memory readings."""

from __future__ import annotations

import ast
import contextlib
import os
import shutil
import subprocess
import time
from pathlib import Path


def data_dir(root: Path) -> str:
    """The tables ``tools/check_correctness.py`` checks against, read from
    its source: importing it would load DuckDB into this process."""
    tree = ast.parse((root / "tools" / "check_correctness.py").read_text())
    for node in tree.body:
        if isinstance(node, ast.Assign) and getattr(node.targets[0], "id", None) == "SF_DIR":
            return ast.literal_eval(node.value)
    raise LookupError("tools/check_correctness.py defines no SF_DIR")


def prepare_env(root: Path, run_dir: Path) -> None:
    """Environment the package and its Python workers must see.

    Must run before the JVM starts: the JVM and the pandas-UDF workers it
    spawns inherit this environment."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # pandas-UDF and mapInPandas workers import the package by name
    paths = [str(root)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    # never wait on, or write, a quiet-window sentinel outside this run
    os.environ["DQO_QUIET_IGNORE"] = "1"
    os.environ["DQO_QUIET_SENTINEL"] = str(run_dir / "quiet_window")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    import tempfile

    tempfile.tempdir = str(tmp)


def spark_conf(run_dir: Path) -> dict[str, str]:
    tmp = run_dir / "tmp"
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(tmp),
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # the JVM must not outlive the run
            proc.kill()
            proc.wait(timeout=30)


def cleanup(run_dir: Path) -> None:
    shutil.rmtree(run_dir, ignore_errors=True)


def _vm_hwm_kib(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident memory so far of this process plus its Spark JVM, in
    MiB. Workloads read it before their output checks run."""
    from pyspark import SparkContext

    kib = _vm_hwm_kib("self")
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        kib += _vm_hwm_kib(proc.pid)
    return kib / 1024.0


def reset_peak_rss() -> None:
    """Lower this process's VmHWM to its current resident size (Linux
    ``clear_refs``), so memory freed before now no longer counts."""
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


class SetupClock:
    """Time from process start to the first timed op, minus the time the
    benchmark spends on its own work (making inputs, checking outputs)."""

    def __init__(self, t0: float) -> None:
        self.t0 = t0
        self.own = 0.0
        self.setup_s: float | None = None

    @contextlib.contextmanager
    def own_work(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.own += time.perf_counter() - t0

    def ready(self) -> None:
        """Mark the moment the first timed op can be issued."""
        self.setup_s = time.perf_counter() - self.t0 - self.own


class SparkWork:
    """Jobs, stages and tasks one op ran, read from the status tracker.

    Every op runs under its own job group; code inside the op that sets
    its own group (the lab runner does) is followed by wrapping
    ``SparkContext.setJobGroup`` so those groups are counted too."""

    def __init__(self, spark) -> None:
        from collections import Counter

        from pyspark import SparkContext

        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.groups: list[str] = []
        self.totals: Counter = Counter()  # "<label>.jobs" / ".stages" / ".tasks"
        self.label = ""
        orig = SparkContext.setJobGroup
        work = self

        def set_job_group(sc, group_id, description, interruptOnCancel=False):
            if group_id:
                work.groups.append(group_id)
            return orig(sc, group_id, description, interruptOnCancel)

        self._orig = orig
        SparkContext.setJobGroup = set_job_group

    def close(self) -> None:
        from pyspark import SparkContext

        SparkContext.setJobGroup = self._orig

    def begin(self, label: str, n: int) -> None:
        """Start counting Spark work under ``label`` (``op``, ``snapshot``)."""
        self.groups = []
        self.label = label
        self.sc.setJobGroup(f"perfbench-{label}-{n}", "perfbench")

    def end(self) -> None:
        self.sc.setJobGroup("", "")
        for group in dict.fromkeys(self.groups):
            for jid in self.tracker.getJobIdsForGroup(group):
                job = self.tracker.getJobInfo(jid)
                if job is None:
                    continue
                self.totals[f"{self.label}.jobs"] += 1
                for sid in job.stageIds:
                    stage = self.tracker.getStageInfo(sid)
                    if stage is not None:
                        self.totals[f"{self.label}.stages"] += 1
                        self.totals[f"{self.label}.tasks"] += stage.numTasks


def quantile(values: list[float], q: float) -> float:
    """The q-quantile by the Harrell-Davis estimator: the mean of the
    sorted values weighted by a Beta((n+1)q, (n+1)(1-q)) density. It
    varies less from run to run than a plain quantile, which reads one or
    two of the values."""
    import numpy as np

    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    if n == 1:
        return float(x[0])
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    t = np.linspace(0.0, 1.0, 20001)[1:-1]
    log_pdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    pdf = np.exp(log_pdf - log_pdf.max())
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)])
    edges = np.interp(np.arange(n + 1) / n, t[1:], cdf[1:] / cdf[-1], left=0.0)
    return float(np.dot(np.diff(edges), x))


def p50(values: list[float]) -> float:
    return quantile(values, 0.5)


def p90(values: list[float]) -> float:
    return quantile(values, 0.9)
