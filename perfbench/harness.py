"""Run context shared by the workloads: box sizing, the work directory
inside the checkout, the Spark session cycle that set-up time measures,
and the result record."""

from __future__ import annotations

import glob
import hashlib
import os
import platform
import shutil
import tempfile
import time
from dataclasses import dataclass, field

from perfbench import datagen
from perfbench.stats import median
from perfbench.trace import Tracer

SETUP_CYCLES = 3


def box() -> dict:
    """Core count, RAM and the sizes the run derives from them."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        ram_kb = int(f.readline().split()[1])
    ram_gb = ram_kb / 1024**2
    # driver heap: a quarter of RAM, between 2 and 8 GiB
    mem_gb = int(max(2, min(8, ram_gb // 4)))
    return {
        "cores": cpus,
        "ram_gb": round(ram_gb, 1),
        "driver_mem": f"{mem_gb}g",
        "shuffle_partitions": cpus,
        "state_partitions": cpus,
    }


def source_version(root: str) -> dict:
    """The git commit when the tree is a git checkout, and always a digest
    of the engine's sources, so a record names the code it measured."""
    commit = "unknown"
    head = os.path.join(root, ".git", "HEAD")
    if os.path.exists(head):
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            ref_path = os.path.join(root, ".git", ref[5:])
            if os.path.exists(ref_path):
                with open(ref_path) as f:
                    commit = f.read().strip()
        else:
            commit = ref
    h = hashlib.sha256()
    pattern = os.path.join(root, "stream_processing_project_spark", "**", "*.py")
    for path in sorted(glob.glob(pattern, recursive=True)):
        with open(path, "rb") as f:
            h.update(f.read())
    return {"git_commit": commit, "source_digest": h.hexdigest()[:16]}


@dataclass
class Run:
    root: str
    workload: str
    seed: int
    seconds: float
    trace: bool
    scale: float
    t_process: float
    expected_path: str | None = None
    box: dict = field(default_factory=box)
    spark: object = None
    tracer: Tracer = None
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    setup_times: list = field(default_factory=list)
    layer: dict = field(default_factory=dict)

    def __post_init__(self):
        self.run_id = f"{self.workload}-s{self.seed}-t{int(self.trace)}-{os.getpid()}"
        self.tracer = Tracer(self.run_id, self.trace)
        self.base = os.path.join(self.root, ".perfbench")
        self.tmp = os.path.join(self.base, "tmp", self.run_id)
        os.makedirs(self.tmp, exist_ok=True)
        # every temporary file the engine or Spark makes stays in the run's
        # own directory inside the checkout
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.tmp
        os.environ["SPARK_GRAFT_CPUS"] = str(self.box["cores"])
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = self.box["driver_mem"]

    def data_dir(self, scale: float | None = None) -> str:
        scale = self.scale if scale is None else scale
        path = os.path.join(self.base, "data", f"sf{scale:g}-{datagen.version()}")
        return datagen.ensure_tables(path, scale)

    # -- session ---------------------------------------------------------
    def start_session(self):
        from stream_processing_project_spark.session import get_spark

        with self.tracer.span("session.start"):
            self.spark = get_spark(
                f"perfbench-{self.workload}",
                shuffle_partitions=self.box["shuffle_partitions"],
                extra_conf={
                    "spark.local.dir": self.tmp,
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp}",
                    "spark.sql.streaming.numRecentProgressUpdates": "100000",
                },
            )
        return self.spark

    def setup(self, stage, warm) -> None:
        """SETUP_CYCLES set-up cycles: a fresh Spark session, the
        workload's staging, then its warm-up. The first cycle counts from
        process start (interpreter, JVM launch); later ones stop the
        session and build a new one in the same JVM. setup_s is their
        median."""
        for i in range(SETUP_CYCLES):
            t0 = self.t_process if i == 0 else time.perf_counter()
            if self.spark is not None:
                self.spark.stop()
            self.start_session()
            with self.tracer.span("session.stage"):
                stage(self.spark)
            with self.tracer.span("session.warmup"):
                warm(self.spark)
            self.setup_times.append(time.perf_counter() - t0)
        # drift witness, read once set-up is over and again at the end
        self.layer["host.canary_start_s"] = self.canary()

    def canary(self) -> float:
        from bench import hardware_canary

        return hardware_canary(self.spark)["canary_s"]

    def fail(self, what: str, detail: str = "") -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(f"{what}: {detail}"[:300])

    # -- result ------------------------------------------------------------
    def setup_metrics(self) -> dict:
        return {
            "setup_s": median(self.setup_times),
            "session.start_s": median(self.tracer.durations("session.start")),
            "session.warmup_s": median(self.tracer.durations("session.warmup")),
        }

    def versions(self) -> dict:
        import pyspark

        java = self.spark._jvm.java.lang.System.getProperty("java.version")
        return {
            "python": platform.python_version(),
            "spark": pyspark.__version__,
            "java": java,
            **source_version(self.root),
        }

    def shutdown(self) -> None:
        """Stop Spark and the JVM it launched, and wait for the JVM to
        exit; then remove the run's temporary directory."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        shutil.rmtree(self.tmp, ignore_errors=True)
