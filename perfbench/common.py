"""Host-fit Spark session, process hygiene, memory high-water marks and
host probes shared by the workloads.

Everything the benchmark writes goes under ``.bench_work/`` in the
checkout (Spark local dirs, JVM and Python temp files, the warehouse),
which is removed when the run ends.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

NPROC = len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem() -> str:
    """A quarter of the host's memory, at most 4 GiB, in place of
    session.py's 32g default."""
    return f"{min(4096, mem_total_mb() // 4)}m"


class Env:
    """Paths and session settings of one benchmark run."""

    def __init__(self, root: str):
        self.root = root
        self.work = os.path.join(root, ".bench_work")
        self.traces = os.path.join(root, ".bench_traces")
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("tmp", "spark-local"):
            os.makedirs(os.path.join(self.work, d))
        tmp = os.path.join(self.work, "tmp")
        local = os.path.join(self.work, "spark-local")
        os.environ.update(
            TMPDIR=tmp,
            SPARK_LOCAL_DIRS=local,
            SPARK_DRIVER_MEM=driver_mem(),
            SPARK_GRAFT_CPUS=str(NPROC),
            PYSPARK_PYTHON=sys.executable,
        )
        self.conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            ),
        }

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)


def start_session(env: Env):
    from repurpose_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench", master=f"local[{NPROC}]", extra_conf=env.conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


class Peak:
    """RSS high-water mark (MB) of the Spark JVM plus this driver over the
    ``with`` block: entering resets both marks (clear_refs value 5)."""

    def __enter__(self):
        from pyspark import SparkContext

        self.pids = [SparkContext._gateway.proc.pid, os.getpid()]
        for pid in self.pids:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        return self

    def __exit__(self, *exc):
        kb = 0
        for pid in self.pids:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        self.mb = kb / 1024
        return False


def host_probe() -> dict:
    """bench.py's CPU and memory probes, as context for a run's figures."""
    import bench

    return {
        "t": time.time(),
        "hw": bench._hw_probe(workers=NPROC, total_ops=1_000_000),
        "mem": bench._mem_probe(1 << 20),
    }


class Record:
    """Op outcomes of one run.  A failed check fails the op it checks;
    an op fails at most once."""

    def __init__(self):
        self.attempted = 0
        self.failures: dict = {}

    def new_op(self) -> int:
        self.attempted += 1
        return self.attempted

    def fail(self, op, what: str) -> None:
        self.failures.setdefault(op, []).append(what)

    @property
    def failed(self) -> int:
        return len(self.failures)


def job_group_hooks(sc):
    """Tracer hooks giving each span its own Spark job group."""

    def enter(span):
        sc.setLocalProperty("spark.jobGroup.id", span.span_id)
        sc.setLocalProperty("spark.job.description", span.name)

    def leave(span, parent):
        sc.setLocalProperty("spark.jobGroup.id", parent.span_id if parent else None)
        sc.setLocalProperty("spark.job.description", parent.name if parent else None)

    return enter, leave


class Timer:
    def __enter__(self):
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.s = time.perf_counter() - self.t0
        return False
