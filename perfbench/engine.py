"""Run-state isolation, the Spark session, the outbox drain and process
memory: everything the workloads share.

All state of a run lives under ``<checkout>/.perfbench_tmp/run-<pid>``:
warehouse, Spark local and temp dirs, outbox, sinks and checkpoints. The
directory is created fresh and removed when the run ends, so no run sees
another's artifacts and nothing is written into the repository itself.
"""

from __future__ import annotations

import os
import shutil
import time

from .gen import ROWS_PER_TRIGGER

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def cpus() -> int:
    return len(os.sched_getaffinity(0))


class RunState:
    """A fresh directory tree for one run, removed by :meth:`close`."""

    def __init__(self, tag: str) -> None:
        self.root = os.path.join(REPO, ".perfbench_tmp", f"run-{os.getpid()}-{tag}")
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.root)
        tmp = self.path("tmp")
        os.makedirs(tmp)
        # Spark's scratch space, the JVM's and Python workers' temp files
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        # -XX:-UsePerfData: no hsperfdata file in the system /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ["TZ"] = "UTC"
        time.tzset()

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        parent = os.path.dirname(self.root)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def start_session(state: RunState):
    """The engine's session on ``local[<cpus>]`` with a per-run
    warehouse."""
    from realtimedatapipeline_8_project_spark.session import get_session

    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    conf = {
        "spark.sql.warehouse.dir": state.path("warehouse"),
        "spark.driver.memory": "3g",
        "spark.ui.showConsoleProgress": "false",
    }
    spark = get_session(app_name="perfbench", master=f"local[{cpus()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class EventLogger:
    """Spark's own event-log listener, attached to the running context for
    the traced part of a run only, so that the untraced part does not pay
    for it. It writes the uncompressed log that ``spark.eventLog.enabled``
    would write, into ``log_dir``."""

    def __init__(self, spark, log_dir: str) -> None:
        sc = spark.sparkContext
        ctx, jvm = sc._jsc.sc(), sc._jvm
        os.makedirs(log_dir)
        conf = (ctx.conf().clone().set("spark.eventLog.compress", "false")
                .set("spark.eventLog.rolling.enabled", "false"))
        self.bus = ctx.listenerBus()
        self.listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            ctx.applicationId(), ctx.applicationAttemptId(), jvm.java.io.File(log_dir).toURI(), conf)
        self.listener.start()
        self.bus.addToEventLogQueue(self.listener)

    def close(self) -> None:
        """Detach once every event posted so far is written."""
        self.bus.waitUntilEmpty()
        self.bus.removeListener(self.listener)
        self.listener.stop()


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait until the JVM and
    every Python worker under this process have exited."""
    import signal

    for q in spark.streams.active:
        q.stop()
    gateway = spark.sparkContext._gateway
    children = process_tree()[1:]
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=60)
    end = time.monotonic() + 30
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < end:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


def _children(pid: int) -> list[int]:
    """Children of every thread of ``pid`` (the JVM forks from many)."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(p) for p in fh.read().split()]
        except OSError:
            continue
    return out


def process_tree(pid: int | None = None) -> list[int]:
    todo, seen = [pid or os.getpid()], []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def _status_kb(field: str) -> dict[int, int]:
    out = {}
    for p in process_tree():
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith(field):
                        out[p] = int(line.split()[1])
                        break
        except OSError:
            continue
    return out


def peak_rss_mb() -> float:
    """Sum of peak resident set sizes (VmHWM) of this process, the JVM
    and the Python workers, read from /proc."""
    return sum(_status_kb("VmHWM:").values()) / 1024.0


def settled_rss_mb(spark) -> float:
    """Resident memory of the same processes after a full JVM garbage
    collection (G1 returns freed heap), read from /proc."""
    spark.sparkContext._jvm.java.lang.System.gc()
    time.sleep(0.5)
    return sum(_status_kb("VmRSS:").values()) / 1024.0


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring Spark's marker and
    checksum files."""
    size = files = 0
    for base, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(base, n))
            files += 1
    return size, files


def sink_state(out_dir: str) -> dict[str, float]:
    """Size of the sink state: history bytes, compacted latest-snapshot
    bytes and rollup partitions."""
    rollup = os.path.join(out_dir, "rollup")
    parts = [d for d in os.listdir(rollup) if d.startswith("batch_id=")] if os.path.isdir(rollup) else []
    return {
        "streaming.sinks.history_bytes": float(dir_size(os.path.join(out_dir, "history"))[0]),
        "streaming.sinks.latest_snapshot_bytes": float(dir_size(os.path.join(out_dir, "latest"))[0]),
        "streaming.sinks.rollup_partitions": float(len(parts)),
    }


class Drain:
    """The outbox -> pipeline -> sinks path, driven as a producer would:
    outbox files are generated into a staging directory and moved into the
    polled outbox one at a time, keeping a backlog so the stream never
    waits for input (a closed-loop drain at ``maxRowsPerTrigger``)."""

    def __init__(self, spark, state: RunState, dim, recorder) -> None:
        from pyspark.sql import functions as F

        from realtimedatapipeline_8_project_spark.sources.outbox_stream import (
            make_outbox_source,
        )
        from realtimedatapipeline_8_project_spark.streaming.pipeline import start_pipeline

        spark.dataSource.register(make_outbox_source())
        self.spark = spark
        self.staging = state.path("staging")
        self.outbox = state.path("outbox")
        self.out = state.path("out")
        self.recorder = recorder
        os.makedirs(self.staging)
        os.makedirs(self.outbox)
        raw = (
            spark.readStream.format("outbox")
            .option("path", self.outbox)
            .option("maxRowsPerTrigger", str(ROWS_PER_TRIGGER))
            .load()
        )
        self.query = start_pipeline(
            spark,
            raw.select(F.col("payload").alias("value")),
            dim,
            self.out,
            state.path("checkpoint"),
            trigger={"processingTime": "0 seconds"},
            recorder=recorder,
        )
        self.fed: list[str] = []
        self._done: set[int] = set()  # ids of committed batches that read rows

    def feed(self, name: str) -> None:
        os.rename(os.path.join(self.staging, name), os.path.join(self.outbox, name))
        self.fed.append(name)

    def committed(self) -> int:
        """Batches that read rows and whose progress (posted after the
        offset commit) is in. Batches that read nothing also report
        progress and take batch ids, so ids do not count batches."""
        for p in self.query.recentProgress:
            if p["numInputRows"] > 0:
                self._done.add(int(p["batchId"]))
        return len(self._done)

    def last_batch(self) -> int:
        """Id of the last committed batch that read rows."""
        self.committed()
        return max(self._done)

    def wait_committed(self, batches: int, timeout: float = 120.0) -> None:
        end = time.monotonic() + timeout
        while self.committed() < batches:
            if self.query.exception() is not None:
                raise RuntimeError(f"stream failed: {self.query.exception()}")
            if time.monotonic() > end:
                raise TimeoutError(f"stream committed {self.committed()} of {batches} batches")
            time.sleep(0.02)

    def stop(self) -> None:
        self.query.stop()
