"""Host evidence recorded with every run: fixed canaries, /proc/stat busy
cores and steal, and the peak resident memory of the process tree."""

from __future__ import annotations

import os
import time

CANARY_ROWS = 200_000


def canary_jvm_s(spark) -> float:
    """Fixed pure-JVM job: md5 over ``CANARY_ROWS`` ids, grouped by prefix."""
    import pyspark.sql.functions as F

    t0 = time.perf_counter()
    (
        spark.range(CANARY_ROWS, numPartitions=4)
        .select(F.md5(F.col("id").cast("string")).alias("h"))
        .groupBy(F.substring("h", 1, 2))
        .count()
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return time.perf_counter() - t0


def _sum_batches(batches):
    import pyarrow as pa
    import pyarrow.compute as pc

    for b in batches:
        yield pa.RecordBatch.from_pydict(
            {"s": [pc.sum(b.column(0)).as_py() or 0]},
            schema=pa.schema([("s", pa.int64())]),
        )


def canary_py_s(spark) -> float:
    """Fixed Arrow→Python job: ``CANARY_ROWS`` ids shipped through
    ``mapInArrow`` to Python workers and summed there."""
    t0 = time.perf_counter()
    (
        spark.range(CANARY_ROWS, numPartitions=4)
        .mapInArrow(_sum_batches, "s long")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return time.perf_counter() - t0


def cpu_times() -> tuple[int, int, int]:
    """(total, idle incl. iowait, steal) jiffies from the aggregate cpu line."""
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    vals = [int(x) for x in parts]
    total = sum(vals[:8])  # guest time is already inside user/nice
    idle = vals[3] + vals[4]
    steal = vals[7] if len(vals) > 7 else 0
    return total, idle, steal


def busy_and_steal(before, after) -> tuple[float, float]:
    """(busy cores, steal %) over the interval between two :func:`cpu_times`."""
    dt = max(after[0] - before[0], 1)
    busy = (dt - (after[1] - before[1]) - (after[2] - before[2])) / dt
    return busy * (os.cpu_count() or 1), 100.0 * (after[2] - before[2]) / dt


def _children(pid: int) -> list[int]:
    out = []
    for task in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{task}/children") as f:
                out.extend(int(x) for x in f.read().split())
        except OSError:
            pass
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def descendants(root: int | None = None) -> list[int]:
    """PIDs of the live descendants of ``root`` (default: this process)."""
    out, stack = [], [os.getpid() if root is None else root]
    while stack:
        try:
            kids = _children(stack.pop())
        except OSError:  # the process exited while we walked
            continue
        out.extend(kids)
        stack.extend(kids)
    return out


def tree_peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of this process and all its live
    descendants: the Python driver, the JVM and the Python workers."""
    return sum(_hwm_kb(pid) for pid in [os.getpid()] + descendants()) / 1024.0
