"""Pieces shared by the load generator (``run.py``) and the engine process
(``engine.py``): Spark start-up with the benchmark's own confs, the
closed-loop clients, and latency, memory and host statistics."""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import threading
import time
from pathlib import Path

#: scale of the benchmark graph (customers; the graph has ~66 triples
#: per customer, so 1500 customers is ~100k triples)
CUSTOMERS = 1500
#: driver heap, fixed at start-up (-Xms = -Xmx): G1 grows a smaller
#: initial heap as fast as the run allocates, so peak RSS followed the
#: host's speed
DRIVER_MEMORY = "1g"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: Path):
    """A ``local[nproc]`` session whose scratch space stays inside
    ``work``; returns (spark, seconds taken)."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)  # wins over spark.local.dir
    from pyspark.sql import SparkSession

    n = cpus()
    t0 = time.perf_counter()
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.local.dir", str(tmp))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and wait until its JVM has exited (the gateway JVM
    exits when its stdin closes)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run_clients(op_lists, one_op, seconds: float, prefix: str,
                min_ops: int = 0) -> tuple[list[dict], float]:
    """Closed loop: client ``i`` works through ``op_lists[i]``, sending its
    next op when the previous one returns, until ``seconds`` have passed
    and at least ``min_ops`` ops have completed.  ``one_op(op, op_id)``
    returns the op's record.  Returns (records, elapsed seconds)."""
    records: list[dict] = []
    lock = threading.Lock()
    deadline = time.perf_counter() + seconds
    errors: list[Exception] = []

    def client(i: int) -> None:
        try:
            for j, op in enumerate(op_lists[i]):
                if time.perf_counter() >= deadline and len(records) >= min_ops:
                    return
                rec = one_op(op, f"{prefix}{i}-{j}")
                rec["client"] = i
                with lock:
                    records.append(rec)
        except Exception as e:  # noqa: BLE001 — re-raised by the caller
            errors.append(e)

    threads = [threading.Thread(target=client, args=(i,)) for i in range(len(op_lists))]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    elapsed = time.perf_counter() - t0
    if errors:
        raise errors[0]
    return records, elapsed


def timed(op, op_id: str, call) -> dict:
    """Run ``call()``, which returns (canonical answer, rows, bytes), and
    time it.  An exception is recorded, not raised: the op counts as
    failed when the load generator checks the record."""
    t0 = time.perf_counter()
    try:
        answer, rows, nbytes = call()
        error = None
    except Exception as e:  # noqa: BLE001 — a failed op, counted
        answer, rows, nbytes, error = None, 0, 0, repr(e)[:300]
    return {"id": op_id, "op": op, "kind": "write" if op[0] in ("insert", "delete") else "read",
            "name": op[1], "latency": time.perf_counter() - t0, "answer": answer,
            "rows": rows, "bytes": nbytes, "error": error}


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def remove(path: Path) -> None:
    shutil.rmtree(path, ignore_errors=True)


def tail_rank(n: int) -> int | None:
    """Index (0-based, ascending order) of the highest percentile with at
    least ten samples beyond it; None when there are not enough samples
    for a tail distinct from the median."""
    k = n - 11
    return k if k > n // 2 else None


def latency_stats(values: list[float]) -> dict:
    """Median and tail of a latency sample, with the sample count and the
    percentile the tail stands for."""
    v = sorted(values)
    out = {"n": len(v), "p50": statistics.median(v) if v else None,
           "tail": None, "tail_pct": None}
    k = tail_rank(len(v))
    if k is not None:
        out["tail"] = v[k]
        out["tail_pct"] = round(100.0 * (k + 1) / len(v), 1)
    return out


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set of a process (``VmHWM``), in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb(spark) -> float:
    """High-water RSS of this (engine) process plus its JVM."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return vm_hwm_mb() + vm_hwm_mb(jvm_pid)


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_diagnostics(before: list[int], after: list[int]) -> dict:
    """Load average and the share of CPU time stolen by the hypervisor
    over an interval (diagnostics, not metrics)."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta) or 1
    steal = delta[7] if len(delta) > 7 else 0
    return {"loadavg": list(os.getloadavg()), "steal_share": round(steal / total, 4)}
