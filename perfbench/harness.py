"""Run harness shared by the workloads: box sizing, the Spark session's
life cycle, process counters read from ``/proc``, and the closed loop
with its operation records and end-to-end metrics."""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(REPO, "perfbench")
DATA_DIR = os.path.join(BENCH_DIR, ".data")
OUT_DIR = os.path.join(BENCH_DIR, ".out")

# the tail is the read with this many reads beyond it, or with a
# quarter of the reads beyond it when there are fewer than 40
TAIL_BEYOND = 10


# -- the box ------------------------------------------------------------------


def box() -> dict:
    """Cores and memory of this machine, and the session sizing derived
    from them: one local core per two CPUs, and a driver heap of a
    quarter of MemTotal capped at 6 GiB, so the JVM is never OOM-killed.
    Each busy task is a JVM thread and a Python worker, and the driver,
    GC and JIT threads run beside them, so a core per CPU would
    oversubscribe the box."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal"))
    mem_gb = mem_kb / 2**20
    return {
        "cpus": cpus,
        "local_cores": max(1, cpus // 2),
        "mem_total_gb": round(mem_gb, 1),
        "driver_mem": f"{max(1, min(6, int(mem_gb // 4)))}g",
    }


def fit_session_env(b: dict) -> None:
    os.environ["SPARK_GRAFT_CPUS"] = str(b["local_cores"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = b["driver_mem"]


# -- /proc counters ------------------------------------------------------------


def write_bytes(pid: int | str) -> int:
    """Bytes the process caused to be written to storage."""
    with open(f"/proc/{pid}/io") as f:
        return next(int(l.split()[1]) for l in f if l.startswith("write_bytes"))


def cpu_jiffies() -> tuple[int, int]:
    """``(stolen, total)`` CPU time of the machine so far, in jiffies.
    Stolen time is time the hypervisor gave this machine's CPUs to
    other guests: on a shared host it is what slows a whole run."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        return next(int(l.split()[1]) for l in f if l.startswith("VmHWM"))


class Session:
    """One local Spark session sized to the box, started and stopped
    as often as set-up needs; :meth:`close` ends the JVM and waits."""

    def __init__(self, extra_conf: dict | None = None):
        self.extra_conf = {
            "spark.ui.showConsoleProgress": "false",
            **(extra_conf or {}),
        }
        self.spark = None
        self.jvm_pid: int | None = None

    def start(self) -> float:
        from polars_w_inverted_index_spark.session import get_session

        t0 = time.perf_counter()
        self.spark = get_session(
            app_name="perfbench", extra_conf=self.extra_conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        elapsed = time.perf_counter() - t0
        if self.jvm_pid is None:
            jvm = self.spark.sparkContext._jvm
            self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        return elapsed

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def write_bytes(self) -> int:
        return write_bytes(self.jvm_pid) + write_bytes("self")

    def reset_peak_rss(self) -> None:
        """Start VmHWM afresh from a collected heap on both sides."""
        import gc

        gc.collect()
        self.spark.sparkContext._jvm.java.lang.System.gc()
        for pid in (self.jvm_pid, "self"):
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")

    def peak_rss_mb(self) -> float:
        return (vm_hwm_kb(self.jvm_pid) + vm_hwm_kb("self")) / 1024

    def close(self) -> None:
        """Stop Spark, then end the JVM and wait for it."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def files(root: str) -> dict[str, tuple[int, int]]:
    """``{path: (size, mtime_ns)}`` of every file under ``root``."""
    out = {}
    for d, _, names in os.walk(root):
        for name in names:
            st = os.stat(os.path.join(d, name))
            out[os.path.join(d, name)] = (st.st_size, st.st_mtime_ns)
    return out


def tree_bytes(root: str) -> int:
    return sum(size for size, _ in files(root).values())


# -- statistics -----------------------------------------------------------------


def tail(values: list[float]) -> tuple[float, float, int]:
    """``(percentile, value, samples_beyond)``: the highest percentile
    with at least TAIL_BEYOND samples beyond it, and never below the
    75th: with fewer than 4 * TAIL_BEYOND samples, a quarter of them
    lie beyond it.  The slowest of a handful of reads spread 25% from
    run to run on a quiet box."""
    s = sorted(values)
    n = len(s)
    beyond = min(TAIL_BEYOND, n // 4)
    return 100 * (n - beyond) / n, s[n - beyond - 1], beyond


# -- the closed loop --------------------------------------------------------------


@dataclass
class Op:
    kind: str  # "read" or "commit"
    name: str
    wall_s: float
    ok: bool
    rows_in: int = 0  # batch rows committed
    bytes_in: int = 0  # batch input bytes
    stored_bytes: int = 0  # bytes of the files the commit left under the state root
    write_bytes: int = 0  # /proc write_bytes of JVM + driver during the op
    steal: float = 0.0  # share of the machine's CPU time stolen during the op
    traced: bool = False
    error: str | None = None


@dataclass
class Loop:
    """Closed loop, one client: the next operation is issued only when
    the previous one has returned.  ``measured_s`` is the time spent
    inside operations; result checks and state restores between them
    are not counted."""

    ops: list[Op] = field(default_factory=list)
    measured_s: float = 0.0

    def add(self, op: Op) -> Op:
        self.ops.append(op)
        self.measured_s += op.wall_s
        return op


def end_to_end(
    ops: list[Op], setup_s: list[float], space_amp: float, peak_rss_mb: float
) -> tuple[dict, dict]:
    """``(metrics, detail)``: the end-to-end metrics of ``ops`` by name
    with their unit, and the samples behind them."""
    reads = [o.wall_s * 1e3 for o in ops if o.kind == "read"]
    commits = [o for o in ops if o.kind == "commit"]
    commit_s = sum(o.wall_s for o in commits)
    p, tail_ms, beyond = tail(reads)
    m = {
        "setup_s": (statistics.median(setup_s), "s"),
        "query_p50_ms": (statistics.median(reads), "ms"),
        "query_tail_ms": (tail_ms, "ms"),
        "commit_p50_ms": (
            statistics.median(o.wall_s * 1e3 for o in commits), "ms"
        ),
        "ingest_rows_per_s": (
            sum(o.rows_in for o in commits) / commit_s, "rows/s"
        ),
        "ops_per_s": (len(ops) / sum(o.wall_s for o in ops), "1/s"),
        "write_amp": (
            sum(o.stored_bytes for o in commits)
            / sum(o.bytes_in for o in commits),
            "ratio",
        ),
        "space_amp": (space_amp, "ratio"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }
    detail = {
        "reads": len(reads),
        "commits": len(commits),
        "query_tail_percentile": p,
        "query_tail_samples_beyond": beyond,
        "setup_s_samples": setup_s,
        # CPU time stolen by other guests during the measured operations
        "steal_share": sum(o.steal * o.wall_s for o in ops)
        / max(sum(o.wall_s for o in ops), 1e-9),
        "steal_max": max((o.steal for o in ops), default=0.0),
        "samples_ms": {
            name: [round(w, 1) for w in ws]
            for name, ws in _by_name(ops).items()
        },
    }
    return m, detail


class Client:
    """The single closed-loop client: issues one operation at a time,
    times it, checks its output outside the timed call, and records it
    in the loop.  Every operation is a root span of the tracer, with
    the layers it crosses as child spans."""

    def __init__(self, session: Session, tracer, loop: Loop, state_root: str):
        self.session = session
        self.tracer = tracer
        self.loop = loop
        self.state_root = state_root

    def read(self, name: str, build, check, plan_check=None) -> Op:
        """``build()`` is the public call returning a lazy DataFrame;
        the action is an Arrow collect.  ``check(table)`` and
        ``plan_check(dataframe)`` return True when right."""
        tr = self.tracer
        err, tbl, df = None, None, None
        wb0 = self.session.write_bytes()
        j0 = cpu_jiffies()
        with tr.span(f"read.{name}") as root:
            t0 = time.perf_counter()
            try:
                with tr.span("engine.build"):
                    df = build()
                if tr.active:
                    with tr.span("catalyst.plan"):
                        df._jdf.queryExecution().executedPlan()
                with tr.span("spark.exec"):
                    tbl = df.toArrow()
            except Exception as e:  # counted as a failed operation
                err = f"{name}: {type(e).__name__}: {e}"[:300]
            wall = time.perf_counter() - t0
            if root is not None and tbl is not None:
                root["tags"]["result_rows"] = tbl.num_rows
        steal = steal_share(j0, cpu_jiffies())
        wb = self.session.write_bytes() - wb0
        ok = err is None
        if ok and plan_check is not None and not plan_check(df):
            ok, err = False, f"{name}: plan not rewritten"
        if ok and not check(tbl):
            ok, err = False, f"{name}: wrong result"
        return self.loop.add(
            Op(
                "read", name, wall, ok, write_bytes=wb, steal=steal,
                traced=tr.active, error=err,
            )
        )

    def commit(self, name: str, call, rows: int, nbytes: int, check) -> Op:
        """``call()`` commits one batch and returns its output, already
        consumed; ``check(output)`` returns True when right."""
        tr = self.tracer
        err, out = None, None
        before = files(self.state_root)
        wb0 = self.session.write_bytes()
        j0 = cpu_jiffies()
        with tr.span(f"commit.{name}"):
            t0 = time.perf_counter()
            try:
                out = call()
            except Exception as e:  # counted as a failed operation
                err = f"{name}: {type(e).__name__}: {e}"[:300]
            wall = time.perf_counter() - t0
        steal = steal_share(j0, cpu_jiffies())
        wb = self.session.write_bytes() - wb0
        stored = sum(
            size for path, (size, mtime) in files(self.state_root).items()
            if before.get(path) != (size, mtime)
        )
        ok = err is None
        if ok and not check(out):
            ok, err = False, f"{name}: wrong result"
        return self.loop.add(
            Op(
                "commit", name, wall, ok, rows_in=rows, bytes_in=nbytes,
                stored_bytes=stored, write_bytes=wb, steal=steal,
                traced=tr.active, error=err,
            )
        )


def _by_name(ops: list[Op]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for o in ops:
        out.setdefault(o.name, []).append(o.wall_s * 1e3)
    return out
