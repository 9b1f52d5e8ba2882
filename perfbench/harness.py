"""Run context shared by the workloads: private directories inside the
checkout, the session settings fitted to the box, set-up and op timing,
host telemetry, process-tree memory and the result line.

Everything a run writes goes under ``<checkout>/.perfbench/``: the
per-run work directory (Spark local dirs, warehouse, derby home, temp
files, written shards) is deleted when the run ends; ``cache/`` keeps
the seed-independent TPC-H tables between runs and ``results/`` keeps
one JSON file per run for ``compare.py``.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

#: Driver heap, set explicitly so a run never sizes itself from the box.
HEAP = "2g"
#: The JVM compiles with C1 only.  With C2 the driver's planning code
#: keeps getting faster for 10+ rounds (minutes), at a different pace in
#: every process, so the measured rounds would sit on that slope; with
#: C1 the first warm-up round or batch reaches a steady state.
JIT_OPTS = "-XX:TieredStopAtLevel=1"
#: Set-ups per run; ``setup_s`` is their median.
SETUPS = 5


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pct(values, q: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


# -- host telemetry -----------------------------------------------------

def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def cpu_mark() -> dict:
    """Short box-speed mark (best of three): single-thread Python ops/s
    and a 256x256 float64 matmul in GFLOP/s."""
    import numpy as np
    st = 0.0
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0
        for i in range(300_000):
            x += i & 7
        st = max(st, 0.3 / (time.perf_counter() - t0))
    a = np.full((256, 256), 1.000001)
    gf = 0.0
    for _ in range(3):
        t0 = time.perf_counter()
        a @ a
        gf = max(gf, 2 * 256 ** 3 / (time.perf_counter() - t0) / 1e9)
    return {"st_mops": round(st, 3), "mt_gflops": round(gf, 3)}


class HostProbe:
    """Loadavg, CPU-steal share over the run and the CPU mark: context
    for reading the results, never a metric."""

    def __init__(self):
        self.load_start = os.getloadavg()[0]
        self.cpu0 = _cpu_times()
        self.mark = cpu_mark()

    def finish(self) -> dict:
        cpu1 = _cpu_times()
        d = [b - a for a, b in zip(self.cpu0, cpu1)]
        total = sum(d[:8]) or 1
        steal = d[7] if len(d) > 7 else 0
        return {"loadavg_1m_start": self.load_start,
                "loadavg_1m_end": os.getloadavg()[0],
                "cpu_steal_share": round(steal / total, 4),
                "cpu_busy_share": round(1 - (d[3] + d[4]) / total, 4),
                "cpu_mark": self.mark, "nproc": nproc(), "heap": HEAP,
                "jit": JIT_OPTS}


# -- process tree -------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants() -> list[int]:
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def tree_peak_rss_mb() -> dict[str, float]:
    """Peak resident size (VmHWM, MB) of this process and of every
    descendant (the JVM and its Python workers), by process name."""
    out: dict[str, float] = {}
    for pid in [os.getpid()] + descendants():
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh)
        except OSError:
            continue
        if "VmHWM" in fields:
            name = f"{fields['Name'].strip()}:{pid}"
            out[name] = int(fields["VmHWM"].split()[0]) / 1024.0
    return out


def tree_cpu_s() -> dict[str, float]:
    """CPU seconds (user + system) used so far by this process and by
    every live descendant, by process name."""
    tick = os.sysconf("SC_CLK_TCK")
    out: dict[str, float] = {}
    for pid in [os.getpid()] + descendants():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                name, rest = fh.read().rsplit(")", 1)
        except OSError:
            continue
        f = rest.split()
        out[f"{name.split('(', 1)[1]}:{pid}"] = round(
            (int(f[11]) + int(f[12])) / tick, 2)
    return out


# -- the run ------------------------------------------------------------

class Run:
    """One benchmark run: directories, session, records and result."""

    def __init__(self, root: Path, workload: str, seed: int,
                 seconds: int, trace: bool):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        base = root / ".perfbench"
        self.cache = base / "cache"
        self.results = base / "results"
        for d in (self.cache, self.results, base / "work"):
            d.mkdir(parents=True, exist_ok=True)
        self.work = Path(tempfile.mkdtemp(
            prefix=f"{workload}-{seed}-", dir=base / "work"))
        self.tmp = self.work / "tmp"
        self.tmp.mkdir()
        # every temp file of this process and of the JVM it launches;
        # SPARK_LOCAL_DIRS sets the JVM's spark.local.dir
        os.environ["TMPDIR"] = str(self.tmp)
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "local")
        tempfile.tempdir = str(self.tmp)
        self.setup_s: list[float] = []
        self.setup_once_s = 0.0
        self.ops: list[dict] = []       # {"kind", "ms", "ok"}
        self.warm_ops: list[dict] = []  # the same, of warm-up rounds
        self.notes: dict = {}
        self.spark = None

    # session -------------------------------------------------------------

    def session_conf(self) -> dict:
        n = str(nproc())
        w = self.work
        # heap fixed and pre-touched: peak RSS then moves with off-heap
        # and Python memory, not with when the GC grew the heap
        java_opts = (f"-Xms{HEAP} -XX:+AlwaysPreTouch {JIT_OPTS} "
                     f"-Djava.io.tmpdir={self.tmp} "
                     f"-Dderby.system.home={w / 'derby'}")
        return {"spark.driver.memory": HEAP,
                "spark.sql.shuffle.partitions": n,
                "spark.default.parallelism": n,
                "spark.sql.warehouse.dir": str(w / "warehouse"),
                "spark.driver.extraJavaOptions": java_opts,
                "spark.ui.showConsoleProgress": "false"}

    def init_db(self):
        import pandas_alchemy_spark as pas
        self.spark = pas.init_db(master=f"local[{nproc()}]",
                                 app_name="perfbench",
                                 **self.session_conf())
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def setup(self, body, once=None) -> None:
        """Run ``body`` (init_db + warm-up) SETUPS times, closing the
        session between them, then ``once`` (set-up work a session
        does once, such as an index build) on the last session, which
        stays open for the measured ops.  ``setup_s`` is the median
        of the ``body`` times plus the ``once`` time."""
        import pandas_alchemy_spark as pas
        for i in range(SETUPS):
            if i:
                pas.close_db()
            t0 = time.perf_counter()
            body()
            self.setup_s.append(time.perf_counter() - t0)
        if once is not None:
            t0 = time.perf_counter()
            once()
            self.setup_once_s = time.perf_counter() - t0

    def more(self, times: list[float], started: float, minimum: int,
             traced: int) -> bool:
        """Whether to start another round: a traced run does exactly
        ``traced`` (fixed work, so its counts repeat); an untraced run
        at least ``minimum``, then only while the next round is
        expected to end inside the time budget."""
        if self.trace:
            return len(times) < traced
        if len(times) < minimum:
            return True
        elapsed = time.perf_counter() - started
        return elapsed + sum(times) / len(times) <= self.seconds

    def op(self, tracer, counts, kind: str, execute, check,
           warm: bool = False) -> float:
        """Time one op inside its tracing scope, check the answer
        outside the timed region, record both; return the seconds.  An
        exception in either counts as a failed op.  A ``warm`` op (of a
        warm-up round, run with tracing off) is checked and counted as
        attempted but kept out of every metric."""
        n = len(self.ops)
        tracer.request = n
        with tracer.op(self.spark, f"op{n}"):
            t0 = time.perf_counter()
            try:
                out, err = execute(), None
            except Exception as e:  # noqa: BLE001 - a failed op, counted
                out, err = None, repr(e)
            seconds = time.perf_counter() - t0
        ok = False
        if err is None:
            try:
                ok = bool(check(out))
            except Exception as e:  # noqa: BLE001 - a wrong answer
                err = f"check: {e!r}"
        (self.warm_ops if warm else self.ops).append(
            {"kind": kind, "ms": seconds * 1000.0, "ok": ok,
             **({"error": err} if err else {})})
        counts(n)
        return seconds

    # teardown ------------------------------------------------------------

    def close(self) -> None:
        """Stop the session and the JVM, wait for every process this
        run started, and delete the work directory."""
        from pyspark import SparkContext
        import pandas_alchemy_spark as pas
        kids = descendants()
        try:
            try:
                pas.close_db()
            except Exception:  # noqa: BLE001 - teardown goes on regardless
                pass
            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None)
            if gw is not None:
                try:
                    gw.shutdown()
                except Exception:  # noqa: BLE001 - gateway already gone
                    pass
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=10)
            SparkContext._gateway = None
            SparkContext._jvm = None
            end = time.time() + 30
            while time.time() < end and any(_alive(p) for p in kids):
                time.sleep(0.1)
            for p in kids:
                if _alive(p):
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
        finally:
            shutil.rmtree(self.work, ignore_errors=True)

    # result --------------------------------------------------------------

    def op_metrics(self, rounds: list[list[float]],
                   peak_rss: float) -> dict:
        """End-to-end metrics from the measured rounds (each a list of
        op seconds).  ``op_p50_ms`` pools every measured op.  A run
        holds only 3-5 rounds, so ``pass_s`` and ``op_tail_ms`` come
        from its best round (the least total): its total and its slowest
        op.  The shared host only ever adds time, in episodes of
        seconds, and the best round moves least with it from run to
        run."""
        best = min(rounds, key=sum)
        every = self.warm_ops + self.ops
        ok = sum(o["ok"] for o in every)
        return {
            "setup_s": (statistics.median(self.setup_s)
                        + self.setup_once_s, "s"),
            "op_p50_ms": (pct([o["ms"] for o in self.ops], 50), "ms"),
            "op_tail_ms": (max(best) * 1000.0, "ms"),
            "pass_s": (sum(best), "s"),
            "ok_rate": (ok / len(every), "ratio"),
            "peak_rss_mb": (peak_rss, "MB"),
        }

    def emit(self, metrics: dict, host: dict) -> int:
        """Print the telemetry line and the result line; save both."""
        every = self.warm_ops + self.ops
        attempted = len(every)
        failed = sum(not o["ok"] for o in every)
        correct = failed == 0 and attempted > 0
        result = {"correct": correct, "attempted": max(attempted, 1),
                  "failed": failed if attempted else 1,
                  "metrics": {k: {"value": v, "unit": u}
                              for k, (v, u) in metrics.items()}}
        info = {"workload": self.workload, "seed": self.seed,
                "seconds": self.seconds, "trace": int(self.trace),
                "setup_samples_s": self.setup_s,
                "setup_once_s": self.setup_once_s,
                "warm_ops": self.warm_ops, "ops": self.ops,
                "notes": self.notes,
                "host": host}
        stamp = time.strftime("%Y%m%dT%H%M%S")
        out = self.results / (f"{self.workload}-s{self.seed}-t"
                              f"{int(self.trace)}-{stamp}-{os.getpid()}"
                              ".json")
        out.write_text(json.dumps({"result": result, "info": info}))
        print(json.dumps({"telemetry": host,
                          "notes": self.notes}))
        sys.stdout.flush()
        print(json.dumps(result))
        return 0 if correct else 1


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
