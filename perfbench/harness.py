"""Measurement plumbing shared by every workload: the run workspace, the
Spark session lifecycle, the closed-loop client, latency summaries, the
in-memory span tracer and the engine counter collector.

Nothing here changes engine behaviour: spans wrap the benchmark's own calls
into the engine's public functions, and counters come from Spark's status
store (``AppStatusStore``) and ``StreamingQuery.recentProgress``.
"""

from __future__ import annotations

import contextlib
import os
import shlex
import shutil
import statistics
import sys
import threading
import time
import traceback

#: a run refuses to start with less free space than this in its checkout
MIN_FREE_BYTES = 3 << 30
_CLK_TCK = os.sysconf("SC_CLK_TCK")
#: see ``Stopwatch``
STEAL_EXPONENT = 1.3


# ---------------------------------------------------------------------------
# workspace
# ---------------------------------------------------------------------------

class Workspace:
    """Per-run directory under the checkout holding every input, sink,
    checkpoint, txlog table, Spark local dir and temp file of the run; it
    is removed when the run ends."""

    def __init__(self, root: str, tag: str):
        free = shutil.disk_usage(root).free
        if free < MIN_FREE_BYTES:
            raise SystemExit(
                f"perfbench: only {free >> 20} MiB free under {root}; "
                f"need {MIN_FREE_BYTES >> 20} MiB"
            )
        self.path = os.path.join(root, ".perfbench_work", f"{tag}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)
        self.tmp = self.dir("tmp")
        # everything the JVM and Python spill goes under the workspace
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.dir("spark-local")
        java_opts = f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData"
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            [
                "--driver-java-options", shlex.quote(java_opts),
                "--conf", shlex.quote(f"spark.sql.warehouse.dir={self.dir('warehouse')}"),
                "--conf", "spark.ui.showConsoleProgress=false",
                "pyspark-shell",
            ]
        )

    def dir(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        parent = os.path.dirname(self.path)
        with contextlib.suppress(OSError):
            os.rmdir(parent)  # only when no other run is using it


# ---------------------------------------------------------------------------
# Spark session lifecycle
# ---------------------------------------------------------------------------

def start_spark(app: str):
    """The engine's own session builder (``session.get_spark``) with its
    own configuration: ``SPARK_GRAFT_CPUS`` (default: all cores) sets the
    local parallelism and the shuffle partitions."""
    from change_data_capture_spark.session import get_spark

    spark = get_spark(f"perfbench-{app}")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    try:
        spark.stop()
    finally:
        if gw is not None:
            with contextlib.suppress(Exception):
                gw.shutdown()
        if proc is not None:
            # the gateway exits on EOF of its stdin
            with contextlib.suppress(OSError):
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _proc_cpu_ticks(pid: int | str) -> int:
    """utime + stime of a process, in clock ticks."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return int(fields[11]) + int(fields[12])
    except (OSError, IndexError, ValueError):
        return 0


def cpu_snapshot() -> tuple[int, int, int]:
    """(CPU ticks of the driver JVM plus this process, host busy ticks,
    host steal ticks): steal is time the hypervisor ran something else
    while a vCPU of this host wanted to run."""
    pid = jvm_pid()
    own = _proc_cpu_ticks("self") + (_proc_cpu_ticks(pid) if pid else 0)
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = t[:8]
    return own, user + nice + system + irq + softirq, steal


def steal_share(c0, c1) -> float:
    """Share of the host's wanted CPU time that steal took between two
    ``cpu_snapshot`` readings."""
    steal = c1[2] - c0[2]
    return steal / max(1, c1[1] - c0[1] + steal)


class Stopwatch:
    """Wall time of a block, and its steal-free time: what the block is
    estimated to take on an unshared host.

    On a shared virtual machine the hypervisor takes CPU from the guest
    ("steal"); on the 4-vCPU guest this benchmark was built on, the steal
    share during an operation swung between 0 and 50% within minutes, and
    wall-clock latencies with it. With steal share ``s`` of the CPU time the
    host wanted over the block, the steal-free time is
    ``wall * (1 - s) ** STEAL_EXPONENT``. The exponent is above 1 because a
    stolen vCPU also stalls the threads that wait on it (task completion,
    locks), and that waiting shows as idle time, not as steal: regressing
    log wall latency on ``-log(1 - s)`` over the operations of twenty runs
    of both workloads gave 1.2 to 1.4 within runs. With exponent 1 latency
    still rose with steal.
    """

    def __enter__(self):
        self.c0 = cpu_snapshot()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall_s = time.perf_counter() - self.t0
        c1 = cpu_snapshot()
        self.steal = steal_share(self.c0, c1)
        self.cpu_ms = (c1[0] - self.c0[0]) * 1000 / _CLK_TCK
        self.net_s = self.wall_s * (1 - self.steal) ** STEAL_EXPONENT
        return False


def peak_rss_mb() -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    pid = jvm_pid()
    kb = _vm_hwm_kb("self") + (_vm_hwm_kb(pid) if pid else 0)
    return kb / 1024


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

def quantile(samples: list[float], q: float) -> float:
    """Linear-interpolated quantile (``q`` in [0, 1])."""
    s = sorted(samples)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_summary(samples: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it, and its
    label. Below forty samples that percentile is under p75, so the tail is
    then p75, and the label says how few samples lie beyond it (the
    slowest sample alone would make a much noisier tail)."""
    n = len(samples)
    if n < 40:
        return quantile(samples, 0.75), f"p75 of {n}, {n // 4} beyond"
    q = 1 - 10 / n
    return quantile(samples, q), f"p{100 * q:.1f} of {n}"


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory span recorder. A span has a name, wall-clock start and
    end, its parent span and the operation it belongs to. Spans opened on
    another thread (a foreachBatch callback) attach to the operation that
    is current on the client thread. Disabled tracers record nothing."""

    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._ids = 0
        self.op_id: int | None = None
        self.op_span: int | None = None

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        st = self._stack()
        with self._lock:
            self._ids += 1
            sid = self._ids
        parent = st[-1] if st else self.op_span
        op = self.op_id
        st.append(sid)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            st.pop()
            with self._lock:
                self.spans.append(
                    {"id": sid, "name": name, "parent": parent, "op": op,
                     "start": t0, "end": t1}
                )

    @contextlib.contextmanager
    def op(self, op_id: int, name: str):
        """Root span of one client operation."""
        if not self.enabled:
            yield
            return
        self.op_id = op_id
        with self.span(f"op.{name}"):
            self.op_span = self._stack()[-1]
            try:
                yield
            finally:
                self.op_span = None
                self.op_id = None

    def self_times_ms(self) -> dict[str, float]:
        """Total self time per span name: a span's duration minus the part
        of its interval its children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered = union_length(
                [(max(a, s["start"]), min(b, s["end"])) for a, b in children.get(s["id"], [])]
            )
            own = (s["end"] - s["start"] - covered) * 1000
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1000 for s in self.spans if s["name"] == name]

    def ops(self) -> list[dict]:
        return [s for s in self.spans if s["parent"] is None and s["name"].startswith("op.")]


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def median_or_zero(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# engine counters (Spark status store)
# ---------------------------------------------------------------------------

def _opt_ms(opt) -> float | None:
    """A Scala ``Option[java.util.Date]`` as epoch seconds."""
    return opt.get().getTime() / 1000 if opt.isDefined() else None


class EngineCounters:
    """Job, stage and task counters from ``AppStatusStore``. Job and stage
    counts are max-id deltas, which count jobs from every thread and stay
    right after the store evicts old jobs; per-stage metrics are summed
    over the stages still retained."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def max_ids(self) -> tuple[int, int]:
        jobs = self.store.jobsList(None)
        max_job = max_stage = -1
        for i in range(jobs.size()):
            j = jobs.apply(i)
            max_job = max(max_job, j.jobId())
            sids = j.stageIds()
            for k in range(sids.size()):
                max_stage = max(max_stage, sids.apply(k))
        return max_job, max_stage

    def settle(self, timeout_s: float = 5.0) -> tuple[int, int]:
        """Wait for the asynchronous listener bus to drain into the store."""
        last = self.max_ids()
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            time.sleep(0.3)
            cur = self.max_ids()
            if cur == last and not self.sc.statusTracker().getActiveJobsIds():
                break
            last = cur
        return last

    def jobs_since(self, job0: int) -> list[dict]:
        out = []
        jobs = self.store.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= job0:
                continue
            out.append({"id": j.jobId(), "start": _opt_ms(j.submissionTime()),
                        "end": _opt_ms(j.completionTime())})
        return out

    def stages_between(self, stage0: int, stage1: int) -> list[dict]:
        out = []
        for sid in range(stage0 + 1, stage1 + 1):
            try:
                s = self.store.lastStageAttempt(sid)
            except Exception:  # evicted or never submitted (skipped stage)
                continue
            start = _opt_ms(s.submissionTime())
            if start is None:
                continue
            out.append(
                {
                    "id": sid,
                    "start": start,
                    "end": _opt_ms(s.completionTime()) or start,
                    "tasks": s.numTasks(),
                    "failed_tasks": s.numFailedTasks(),
                    "run_ms": s.executorRunTime(),
                    "cpu_ms": s.executorCpuTime() / 1e6,
                    "gc_ms": s.jvmGcTime(),
                    "input_bytes": s.inputBytes(),
                    "output_bytes": s.outputBytes(),
                    "output_rows": s.outputRecords(),
                    "shuffle_read_bytes": s.shuffleReadBytes(),
                    "shuffle_write_bytes": s.shuffleWriteBytes(),
                    "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                }
            )
        return out


def attribute_stages(stages: list[dict], spans: list[dict]) -> None:
    """Tag each stage with the innermost span whose interval contains the
    stage's submission time (``stage["span"]`` = span name or None)."""
    for st in stages:
        best = None
        for s in spans:
            if s["start"] <= st["start"] <= s["end"] and (
                best is None or s["end"] - s["start"] < best["end"] - best["start"]
            ):
                best = s
        st["span"] = best["name"] if best else None
        st["op"] = best["op"] if best else None


def engine_metrics(ids0, ids1, n_ops: int, ops: list[dict],
                   stages: list[dict], jobs: list[dict]) -> dict[str, float]:
    """``engine.*`` per-layer metrics per client operation: counts and
    stage sums over all ``n_ops`` operations of the loop, driver-only time
    over the traced ``ops``."""
    n = max(1, n_ops)
    tot = {k: sum(s[k] for s in stages) for k in (
        "tasks", "failed_tasks", "run_ms", "cpu_ms", "gc_ms", "input_bytes",
        "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")}
    driver_only = []
    for op in ops:
        busy = union_length(
            [(max(j["start"], op["start"]), min(j["end"] or op["end"], op["end"]))
             for j in jobs if j["start"] is not None]
        )
        driver_only.append((op["end"] - op["start"] - busy) * 1000)
    return {
        "engine.jobs": (ids1[0] - ids0[0]) / n,
        "engine.stages": (ids1[1] - ids0[1]) / n,
        "engine.tasks": tot["tasks"] / n,
        "engine.task_retries": tot["failed_tasks"] / n,
        "engine.driver_only_ms": median_or_zero(driver_only),
        "engine.executor_run_ms": tot["run_ms"] / n,
        "engine.executor_cpu_ms": tot["cpu_ms"] / n,
        "engine.gc_ms": tot["gc_ms"] / n,
        "engine.input_bytes": tot["input_bytes"] / n,
        "engine.shuffle_write_bytes": tot["shuffle_write_bytes"] / n,
        "engine.shuffle_read_bytes": tot["shuffle_read_bytes"] / n,
        "engine.spill_bytes": tot["spill_bytes"] / n,
        "engine.output_bytes": tot["output_bytes"] / n,
    }


def txlog_probe(table: str, keys: list[int]) -> dict[str, float]:
    """Driver-side txlog metadata metrics of a table: the snapshot fold
    time, commits since the newest checkpoint, live files, and the share
    of files ``id`` point lookups skip."""
    from change_data_capture_spark.sources import txlog

    def timed_resolve() -> float:
        t0 = time.perf_counter()
        txlog.snapshot_files(table)
        return (time.perf_counter() - t0) * 1000

    live = txlog.snapshot_files(table)
    kept = [len(txlog.snapshot_files(table, predicate_range=("id", k, k))) for k in keys]
    ckpts = [int(f.split(".")[0]) for f in os.listdir(os.path.join(table, "_txlog"))
             if f.endswith(".checkpoint.json")]
    return {
        "txlog.resolve_ms": statistics.median(timed_resolve() for _ in range(5)),
        "txlog.log_tail_commits": txlog.latest_version(table) - max(ckpts, default=-1),
        "txlog.live_files": len(live),
        "txlog.files_skipped_ratio": 1 - statistics.mean(kept) / len(live),
    }


# ---------------------------------------------------------------------------
# closed-loop client
# ---------------------------------------------------------------------------

class Op:
    """One client operation: ``run()`` is timed, ``check(result)`` is not."""

    def __init__(self, name: str, run, check=None, items: float = 1.0):
        self.name = name
        self.run = run
        self.check = check
        self.items = items


class LoopResult:
    """Per successful operation: steal-free latency (``latencies_ms``, see
    ``Stopwatch``), wall-clock latency, CPU time of the JVM plus this
    process, and the steal share; ``busy_s`` sums the steal-free times."""

    def __init__(self):
        self.latencies_ms: list[float] = []
        self.wall_ms: list[float] = []
        self.cpu_ms: list[float] = []
        self.steal_share: list[float] = []
        self.names: list[str] = []
        self.traced: list[bool] = []
        self.items = 0.0
        self.busy_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.wrong = 0


def closed_loop(spark, next_op, seconds: float, tracer: Tracer, min_ops: int = 3,
                alternate_tracing: bool = False) -> LoopResult:
    """One client, one outstanding operation: the next operation starts
    only after the previous one returned. Results are checked outside the
    timed region, and persisted data is dropped between operations. With
    ``alternate_tracing`` operations are traced in the pattern
    traced, plain, plain, traced, traced, plain, ... so traced and untraced
    latencies come from the same stretch of the run and a workload that
    alternates two kinds of operation gets both kinds traced."""
    res = LoopResult()
    deadline = time.perf_counter() + seconds
    while res.attempted < min_ops or time.perf_counter() < deadline:
        op = next_op()
        res.attempted += 1
        traced = alternate_tracing and (res.attempted // 2) % 2 == 0
        tracer.enabled = traced
        try:
            with Stopwatch() as sw, tracer.op(res.attempted, op.name):
                out = op.run()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            res.failed += 1
            continue
        finally:
            tracer.enabled = False
        res.latencies_ms.append(sw.net_s * 1000)
        res.wall_ms.append(sw.wall_s * 1000)
        res.cpu_ms.append(sw.cpu_ms)
        res.steal_share.append(sw.steal)
        res.names.append(op.name)
        res.traced.append(traced)
        res.busy_s += sw.net_s
        res.items += op.items
        if op.check is not None and not op.check(out):
            print(f"perfbench: wrong result from {op.name}", file=sys.stderr)
            res.wrong += 1
        spark.catalog.clearCache()
    return res
