"""Plumbing shared by the perfbench workloads.

- :class:`Tracer` keeps spans (name, start, end, parent, op id) in
  memory and turns them into per-layer self times at the end.
- :func:`span_shims` wraps library calls so a traced run records a span
  per call without a second copy of the op's code.
- :func:`measure_passes` is the one closed-loop driver: every pass runs
  each op once in a seed-shuffled order, until the run's time is spent.
- :func:`start_session` / :func:`stop_session` own the SparkSession and
  its JVM, so every run ends with no process left behind.
- :func:`arrow_digest` is the order-independent digest every extract
  output is checked with.
"""

from __future__ import annotations

import contextlib
import functools
import os
import random
import statistics
import subprocess
import sys
import time
from collections.abc import Callable
from dataclasses import asdict, dataclass, field
from decimal import Decimal

# ---------------------------------------------------------------------------
# process and memory facts
# ---------------------------------------------------------------------------


def process_start_epoch() -> float:
    """Wall-clock time this process was started (from /proc), so set-up
    time includes interpreter start and imports."""
    with open("/proc/self/stat") as fh:
        # field 22 (starttime, clock ticks since boot); the command name
        # in field 2 may contain spaces, so split after its ')'
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def peak_rss_mib(pid: int | str = "self") -> float:
    """VmHWM (peak resident set) of a process, in MiB; 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def log(msg: str) -> None:
    """Progress line on stderr (stdout carries only the results)."""
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: str | None


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op_id: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if op_id is None and parent is not None:
            op_id = self.spans[parent].op_id
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), 0.0, parent, op_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part its direct
        children cover (children of one span never overlap: the loop is
        single-threaded)."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child_time[i]
        return out

    def as_records(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


_MISSING = object()


@contextlib.contextmanager
def span_shims(tracer: Tracer, targets: list[tuple[object, str, str]]):
    """While active, every call of ``owner.attr`` (a module function or
    a class method) for each ``(owner, attr, span name)`` in ``targets``
    runs inside a span of that name.  The library's own code path is
    the one timed; the originals are restored on exit."""

    def traced(fn, name):
        @functools.wraps(fn)
        def call(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)
        return call

    saved = [(owner, attr, vars(owner).get(attr, _MISSING)) for owner, attr, _ in targets]
    try:
        for owner, attr, name in targets:
            setattr(owner, attr, traced(getattr(owner, attr), name))
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            if orig is _MISSING:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)


# ---------------------------------------------------------------------------
# the closed loop
# ---------------------------------------------------------------------------


@dataclass
class OpSample:
    op: str
    seconds: float
    rows: int


@dataclass
class Measured:
    samples: list[OpSample] = field(default_factory=list)
    pass_seconds: list[float] = field(default_factory=list)
    # the slowest op latency of each pass
    pass_max_seconds: list[float] = field(default_factory=list)
    # op id ("<pass>:<op>") → wall-clock (start, end), for the event log
    windows: dict[str, tuple[float, float]] = field(default_factory=dict)


MIN_PASSES = 3


def warm_up(ops: list[str], run_op: Callable[[str, str], int],
            check: Callable[[str, str], None], rounds: int) -> float:
    """Run every op ``rounds`` times in a fixed order before timing, with
    outputs checked like measured ones, so that the JIT has compiled the
    ops' hot paths and the Python workers are up.  Returns the first
    op's time: the cold start a one-shot script pays (``first_op_s``)."""
    first_op_s = None
    for r in range(rounds):
        for op in ops:
            op_id = f"warm{r}:{op}"
            t0 = time.perf_counter()
            run_op(op, op_id)
            if first_op_s is None:
                first_op_s = time.perf_counter() - t0
            check(op, op_id)
    return first_op_s


def measure_passes(
    ops: list[str],
    run_op: Callable[[str, str], int],
    check: Callable[[str, str], None],
    seconds: float,
    rng: random.Random,
) -> Measured:
    """Closed loop with one client: each pass runs every op once in an
    order shuffled by ``rng``; passes repeat until ``seconds`` have
    elapsed (the pass in flight finishes) and at least ``MIN_PASSES``
    have run, so every median rests on that many samples.
    ``run_op(op, op_id)`` performs one op and returns the rows it
    delivered; ``check(op, op_id)`` then verifies its output, untimed.
    A pass's time is the sum of its op times, so the checks are not
    counted."""
    out = Measured()
    t_begin = time.perf_counter()
    pass_no = 0
    while True:
        order = list(ops)
        rng.shuffle(order)
        total = slowest = 0.0
        for op in order:
            op_id = f"{pass_no}:{op}"
            w0 = time.time()
            t0 = time.perf_counter()
            rows = run_op(op, op_id)
            dt = time.perf_counter() - t0
            out.windows[op_id] = (w0, time.time())
            out.samples.append(OpSample(op, dt, rows))
            total += dt
            slowest = max(slowest, dt)
            check(op, op_id)
        out.pass_seconds.append(total)
        out.pass_max_seconds.append(slowest)
        pass_no += 1
        if pass_no >= MIN_PASSES and time.perf_counter() - t_begin >= seconds:
            return out


def op_medians(samples: list[OpSample]) -> dict[str, float]:
    by_op: dict[str, list[float]] = {}
    for s in samples:
        by_op.setdefault(s.op, []).append(s.seconds)
    return {op: statistics.median(v) for op, v in by_op.items()}


DEFINITIONS = {
    "latency_p50_s": "median across ops of each op's median latency",
    "latency_tail_s": "median over passes of the pass's slowest op latency",
    "rows_per_s": "median over passes of the pass's rows / the pass's time",
}


def end_to_end(measured: Measured, setup_s: float) -> tuple[dict[str, tuple[float, str]], dict]:
    """The workload-independent end-to-end metrics, plus the facts
    behind them for the run record.

    A run holds four or five samples per op of a few ops of different
    sizes.  The median of all samples pooled would fall between two
    ops' clusters and read one op's slowest and another's fastest
    sample, so ``latency_p50_s`` is the median of the per-op medians.
    No percentile has ten samples beyond it, so ``latency_tail_s`` is
    the slowest op of each pass, as a median over the passes: the same
    quantity in every run, whichever op happens to be slowest."""
    n_ops = len(measured.samples) // len(measured.pass_seconds)
    pass_rows = [sum(s.rows for s in measured.samples[i:i + n_ops])
                 for i in range(0, len(measured.samples), n_ops)]
    metrics = {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(measured.pass_seconds), "s"),
        "latency_p50_s": (statistics.median(op_medians(measured.samples).values()), "s"),
        "latency_tail_s": (statistics.median(measured.pass_max_seconds), "s"),
        "rows_per_s": (statistics.median(
            r / t for r, t in zip(pass_rows, measured.pass_seconds)), "rows/s"),
        "driver_peak_rss_mib": (peak_rss_mib(), "MiB"),
    }
    facts = {"definitions": DEFINITIONS, "op_samples": len(measured.samples),
             "passes": len(measured.pass_seconds),
             "pass_seconds": measured.pass_seconds,
             "samples": [(s.op, s.seconds) for s in measured.samples]}
    return metrics, facts


# ---------------------------------------------------------------------------
# Spark session lifetime
# ---------------------------------------------------------------------------


def start_session(run_dir: str, trace: bool):
    """The engine's own session (``flaco_spark.session.get_session``) on
    ``local[nproc]``; the JVM's temp files go to ``$TMPDIR``.  A traced
    run also writes Spark's event log into the run directory."""
    from flaco_spark.session import get_session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_session(app_name="perfbench", master=f"local[{nproc()}]",
                        extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for the JVM."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def stamps(spark, seed: int, timed_action: str) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": spark.sparkContext.master,
        "defaultParallelism": spark.sparkContext.defaultParallelism,
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "seed": seed,
        "timed_action": timed_action,
    }


# ---------------------------------------------------------------------------
# order-independent digests of Arrow results
# ---------------------------------------------------------------------------


def arrow_digest(table) -> dict:
    """Row count, per-column null counts and order-independent value
    digests: integer and decimal sums, float min/max, string and binary
    byte-length sums with byte-wise min/max, and temporal min/max as
    integers (days or microseconds)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    out: dict = {"rows": table.num_rows}
    for name in table.column_names:
        col = table.column(name)
        t = col.type
        out[f"nulls.{name}"] = col.null_count
        if pa.types.is_timestamp(t):
            col = pc.cast(col, pa.timestamp("us", tz=t.tz)).cast(pa.int64())
        elif pa.types.is_date32(t):
            col = col.cast(pa.int32())
        elif pa.types.is_integer(t) or pa.types.is_boolean(t):
            out[f"sum.{name}"] = int(pc.sum(col.cast(pa.int64())).as_py() or 0)
            continue
        elif pa.types.is_decimal(t):
            out[f"sum.{name}"] = Decimal(pc.sum(col).as_py() or 0)
            continue
        elif pa.types.is_string(t) or pa.types.is_large_string(t) or pa.types.is_binary(t):
            out[f"len.{name}"] = int(pc.sum(pc.binary_length(col)).as_py() or 0)
        elif not pa.types.is_floating(t):
            continue
        mm = pc.min_max(col).as_py()
        out[f"min.{name}"], out[f"max.{name}"] = (
            v.hex() if isinstance(v, bytes) else v for v in (mm["min"], mm["max"]))
    return out


def digest_mismatch(got: dict, want: dict) -> str | None:
    """None when equal, else a one-line description of the first
    differing keys."""
    if got == want:
        return None
    keys = sorted(set(got) | set(want))
    diff = [f"{k}: got {got.get(k)!r} want {want.get(k)!r}"
            for k in keys if got.get(k) != want.get(k)]
    return "; ".join(diff[:4])
