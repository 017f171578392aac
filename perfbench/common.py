"""Run context shared by the workloads: the isolated environment the
program runs in, the peak-memory sampler, percentiles, and the closed-loop
query runner with its correctness gate."""

from __future__ import annotations

import hashlib
import os
import shlex
import shutil
import statistics
import threading
import time
from dataclasses import dataclass

from spans import Tracer  # perfbench/spans.py (run.py puts perfbench first on sys.path)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 4096


@dataclass
class Ctx:
    root: str  # checkout root (holds vectra_player_spark/)
    workload: str
    seed: int
    seconds: float
    trace: bool
    smoke: bool
    inject_wrong: bool
    work: str = ""  # per-run scratch, wiped before each run
    inputs: str = ""  # generated inputs, cached by seed
    tracer: Tracer = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def prepare_env(ctx: Ctx) -> None:
    """Size and isolate the program's environment before the JVM starts.

    Every location the program writes to (bucketed layouts and stores,
    warehouse, checkpoints, shuffle/spill dirs, temp files, the event log)
    sits under a per-run scratch directory inside the checkout, wiped
    first, so no layout or store left by an earlier run can be discovered
    and skip a build whose cost setup or build time must show."""
    base = os.path.join(ctx.root, ".perfbench")
    ctx.work = os.path.join(base, "run")
    shutil.rmtree(ctx.work, ignore_errors=True)
    for d in ("bucketed", "warehouse", "local", "tmp", "eventlog", "stream"):
        os.makedirs(ctx.path(d))
    size = "smoke" if ctx.smoke else "full"
    ctx.inputs = os.path.join(base, "inputs", f"{ctx.workload}-{size}-{ctx.seed}")
    ctx.tracer = Tracer(ctx.trace, f"{ctx.workload}-{ctx.seed}")

    cpus = nproc()
    heap_mb = max(1024, min(3072, mem_total_mb() // 4))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{heap_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = ctx.path("local")
    os.environ["SPARK_WAREHOUSE_DIR"] = ctx.path("warehouse")
    os.environ["TMPDIR"] = ctx.path("tmp")
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ctx.root + (os.pathsep + pp if pp else "")
    conf = {
        "spark.vectra.bucketed.location": ctx.path("bucketed"),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.checkpointLocation": ctx.path("stream", "ckpt"),
        # keep every progress report of a run for the lag attribution
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }
    if ctx.trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + ctx.path("eventlog")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    args = [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()]
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    java_opts = f"-Djava.io.tmpdir={ctx.path('tmp')} -XX:-UsePerfData"
    args.append(f"--driver-java-options {shlex.quote(java_opts)}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args) + " pyspark-shell"


def start_session(ctx: Ctx):
    """``session.get_spark`` under the isolated environment; returns
    (spark, seconds)."""
    t0 = time.perf_counter()
    with ctx.tracer.span("get_spark", "session"):
        from vectra_player_spark.session import get_spark

        spark = get_spark("perfbench")
    dt = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.vectra.bucketed.location", ctx.path("bucketed"))
    return spark, dt


class MemSampler:
    """Peak memory of every descendant of this process (the JVM and its
    Python workers), sampled every 200 ms. Each process counts its
    proportional set size (PSS), so pages the forked Python workers share
    with their daemon are counted once, not once per worker.

    Only traced runs sample: a sample holds the GIL and each process's
    memory-map lock for several milliseconds, which untraced end-to-end
    runs must not pay."""

    def __init__(self, enabled: bool):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)
        if enabled:
            self._t.start()

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, sum(pss_mb(p) for p in descendants(me)))
            self._stop.wait(0.2)

    def stop(self) -> float:
        self._stop.set()
        if self._t.is_alive():
            self._t.join()
        return self.peak_mb


def descendants(root_pid: int) -> list[int]:
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
    out = []
    for pid in parent:
        p = parent.get(pid)
        while p and p != root_pid:
            p = parent.get(p)
        if p == root_pid:
            out.append(pid)
    return out


def pss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total / (1024.0 * 1024.0)


def percentile(values: list[float], q: float) -> float:
    """Linearly interpolated percentile (q in 0..100) of a non-empty list."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[int(q) - 1]


# ---------------------------------------------------------------------------
# Closed-loop query runner
# ---------------------------------------------------------------------------


def family_of(spec, families: list[str]) -> str | None:
    """The query's family: the first of ``families`` (listed most specific
    first) among its registry tags, or None when it has none of them."""
    return next((f for f in families if f in spec.tags), None)


def query_sequence(families: list[str], stride: int, skip: frozenset = frozenset()) -> list:
    """A fixed subset of ``families`` — one query in ``stride`` of each
    family, in registry order, leaving out the queries named in ``skip`` —
    with each family spread evenly along the sequence. Subset and order
    are the same for every seed: the seed changes the data, so a run's
    latencies never depend on which queries it happened to draw or on
    which query first paid a one-off cost. Returns (family, spec) pairs."""
    from vectra_player_spark import plans

    per = {f: [] for f in families}
    for spec in plans.QUERIES.values():
        f = family_of(spec, families)
        if f is not None and spec.name not in skip:
            per[f].append(spec)
    keyed = []
    for fi, f in enumerate(families):
        chosen = per[f][::stride]
        keyed += [((i + 0.5) / len(chosen), fi, f, spec) for i, spec in enumerate(chosen)]
    return [(f, spec) for *_, f, spec in sorted(keyed, key=lambda k: k[:2])]


class _Result:
    """Stand-in for a DataFrame already collected to pandas, for
    ``oracle_harness.compare`` (which only calls ``toPandas``)."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):  # noqa: N802 — mirrors the DataFrame method
        return self._pdf


def digest(pdf) -> str:
    from tests.oracle_harness import canonicalize

    return hashlib.sha256(canonicalize(pdf).to_csv(index=False).encode()).hexdigest()


@dataclass
class Op:
    name: str
    family: str
    plan_s: float = 0.0
    exec_s: float = 0.0
    t0: float = 0.0  # epoch bounds, for event-log attribution
    t1: float = 0.0
    ok: bool = True
    error: str = ""
    inputs: tuple = ()  # files the result read (traced runs only)

    @property
    def latency_s(self) -> float:
        return self.plan_s + self.exec_s


def run_query(ctx: Ctx, spark, spec, lake: str, family: str) -> tuple[Op, object]:
    """One timed execution: the registry callable (plan build, store and
    layout discovery, eager jobs) then full materialisation to pandas."""
    op = Op(spec.name, family)
    pdf = None
    op.t0 = time.time()
    t0 = time.perf_counter()
    try:
        with ctx.tracer.span(spec.name, "plans", family=family):
            with ctx.tracer.span("plan", "plans"):
                df = spec.spark_fn(spark, lake)
            t1 = time.perf_counter()
            with ctx.tracer.span("exec", "spark"):
                pdf = df.toPandas()
        t2 = time.perf_counter()
        op.t1 = time.time()
        op.plan_s, op.exec_s = t1 - t0, t2 - t1
        if ctx.trace:
            op.inputs = tuple(df.inputFiles())
    except Exception as e:  # noqa: BLE001 — every failure is counted, none stops the loop
        op.plan_s = time.perf_counter() - t0
        op.t1 = time.time()
        op.ok, op.error = False, f"{type(e).__name__}: {str(e)[:200]}"
    return op, pdf


def check_query(ctx: Ctx, spark, spec, lake: str, pdf, oracle_cache: dict, digests: dict) -> str:
    """Correctness gate, run outside every timed interval. Returns '' when
    the answer is right, else the problem.

    Oracle-backed queries are compared with DuckDB over the same files.
    The regression-pin queries carry oracles pinned to one fixed lake, so
    here every execution must instead give the digest of a repeat run at
    its first check."""
    from tests.oracle_harness import compare, run_oracle

    if ctx.inject_wrong:  # corrupt the first answer of the run only
        ctx.inject_wrong = False
        pdf = pdf.iloc[:-1] if len(pdf) else pdf.assign(_wrong=1)
    if "regression-pin" in spec.tags:
        if spec.name not in digests:  # first execution: run it again to have a repeat
            digests[spec.name] = digest(spec.spark_fn(spark, lake).toPandas())
        return "" if digests[spec.name] == digest(pdf) else "result digest differs across repeats"
    if spec.name not in oracle_cache:
        oracle_cache[spec.name] = run_oracle(spec.oracle, lake)
    problems = compare(_Result(pdf), oracle_cache[spec.name])
    return "; ".join(problems)


def passes_for(seconds: float, seconds_per_pass: float) -> int:
    """Whole passes a run makes: a fixed function of ``--seconds``, so the
    amount of work never depends on how fast the program ran."""
    return max(1, round(seconds / seconds_per_pass))


def closed_loop(ctx: Ctx, spark, seq: list, lake: str, passes: int) -> list[Op]:
    """One client: the next query starts when the previous one finished.
    Makes ``passes`` whole passes over ``seq`` ((family, spec) pairs).
    Every answer is checked after its timing ends."""
    ops: list[Op] = []
    oracle_cache: dict = {}
    digests: dict = {}
    for _ in range(passes):
        for family, spec in seq:
            op, pdf = run_query(ctx, spark, spec, lake, family)
            if op.ok:
                with ctx.tracer.span("check", "bench"):
                    try:
                        problem = check_query(ctx, spark, spec, lake, pdf, oracle_cache, digests)
                    except Exception as e:  # noqa: BLE001
                        problem = f"check raised {type(e).__name__}: {str(e)[:200]}"
                if problem:
                    op.ok, op.error = False, problem
            ops.append(op)
    return ops


def latency_stats(ops: list[Op]) -> dict[str, float]:
    """Median and p90 over every attempted op. A failed op counts with the
    slowest latency of the run, so a failure never lowers a time."""
    good = [o.latency_s for o in ops if o.ok]
    worst = max([o.latency_s for o in ops] + [0.0])
    lat = good + [worst] * (len(ops) - len(good))
    return {
        "p50": percentile(lat, 50),
        "p90": percentile(lat, 90),
        "n": len(lat),
        "above_p90": sum(1 for x in lat if x > percentile(lat, 90)),
        "per_s": len(good) / sum(o.latency_s for o in ops),
    }


def family_medians(ops: list[Op], families: list[str]) -> dict[str, float]:
    out = {}
    for f in families:
        fo = [o for o in ops if o.family == f and o.ok]
        out[f"plans.{f}.plan_s"] = statistics.median([o.plan_s for o in fo]) if fo else 0.0
        out[f"plans.{f}.exec_s"] = statistics.median([o.exec_s for o in fo]) if fo else 0.0
    return out
