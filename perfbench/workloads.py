"""The benchmark's workloads and the run loop that measures them.

A workload is a fixed list of operations drawn from one or more parts.
A run sets up (inputs, Spark session, one untimed and output-checked call
of every operation), then times whole passes over the operations, as many
as take the requested seconds on a nominal host, at least three. One
client sends one operation at a time (closed loop). An operation's
latency is its best time over the timed passes: on a shared host,
interference and a JIT that is still warming only ever add time, so the
best of several passes varies far less from run to run than their median.

- ``batch``: short scan/join/aggregate/window/text registry queries
  through the noop sink, plus the reference's word-count job through
  ``compat.mapreduce`` over a seeded Zipf corpus, written with
  ``write_sorted_scalable`` and read back. No checkpoint and no trained
  artifact: it is the bypass workload for those layers.
- ``pipelines``: a graph registry query whose build runs eager checkpoint
  jobs before wide shuffles, plus a trained-artifact family trained by
  its first call on a fresh copy of its source tables and then served
  from the same copy. No Python workers: it is the bypass workload for
  that layer.

The seed generates every input: the engine tables and the maple/juice
corpus. The order of operations is the same in every pass and every run.
"""

from __future__ import annotations

import collections
import contextlib
import os
import shutil
import statistics
import sys
import time
import traceback

import datagen
import oracle
import tracing

MB = tracing.MB

SCALES = {
    # scale: (table scale factor, corpus lines)
    "full": (0.004, 30_000),
    "toy": (0.001, 5_000),
}

RELATIONAL = (
    "q1_pricing_summary", "q3_shipping_priority", "q18_large_orders",
    "window_rank_orders", "grep_global_count",
)
PAIR_PIPELINES = ("triangle_count",)
ARTIFACT_FAMILIES = ("hybrid_search_rrf",)

# A run times a fixed number of passes, as many as take the requested
# seconds at these nominal pass times (4-core host, once warm), so that
# every run stops at the same point of the JIT's warm-up; at least three,
# as the first few are still slow.
NOMINAL_PASS_S = {"batch": 3.7, "pipelines": 3.3}
MIN_PASSES = 3


class Context:
    """What one run shares between its parts and the run loop."""

    def __init__(self, work: str, seed: int, scale: str, tracer):
        self.work = work
        self.seed = seed
        self.sf, self.lines = SCALES[scale]
        self.tracer = tracer
        self.tables = os.path.join(work, "tables")
        self.spark = None
        self.pass_id = "warm"
        self.resident_mb = 0.0
        self.setup_counts: collections.Counter = collections.Counter()

    def write_tables(self) -> None:
        if not os.path.isdir(self.tables):
            datagen.write_tables(self.tables, self.seed, self.sf)

    @contextlib.contextmanager
    def phase(self, name: str, op: str):
        """Span one driver phase of an operation (traced runs only); its
        Spark jobs are grouped under the phase for the status store."""
        if self.tracer is None:
            yield
            return
        self.spark.sparkContext.setJobGroup(f"pb|{name}|{self.pass_id}|{op}", op)
        c0 = time.process_time()
        with self.tracer.span(name):
            yield
        self.tracer.counts[f"{name}.driver_cpu_s"] += time.process_time() - c0
        if name == "build":
            t0 = time.perf_counter()
            self.resident_mb = max(self.resident_mb, tracing.resident_storage_mb(self.spark))
            self.tracer.overhead_s += time.perf_counter() - t0


class RegistryQueries:
    """Registry queries over the generated tables, through the noop sink.
    The untimed warm-up call collects each output and compares it with
    the query's DuckDB oracle."""

    def __init__(self, ctx: Context, names: tuple[str, ...]):
        self.ctx = ctx
        self.names = names
        self.input_bytes: dict[str, int] = {}

    def ops(self) -> list[str]:
        return list(self.names)

    def prepare(self) -> None:
        from maplejuice_spark.registry import oracle_sql

        self.ctx.write_tables()
        every = oracle_sql()
        sqls = {n: every[n] for n in self.names}
        self.expected = oracle.expected_digests(self.ctx.tables, sqls)
        for n, sql in sqls.items():
            self.input_bytes[n] = sum(
                os.path.getsize(os.path.join(self.ctx.tables, f"{t}.parquet"))
                for t in oracle.tables_read(sql)
            )

    def start(self) -> None:
        from maplejuice_spark.registry import queries

        self.queries = queries()

    def op_input_bytes(self, op: str) -> int:
        return self.input_bytes[op]

    def warm(self, op: str) -> bool:
        return self._checked(op, self.ctx.tables)

    def run(self, op: str) -> None:
        self._noop(op, self.ctx.tables)

    def check(self, op: str) -> bool:
        return True

    def _checked(self, name: str, sf_dir: str) -> bool:
        got = self.queries[name](self.ctx.spark, sf_dir).toPandas()
        return oracle.digest(got) == self.expected[name]

    def _noop(self, name: str, sf_dir: str) -> None:
        ctx = self.ctx
        with ctx.phase("build", name):
            df = self.queries[name](ctx.spark, sf_dir)
        if ctx.tracer is not None:
            with ctx.phase("plan", name):
                df._jdf.queryExecution().executedPlan()
        with ctx.phase("exec", name):
            df.write.format("noop").mode("overwrite").save()


class ArtifactFamilies(RegistryQueries):
    """Each family is trained by its checked first call, on a copy of the
    source tables under a new path: the path misses the session memos,
    the catalog memo and the persisted artifact. The timed calls serve it
    from the same path. Training runs once per run because one cold call
    costs as much as a whole timed pass of the workload."""

    def __init__(self, ctx: Context, names: tuple[str, ...]):
        super().__init__(ctx, names)
        self.sources = os.path.join(ctx.work, "sources")
        self.train_s: dict[str, float] = {}
        self.artifact_root = os.environ["MJ_ARTIFACT_ROOT"]

    def ops(self) -> list[str]:
        return [f"{n}.serve" for n in self.names]

    def prepare(self) -> None:
        super().prepare()
        shutil.copytree(self.ctx.tables, self.sources)

    def op_input_bytes(self, op: str) -> int:
        return self.input_bytes[op.rsplit(".", 1)[0]]

    def warm(self, op: str) -> bool:
        name = op.rsplit(".", 1)[0]
        t0 = time.perf_counter()
        ok = self._checked(name, self.sources)
        self.train_s[name] = time.perf_counter() - t0
        return ok

    def run(self, op: str) -> None:
        self._noop(op.rsplit(".", 1)[0], self.sources)


class MapReduceJobs:
    """The reference's word-count job through the compat map/reduce layer;
    every call's output is read back and checked against the counts kept
    while the corpus was generated."""

    JOBS = ("mr.wordcount",)

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.paths = {"mr.wordcount": os.path.join(ctx.work, "corpus.txt")}
        self.out = os.path.join(ctx.work, "out")
        self.sink_bytes = 0
        self.sink_files = 0

    def ops(self) -> list[str]:
        return list(self.JOBS)

    def prepare(self) -> None:
        os.makedirs(self.ctx.work, exist_ok=True)
        self.words = datagen.write_corpus(self.paths["mr.wordcount"], self.ctx.seed, self.ctx.lines)

    def start(self) -> None:
        from maplejuice_spark.compat import mapreduce

        self.mr = mapreduce

    def op_input_bytes(self, op: str) -> int:
        return os.path.getsize(self.paths[op])

    def run(self, op: str) -> None:
        mr, ctx = self.mr, self.ctx
        dest = os.path.join(self.out, op)
        with ctx.phase("build", op):
            df = mr.run_mapreduce(ctx.spark, self.paths[op], mr.wordcount_maple, mr.wordcount_juice)
        with ctx.phase("exec", op):
            mr.write_sorted_scalable(df, dest)
        if ctx.tracer is not None:
            size, files = tracing.tree_size(dest)
            self.sink_bytes += size
            self.sink_files += files

    def warm(self, op: str) -> bool:
        self.run(op)
        return self.check(op)

    def check(self, op: str) -> bool:
        """Keys globally sorted across the part files, and every value
        equal to what the generator counted."""
        dest = os.path.join(self.out, op)
        keys, got = [], {}
        for f in sorted(os.listdir(dest)):
            if not f.startswith("part-"):
                continue
            with open(os.path.join(dest, f)) as fh:
                for line in fh:
                    key, _, value = line.rstrip("\n").partition(" ")
                    keys.append(key)
                    got[key] = value
        if keys != sorted(keys) or len(keys) != len(got):
            return False
        return got == {w: str(n) for w, n in self.words.items()}


WORKLOADS = {
    "batch": lambda ctx: [RegistryQueries(ctx, RELATIONAL), MapReduceJobs(ctx)],
    "pipelines": lambda ctx: [
        RegistryQueries(ctx, PAIR_PIPELINES),
        ArtifactFamilies(ctx, ARTIFACT_FAMILIES),
    ],
}


def _release_checkpoints(spark, tracer) -> None:
    """Free dead checkpoint blocks, as long-lived sessions do; a program
    without the function has nothing to call."""
    from maplejuice_spark import functions

    release = getattr(functions, "release_checkpoints", None)
    if release is not None:
        release(spark)
    else:
        name = "maplejuice_spark.functions.release_checkpoints"
        if name not in tracer.absent:
            tracer.absent.append(name)


def _attempt(fn, op: str) -> bool:
    try:
        return fn(op) is not False
    except Exception:
        print(f"perfbench: operation {op} failed:", file=sys.stderr)
        traceback.print_exc()
        return False


def _p90(xs: list[float]) -> float:
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)


def _pass(ctx, parts, ops, lat) -> int:
    """One pass over the operations, each timed into ``lat`` and
    output-checked; returns the number that failed. A traced run then
    frees the pass's dead checkpoint blocks, as long-lived sessions do,
    to time the release."""
    failed = 0
    for p, op in ops:
        t0 = time.perf_counter()
        ok = _attempt(p.run, op)
        lat[op].append(time.perf_counter() - t0)
        failed += not (ok and _attempt(p.check, op))
    if ctx.tracer is not None:
        _release_checkpoints(ctx.spark, ctx.tracer)
    return failed


def run(workload: str, seed: int, seconds: float, traced: bool, scale: str,
        work: str, t_start: float) -> dict:
    """Run one workload; return the result object the CLI prints."""
    tracer = tracing.Tracer() if traced else None
    ctx = Context(work, seed, scale, tracer)
    parts = WORKLOADS[workload](ctx)
    ops = [(p, op) for p in parts for op in p.ops()]
    t0 = time.perf_counter()
    for p in parts:
        p.prepare()
    inputs_s = time.perf_counter() - t0

    from maplejuice_spark.session import get_spark

    t0 = time.perf_counter()
    ctx.spark = spark = get_spark(
        app_name=f"perfbench-{workload}",
        # one core stays free for the client, the driver JVM's own threads
        # and the Python workers, so tasks do not queue behind them
        cpus=max(1, len(os.sched_getaffinity(0)) - 1),
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    session_s = time.perf_counter() - t0
    for p in parts:
        p.start()
    if tracer is not None:
        tracer.install({"artifacts.load_or_build": _artifact_hook(tracer)})

    attempted = failed = 0
    for p, op in ops:
        attempted += 1
        t0 = time.perf_counter()
        failed += not _attempt(p.warm, op)
        _log(f"warm-up {op} {time.perf_counter() - t0:.3f} s")
    setup_s = time.perf_counter() - t_start
    _log(f"setup {setup_s:.2f} s (inputs {inputs_s:.2f} s, session {session_s:.2f} s)")

    if tracer is not None:
        # artifacts are trained in set-up: keep what those calls built
        ctx.setup_counts = tracer.counts.copy()
        tracer.reset()
    lat: dict[str, list[float]] = collections.defaultdict(list)
    passes = max(MIN_PASSES, round(seconds / NOMINAL_PASS_S[workload]))
    t_measure = time.perf_counter()
    for i in range(passes):
        ctx.pass_id = str(i)
        failed += _pass(ctx, parts, ops, lat)
        attempted += len(ops)
    measured_s = time.perf_counter() - t_measure
    _log(f"measured {passes} passes in {measured_s:.2f} s")
    for i in range(passes):
        _log(f"  pass {i} " + f"{sum(v[i] for v in lat.values()):.3f}")
    for op, v in lat.items():
        _log(f"  {op} " + " ".join(f"{x:.3f}" for x in v))

    best = {op: min(v) for op, v in lat.items()}
    wall_s = sum(best.values())
    per_op = sorted(best.values())
    input_mb = sum(p.op_input_bytes(op) for p, op in ops) / MB
    if tracer is None:
        metrics = {"setup_s": (setup_s, "s"), "wall_s": (wall_s, "s")}
    else:
        tracer.uninstall()
        metrics = {
            "query_p50_s": (statistics.median(per_op), "s"),
            "query_p90_s": (_p90(per_op), "s"),
            "input_mb_per_s": (input_mb / wall_s, "MB/s"),
            **_layer_metrics(ctx, parts, tracer, session_s, passes, measured_s, best, lat),
        }
        spans = os.path.join(os.path.dirname(work), f"spans-{workload}-{seed}.jsonl")
        tracer.dump(spans)
        _log(f"spans written to {spans}")
        for name in tracer.absent:
            _log(f"absent: {name}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _artifact_hook(tracer):
    """Classify each ``load_or_build`` call from outside: a call that adds
    a committed artifact (``_SUCCESS``) under the root built it."""
    root = os.environ["MJ_ARTIFACT_ROOT"]

    def state():
        size = done = 0
        for dirpath, _dirs, names in os.walk(root):
            for n in names:
                size += os.path.getsize(os.path.join(dirpath, n))
                done += n == "_SUCCESS"
        return size, done

    def before():
        size0, done0 = state()

        def after():
            size, done = state()
            if done > done0:
                tracer.counts["artifacts.builds"] += 1
                tracer.counts["artifacts.written_bytes"] += size - size0
            else:
                tracer.counts["artifacts.reads"] += 1

        return after

    return before


def _timed_phase(job_group: str) -> str | None:
    """The phase of a job started by a timed operation (see Context.phase)."""
    tag, phase, pass_id, _op = (job_group.split("|", 3) + ["", "", ""])[:4]
    return phase if tag == "pb" and pass_id != "warm" else None


def _layer_metrics(ctx, parts, tracer, session_s, passes, measured_s, best, lat) -> dict:
    """Per-layer figures of the timed passes, per pass. The exec.* stage
    figures cover every Spark job a timed operation started, whether in
    its build (eager checkpoints) or in its execution."""
    spark = ctx.spark
    t0 = time.perf_counter()
    by_phase = tracing.stage_totals(spark, _timed_phase)
    tracer.overhead_s += time.perf_counter() - t0
    build = by_phase.get("build", tracing.StageTotals())
    tot = tracing.StageTotals()
    for t in by_phase.values():
        for f in vars(tot):
            setattr(tot, f, getattr(tot, f) + getattr(t, f))
    n = passes
    cores = spark.sparkContext.defaultParallelism
    op_time = sum(x for v in lat.values() for x in v)
    _, b_s, b_self = tracer.totals("build")
    _, plan_s, _ = tracer.totals("plan")
    _, exec_s, _ = tracer.totals("exec")
    cat_calls, cat_s, _ = tracer.totals("catalog.load_table")
    cp_calls, cp_s, _ = tracer.totals("checkpoint")
    _, rel_s, _ = tracer.totals("checkpoint.release")
    art_calls, art_s, _ = tracer.totals("artifacts.load_or_build")
    c = tracer.counts
    sink_bytes = sum(p.sink_bytes for p in parts if isinstance(p, MapReduceJobs))
    sink_files = sum(p.sink_files for p in parts if isinstance(p, MapReduceJobs))
    art = [p for p in parts if isinstance(p, ArtifactFamilies)]
    train_s = sum(v for p in art for v in p.train_s.values())
    serve_s = sum(v for k, v in best.items() if k.endswith(".serve"))
    art_ratio = 0.0
    if art:
        source_bytes = sum(art[0].input_bytes.values())
        art_ratio = tracing.tree_size(art[0].artifact_root)[0] / source_bytes
    py_rows = tot.python_scan_rows
    return {
        "session.start_s": (session_s, "s"),
        "jvm.peak_rss_mb": (tracing.jvm_peak_rss_mb(spark), "MB"),
        "catalog.load_table.calls": (cat_calls / n, "count"),
        "catalog.load_table.s": (cat_s / n, "s"),
        "build.s": (b_s / n, "s"),
        "build.self_s": (b_self / n, "s"),
        "build.driver_cpu_s": (c["build.driver_cpu_s"] / n, "s"),
        "build.jobs": (build.jobs / n, "count"),
        "build.task_run_s": (build.task_run_s / n, "s"),
        "checkpoint.calls": (cp_calls / n, "count"),
        "checkpoint.s": (cp_s / n, "s"),
        "checkpoint.resident_mb": (ctx.resident_mb, "MB"),
        "checkpoint.release_s": (rel_s / n, "s"),
        "plan.s": (plan_s / n, "s"),
        "exec.s": (exec_s / n, "s"),
        "exec.jobs": (tot.jobs / n, "count"),
        "exec.stages": (tot.stages / n, "count"),
        "exec.tasks": (tot.tasks / n, "count"),
        "exec.input_rows": (tot.input_rows / n, "rows"),
        "exec.input_mb": (tot.input_bytes / MB / n, "MB"),
        "exec.shuffle_read_mb": (tot.shuffle_read_bytes / MB / n, "MB"),
        "exec.shuffle_write_mb": (tot.shuffle_write_bytes / MB / n, "MB"),
        "exec.spill_mb": (tot.spill_bytes / MB / n, "MB"),
        "exec.task_run_s": (tot.task_run_s / n, "s"),
        "exec.task_cpu_s": (tot.task_cpu_s / n, "s"),
        "exec.gc_s": (tot.gc_s / n, "s"),
        "exec.busy_frac": (tot.task_run_s / (op_time * cores), "ratio"),
        "exec.python_run_s": (tot.python_run_s / n, "s"),
        "mapreduce.kv_per_line": (
            tot.python_scan_shuffle_records / py_rows if py_rows else 0.0, "ratio"
        ),
        "sink.output_mb": (sink_bytes / MB / n, "MB"),
        "sink.files": (sink_files / n, "count"),
        "artifacts.load_or_build.calls": (art_calls / n, "count"),
        "artifacts.load_or_build.s": (art_s / n, "s"),
        # built by the training calls in set-up, per run
        "artifacts.builds": (ctx.setup_counts["artifacts.builds"], "count"),
        "artifacts.reads": (c["artifacts.reads"] / n, "count"),
        "artifacts.written_mb": (ctx.setup_counts["artifacts.written_bytes"] / MB, "MB"),
        "artifacts.train_s": (train_s, "s"),
        "artifacts.serve_s": (serve_s, "s"),
        "artifacts.bytes_per_source_byte": (art_ratio, "ratio"),
        # the separate plan call is work the untraced run does not do
        "trace_overhead_frac": ((tracer.overhead_s + plan_s) / measured_s, "ratio"),
    }
