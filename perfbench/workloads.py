"""The benchmark's workloads: set-up, the measured closed loop, the gate.

Both workloads are a closed loop with one client: the next operation is
issued only after the previous one returned (a sync period after the
previous period committed, a pass over the query mix after the previous
pass finished). Untraced operations give the end-to-end metrics. In a
traced run every second operation runs with the tracer installed and
gives the per-layer metrics; the untraced operations between them give
the tracing overhead ratio.
"""

from __future__ import annotations

import gc
import os
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field
from datetime import timedelta

import gates
import spec
import tables
from tracer import SparkCounters, Tracer, exclusive, union_s


@dataclass
class Context:
    spark: object
    work: str
    seed: int
    seconds: float
    trace: bool
    started: float  # perf_counter() at process start
    counters: SparkCounters = field(init=False)
    jvm_pid: int = field(init=False)

    def __post_init__(self) -> None:
        self.counters = SparkCounters(self.spark)
        self.jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


@dataclass
class Outcome:
    setup_s: float
    correct: bool = True
    attempted: int = 0
    failed: int = 0
    live_mb: float = 0.0  # JVM live memory after the measured loop
    walls: list[float] = field(default_factory=list)  # untraced operations
    cpus: list[float] = field(default_factory=list)  # their engine CPU seconds
    traced_walls: list[float] = field(default_factory=list)
    layers: list[dict[str, float]] = field(default_factory=list)  # per traced operation
    spans: list[list[dict]] = field(default_factory=list)  # per traced operation


def du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def full_gc(ctx: Context) -> None:
    """Full GC of the Python driver, then of the JVM."""
    gc.collect()
    ctx.spark.sparkContext._jvm.System.gc()


def jvm_live_mb(ctx: Context) -> float:
    """The JVM's live memory: heap in use after a full GC plus non-heap in
    use (metaspace, code cache). In local mode the executors run inside
    the driver JVM, so this is the engine's retained JVM footprint. The
    first GC lets Spark's cleaner thread drop the shuffles and broadcasts
    no longer referenced; the second frees what it dropped."""
    full_gc(ctx)
    time.sleep(0.5)
    full_gc(ctx)
    mem = ctx.spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = mem.getHeapMemoryUsage().getUsed() + mem.getNonHeapMemoryUsage().getUsed()
    return used / 2**20


def _proc_tree_cpu(root: int) -> float:
    """User + system CPU seconds of ``root`` and every live descendant,
    each with the time of the children it has reaped."""
    children: dict[int, list[int]] = defaultdict(list)
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        pid = int(entry)
        children[int(fields[1])].append(pid)
        ticks[pid] = sum(int(v) for v in fields[11:15])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def engine_cpu_s(ctx: Context) -> float:
    """CPU seconds used so far by the engine: the driver JVM (in local mode
    the executors run inside it), its Python workers, and this process."""
    t = os.times()
    return _proc_tree_cpu(ctx.jvm_pid) + t.user + t.system


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# --- tracing ----------------------------------------------------------------


def install(ctx: Context) -> Tracer:
    """A tracer patched into every layer boundary the per-layer metrics name."""
    from pantasia_db_sync_spark.operators import surrogate
    from pantasia_db_sync_spark.pipeline.store import TableStore
    from pantasia_db_sync_spark.pipeline.sync import SyncEngine
    from pantasia_db_sync_spark.sources import catalog

    tr = Tracer(ctx.counters)
    for method in ("src", "extract", "cardano_tip", "pantasia_tip", "period_list",
                   "process_period"):
        tr.patch_method(SyncEngine, method, f"sync.{method}")
    tr.patch_function(surrogate.with_dense_ids, "surrogate.with_dense_ids")
    tr.patch_function(surrogate.with_dense_ids_grouped, "surrogate.with_dense_ids_grouped")
    tr.patch_function(catalog.load_table, "sources.load_table")

    def staged(span, args, kwargs):
        span.extra["table"] = args[1] if len(args) > 1 else kwargs["table"]

    def appended(span, args, kwargs):
        store, table = args[0], args[1] if len(args) > 1 else kwargs["table"]
        commit_id = args[3] if len(args) > 3 else kwargs["commit_id"]
        span.extra["bytes"] = du(store.append_dir(table, commit_id))

    for method in ("read", "repoint", "commit_append"):
        tr.patch_method(TableStore, method, f"store.{method}")
    tr.patch_method(TableStore, "stage", "store.stage", staged)
    tr.patch_method(TableStore, "append", "store.append", appended)
    return tr


def layer_metrics(tr: Tracer, op_idx: int, records: int) -> dict[str, float]:
    """Per-layer metrics of one traced operation, from its spans. Times are
    busy times (union of a layer's spans), counts are per operation."""
    spans = tr.spans
    alone = exclusive(spans)
    by = defaultdict(list)
    for i, s in enumerate(spans):
        by[s.name].append(i)

    def busy(name: str) -> float:
        return union_s([(spans[i].start, spans[i].end) for i in by[name]])

    def jobs(name: str) -> int:
        return sum(spans[i].job1 - spans[i].job0 for i in by[name] if alone[i])

    def stage_sum(name: str) -> dict[str, float]:
        tot: dict[str, float] = defaultdict(int)
        for i in by[name]:
            for k, v in tr.counters.stage_totals(spans[i].stage0, spans[i].stage1).items():
                tot[k] += v
        return tot

    def self_s(name: str) -> float:
        total = 0.0
        for i in by[name]:
            p = spans[i]
            kids = [(max(c.start, p.start), min(c.end, p.end)) for c in spans if c.parent == i]
            total += (p.end - p.start) - union_s(kids)
        return total

    m: dict[str, float] = {}
    for name in ("sync.src", "surrogate.with_dense_ids", "sources.load_table"):
        m[f"{name}.calls"] = len(by[name])
    for name in ("sync.src", "sync.extract", "sync.cardano_tip", "sync.pantasia_tip",
                 "sync.period_list", "sync.process_period", "surrogate.with_dense_ids",
                 "surrogate.with_dense_ids_grouped", "store.stage", "store.read",
                 "store.repoint", "store.commit_append", "store.append",
                 "sources.load_table"):
        m[f"{name}.s"] = busy(name)
    for name in ("sync.src", "sync.process_period", "surrogate.with_dense_ids",
                 "surrogate.with_dense_ids_grouped", "sources.load_table"):
        m[f"{name}.jobs"] = jobs(name)
    period = stage_sum("sync.process_period")
    m["sync.process_period.self_s"] = self_s("sync.process_period")
    m["sync.process_period.stages"] = period["stages"]
    m["sync.process_period.tasks"] = period["tasks"]
    appended = sum(spans[i].extra.get("bytes", 0) for i in by["store.append"])
    m["store.bytes_written_per_record"] = appended / max(records, 1)
    m["store.dim_rows_written_per_new_row"] = 0.0
    m["store.stored_bytes_per_record"] = 0.0
    m["plans.build_s"] = busy("plans.build")
    m["plans.build_jobs"] = jobs("plans.build")
    m["plans.exec_s"] = busy("plans.exec")
    m["plans.exec_jobs"] = jobs("plans.exec")
    for q in spec.MIX:
        m[f"plans.{q}.s"] = busy(f"plans.{q}")
    op = spans[op_idx]
    m["spark.jobs"] = op.job1 - op.job0
    m.update({f"spark.{k}": v for k, v in stage_sum("op").items()})
    return m


def span_record(sp) -> dict:
    return {"name": sp.name, "start": sp.start, "end": sp.end, "parent": sp.parent,
            "thread": sp.thread, "jobs": sp.job1 - sp.job0}


def run_op(ctx: Context, out: Outcome, traced: bool, op):
    """Run and time one operation. ``op(tracer_or_None)`` returns
    ``(result, records)``; a traced operation adds its layer metrics."""
    full_gc(ctx)  # start each operation from a comparable heap, untimed
    tr = install(ctx) if traced else None
    op_idx = tr.open("op") if traced else 0
    cpu = engine_cpu_s(ctx)
    t = time.perf_counter()
    try:
        result, records = op(tr)
    finally:
        wall = time.perf_counter() - t
        cpu = engine_cpu_s(ctx) - cpu
        if traced:
            tr.close(op_idx)
            tr.uninstall()
    log(f"  op {len(out.walls) + len(out.traced_walls) + 1}: {wall:.3f}s, cpu {cpu:.2f}s"
        f"{' traced' if traced else ''}, {records} records")
    if traced:
        out.traced_walls.append(wall)
        out.layers.append(layer_metrics(tr, op_idx, records))
        out.spans.append([span_record(sp) for sp in tr.spans])
    else:
        out.walls.append(wall)
        out.cpus.append(cpu)
    return result, tr


def keep_going(ctx: Context, start: float, n_ops: int, min_ops: int) -> bool:
    """Measure ``min_ops`` operations (at least two in a traced run, one
    traced and one not), and more while ``--seconds`` have not elapsed."""
    if ctx.trace:
        min_ops = max(min_ops, 2)
    return n_ops < min_ops or time.perf_counter() - start < ctx.seconds


# --- sync_incremental -------------------------------------------------------


def build_template(ctx: Context, src: str, store_dir: str):
    """Seeded fixtures plus a store backfilled in one period up to
    ``SYNC_PERIODS_LEFT`` periods before the source tip."""
    from pantasia_db_sync_spark.pipeline import fixtures, golden
    from pantasia_db_sync_spark.pipeline.fixtures import GENESIS
    from pantasia_db_sync_spark.pipeline.store import TableStore
    from pantasia_db_sync_spark.pipeline.sync import SyncEngine

    fixtures.generate(src, scale=spec.SYNC_SCALE, seed=ctx.seed)
    source_tip = golden.cardano_tip(src)
    period = timedelta(minutes=spec.PERIOD_MINUTES)
    backfill = int((source_tip - GENESIS) / period) - spec.SYNC_PERIODS_LEFT
    store = TableStore(store_dir)
    loaded = SyncEngine(
        ctx.spark, src, store, time_interval_minutes=backfill * spec.PERIOD_MINUTES
    ).run_sync(max_periods=1)[0]["records"]
    return store, source_tip, loaded


def store_facts(tr: Tracer, store, stats, size0: int, store_dir: str) -> dict[str, float]:
    """Store-layer ratios of one traced period: dim rows re-staged per new
    dim row, and bytes the store grew by per synced record."""
    from pantasia_db_sync_spark.pipeline.sync import DIM_TABLES

    new = sum(stats[0][k] for k in ("new_wallets", "new_collections", "new_assets"))
    staged = {s.extra["table"] for s in tr.spans if s.name == "store.stage"}
    rows = sum(store.dim_stats(t)["rows"] for t in staged if t in DIM_TABLES)
    return {
        "store.dim_rows_written_per_new_row": rows / max(new, 1),
        "store.stored_bytes_per_record": (du(store_dir) - size0) / max(stats[0]["records"], 1),
    }


def sync_incremental(ctx: Context) -> Outcome:
    from pantasia_db_sync_spark.pipeline.fixtures import GENESIS
    from pantasia_db_sync_spark.pipeline.sync import SyncEngine

    src = os.path.join(ctx.work, "src")
    store_dir = os.path.join(ctx.work, "store")
    store, source_tip, loaded = build_template(ctx, src, store_dir)
    engine = SyncEngine(ctx.spark, src, store, time_interval_minutes=spec.PERIOD_MINUTES)
    period = timedelta(minutes=spec.PERIOD_MINUTES)
    for _ in range(spec.SYNC_WARMUP_PERIODS):
        lo = engine.pantasia_tip()
        engine.run_sync(max_periods=1)
        hi = min(lo + period, source_tip)
    out = Outcome(setup_s=time.perf_counter() - ctx.started)
    log(f"sync_incremental: template holds {loaded} records, setup {out.setup_s:.2f}s")

    def one_period(tr):
        stats = engine.run_sync(max_periods=1)
        return stats, sum(s["records"] for s in stats)

    start = time.perf_counter()
    while keep_going(ctx, start, out.attempted, spec.SYNC_OPS):
        lo = engine.pantasia_tip()
        if lo >= source_tip:
            break
        traced = ctx.trace and out.attempted % 2 == 1
        size0 = du(store_dir) if traced else 0
        out.attempted += 1
        try:
            stats, tr = run_op(ctx, out, traced, one_period)
        except Exception:
            traceback.print_exc()
            out.failed += 1
            out.correct = False
            break
        if tr is not None:
            out.layers[-1].update(store_facts(tr, store, stats, size0, store_dir))
        hi = min(lo + period, source_tip)
    out.live_mb = jvm_live_mb(ctx)

    if out.correct:
        bad = gates.sync_mismatches(ctx.spark, store, src, GENESIS, hi)
        if bad:
            log("sync gate failed: " + "; ".join(bad))
            out.correct = False
    if not out.correct:
        out.failed = out.attempted
    return out


# --- analytics_mix ----------------------------------------------------------


def oracle_pass(ctx: Context, data: str, order: list[str]) -> tuple[dict[str, str], list[str]]:
    """Run each query once, untimed, against its DuckDB oracle. Returns the
    queries whose output is wrong, with the reason, and the tables the
    pass's plans loaded through ``load_table`` (one entry per call)."""
    from pantasia_db_sync_spark.plans import ORACLES, QUERIES
    from pantasia_db_sync_spark.sources import catalog

    def loaded(span, args, kwargs):
        span.extra["table"] = args[2] if len(args) > 2 else kwargs["name"]

    tr = Tracer(ctx.counters)
    tr.patch_function(catalog.load_table, "sources.load_table", loaded)
    con = gates.duck(data)
    wrong: dict[str, str] = {}
    try:
        for q in order:
            try:
                df = QUERIES[q](ctx.spark, data)
                why = gates.oracle_mismatch(
                    con, ORACLES[q], list(df.columns), [tuple(r) for r in df.collect()]
                )
            except Exception:
                why = traceback.format_exc()
            if why is not None:
                wrong[q] = why
                log(f"analytics gate failed: {q}: {why}")
    finally:
        con.close()
        tr.uninstall()
    return wrong, [s.extra["table"] for s in tr.spans]


def analytics_mix(ctx: Context) -> Outcome:
    from pantasia_db_sync_spark.plans import QUERIES

    data = os.path.join(ctx.work, "tables")
    counts = tables.generate(data, spec.ANALYTICS_SCALE, ctx.seed)
    order = list(spec.MIX)
    wrong, loaded = oracle_pass(ctx, data, order)
    # every pass builds the same plans, so it loads the same tables
    input_rows = sum(counts[t] for t in loaded)
    # untimed warm-up of the noop-sink path the timed passes take: passes
    # keep getting faster for a while after the first (JIT), and without
    # it the measured passes straddle that ramp
    for _ in range(spec.ANALYTICS_WARMUP_PASSES):
        for q in order:
            if q not in wrong:
                QUERIES[q](ctx.spark, data).write.format("noop").mode("overwrite").save()
    out = Outcome(setup_s=time.perf_counter() - ctx.started, correct=not wrong)
    log(f"analytics_mix: {len(order)} queries over {input_rows} input rows, "
        f"setup {out.setup_s:.2f}s")

    def run_query(q: str, tr: Tracer | None) -> None:
        if tr is None:
            QUERIES[q](ctx.spark, data).write.format("noop").mode("overwrite").save()
            return
        with tr.span(f"plans.{q}"):
            with tr.span("plans.build"):
                df = QUERIES[q](ctx.spark, data)
            with tr.span("plans.exec"):
                df.write.format("noop").mode("overwrite").save()

    def one_pass(tr):
        for q in order:
            out.attempted += 1
            try:
                run_query(q, tr)
            except Exception:
                traceback.print_exc()
                out.failed += 1
                continue
            if q in wrong:
                out.failed += 1
        return None, input_rows

    start = time.perf_counter()
    n = 0
    while keep_going(ctx, start, n, spec.ANALYTICS_PASSES):
        run_op(ctx, out, ctx.trace and n % 2 == 1, one_pass)
        n += 1
    out.live_mb = jvm_live_mb(ctx)
    if not out.correct:
        out.failed = out.attempted
    return out


WORKLOADS = {"sync_incremental": sync_incremental, "analytics_mix": analytics_mix}
