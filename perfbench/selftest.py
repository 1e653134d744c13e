"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py

1. Inputs generated from one seed are byte-identical (and another seed
   gives other bytes), for both the sync fixtures and the analytics tables.
2. The tracer adds no Spark job: the same period synced from two copies of
   one template store launches as many jobs traced as untraced.
3. The sync output gate is not vacuous: it passes on the synced store and
   fails once one stored row is corrupted (a negative control).

Exits 0 when all pass. Writes only under ``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import filecmp
import os
import shutil
import sys
import time
from datetime import timedelta

import run

sys.path.insert(0, run.ROOT)

import gates  # noqa: E402
import spec  # noqa: E402
import tables  # noqa: E402
import workloads  # noqa: E402


def expect(ok: bool, msg: str) -> None:
    if not ok:
        raise AssertionError(msg)


def same_bytes(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


def check_seeded_inputs(work: str) -> None:
    from pantasia_db_sync_spark.pipeline import fixtures

    for name, gen in (
        ("tables", lambda d, seed: tables.generate(d, spec.ANALYTICS_SCALE, seed)),
        ("fixtures", lambda d, seed: fixtures.generate(d, scale=spec.SYNC_SCALE, seed=seed)),
    ):
        a, b, c = (os.path.join(work, f"{name}-{k}") for k in "abc")
        gen(a, 7)
        gen(b, 7)
        gen(c, 8)
        expect(same_bytes(a, b), f"{name}: seed 7 twice gave different bytes")
        expect(not same_bytes(a, c), f"{name}: seeds 7 and 8 gave the same bytes")


def check_tracer_and_gate(ctx: workloads.Context) -> None:
    from pantasia_db_sync_spark.pipeline.fixtures import GENESIS
    from pantasia_db_sync_spark.pipeline.store import TableStore
    from pantasia_db_sync_spark.pipeline.sync import SyncEngine

    src = os.path.join(ctx.work, "src")
    template = os.path.join(ctx.work, "template")
    _store, source_tip, _ = workloads.build_template(ctx, src, template)

    jobs = {}
    stores = {}
    for traced in (False, True):
        d = os.path.join(ctx.work, f"store-{int(traced)}")
        shutil.copytree(template, d)
        store = TableStore(d)
        engine = SyncEngine(ctx.spark, src, store, time_interval_minutes=spec.PERIOD_MINUTES)
        lo = engine.pantasia_tip()
        tr = workloads.install(ctx) if traced else None
        j0, _ = ctx.counters.ids()
        try:
            engine.run_sync(max_periods=1)
        finally:
            j1, _ = ctx.counters.ids()
            if tr is not None:
                tr.uninstall()
        jobs[traced] = j1 - j0
        stores[traced] = store
        if tr is not None:
            names = {s.name for s in tr.spans}
            want = {"sync.process_period", "store.stage", "surrogate.with_dense_ids"}
            expect(want <= names, f"traced period lacks spans {want - names}")
    expect(jobs[False] == jobs[True] > 0, f"jobs untraced {jobs[False]} vs traced {jobs[True]}")
    print(f"  one period: {jobs[False]} jobs untraced, {jobs[True]} traced")

    hi = min(lo + timedelta(minutes=spec.PERIOD_MINUTES), source_tip)
    store = stores[False]
    bad = gates.sync_mismatches(ctx.spark, store, src, GENESIS, hi)
    expect(not bad, f"gate failed on a correct store: {bad}")

    # negative control: one asset row gets another current wallet
    from pyspark.sql import functions as F

    asset = store.read(ctx.spark, "asset").cache()
    victim = asset.agg(F.min("id")).collect()[0][0]
    corrupted = asset.withColumn(
        "current_wallet_id",
        F.when(F.col("id") == victim, F.coalesce(F.col("current_wallet_id"), F.lit(0)) + 1)
        .otherwise(F.col("current_wallet_id")),
    )
    store.repoint("asset", store.stage("asset", corrupted))
    asset.unpersist()
    bad = gates.sync_mismatches(ctx.spark, store, src, GENESIS, hi)
    expect(any(b.startswith("asset:") for b in bad), f"gate missed the corrupted row: {bad}")
    print(f"  negative control caught: {bad}")


def main() -> int:
    work = os.path.join(run.ROOT, ".bench_work", f"selftest-{os.getpid()}")
    conf = run.isolate(work)
    failures = 0
    try:
        failures += _report("seeded inputs are byte-identical", check_seeded_inputs, work)
        from pantasia_db_sync_spark.session import get_spark

        spark = get_spark(app_name="perfbench-selftest", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        try:
            ctx = workloads.Context(spark, work, 3, 0.0, False, time.perf_counter())
            failures += _report(
                "tracer adds no Spark job; gate catches a corrupted row",
                check_tracer_and_gate, ctx,
            )
        finally:
            run.stop_spark(spark)
    finally:
        run.cleanup(work)
    print("all self-tests passed" if not failures else f"{failures} self-test(s) failed")
    return 1 if failures else 0


def _report(name: str, fn, arg) -> int:
    try:
        fn(arg)
    except AssertionError as e:
        print(f"FAIL {name}: {e}")
        return 1
    print(f"ok   {name}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
