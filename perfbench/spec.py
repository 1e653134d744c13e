"""The benchmark's workload constants, and its metrics as ``BENCHMARK.json``
declares them.

Metric names, units and bounds, the workload names and the run length are
read from ``BENCHMARK.json`` at the checkout root, so a run prints exactly
the metrics the file declares (a name the workloads do not compute fails
the run).
"""

from __future__ import annotations

import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCHMARK = json.load(_f)

RUN_SECONDS = BENCHMARK["run_seconds"]
WORKLOADS = [w["name"] for w in BENCHMARK["workloads"]]
END_TO_END = [m["name"] for m in BENCHMARK["end_to_end"]]
PER_LAYER = [m["name"] for m in BENCHMARK["per_layer"]]
UNITS = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"] + BENCHMARK["per_layer"]}
BOUNDS = {m["name"]: m["bound"] for m in BENCHMARK["end_to_end"]}

# Cardano-shaped source fixtures for the sync workload
# (pipeline/fixtures.generate scale; 1.0 ≈ 40k records over ~28 periods).
SYNC_SCALE = 0.45
PERIOD_MINUTES = 120  # the reference's PANTASIA_TIME_INTERVAL
# The template store is backfilled up to this many periods before the
# source tip; the remaining periods are synced one by one.
SYNC_PERIODS_LEFT = 9
# Untimed periods synced after the backfill, before the measured loop. The
# engine's CPU per period keeps falling for several periods while the JIT
# compiles the per-period planning paths (on 4 vCPUs ~30 CPU-s for the
# first period after the backfill, ~23 for the third, ~16 for the fifth),
# and the first two vary most from run to run.
SYNC_WARMUP_PERIODS = 2
# Measured periods per run: a fixed count, so that every run measures the
# same position of that ramp (more only if they end within --seconds).
SYNC_OPS = 1

# Generated analytics tables (perfbench/tables.py); 1.0 would be TPC-H sf1
# row counts, 0.005 gives 30k lineitem rows.
ANALYTICS_SCALE = 0.005
# Untimed noop-sink passes over the mix after the oracle pass, before the
# measured loop (see SYNC_WARMUP_PERIODS). Each query's plans run only once
# per pass, so a pass's CPU settles only after several passes, and the
# first passes after the oracle pass vary by a fifth from run to run.
ANALYTICS_WARMUP_PASSES = 8
# Measured passes per run (see SYNC_OPS); a run reports their median.
ANALYTICS_PASSES = 5

# The analytics mix (``plans.QUERIES`` names), run in this order: the
# order changes which plans the JIT compiles first, and with it a pass's
# CPU, so it stays fixed and the seed changes the data only.
MIX = [
    "join_broadcast_dims",
    "window_dense_ids",
    "dedup_levenshtein2_blocked",
    "dedup_minhash_lsh",
]
