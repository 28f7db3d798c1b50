"""The benchmark's workloads and the per-layer -> end-to-end predictions.

Each workload is a fixed list of operators (names in `SparkEntry.defs`) and
the scale of the generated input they read (see gen.py; 1.0 = the corpus'
sf0.01 sizes). Names, units and the "why" of workloads and metrics are
declared once, in BENCHMARK.json at the root of the checkout.

The op lists are short on purpose. Every run first pays a cold verify pass
(20-25 s on a 4-core host: class loading, JIT and code generation) and a
warm pass, so each op added costs about four of its warm latencies per run,
plus its DuckDB oracle. Ops whose oracle alone outlasts a run are left out:
t87 (BPE, ~17 s at any input size) and t92 (PageRank, ~13 s at 2x); so is
t105 (SimHash-128 near-dup, ~1 s per run and a ~2 s oracle at 1.5x), whose
kernel family t04 covers.
"""
import json
import os
from dataclasses import dataclass

with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "BENCHMARK.json")) as _f:
    _DECLARED = json.load(_f)

# name -> unit, in BENCHMARK.json order
END_TO_END = {m["name"]: m["unit"] for m in _DECLARED["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _DECLARED["per_layer"]}


@dataclass(frozen=True)
class Workload:
    ops: tuple
    scale: float


WORKLOADS = {
    "flow": Workload(
        ops=("p01_pipeline_agg", "p03_pipeline_fn_dates", "p08_pipeline_csv",
             "p10_pipeline_sqlgen", "p19_pipeline_delta_timetravel",
             "p20_pipeline_streaming_sessionize"),
        scale=1.0),
    "ops_scaled": Workload(
        ops=("q13_star_join", "q21_sessionize", "t04_simhash", "t15_dedup_components",
             "t94_kmv_merge"),
        scale=1.5),
}

# Which end-to-end metric each per-layer metric should move, on which
# workload, written down before any change claims a gain.
PREDICTIONS = {
    "queries.build_s": "wall_s on flow and ops_scaled (Components: t15, t94)",
    "queries.build_jobs": "wall_s on flow and ops_scaled (Components: t15, t94)",
    "exec.noop_write_s": "wall_s on ops_scaled",
    "driver.self_s": "op_p50_s on flow",
    "catalyst.analysis_s": "op_p50_s on flow; wall_s on ops_scaled (wide t-plans)",
    "catalyst.optimization_s": "op_p50_s on flow; wall_s on ops_scaled (wide t-plans)",
    "catalyst.planning_s": "op_p50_s on flow; wall_s on ops_scaled (wide t-plans)",
    "catalyst.executions": "op_p50_s on flow; wall_s on ops_scaled (wide t-plans)",
    "sched.jobs": "wall_s on all workloads",
    "sched.stages": "wall_s on all workloads",
    "sched.tasks": "wall_s on all workloads",
    "sched.job_s": "wall_s on all workloads",
    "sched.executor_run_s": "wall_s on all workloads",
    "sched.executor_cpu_s": "wall_s on all workloads",
    "sched.gc_s": "wall_s on all workloads",
    "sched.task_failures": "wall_s on all workloads",
    "sched.core_busy_frac": "wall_s on all workloads",
    "scan.bytes": "wall_s on ops_scaled",
    "scan.records": "wall_s on ops_scaled",
    "shuffle.write_bytes": "wall_s on ops_scaled",
    "shuffle.read_bytes": "wall_s on ops_scaled",
    "shuffle.fetch_wait_s": "wall_s on ops_scaled",
    "spill.disk_bytes": "wall_s on ops_scaled",
    "spill.memory_bytes": "wall_s on ops_scaled",
    "connections.sink_bytes": "wall_s on flow",
    "connections.sink_records": "wall_s on flow",
    "connections.sink_task_s": "wall_s on flow",
    "streaming.batches": "wall_s on flow (and the printed op_tail_s)",
    "streaming.trigger_s": "wall_s on flow (and the printed op_tail_s)",
    "streaming.add_batch_s": "wall_s on flow (and the printed op_tail_s)",
    "streaming.state_commit_s": "wall_s on flow (and the printed op_tail_s)",
    "functions.reregistrations": "op_p50_s on ops_scaled (Tables.t) and flow "
                                 "(SqlBridge.translate)",
    "cache.resident_bytes": "peak_rss_mb on ops_scaled",
    "trace.overhead_frac": "nothing: the cost of tracing itself",
}
