"""Per-layer metrics of a traced run.

Every metric is computed per traced pass and reported as the median over
the traced passes; a layer a workload does not exercise reports 0. The
catalogue ``PER_LAYER`` is the single list of names and units, shared by
every workload so each traced run reports the same keys.
"""

from __future__ import annotations

import statistics

from workloads import QUERY_MIX
from spans import EventLog, Tracer

_S, _N, _B = "s", "count", "bytes"

PER_LAYER: list[tuple[str, str]] = [
    ("config.load_s", _S),
    ("sources.readers.read_source_csv_s", _S),
    ("sources.readers.scan_passes", "ratio"),
    ("sources.readers.roundrobin_exchanges", _N),
    ("plans.validator.validate_s", _S),
    ("pipeline.self_s", _S),
    ("pipeline.jobs", _N),
    ("pipeline.shuffle_write_bytes", _B),
    ("pipeline.spill_bytes", _B),
    ("pipeline.gc_s", _S),
    ("sources.sinks.write_valid_s", _S),
    ("sources.sinks.write_errors_s", _S),
    ("sources.sinks.output_bytes", _B),
    ("sources.sinks.output_files", _N),
    ("spark_entry.build_s", _S),
    ("spark_entry.build_jobs", _N),
    ("spark_sql.plan_s", _S),
    ("spark_sql.exec_s", _S),
    ("spark_sql.exec_jobs", _N),
    ("spark_sql.stages", _N),
    ("spark_sql.tasks", _N),
    ("spark_sql.failed_tasks", _N),
    ("spark_sql.shuffle_write_bytes", _B),
    ("spark_sql.shuffle_read_bytes", _B),
    ("spark_sql.spill_bytes", _B),
    ("spark_sql.gc_s", _S),
    ("spark_sql.executor_cpu_s", _S),
    ("spark_sql.cpu_busy_frac", "ratio"),
    ("spark_sql.exchanges", _N),
    ("ops.graph.s", _S),
    ("ops.graph.jobs", _N),
    ("ops.text.s", _S),
    ("ops.dedup.s", _S),
    ("ops.similarity.s", _S),
    ("ops._materialize.calls", _N),
    ("ops._materialize.s", _S),
    ("ops._materialize.jobs", _N),
    ("ops._materialize.rdds_left", _N),
    ("ops_failed_frac", "ratio"),
    ("warm_pass_s", _S),
    ("peak_rss_mb", "MB"),
    ("traced_wall_s", _S),
    ("trace_overhead_s", _S),
] + [
    (f"query.{q}.{part}", _S) for q in QUERY_MIX for part in ("build_s", "exec_s")
]


def _one_pass(tracer: Tracer, ev: EventLog, p: dict, cores: int) -> dict[str, float]:
    n = p["pass"]
    spans = [s for s in tracer.spans if s.pass_no == n]
    kids = tracer.children()
    m: dict[str, float] = {}

    def named(name: str):
        return [s for s in spans if s.name == name]

    def layer(name: str):
        return tracer.layer_spans(name, n)

    def subtree_jobs(ss) -> list[int]:
        return [j for s in ss for j in tracer.subtree_jobs(s, kids)]

    def dur(ss) -> float:
        return sum(s.dur for s in ss)

    all_jobs = [j for s in spans for j in s.jobs]

    # ETL path
    m["sources.readers.read_source_csv_s"] = dur(named("sources.readers.read_source_csv"))
    m["plans.validator.validate_s"] = dur(named("plans.validator.validate"))
    runs = named("pipeline.run_etl_pipeline")
    m["pipeline.self_s"] = sum(tracer.self_time(s, kids) for s in runs)
    own = [j for s in runs for j in s.jobs]
    st = ev.stats(own)
    m["pipeline.jobs"] = len(own)
    m["pipeline.shuffle_write_bytes"] = st.shuffle_write_bytes
    m["pipeline.spill_bytes"] = st.spill_bytes
    m["pipeline.gc_s"] = st.gc_ms / 1e3
    m["sources.sinks.write_valid_s"] = dur(named("sources.sinks.write_valid"))
    m["sources.sinks.write_errors_s"] = dur(named("sources.sinks.write_errors"))
    for rec in p["records"]:
        for key in ("scan_passes", "output_bytes", "output_files"):
            if key in rec:
                prefix = "sources.readers." if key == "scan_passes" else "sources.sinks."
                m[prefix + key] = rec[key]

    # query path: build (the call into queries()[name]), plan, execute
    builds = layer("spark_entry")
    m["spark_entry.build_s"] = dur(builds)
    m["spark_entry.build_jobs"] = len(subtree_jobs(builds))
    m["spark_sql.plan_s"] = dur(layer("spark_sql.plan"))
    execs = layer("spark_sql.exec")
    exec_jobs = subtree_jobs(execs)
    st = ev.stats(exec_jobs)
    m["spark_sql.exec_s"] = dur(execs)
    m["spark_sql.exec_jobs"] = len(exec_jobs)
    m["spark_sql.stages"] = st.stages
    m["spark_sql.tasks"] = st.tasks
    m["spark_sql.failed_tasks"] = st.failed_tasks
    m["spark_sql.shuffle_write_bytes"] = st.shuffle_write_bytes
    m["spark_sql.shuffle_read_bytes"] = st.shuffle_read_bytes
    m["spark_sql.spill_bytes"] = st.spill_bytes
    m["spark_sql.gc_s"] = st.gc_ms / 1e3
    m["spark_sql.executor_cpu_s"] = st.cpu_ns / 1e9
    m["spark_sql.exchanges"] = ev.exchanges(exec_jobs)[0]
    m["sources.readers.roundrobin_exchanges"] = ev.exchanges(all_jobs)[1]
    m["spark_sql.cpu_busy_frac"] = ev.stats(all_jobs).cpu_ns / 1e9 / (p["wall"] * cores)

    # operator layers
    for name in ("ops.graph", "ops.text", "ops.dedup", "ops.similarity", "ops._materialize"):
        m[f"{name}.s"] = dur(layer(name))
    m["ops.graph.jobs"] = len(subtree_jobs(layer("ops.graph")))
    m["ops._materialize.jobs"] = len(subtree_jobs(layer("ops._materialize")))
    m["ops._materialize.calls"] = sum(1 for s in spans if s.layer == "ops._materialize")
    m["ops._materialize.rdds_left"] = sum(rec["rdds_left"] for rec in p["records"])

    by_id = {s.id: s for s in spans}
    for rec in p["records"]:
        if "build_span" in rec:
            m[f"query.{rec['op']}.build_s"] = by_id[rec["build_span"]].dur
        if "exec_span" in rec:
            m[f"query.{rec['op']}.exec_s"] = by_id[rec["exec_span"]].dur
    return m


def per_layer_metrics(*, tracer: Tracer, app_dir: str, passes: list[dict], cores: int, untraced_wall_s: float) -> dict:
    ev = EventLog(app_dir)
    traced = [p for p in passes if p["traced"]]
    rows = [_one_pass(tracer, ev, p, cores) for p in traced]
    out: dict[str, tuple[float, str]] = {}
    for name, unit in PER_LAYER:
        vals = [r[name] for r in rows if name in r]
        out[name] = (float(statistics.median(vals)) if vals else 0.0, unit)
    loads = [s.dur for s in tracer.spans if s.name == "config.load_config" and s.pass_no < 0]
    out["config.load_s"] = (float(statistics.median(loads)) if loads else 0.0, _S)
    traced_wall = float(statistics.median(p["wall"] for p in traced))
    out["traced_wall_s"] = (traced_wall, _S)
    out["trace_overhead_s"] = (traced_wall - untraced_wall_s, _S)
    return out
