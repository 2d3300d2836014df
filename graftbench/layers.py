"""Per-layer metrics of one traced pass, from the spans around the
program's calls and the Spark status-store records read after each
operation. Every declared metric gets a value; a layer a workload does
not use reads 0."""

from __future__ import annotations

from probes import self_seconds, union_seconds

MB = 1e6
STAR_TABLES = ("songplay", "users", "songs", "artists", "time")
# Operators functions that build a saved structure (queries.index_build_s).
INDEX_BUILDERS = {"stage_minhash", "build_ivf_index", "IvfIndex.save", "stage_bm25"}


def _outermost(spans, layer: str, lo: float, hi: float):
    return [
        s
        for s in spans
        if s.layer == layer and s.start >= lo and s.end <= hi and (s.parent is None or spans[s.parent].layer != layer)
    ]


def pass_metrics(p, bench, declared: list[dict]) -> dict[str, float]:
    m: dict[str, float] = {d["name"]: 0.0 for d in declared}
    jobs = [j for o in p.ops for j in o.jobs]
    execs = [e for o in p.ops for e in o.execs]
    layer = bench.w.layer
    m[f"{layer}.jobs"] = len(jobs)
    m[f"{layer}.stages"] = sum(j.stages for j in jobs)
    m[f"{layer}.tasks"] = sum(j.tasks for j in jobs)
    m[f"{layer}.executor_cpu_s"] = sum(j.executor_cpu_s for j in jobs)
    m[f"{layer}.executor_run_s"] = sum(j.executor_run_s for j in jobs)
    m[f"{layer}.cpu_util"] = m[f"{layer}.executor_cpu_s"] / (p.seconds * bench.cores)
    m[f"{layer}.gc_s"] = sum(j.gc_s for j in jobs)
    m[f"{layer}.spill_mb"] = sum(j.spill_bytes for j in jobs) / MB
    m[f"{layer}.shuffle_read_mb"] = sum(j.shuffle_read_bytes for j in jobs) / MB
    m[f"{layer}.shuffle_write_mb"] = sum(j.shuffle_write_bytes for j in jobs) / MB

    json_bytes = parquet_bytes = rows = python_bytes = 0.0
    for e in execs:
        for name, vals in e.nodes:
            if name.startswith("Scan json"):
                json_bytes += vals.get("size of files read", 0.0)
            elif name.startswith("Scan parquet"):
                parquet_bytes += vals.get("size of files read", 0.0)
            if name.startswith("Scan "):
                rows += vals.get("number of output rows", 0.0)
            elif name == "Exchange":
                m["operators.exchanges"] += 1
            elif name == "BroadcastExchange":
                m["operators.broadcast_exchanges"] += 1
            python_bytes += vals.get("data sent to Python workers", 0.0)
    m["sources.json_mb"] = json_bytes / MB
    if bench.json_input_bytes:
        m["sources.json_scan_amplification"] = json_bytes / bench.json_input_bytes
    m["sources.parquet_mb"] = parquet_bytes / MB
    m["sources.rows_read"] = rows
    m["operators.python_mb"] = python_bytes / MB

    spans = bench.tracer.spans
    lo, hi = p.ops[0].start, p.ops[-1].end
    m["plans.build_s"] = self_seconds(spans, "plans", lo, hi)
    writes = _outermost(spans, "sinks", lo, hi)
    m["sinks.write_s"] = sum(s.end - s.start for s in writes)
    for t in STAR_TABLES:
        m[f"plans.table_s.{t}"] = sum(s.end - s.start for s in writes if s.tag == t)
    for o in p.ops:
        if o.stats:
            m["sinks.files_written"] += o.stats["files"]
            m["sinks.output_mb"] += o.stats["bytes"] / MB

    if layer == "queries":
        for o in p.ops:
            m[f"queries.{o.op}_s"] = o.seconds
            inside = [s for s in spans if s.start >= o.start and s.end <= o.end and s.layer == "queries"]
            for s in inside:
                if s.name == f"{o.op}.build":
                    m["queries.build_s"] += s.end - s.start
                    m["queries.eager_jobs"] += sum(1 for j in o.jobs if s.start <= j.start <= s.end)
                elif s.name == f"{o.op}.exec":
                    m["queries.exec_s"] += s.end - s.start
            busy = union_seconds([(j.start, j.end) for j in o.jobs], o.start, o.end)
            m["queries.driver_gap_s"] += (o.end - o.start) - busy
    return m


def setup_metrics(bench) -> dict[str, float]:
    spans = bench.tracer.spans
    starts = [s.end - s.start for s in spans if s.layer == "session" and s.name == "get_spark"]
    builds = 0.0
    for s in spans:
        if s.name not in INDEX_BUILDERS:
            continue
        parent, nested = s.parent, False
        while parent is not None:
            if spans[parent].name in INDEX_BUILDERS:
                nested = True
                break
            parent = spans[parent].parent
        if not nested and s.end <= bench.setup_end:
            builds += s.end - s.start
    return {
        "session.start_s": starts[0] if starts else bench.setup["session_s"],
        "queries.index_build_s": builds,
        "queries.index_warm_frac": bench.setup["index_warm_frac"],
    }
