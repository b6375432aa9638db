"""Per-layer metrics of a traced phase.

Every traced run reports every name in ``PER_LAYER`` (a layer a
workload does not use reports 0), so runs of different workloads line
up. Timings and counts are per measured pass (median over passes)
unless the name says otherwise. Layers are the engine's packages:
``session``, ``io``, ``queries``, ``operators``, ``llm`` and
``streaming``; ``trace.*`` describe the tracing itself.

A job's layer: the streaming query that ran it when the event log
names one (the curation stream is ``llm`` work, the silver
partition-overwrite stream is ``io`` work), otherwise the layer of the
operation span whose window contains it (``operators`` for the market
queries, ``llm`` for the curation queries, ``io`` for compaction and
point reads).
"""

from __future__ import annotations

import statistics

import tracing

_COUNTS = (
    ("stages", "count"), ("tasks", "count"), ("shuffle_bytes", "bytes"),
    ("spill_bytes", "bytes"), ("task_cpu_s", "s"), ("task_gc_s", "s"),
    ("max_task_s", "s"),
)
V2_STAGES = (
    "bench_raw", "work", "c0_extracted", "gated", "c1_lang", "c2_gopher",
    "c3_c4rules", "c4_linededup", "c5_dedup", "final",
)

#: (name, unit, better) of every per-layer metric.
PER_LAYER: list[tuple[str, str, str]] = [
    ("session.start_s", "s", "lower"),
    ("io.load_table_s", "s", "lower"),
    ("io.write_s", "s", "lower"),
    ("io.write_bytes_per_input_byte", "ratio", "lower"),
    ("io.compact_s", "s", "lower"),
    ("io.files_before_compact", "count", "lower"),
    ("io.files_after_compact", "count", "lower"),
    ("io.pruned_read_s", "s", "lower"),
    ("queries.build_s", "s", "lower"),
    ("queries.fetch_s", "s", "lower"),
    ("queries.driver_gap_s", "s", "lower"),
    ("queries.jobs", "count", "lower"),
    ("queries.ungrouped_jobs", "count", "lower"),
    *[(f"operators.{n}", u, "lower") for n, u in _COUNTS],
    *[(f"llm.{n}", u, "lower") for n, u in _COUNTS],
    ("llm.python_wait_s", "s", "lower"),
    ("llm.lsh_candidate_pairs", "count", "lower"),
    ("llm.lsh_verify_yield", "ratio", "higher"),
    *[(f"llm.stage_rows.{s}", "count", "higher") for s in V2_STAGES],
    ("streaming.start_s", "s", "lower"),
    ("streaming.batch_s", "s", "lower"),
    ("streaming.add_batch_s", "s", "lower"),
    ("streaming.jobs_per_batch", "count", "lower"),
    ("streaming.state_bytes", "bytes", "lower"),
    ("streaming.batch_growth", "ratio", "lower"),
    ("setup.datagen_s", "s", "lower"),
    ("setup.workload_s", "s", "lower"),
    ("unattributed_jobs", "count", "lower"),
    ("trace.jobs", "count", "lower"),
    ("trace.overhead_s", "s", "lower"),
]


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def per_layer_metrics(spans, jobs, stages, passes, wl, setup, extra) -> dict:
    by_span, unattributed = tracing.attribute(jobs, spans)
    children: dict[int | None, list] = {}
    for s in spans:
        children.setdefault(s.parent, []).append(s)

    def subtree(s):
        todo, out = [s], []
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(children.get(x.id, ()))
        return out

    stream_layer: dict[str, str] = {}
    for prog in getattr(wl, "progress", []):
        stream_layer.update(prog["query_ids"])

    per_pass: list[dict[str, float]] = []
    for p in (s for s in spans if s.attrs.get("kind") == "pass"):
        row = {"queries.build_s": 0.0, "queries.fetch_s": 0.0,
               "queries.driver_gap_s": 0.0, "queries.jobs": 0,
               "queries.ungrouped_jobs": 0}
        layer_jobs: dict[str, list] = {}
        for op in (s for s in subtree(p) if s.attrs.get("kind") == "op"):
            inner = subtree(op)
            op_jobs = [j for x in inner for j in by_span.get(x.id, ())]
            for x in inner:
                if x.name in ("queries.build", "queries.fetch"):
                    row[f"{x.name}_s"] += x.end - x.start
            if any(x.name == "queries.build" for x in inner):
                row["queries.jobs"] += len(op_jobs)
                row["queries.ungrouped_jobs"] += sum(j.group != op.name for j in op_jobs)
                row["queries.driver_gap_s"] += (op.end - op.start) - tracing.busy_seconds(
                    op_jobs, op.start, op.end
                )
            for j in op_jobs:
                layer = stream_layer.get(j.query_id, op.layer)
                layer_jobs.setdefault(layer, []).append(j)
        for layer in ("operators", "llm"):
            counts = tracing.spark_counts(layer_jobs.get(layer, []), stages)
            for n, _u in _COUNTS:
                row[f"{layer}.{n}"] = counts[n]
            if layer == "llm":
                row["llm.python_wait_s"] = counts["python_wait_s"]
        per_pass.append(row)

    out: dict[str, float] = {}
    for key in (per_pass[0] if per_pass else {}):
        out[key] = _median(r[key] for r in per_pass)

    out["session.start_s"] = setup["session.start_s"]
    out["io.load_table_s"] = setup["io.load_table_s"]
    out["setup.datagen_s"] = setup["datagen_s"]
    out["setup.workload_s"] = setup["workload_s"]
    out["unattributed_jobs"] = len(unattributed)
    out["trace.jobs"] = len(jobs)
    out.update(_stream_metrics(wl, passes, jobs, stream_layer))
    out.update(extra)
    units = {n: u for n, u, _ in PER_LAYER}
    return {n: (out.get(n, 0), units[n]) for n, _u, _b in PER_LAYER}


def _stream_metrics(wl, passes, jobs, stream_layer) -> dict:
    progress = getattr(wl, "progress", [])
    outputs = getattr(wl, "outputs", [])
    if not progress:
        return {}

    def dur(p, key):
        return p["durationMs"].get(key, 0) / 1e3

    cur = [p for prog in progress for p in prog["curation"] if p["numInputRows"] > 0]
    sil = [p for prog in progress for p in prog["silver"] if p["numInputRows"] > 0]
    growth = []
    for prog in progress:
        days = [dur(p, "triggerExecution") for p in prog["curation"] if p["numInputRows"] > 0]
        if len(days) >= 2 and days[0] > 0:
            growth.append(days[-1] / days[0])
    cur_jobs = sum(1 for j in jobs if stream_layer.get(j.query_id) == "llm")
    ops = [o for *_, p in passes for o in p]
    last = outputs[-1]
    return {
        "streaming.start_s": _median(s for prog in progress for s in prog["start_s"]),
        "streaming.batch_s": _median(dur(p, "triggerExecution") for p in cur),
        "streaming.add_batch_s": _median(dur(p, "addBatch") for p in cur),
        "streaming.jobs_per_batch": cur_jobs / len(cur) if cur else 0.0,
        "streaming.state_bytes": last["state_bytes"],
        "streaming.batch_growth": _median(growth),
        "io.write_s": _median(dur(p, "addBatch") for p in sil),
        "io.write_bytes_per_input_byte": last["silver_bytes"] / max(1, last["landed_bytes"]),
        "io.compact_s": _median(o.seconds for o in ops if o.name == "compact_partition"),
        "io.pruned_read_s": _median(o.seconds for o in ops if o.name == "pruned_point_read"),
        "io.files_before_compact": last["files_before"],
        "io.files_after_compact": last["files_after"],
    }
