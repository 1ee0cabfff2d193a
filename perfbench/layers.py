"""Metrics from the runner's raw record.

End-to-end metrics come from the untraced passes. Per-layer metrics
come from the traced passes of a `--trace 1` run; each is a mean per
traced pass unless its name says otherwise. Spans (jobs, SQL plan
phases, streaming triggers) are attributed to a pass and a query by
time, since queries run one at a time.
"""
import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))
with open(os.path.join(HERE, "workloads.json")) as _f:
    _spec = json.load(_f)
with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _f:
    _bench = json.load(_f)
PACKS = _spec["packs"]
# metric names and units are defined once, in BENCHMARK.json
END_TO_END = {m["name"]: m["unit"] for m in _bench["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _bench["per_layer"]}
if set(_spec["predictions"]) != set(PER_LAYER):
    raise SystemExit("perfbench: workloads.json predictions and BENCHMARK.json "
                     "per_layer name different metrics: "
                     f"{sorted(set(_spec['predictions']) ^ set(PER_LAYER))}")


def merge(ivs):
    """Union of [start, end] intervals as sorted disjoint intervals."""
    out = []
    for a, b in sorted(ivs):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def covered(ivs, a, b):
    """Length of [a, b] that the union of `ivs` covers."""
    return sum(max(0.0, min(y, b) - max(x, a)) for x, y in merge(ivs))


def inside(t, p):
    return p["start"] <= t <= p["end"]


def tail(values):
    """Highest percentile with at least ten samples beyond it, as
    (value, percentile); None when there are ten samples or fewer."""
    v = sorted(values)
    n = len(v)
    return (v[n - 11], 100.0 * (n - 10) / n) if n > 10 else None


def end_to_end(raw, passes):
    per_query = {}
    for p in passes:
        for q in p["queries"]:
            per_query.setdefault(q["name"], []).append((q["end"] - q["start"]) / 1e3)
    walls = [w for v in per_query.values() for w in v]
    su = raw["setup"]
    # A run holds a handful of passes over a few queries, so the sample
    # percentile with ten samples beyond it moves with the pass count
    # (it is the maximum at ten samples, the lower third at fifteen).
    # The gated tail is the slowest query's median wall instead; the
    # percentile is kept in the record.
    metrics = {
        "setup_s": (su["warm_end"] - su["start"]) / 1e3,
        "pass_s": statistics.median((p["end"] - p["start"]) / 1e3 for p in passes),
        "query_p50_s": statistics.median(walls),
        "query_tail_s": max(statistics.median(v) for v in per_query.values()),
        "heap_retained_mb": statistics.median(p["heap_mb"] for p in passes),
    }
    detail = {"query_samples": len(walls),
              "query_tail_percentile": tail(walls),
              "query_median_s": {k: statistics.median(v) for k, v in per_query.items()},
              "pass_walls_s": [(p["end"] - p["start"]) / 1e3 for p in passes],
              "pass_cpu_s": [p["cpu_ms"] / 1e3 for p in passes],
              "pass_gc_ms": [p["gc_ms"] for p in passes],
              "pass_steal_ticks": [p["steal_ticks"] for p in passes]}
    return metrics, detail


def pass_layers(raw, p, nproc):
    """Per-layer figures of one traced pass."""
    jobs = [j for j in raw["jobs"] if inside(j["start"], p)]
    for j in jobs:
        if j["end"] is None:
            j["end"] = j["start"]
    plans = [ph for ph in raw["plans"] if any(inside(a, p) for a, _ in ph.values())]
    trig = [t for t in raw["triggers"] if inside(t["start"], p)]
    wall = p["end"] - p["start"]
    m = {}

    # self time by layer, in precedence order; these sum to the pass wall
    J = [(j["start"], j["end"]) for j in jobs]
    T = [(t["start"], t["end"]) for t in trig]
    P = [tuple(v) for ph in plans for v in ph.values()]
    eng = strm = pln = ops = 0.0
    for q in p["queries"]:
        a, b = q["start"], q["end"]
        e1 = covered(J, a, b)
        e2 = covered(J + T, a, b)
        e3 = covered(J + T + P, a, b)
        eng += e1
        strm += e2 - e1
        pln += e3 - e2
        ops += (b - a) - e3
    qsum = sum(q["end"] - q["start"] for q in p["queries"])
    hk = p["housekeeping_ms"]
    m.update({"self.engine_s": eng / 1e3, "self.streaming_s": strm / 1e3,
              "self.plans_s": pln / 1e3, "self.operators_s": ops / 1e3,
              "self.harness_s": hk / 1e3,
              "self.unattributed_s": (wall - qsum - hk) / 1e3})

    m["Harness.housekeeping_s"] = hk / 1e3
    m["Harness.driver_threads"] = p["threads_max"]
    m["spark.gc_ms"] = p["gc_ms"]
    for pk in PACKS:
        m[f"{pk}.build_s"] = sum(q["build_end"] - q["start"] for q in p["queries"]
                                 if q["pack"] == pk) / 1e3
        m[f"{pk}.exec_s"] = sum(q["end"] - q["build_end"] for q in p["queries"]
                                if q["pack"] == pk) / 1e3
    for phase in ("analysis", "optimization", "planning"):
        m[f"plans.{phase}_ms"] = sum(ph[phase][1] - ph[phase][0]
                                     for ph in plans if phase in ph)

    tot = lambda k: sum(j[k] for j in jobs)  # noqa: E731
    tasks = tot("tasks")
    cut = [j for j in jobs if j["cut"]]
    in_bytes, rows_out = tot("in_bytes"), sum(max(q["rows"], 0) for q in p["queries"])
    m.update({
        "spark.jobs": len(jobs), "spark.tasks": tasks,
        "spark.bytes_per_task": (in_bytes + tot("shuffle_read")) / tasks if tasks else 0.0,
        "spark.executor_busy_frac": tot("busy_ms") / (nproc * wall),
        "spark.shuffle_read_bytes": tot("shuffle_read"),
        "spark.shuffle_write_bytes": tot("shuffle_write"),
        "spark.spill_bytes": tot("spill"),
        "spark.driver_gap_ms": wall - covered(J, p["start"], p["end"]),
        "Iterate.cut_jobs": len(cut),
        "Iterate.cut_ms": sum(j["end"] - j["start"] for j in cut),
        "Iterate.cut_share": len(cut) / len(jobs) if jobs else 0.0,
        "Tables.input_rows": tot("in_rows"), "Tables.input_bytes": in_bytes,
        "Tables.rows_read_per_row_out": tot("in_rows") / rows_out if rows_out else 0.0,
        "sources.bytes_written": tot("out_bytes"),
        "sources.bytes_written_per_input_byte":
            tot("out_bytes") / in_bytes if in_bytes else 0.0,
    })

    dur = lambda t, k: t["durations"].get(k, 0)  # noqa: E731
    per_run = {}
    for t in trig:
        r = per_run.setdefault(t["run_id"], [0, 0])
        r[0] = max(r[0], t["state_rows"])
        r[1] = max(r[1], t["state_memory_bytes"])
    m.update({
        "streaming.triggers": len(trig),
        "streaming.empty_triggers": sum(1 for t in trig if t["input_rows"] == 0),
        "streaming.add_batch_ms": sum(dur(t, "addBatch") for t in trig),
        "streaming.query_planning_ms": sum(dur(t, "queryPlanning") for t in trig),
        "streaming.wal_commit_ms": sum(dur(t, "walCommit") for t in trig),
        "streaming.commit_offsets_ms": sum(dur(t, "commitOffsets") for t in trig),
        "streaming.trigger_overhead_ms":
            sum(dur(t, "triggerExecution") - dur(t, "addBatch") for t in trig),
        "streaming.state_rows": sum(r[0] for r in per_run.values()),
        "streaming.state_memory_bytes": sum(r[1] for r in per_run.values()),
        "streaming.state_commit_ms": sum(t["state_commit_ms"] for t in trig),
    })
    return m


def per_layer(raw, traced, untraced, nproc):
    rows = [pass_layers(raw, p, nproc) for p in traced]
    m = {k: statistics.mean(r[k] for r in rows) for k in rows[0]}
    m["Harness.driver_threads"] = max(r["Harness.driver_threads"] for r in rows)
    su = raw["setup"]
    m["Harness.session_s"] = (su["session_end"] - su["start"]) / 1e3
    m["Harness.warm_s"] = (su["warm_end"] - su["session_end"]) / 1e3
    srows = sum(p["stream_input_rows"] for p in untraced)
    sms = sum(p["stream_trigger_ms"] for p in untraced)
    m["streaming.events_per_s"] = srows / (sms / 1e3) if sms else 0.0
    for k in raw["probe"]:
        m[f"functions.{k['kernel']}_ns"] = k["ns_per_call"]
        m[f"functions.{k['kernel']}_calls"] = k["calls"]
    wt = statistics.median((p["end"] - p["start"]) / 1e3 for p in traced)
    wu = statistics.median((p["end"] - p["start"]) / 1e3 for p in untraced)
    m["trace.overhead_s"] = wt - wu
    m["trace.overhead_frac"] = (wt - wu) / wu
    return m


def evaluate(raw, expected, nproc, trace):
    passes = raw["passes"]
    untraced = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    notes, runs = [], [q for p in passes for q in p["queries"]]
    failed = 0
    for q in runs:
        want = expected.get(q["name"])
        if q["error"] or want != q["digest"]:
            failed += 1
            notes.append(f"FAILED {q['name']}: " + (
                q["error"] or f"digest {q['digest']} != expected {want}"))
    e2e, detail = end_to_end(raw, untraced)
    record = {"end_to_end": e2e, **detail,
              "failed_frac": failed / len(runs), "attempted": len(runs),
              "failed": failed, "failures": notes,
              "per_query": [{"pass": p["index"], "traced": p["traced"],
                             "name": q["name"], "pack": q["pack"],
                             "build_s": (q["build_end"] - q["start"]) / 1e3,
                             "exec_s": (q["end"] - q["build_end"]) / 1e3,
                             "rows": q["rows"], "digest": q["digest"]}
                            for p in passes for q in p["queries"]]}
    pct = detail["query_tail_percentile"]
    notes.append(f"{detail['query_samples']} query samples; query_tail_s is the slowest "
                 "query's median; the highest percentile with ten samples beyond it is "
                 + (f"p{pct[1]:.1f} = {pct[0]:.4f} s" if pct else "undefined"))
    if trace:
        layer = per_layer(raw, traced, untraced, nproc)
        record["per_layer"] = layer
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    return {"metrics": metrics, "record": record, "notes": notes,
            "attempted": len(runs), "failed": failed}
