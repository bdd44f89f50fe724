"""Roll the driver's span trace and Spark counters up into per-layer metrics.

A span's self time is its duration minus the part of it covered by its
children. A span's counters are the jobs that ran under its own job group;
an upload op also owns the SQL executions and micro-batches that the
streaming query started while it was open.
"""

import statistics

import checks

LAYERS = ["ingest", "resample", "window", "score", "postprocess", "export"]


def self_times(spans):
    """{span id: self seconds}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        covered, cur = 0.0, lo
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ms"]):
            a, b = max(c["start_ms"], cur), min(c["end_ms"], hi)
            if b > a:
                covered += b - a
                cur = b
        out[s["id"]] = (hi - lo - covered) / 1000.0
    return out


def subtree(spans, root_id):
    ids, frontier = {root_id}, [root_id]
    while frontier:
        nxt = [s["id"] for s in spans if s["parent"] in frontier]
        ids.update(nxt)
        frontier = nxt
    return [s for s in spans if s["id"] in ids]


def jobs_of(counters, spans):
    """Jobs run under the job groups of `spans`."""
    groups = {s["group"] for s in spans}
    return [j for j in counters.get("jobs", []) if j["group"] in groups]


def totals(jobs):
    run = sum(j["run_ms"] for j in jobs)
    return {"jobs": len(jobs), "tasks": sum(j["tasks"] for j in jobs),
            "run_s": run / 1000.0,
            "max_task_share": max((j["max_task_ms"] for j in jobs), default=0) / run
            if run else 0.0,
            "shuffle_bytes": sum(j["shuffle_write"] for j in jobs),
            "shuffle_read_bytes": sum(j["shuffle_read"] for j in jobs),
            "spill_bytes": sum(j["spill"] for j in jobs),
            "peak_mem": max((j["peak_mem"] for j in jobs), default=0)}


def _med(xs):
    return statistics.median(xs) if xs else float("nan")


def per_layer(result, input_rows_of):
    """Per-layer metrics of one traced run: {name: value}.

    `input_rows_of(paths)` gives the raw row count of an op's input logs.
    """
    spans = result["spans"]
    counters = result["counters"]
    cpus = result["cpus"]
    ops = result["ops"]
    selft = self_times(spans)
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    m = {}

    def dur(s):
        return (s["end_ms"] - s["start_ms"]) / 1000.0

    # DAG build and planning, per traced fused op
    fused = by_name.get("fused", [])
    m["plan.build_s"] = _med([selft[s["id"]] for s in by_name.get("plan.build", [])])
    m["plan.build_jobs"] = _med([len(jobs_of(counters, [s]))
                                 for s in by_name.get("plan.build", [])])
    m["plan.optimize_s"] = _med([selft[s["id"]] for s in by_name.get("plan.optimize", [])])
    m["plan.physical_nodes"] = _med([s["attrs"]["physical_nodes"] for s in fused])

    # the layered decomposition
    layers = by_name.get("layers", [])[-1]
    attrs = layers["attrs"]
    lay = {s["name"]: s for s in subtree(spans, layers["id"]) if s["name"] in LAYERS}
    tot = {n: totals(jobs_of(counters, [s])) for n, s in lay.items()}
    st = {n: selft[s["id"]] for n, s in lay.items()}
    m["ingest.self_s"] = st["ingest"]
    m["ingest.jobs"] = tot["ingest"]["jobs"]
    m["ingest.rows_out"] = attrs["rows_out"]
    m["resample.self_s"] = st["resample"]
    m["resample.jobs"] = tot["resample"]["jobs"]
    m["resample.grid_rows"] = sum(attrs["ride_grid_rows"])
    m["resample.shuffle_bytes"] = tot["resample"]["shuffle_bytes"]
    m["resample.max_task_share"] = tot["resample"]["max_task_share"]
    m["window.self_s"] = st["window"]
    m["window.windows_out"] = attrs["windows_out"]
    positions = sum(checks.stride_positions(n) for n in attrs["ride_grid_rows"])
    m["window.kept_ratio"] = attrs["windows_out"] / positions if positions else 0.0
    m["score.self_s"] = st["score"]
    m["score.windows_per_s"] = attrs["windows_out"] / st["score"]
    m["score.tasks"] = tot["score"]["tasks"]
    m["score.cores_busy_ratio"] = tot["score"]["run_s"] / (st["score"] * cpus)
    m["postprocess.self_s"] = st["postprocess"]
    m["postprocess.jobs"] = tot["postprocess"]["jobs"]
    m["export.self_s"] = st["export"]
    m["export.figure_bytes"] = attrs["figure_bytes"]

    # the upload loop, per traced upload op
    uploads = by_name.get("upload", [])
    upload_ops = {o_id: o for o_id, o in enumerate(ops)
                  if o["kind"] == "upload" and o.get("traced") and "error" not in o}
    m["serve.post_s"] = _med([selft[s["id"]] for s in by_name.get("serve.post", [])])
    m["serve.figure_get_s"] = _med([selft[s["id"]]
                                    for s in by_name.get("serve.figure_get", [])])
    pickup, add_batch, files, actions = [], [], [], []
    for s in uploads:
        op = upload_ops.get(s["op"])
        if op is None:
            continue
        lines = input_rows_of(op["paths"]) + 1  # header line
        mine = [b for b in counters.get("batches", [])
                if s["start_ms"] <= b["start_ms"] <= s["end_ms"]
                and b["input_rows"] > 0]
        if mine:
            # 0 when the trigger that lists the new file began before the ack
            pickup.append(max(0.0, mine[0]["start_ms"] - op["ack_ms"]) / 1000.0)
            add_batch.append(mine[0]["add_batch_ms"] / 1000.0)
            files += [b["input_rows"] / lines for b in mine]
        actions.append(sum(1 for q in counters.get("sql", [])
                           if q["timeline"] and s["start_ms"] <= q["time_ms"] <= s["end_ms"]))
    m["stream.pickup_s"] = _med(pickup)
    m["stream.add_batch_s"] = _med(add_batch)
    m["stream.files_per_batch"] = _med(files)
    m["refresh.actions"] = _med(actions)

    # the whole fused op, against the layers
    ftot = [totals(jobs_of(counters, subtree(spans, s["id"]))) for s in fused]
    fwall = [dur(s) for s in fused]
    layer_run = sum(t["run_s"] for t in tot.values())
    m["fused.jobs"] = _med([t["jobs"] for t in ftot])
    m["fused.tasks"] = _med([t["tasks"] for t in ftot])
    m["fused.executor_run_s"] = _med([t["run_s"] for t in ftot])
    m["fused.cores_busy_ratio"] = _med([t["run_s"] / (w * cpus) for t, w in zip(ftot, fwall)])
    m["fused.shuffle_bytes"] = _med([t["shuffle_bytes"] for t in ftot])
    m["fused.spill_bytes"] = _med([t["spill_bytes"] for t in ftot])
    same_input = [s for s in fused if ops[s["op"]]["paths"] == ops[layers["op"]]["paths"]]
    ref = [dur(s) for s in same_input] or fwall
    ref_run = [totals(jobs_of(counters, subtree(spans, s["id"])))["run_s"]
               for s in same_input] or [t["run_s"] for t in ftot]
    m["fused.recompute_ratio"] = _med(ref_run) / layer_run if layer_run else float("nan")
    m["layers_vs_fused"] = sum(st.values()) / _med(ref)
    return m
