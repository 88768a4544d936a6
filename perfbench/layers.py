"""Turns the JVM's raw record into end-to-end metrics, per-layer metrics and spans."""
import metrics

TIMED = ("timed", "replay")


def timed_ops(ops):
    return [o for o in ops if o["phase"] in TIMED or o["phase"].startswith("pass")]


def end_to_end(raw, kind):
    ops = raw["ops"]
    timed = timed_ops(ops)
    steady = [o for o in timed if o["phase"] != "replay"]
    # an op that threw has no latency: it ended early, and counts in `failed`
    lat = [o["wall_s"] for o in steady if not o["error"]]
    # a pass is one sweep of the op list (all timed daily runs for the cron);
    # the tail is taken per pass, then the median over passes
    by_pass, ok_by_pass = {}, {}
    for o in steady:
        by_pass.setdefault(o["phase"], []).append(o["wall_s"])
        ok_by_pass.setdefault(o["phase"], [])
        if not o["error"]:
            ok_by_pass[o["phase"]].append(o["wall_s"])
    tails = [metrics.tail(v) for v in ok_by_pass.values()]
    tail = metrics.median([t[0] for t in tails])
    pct, n = tails[0][1], tails[0][2]
    if kind == "cron":
        wall = sum(o["wall_s"] for o in timed)
    else:
        wall = metrics.median([sum(v) for v in by_pass.values()])
    passes = len(by_pass)
    bad_checks = [c for c in raw["checks"] if not c["ok"]]
    errors = [o for o in ops if o["error"]]
    attempted = len(ops) + len(raw["checks"])
    failed = len(errors) + len(bad_checks)
    out = {"attempted": attempted, "failed": failed,
           "metrics": {
               "wall_s": wall,
               "op_p50_s": metrics.median(lat),
               "op_tail_s": tail,
               "cold_op_s": sum(o["wall_s"] for o in ops if o["phase"] == "cold"),
               "live_heap_mb": max(raw["pass_heap_mb"])},
           "detail": {"tail_percentile": pct, "tail_n": n, "passes": passes,
                      "failed_ops": failed / attempted if attempted else 0.0}}
    if kind == "cron":
        p = raw["pipeline"]
        replay = [o for o in ops if o["phase"] == "replay"]
        out["detail"].update(
            replay_s=replay[0]["wall_s"] if replay else 0.0,
            sink_bytes_per_row=p["sink_bytes"] / p["sink_rows"] if p["sink_rows"] else 0.0)
    return out


def _attributed(ops, rows, key, strict=True):
    """rows grouped by the op index that holds row[key] (see metrics.attribute)."""
    out = [[] for _ in ops]
    for r in rows:
        i = metrics.attribute(ops, r[key], strict)
        if i is not None:
            out[i].append(r)
    return out


def _op_layers(op, jobs, stages, sql, blocks, triggers, cpus):
    """Per-layer numbers for one op from the trace rows attributed to it."""
    wall = op["wall_s"]
    intervals = [(j["start_ms"] / 1e3, j["end_ms"] / 1e3) for j in jobs]
    sched = metrics.job_accounting(wall, intervals)
    task_s = sum(s["task_ms"] for s in stages) / 1e3
    dur = lambda k: sum(t["duration_ms"].get(k, 0) for t in triggers) / 1e3  # noqa: E731
    trigger_s = dur("triggerExecution")
    return {
        "ops.build_s": op["build_s"],
        "ops.build_jobs": sum(1 for j in jobs if j["start_ms"] <= op["build_end_ms"]),
        "spark.sql.analysis_s": sum(q["analysis_ms"] for q in sql) / 1e3,
        "spark.sql.optimizer_s": sum(q["optimizer_ms"] for q in sql) / 1e3,
        "spark.sql.planning_s": sum(q["planning_ms"] for q in sql) / 1e3,
        "spark.sql.plan_nodes": sum(q["plan_nodes"] for q in sql),
        "spark.codegen.compile_s": op["codegen_compile_s"],
        "spark.codegen.classes": op["codegen_classes"],
        "spark.sched.jobs": len(jobs),
        "spark.sched.stages": len(stages),
        "spark.sched.tasks": sum(s["tasks"] for s in stages),
        "spark.sched.task_s": task_s,
        "spark.sched.task_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "spark.sched.job_busy_s": sched["job_busy"],
        "spark.sched.driver_gap_s": sched["driver_gap"],
        "spark.sched.job_sum_s": sum(e - s for s, e in intervals),
        "spark.io.input_bytes": sum(s["input_bytes"] for s in stages),
        "spark.io.input_rows": sum(s["input_rows"] for s in stages),
        "spark.io.output_rows": sum(s["output_rows"] for s in stages),
        "spark.shuffle.write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "spark.shuffle.read_bytes": sum(s["shuffle_read_bytes"] for s in stages),
        "spark.shuffle.spill_bytes": sum(s["spill_bytes"] for s in stages),
        "spark.storage.blocks_put": len(blocks),
        "spark.storage.mem_bytes_put": sum(b["mem_bytes"] for b in blocks),
        "spark.storage.disk_bytes_put": sum(b["disk_bytes"] for b in blocks),
        "streaming.triggers": len(triggers),
        "streaming.input_rows": sum(t["input_rows"] for t in triggers),
        "streaming.trigger_s": trigger_s,
        "streaming.addBatch_s": dur("addBatch"),
        "streaming.queryPlanning_s": dur("queryPlanning"),
        "streaming.latestOffset_s": dur("latestOffset"),
        "streaming.walCommit_s": dur("walCommit"),
        "streaming.commitOffsets_s": dur("commitOffsets"),
        "streaming.state_rows": max([t["state_rows"] for t in triggers], default=0),
        "streaming.state_bytes": max([t["state_bytes"] for t in triggers], default=0),
        "streaming.outside_trigger_s": wall - trigger_s if triggers else 0.0,
        "jvm.gc_s": op["gc_s"],
        "jvm.heap_after_gc_mb": op["heap_after_gc_mb"],
        "wall_s": wall,
        "cores_s": wall * cpus,
    }


def _summarise(rows):
    """Mean per op of each layer number, plus the ratios over the sums."""
    if not rows:
        return {}
    keys = rows[0].keys()
    total = {k: sum(r[k] for r in rows) for k in keys}
    out = {k: total[k] / len(rows) for k in keys}
    out["spark.sched.job_overlap"] = (total["spark.sched.job_sum_s"] / total["spark.sched.job_busy_s"]
                                      if total["spark.sched.job_busy_s"] else 0.0)
    out["spark.sched.core_util"] = (total["spark.sched.task_s"] / total["cores_s"]
                                    if total["cores_s"] else 0.0)
    out["jvm.heap_after_gc_mb"] = max(r["jvm.heap_after_gc_mb"] for r in rows)
    for k in ("wall_s", "cores_s", "spark.sched.job_sum_s"):
        out.pop(k)
    out["ops"] = len(rows)
    return out


def per_layer(raw, kind):
    """(workload per-layer metrics, spans, per-module breakdown)."""
    ops = sorted(raw["ops"], key=lambda o: o["start_ms"])
    tr = raw["trace"]
    cpus = raw["context"]["cpus"]
    jobs = _attributed(ops, tr["jobs"], "start_ms")
    stages = _attributed(ops, tr["stages"], "start_ms")
    sql = _attributed(ops, tr["sql"], "t_ms")
    blocks = _attributed(ops, tr["blocks"], "t_ms", strict=False)
    triggers = _attributed(ops, tr["triggers"], "start_ms")
    rows = [_op_layers(o, jobs[i], stages[i], sql[i], blocks[i], triggers[i], cpus)
            for i, o in enumerate(ops)]
    timed = [i for i, o in enumerate(ops) if o in timed_ops(ops) and o["phase"] != "replay"]
    layers = _summarise([rows[i] for i in timed])
    modules = {}
    for i in timed:
        modules.setdefault(ops[i]["module"], []).append(rows[i])
    modules = {m: _summarise(r) for m, r in sorted(modules.items())}
    e2e = end_to_end(raw, kind)
    layers["trace.wall_s"] = e2e["metrics"]["wall_s"]
    layers["jvm.cold_op_s"] = e2e["metrics"]["cold_op_s"]
    layers.update(_pipeline(ops, raw, e2e))
    return layers, _spans(ops, jobs, stages, triggers), modules


def _pipeline(ops, raw, e2e):
    days = [o for o in ops if o["phase"] == "timed" and "appended_rows" in o]
    if not days:
        return {k: 0.0 for k in ("pipeline.watermark_read_s", "pipeline.rows_appended",
                                 "pipeline.append_ratio", "pipeline.bytes_written",
                                 "pipeline.sink_files", "pipeline.replay_s",
                                 "pipeline.sink_bytes_per_row")}
    window = sum(o["window_rows"] for o in days)
    grown = [b["sink_bytes"] - a["sink_bytes"] for a, b in zip(ops, ops[1:])
             if "sink_bytes" in a and b in days]
    return {
        "pipeline.watermark_read_s": metrics.median([o["watermark_read_s"] for o in days]),
        "pipeline.rows_appended": sum(o["appended_rows"] for o in days) / len(days),
        "pipeline.append_ratio": sum(o["tx_appended"] for o in days) / window if window else 0.0,
        "pipeline.bytes_written": metrics.median(grown) if grown else 0.0,
        "pipeline.sink_files": raw["pipeline"]["sink_files"],
        "pipeline.replay_s": e2e["detail"]["replay_s"],
        "pipeline.sink_bytes_per_row": e2e["detail"]["sink_bytes_per_row"],
    }


def _spans(ops, jobs, stages, triggers):
    """Op spans with build/exec children; jobs under the phase they started
    in, stages under their job, streaming triggers under the op's build."""
    spans = []
    for i, o in enumerate(ops):
        oid = f"op{i}"
        spans.append({"id": oid, "parent": None, "kind": "op", "name": o["name"],
                      "start": o["start_ms"], "end": o["end_ms"]})
        spans.append({"id": f"{oid}.build", "parent": oid, "kind": "build", "name": o["name"],
                      "start": o["start_ms"], "end": o["build_end_ms"]})
        spans.append({"id": f"{oid}.exec", "parent": oid, "kind": "exec", "name": o["name"],
                      "start": o["build_end_ms"], "end": o["end_ms"]})
        stage_job = {}
        for j in jobs[i]:
            phase = "build" if j["start_ms"] <= o["build_end_ms"] else "exec"
            jid = f"{oid}.job{j['id']}"
            spans.append({"id": jid, "parent": f"{oid}.{phase}", "kind": "job",
                          "name": str(j["id"]), "start": j["start_ms"], "end": j["end_ms"]})
            for s in j["stages"]:
                stage_job.setdefault(s, jid)
        for s in stages[i]:
            if s["id"] in stage_job:
                spans.append({"id": f"{oid}.stage{s['id']}", "parent": stage_job[s["id"]],
                              "kind": "stage", "name": str(s["id"]),
                              "start": s["start_ms"], "end": s["end_ms"]})
        for k, t in enumerate(triggers[i]):
            spans.append({"id": f"{oid}.trigger{k}", "parent": f"{oid}.build",
                          "kind": "trigger", "name": o["name"],
                          "start": t["start_ms"], "end": t["end_ms"]})
    return spans


def self_time_by_kind(spans):
    """Summed self time (s) per span kind."""
    st = metrics.self_times(spans)
    out = {}
    for s in spans:
        out[s["kind"]] = out.get(s["kind"], 0.0) + st[s["id"]] / 1e3
    return out
