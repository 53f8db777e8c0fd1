"""Per-layer metrics of one traced run.

Spans nest as call (the harness's call into a program module) -> SQL
execution -> job -> task. Jobs and SQL executions belong to the call whose
interval holds their midpoint (the harness makes one call at a time); tasks
belong to their stage's job; an SQL execution carries its own planning
phases, read from the query execution its end event carries. A layer's self time is its span minus the union of its
children's spans (stats.self_time). Layers a workload does not exercise
read 0."""
from . import stats

BACKENDS = ("path", "bucketed")

UNITS = {
    "pipeline.tick.jobs": "count",
    "pipeline.tick.sql_execs": "count",
    "pipeline.tick.plan_ms": "ms",
    "pipeline.tick.driver_gap_ms": "ms",
    "pipeline.tick.task_busy_ms": "ms",
    "pipeline.cursor.read_ms": "ms",
    "pipeline.fs.read_ops": "count",
    "pipeline.fs.write_ops": "count",
    "pipeline.fetch.requests": "count",
    "pipeline.fetch.token_exchanges": "count",
    "pipeline.fetch.bytes": "bytes",
    "pipeline.publish.bytes": "bytes",
    "pipeline.processed_ratio": "ratio",
    "sources.catalog.search_ms": "ms",
    "sources.catalog.pages": "count",
    "sources.slot_scan.rows_read": "count",
    "sources.slot_scan.useful_ratio": "ratio",
    **{f"Engine.{k}.{b}": u for b in BACKENDS for k, u in [
        ("ingest.docs_per_s", "1/s"),
        ("ingest.jobs_per_batch", "count"),
        ("ingest.plan_ms", "ms"),
        ("ingest.driver_gap_ms", "ms"),
        ("ingest.task_busy_ms", "ms"),
        ("ingest.core_util", "ratio"),
        ("ingest.shuffle_bytes", "bytes"),
        ("ingest.input_bytes", "bytes"),
        ("ingest.output_bytes", "bytes"),
        ("ingest.bytes_written_per_kept_doc", "bytes"),
        ("ingest.fs_ops", "count"),
        ("index.files", "count"),
        ("ingest.kept_ratio", "ratio"),
    ]},
    "operators.build_ms": "ms",
    "operators.prebuild_jobs": "count",
    "operators.plan_ms": "ms",
    "operators.driver_gap_ms": "ms",
    "operators.write_ms": "ms",
    "operators.jobs": "count",
    "operators.tasks": "count",
    "operators.task_busy_ms": "ms",
    "operators.core_util": "ratio",
    "operators.shuffle_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "operators.gc_ms": "ms",
    "streaming.triggers": "count",
    "streaming.trigger_p50_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count",
    "trace.unattributed_share": "ratio",
}

# task tuple layout, as the harness's Tracer writes it
(T_JOB, T_LAUNCH, T_FINISH, T_RUN, T_GC, T_SHR, T_SHW, T_SPILL, T_IN_B,
 T_IN_REC, T_OUT_B) = range(11)


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _ratio(a, b):
    return a / b if b else 0.0


def _owner(spans, t0, t1):
    """Index of the span holding the midpoint of [t0, t1], or None."""
    mid = (t0 + t1) / 2.0
    for i, s in enumerate(spans):
        if s["t0"] <= mid <= s["t1"]:
            return i
    return None


class Attribution:
    """Jobs, SQL executions, tasks and planning time grouped per call."""

    def __init__(self, result):
        tr = result["trace"]
        self.calls = sorted(result["calls"], key=lambda c: c["t0"])
        self.jobs = {i: [] for i in range(len(self.calls))}
        self.sqls = {i: [] for i in range(len(self.calls))}
        self.tasks = {i: [] for i in range(len(self.calls))}
        self.plan_ms = {i: 0.0 for i in range(len(self.calls))}
        for s in tr["sqls"]:
            if "t1" not in s:
                continue
            c = _owner(self.calls, s["t0"], s["t1"])
            if c is not None:
                self.sqls[c].append(s)
                self.plan_ms[c] += (s["analysis_ms"] + s["optimization_ms"]
                                    + s["planning_ms"])
        job_call, self.job_sql = {}, {}
        for j in tr["jobs"]:
            if "t0" not in j:
                continue
            c = _owner(self.calls, j["t0"], j["t1"])
            if c is not None:
                self.jobs[c].append(j)
                job_call[j["id"]] = c
                self.job_sql[j["id"]] = j["exec"]
        for t in tr["tasks"]:
            c = job_call.get(t[T_JOB])
            if c is not None:
                self.tasks[c].append(t)

    def select(self, name, ops):
        return [i for i, c in enumerate(self.calls)
                if c["name"] == name and c["op"] in ops]

    def wall(self, i):
        c = self.calls[i]
        return c["t1"] - c["t0"]

    def driver_gap(self, i):
        c = self.calls[i]
        return stats.self_time((c["t0"], c["t1"]),
                               [(j["t0"], j["t1"]) for j in self.jobs[i]])

    def task_sum(self, i, field, keep=lambda t: True):
        return sum(t[field] for t in self.tasks[i] if keep(t))


def unattributed_share(result, measured):
    """Share of the measured window's wall covered by no call span."""
    lo = min(o["t0"] for o in measured)
    hi = max(o["t1"] for o in measured)
    covered = stats.union_length([(c["t0"], c["t1"]) for c in result["calls"]], lo, hi)
    return 1.0 - covered / (hi - lo) if hi > lo else 0.0


def _slot(result, a, measured, m):
    ops = {o["id"] for o in measured}
    ticks = a.select("pipeline.tick", ops)
    catalog_exec = {s["id"] for i in ticks for s in a.sqls[i] if s["catalog_pages"] >= 0}
    is_scan = lambda t: a.job_sql.get(t[T_JOB]) not in catalog_exec
    processed = [o for o in measured if o.get("outcome") == "processed"]
    rows_read = sum(a.task_sum(i, T_IN_REC, is_scan) for i in ticks)
    searches = [s for i in ticks for s in a.sqls[i] if s["catalog_pages"] >= 0]
    m.update({
        "pipeline.tick.jobs": _mean(len(a.jobs[i]) for i in ticks),
        "pipeline.tick.sql_execs": _mean(
            sum(1 for s in a.sqls[i] if s["root"] == s["id"]) for i in ticks),
        "pipeline.tick.plan_ms": _mean(a.plan_ms[i] for i in ticks),
        "pipeline.tick.driver_gap_ms": _mean(a.driver_gap(i) for i in ticks),
        "pipeline.tick.task_busy_ms": _mean(a.task_sum(i, T_RUN) for i in ticks),
        "pipeline.cursor.read_ms": _mean(
            a.wall(i) for i in a.select("pipeline.nextSlot", ops)),
        "pipeline.fs.read_ops": _mean(a.calls[i]["fs_read_ops"] for i in ticks),
        "pipeline.fs.write_ops": _mean(a.calls[i]["fs_write_ops"] for i in ticks),
        "pipeline.fetch.requests": _mean(a.calls[i]["fetch_requests"] for i in ticks),
        "pipeline.fetch.token_exchanges": _mean(
            a.calls[i]["fetch_token_exchanges"] for i in ticks),
        "pipeline.fetch.bytes": _mean(a.calls[i]["fetch_bytes"] for i in ticks),
        "pipeline.publish.bytes": _ratio(
            sum(a.task_sum(i, T_OUT_B) for i in ticks), len(processed)),
        "pipeline.processed_ratio": _ratio(len(processed), len(measured)),
        "sources.catalog.search_ms": _ratio(
            sum(s["t1"] - s["t0"] for s in searches), len(ticks)),
        "sources.catalog.pages": _mean(s["catalog_pages"] for s in searches),
        "sources.slot_scan.rows_read": _ratio(rows_read, len(processed)),
        "sources.slot_scan.useful_ratio": _ratio(
            sum(o["rows"] for o in processed), rows_read),
    })


def _dedup(result, a, measured, m, batches, cores):
    for b in BACKENDS:
        ops = [o for o in measured if o["backend"] == b]
        calls = [i for i in range(len(a.calls))
                 if a.calls[i].get("backend") == b and a.calls[i]["op"] in
                 {o["id"] for o in ops}]
        kept = sum(o["kept"] for o in ops)
        out_b = sum(a.task_sum(i, T_OUT_B) for i in calls)
        busy = sum(a.task_sum(i, T_RUN) for i in calls)
        m.update({
            f"Engine.ingest.docs_per_s.{b}": _ratio(
                sum(o["docs"] for o in ops), sum(o["ms"] for o in ops) / 1000.0),
            f"Engine.ingest.jobs_per_batch.{b}": _ratio(
                sum(len(a.jobs[i]) for i in calls), batches * len(calls)),
            f"Engine.ingest.plan_ms.{b}": _mean(a.plan_ms[i] for i in calls),
            f"Engine.ingest.driver_gap_ms.{b}": _mean(a.driver_gap(i) for i in calls),
            f"Engine.ingest.task_busy_ms.{b}": _ratio(busy, len(calls)),
            f"Engine.ingest.core_util.{b}": _ratio(
                busy, cores * sum(a.wall(i) for i in calls)),
            f"Engine.ingest.shuffle_bytes.{b}": _mean(
                a.task_sum(i, T_SHW) for i in calls),
            f"Engine.ingest.input_bytes.{b}": _mean(
                a.task_sum(i, T_IN_B) for i in calls),
            f"Engine.ingest.output_bytes.{b}": _ratio(out_b, len(calls)),
            f"Engine.ingest.bytes_written_per_kept_doc.{b}": _ratio(out_b, kept),
            f"Engine.ingest.fs_ops.{b}": _mean(
                a.calls[i]["fs_read_ops"] + a.calls[i]["fs_write_ops"] for i in calls),
            f"Engine.index.files.{b}": _mean(o["index_files"] for o in ops),
            f"Engine.ingest.kept_ratio.{b}": _ratio(kept, sum(o["docs"] for o in ops)),
        })


def _mix(result, a, measured, m, cores):
    batch = {o["id"] for o in measured if not o["stream"]}
    builds = a.select("Q.build", batch)
    writes = a.select("write.noop", batch)
    per_op = lambda f: _ratio(sum(f(i) for i in builds + writes), len(batch))
    op_ms = {o["id"]: o for o in measured}
    gaps = [stats.self_time((op_ms[q]["t0"], op_ms[q]["t1"]),
                            [(j["t0"], j["t1"]) for i in builds + writes
                             if a.calls[i]["op"] == q for j in a.jobs[i]])
            for q in batch]
    busy = sum(a.task_sum(i, T_RUN) for i in builds + writes)
    wall = sum(op_ms[q]["ms"] for q in batch)
    m.update({
        "operators.build_ms": _mean(a.wall(i) for i in builds),
        "operators.prebuild_jobs": _mean(len(a.jobs[i]) for i in builds),
        "operators.plan_ms": per_op(lambda i: a.plan_ms[i]),
        "operators.driver_gap_ms": _mean(gaps),
        "operators.write_ms": _mean(a.wall(i) for i in writes),
        "operators.jobs": per_op(lambda i: len(a.jobs[i])),
        "operators.tasks": per_op(lambda i: len(a.tasks[i])),
        "operators.task_busy_ms": _ratio(busy, len(batch)),
        "operators.core_util": _ratio(busy, cores * wall),
        "operators.shuffle_bytes": per_op(lambda i: a.task_sum(i, T_SHW)),
        "operators.spill_bytes": per_op(lambda i: a.task_sum(i, T_SPILL)),
        "operators.gc_ms": per_op(lambda i: a.calls[i]["gc_ms"]),
    })
    streams = {o["id"] for o in measured if o["stream"]}
    trig = [p for p in result["streams"] if p["op"] in streams]
    dur = lambda k: [p["durations"].get(k, 0) for p in trig]
    m.update({
        "streaming.triggers": _ratio(len(trig), len(streams)),
        "streaming.trigger_p50_ms": stats.median(dur("triggerExecution")) if trig else 0.0,
        "streaming.add_batch_ms": _mean(dur("addBatch")),
        "streaming.wal_commit_ms": _mean(dur("walCommit")),
        "streaming.state_commit_ms": _mean(p["state_commit_ms"] for p in trig),
        "streaming.state_rows": _mean(p["state_rows"] for p in trig),
    })


def per_layer(result, batches=0):
    measured = [o for o in result["ops"] if o["measured"] and o["ok"]]
    a = Attribution(result)
    m = {k: 0.0 for k in UNITS}
    wl, cores = result["workload"], result["cores"]
    if wl == "slot_catchup":
        _slot(result, a, measured, m)
    elif wl == "dedup_ingest":
        _dedup(result, a, measured, m, batches, cores)
    else:
        _mix(result, a, measured, m, cores)
    m["trace.unattributed_share"] = unattributed_share(result, measured)
    return m
