"""Turns a harness run record into checked operations and named metrics.

Pure functions over the record, so the tests can drive them with
synthetic records.
"""
import statistics

# (name, unit) in the order printed; kept in step with BENCHMARK.json
END_TO_END = [
    ("wall_s", "s"), ("setup_s", "s"), ("op_p50_ms", "ms"), ("items_per_s", "1/s"),
    ("peak_live_mb", "MB"),
]
PER_LAYER = [
    ("queries.construct_ms", "ms"), ("queries.action_ms", "ms"), ("queries.eager_jobs", "count"),
    ("sched.jobs", "count"), ("sched.stages", "count"), ("sched.tasks", "count"),
    ("sched.tasks_per_job", "ratio"), ("sched.first_task_wait_ms", "ms"),
    ("sched.job_self_ms", "ms"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("staged.builds", "count"), ("staged.build_ms", "ms"), ("checkpoints.scoped_peak", "count"),
    ("storage.peak_mb", "MB"),
    ("exec.run_s", "s"), ("exec.cpu_s", "s"), ("exec.gc_ms", "ms"), ("exec.core_util", "ratio"),
    ("shuffle.write_mb", "MB"), ("shuffle.read_mb", "MB"), ("shuffle.fetch_wait_ms", "ms"),
    ("spill.disk_mb", "MB"), ("broadcast.mb", "MB"),
    ("scan.input_mb", "MB"), ("scan.input_rows", "count"),
    ("stream.batches", "count"), ("stream.batch_ms", "ms"), ("stream.state_rows", "count"),
    ("stream.state_commit_ms", "ms"),
    ("fetch.ok_ratio", "ratio"), ("sink.output_mb", "MB"), ("sink.write_amp", "ratio"),
    ("self.driver_ms", "ms"), ("self.job_ms", "ms"), ("self.stage_ms", "ms"),
    ("self.task_ms", "ms"),
    ("trace.wall_s", "s"), ("trace.overhead_s", "s"), ("host.anchor_par_ms", "ms"),
]

MB = 1048576.0
# innermost-first: an instant is charged to the deepest layer active then
SWEEP_LAYERS = ["exec.task", "sched.stage", "sched.job", "driver"]
DRIVER_LAYERS = {"queries.op", "queries.construct", "queries.action", "etl.bulk", "etl.upsert"}
OP_LAYERS = {"queries.op", "etl.bulk", "etl.upsert"}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """(value, percentile, samples beyond): the highest percentile with at
    least ten samples beyond it. Below 21 samples that percentile would not
    lie above the median, so the maximum is reported instead."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= 20:
        return s[-1], 100.0, 0
    k = n - 11
    return s[k], 100.0 * (k + 1) / n, n - 1 - k


def is_lead(record):
    return record["workload"] == "lead-etl"


def check(record, expected):
    """Per pass, per op: True when the op ran and its output is correct.
    Returns (checks, problems): problems name every failure, including staged
    builds that differ between the run's passes."""
    checks, problems = [], []
    lead_ref = record.get("lead", {}).get("expected_digest")
    for i, p in enumerate(record["passes"]):
        row = []
        for op in p["ops"]:
            ok, why = True, op["error"]
            if why:
                ok = False
            elif is_lead(record):
                if op["name"] == "bulk":
                    if op["records"] != op["ids"]:
                        ok, why = False, f"records {op['records']} != ids {op['ids']}"
                elif p.get("target_digest") != lead_ref:
                    ok, why = False, f"target digest {p.get('target_digest')} != {lead_ref}"
            elif op["digest"] != expected.get(op["name"]):
                ok, why = False, f"digest {op['digest']} != expected {expected.get(op['name'])}"
            if not ok:
                problems.append(f"pass {i} {op['name']}: {why}")
            row.append(ok)
        checks.append(row)
    for w in record.get("warm_errors", []):
        problems.append(f"warm pass: {w}")
    builds = {p["staged_builds"] for p in record["passes"]}
    if len(builds) > 1:
        problems.append(f"staged builds per pass differ between passes: {sorted(builds)}")
    return checks, problems


def self_times(spans):
    """Wall time charged to each layer: at every instant inside an
    operation, the deepest active layer is charged once, so the layers' self
    times add up to at most the operations' own time. Spans are
    [id, parent, layer, name, start_ms, end_ms, op]."""
    events = []
    for s in spans:
        layer = s[2]
        if layer in DRIVER_LAYERS:
            layer = "driver"
        if s[5] > s[4]:
            events.append((s[4], 1, layer, s[2] in OP_LAYERS))
            events.append((s[5], -1, layer, s[2] in OP_LAYERS))
    events.sort(key=lambda e: (e[0], e[1]))
    active = {l: 0 for l in SWEEP_LAYERS}
    ops = 0
    out = {l: 0.0 for l in SWEEP_LAYERS}
    last = None
    for t, d, layer, is_op in events:
        if last is not None and ops > 0 and t > last:
            for l in SWEEP_LAYERS:
                if active[l] > 0:
                    out[l] += t - last
                    break
        active[layer] += d
        if is_op:
            ops += d
        last = t
    return out


def _pass_walls(record, traced):
    return [p["wall_ms"] / 1000.0 for p in record["passes"] if p["traced"] == traced]


def end_to_end(record):
    passes = [p for p in record["passes"] if not p["traced"]]
    lat = [op["lat_ms"] for p in passes for op in p["ops"]
           if not is_lead(record) or op["name"] == "upsert"]
    t, pct, beyond = tail(lat)
    wall = median(_pass_walls(record, False))
    if is_lead(record):
        bulk = [op for p in passes for op in p["ops"] if op["name"] == "bulk"]
        items = median([op["ids"] / (op["lat_ms"] / 1000.0) for op in bulk])
        items_what = f"leads/s over {bulk[0]['ids'] if bulk else 0} ids (bulk step)"
    else:
        n_ops = len(passes[0]["ops"]) if passes else 0
        items = n_ops / wall if wall else 0.0
        items_what = f"queries/s over {n_ops} queries per pass"
    values = {
        "wall_s": wall,
        "setup_s": median(record["setup_ms"]) / 1000.0,
        "op_p50_ms": median(lat),
        "items_per_s": items,
        "peak_live_mb": record["peak_live_mb"],
    }
    # the tail is printed, not bounded: with the few operations a run can
    # afford there is no percentile above the median with ten samples
    # beyond it, and the maximum that stands in is too noisy to bound
    notes = [
        f"op_tail_ms = {t:.6g} ms: p{pct:.1f} of {len(lat)} operation latencies "
        f"({beyond} beyond it)",
        f"items_per_s counts {items_what}",
        f"{len(passes)} timed passes; set-up times {[round(x / 1000.0, 3) for x in record['setup_ms']]} s "
        f"(the first, cold, from process launch; setup_s is their median)",
    ]
    return values, notes


def per_layer(record):
    traced = [p for p in record["passes"] if p["traced"]]
    k = max(1, len(traced))
    tr = record.get("trace") or {"spans": [], "counters": {}}
    c = tr["counters"]

    def per(name, scale=1.0):
        return c.get(name, 0.0) / k / scale

    construct = sum(op["construct_ms"] for p in traced for op in p["ops"]) / k
    action = sum(op["action_ms"] for p in traced for op in p["ops"]) / k
    layer_of = {s[0]: s[2] for s in tr["spans"]}
    eager = sum(1 for s in tr["spans"]
                if s[2] == "sched.job" and layer_of.get(s[1]) == "queries.construct") / k
    selfs = {l: v / k for l, v in self_times(tr["spans"]).items()}
    walls = _pass_walls(record, True)
    wall = median(walls)
    jobs = per("sched.jobs")
    upsert_ids = sum(op["ids"] for p in traced for op in p["ops"] if op["name"] == "upsert") / k
    stored = [p["target_bytes"] / p["target_rows"] for p in traced if p.get("target_rows")]
    # bytes the upserts wrote per byte of incoming leads, with incoming
    # leads sized at the target's own bytes per stored lead
    incoming = upsert_ids * median(stored)
    write_amp = per("sink.upsert_bytes") / incoming if incoming else 0.0
    bulk = [op for p in traced for op in p["ops"] if op["name"] == "bulk"]
    values = {
        "queries.construct_ms": construct,
        "queries.action_ms": action,
        "queries.eager_jobs": eager,
        "sched.jobs": jobs,
        "sched.stages": per("sched.stages"),
        "sched.tasks": per("sched.tasks"),
        "sched.tasks_per_job": per("sched.tasks") / jobs if jobs else 0.0,
        "sched.first_task_wait_ms": per("sched.first_task_wait_ms"),
        "sched.job_self_ms": selfs["sched.job"] + selfs["sched.stage"],
        "catalyst.analysis_ms": per("catalyst.analysis_ms"),
        "catalyst.optimization_ms": per("catalyst.optimization_ms"),
        "catalyst.planning_ms": per("catalyst.planning_ms"),
        "staged.builds": median([p["staged_builds"] for p in traced]),
        "staged.build_ms": median([p["staged_build_ms"] for p in traced]),
        "checkpoints.scoped_peak": c.get("checkpoints.scoped_peak", 0.0),
        "storage.peak_mb": c.get("storage.peak_mb", 0.0),
        "exec.run_s": per("exec.run_ms", 1000.0),
        "exec.cpu_s": per("exec.cpu_ms", 1000.0),
        "exec.gc_ms": per("exec.gc_ms"),
        "exec.core_util": (per("exec.run_ms", 1000.0) / (wall * record["cores"])) if wall else 0.0,
        "shuffle.write_mb": per("shuffle.write_bytes", MB),
        "shuffle.read_mb": per("shuffle.read_bytes", MB),
        "shuffle.fetch_wait_ms": per("shuffle.fetch_wait_ms"),
        "spill.disk_mb": per("spill.disk_bytes", MB),
        "broadcast.mb": per("broadcast.bytes", MB),
        "scan.input_mb": per("scan.input_bytes", MB),
        "scan.input_rows": per("scan.input_rows"),
        "stream.batches": per("stream.batches"),
        "stream.batch_ms": per("stream.batch_ms"),
        "stream.state_rows": per("stream.state_rows"),
        "stream.state_commit_ms": per("stream.state_commit_ms"),
        "fetch.ok_ratio": median([op["records"] / op["ids"] for op in bulk]) if bulk else 0.0,
        "sink.output_mb": per("sink.output_bytes", MB),
        "sink.write_amp": write_amp,
        "self.driver_ms": selfs["driver"],
        "self.job_ms": selfs["sched.job"],
        "self.stage_ms": selfs["sched.stage"],
        "self.task_ms": selfs["exec.task"],
        "trace.wall_s": wall,
        "trace.overhead_s": wall - median(_pass_walls(record, False)),
        "host.anchor_par_ms": record.get("anchor_par_ms", 0.0),
    }
    notes = [f"{len(traced)} traced and {len(record['passes']) - len(traced)} untraced passes; "
             f"layer metrics are per traced pass",
             f"tracing overhead: traced pass {wall:.3f} s vs untraced "
             f"{median(_pass_walls(record, False)):.3f} s"]
    return values, notes


def assemble(record, checked, trace):
    """(result line, human-readable report lines)."""
    checks, problems = checked
    attempted = sum(len(row) for row in checks)
    failed = sum(1 for row in checks for ok in row if not ok)
    correct = not problems
    if trace:
        values, notes = per_layer(record)
        spec = PER_LAYER
    else:
        values, notes = end_to_end(record)
        spec = END_TO_END
    metrics = {name: {"value": float(values[name]), "unit": unit} for name, unit in spec}
    report = [f"workload {record['workload']}: {attempted} operations, {failed} failed, "
              f"failed_frac {failed / attempted if attempted else 0.0:.4f} (fraction)"]
    report += [f"  {name} = {values[name]:.6g} {unit}" for name, unit in spec]
    report += [f"  note: {n}" for n in notes]
    report += [f"  FAILED {p}" for p in problems]
    result = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    return result, report
