"""Arithmetic of the benchmark: every number it reports is derived here
from the raw records the JVM side writes (one JSON object per line).

Times in records are epoch microseconds (spans, ops, passes, stream
events) or epoch milliseconds (Spark job and stage events).
"""
import math
import statistics

TAIL_LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)
LAYER_PREFIXES = ("entry.", "operators.", "graft_table.", "streaming.")
COMMIT_VERBS = ("append", "merge_into", "update", "delete_where", "compact")
READ_VERBS = ("read_where", "read_version", "change_feed")
FUNCTIONS = ("shingle_hashes", "minhash_sig", "simhash64", "rolling_hash",
             "gear_chunks", "cosine_sim", "bloom_contains", "topk_by_score")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def percentile(xs, p):
    """Linear-interpolated percentile of a non-empty sample."""
    s = sorted(xs)
    pos = (len(s) - 1) * p / 100.0
    lo = int(math.floor(pos))
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail(xs):
    """(value, percentile) of the highest ladder percentile that still
    has at least ten samples above it; the median when none does."""
    n = len(xs)
    if n == 0:
        return 0.0, 50.0
    for p in TAIL_LADDER:
        if n * (100.0 - p) >= 1000:      # n * (1 - p/100) >= 10, exactly
            return percentile(xs, p), p
    return percentile(xs, 50.0), 50.0


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Span id -> duration minus the covered length of its children."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) - union_length(kids.get(s["id"], []))
            for s in spans}


def attribute(jobs, spans):
    """Job id -> id of the innermost span whose window holds the job's
    start, or None. Attribution is by time window, not by thread, so
    jobs that verbs run on pooled threads land in the verb's span."""
    out = {}
    for j in jobs:
        t = j["start"]
        best = None
        for s in spans:
            if s["start"] <= t <= s["end"]:
                if best is None or (s["end"] - s["start"]) < (best["end"] - best["start"]):
                    best = s
        out[j["id"]] = best["id"] if best else None
    return out


def _subtree(spans, root_id):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    out, todo = set(), [root_id]
    while todo:
        i = todo.pop()
        out.add(i)
        todo.extend(kids.get(i, []))
    return out


def split(records):
    by = {}
    for r in records:
        by.setdefault(r["kind"], []).append(r)
    return by


def jobs_of(by):
    """Job intervals in microseconds, joined from start and end events."""
    ends = {r["job"]: r for r in by.get("job_end", [])}
    out = []
    for r in by.get("job_start", []):
        if r["desc"].startswith("perfbench-drain-") or r["job"] not in ends:
            continue
        out.append({"id": r["job"], "start": r["t"] * 1000,
                    "end": ends[r["job"]]["t"] * 1000, "ok": ends[r["job"]]["ok"]})
    return out


def setup_seconds(by):
    parts = by.get("setup", [])
    session = sum(p["s"] for p in parts if p["part"] == "session")
    rounds = [p["s"] for p in parts if p["part"] == "round"]
    warm = sum(p["s"] for p in parts if p["part"] == "warm")
    return session + median(rounds) + warm


def pass_ops(by, traced=False):
    """Ops that ran inside the measured passes of the given kind."""
    kinds = {p["pass"]: p["traced"] for p in by.get("pass", [])}
    return [o for o in by.get("op", [])
            if o["pass"] in kinds and kinds[o["pass"]] == traced]


def end_to_end(records):
    """(metrics, samples): every end-to-end metric and its sample count."""
    by = split(records)
    passes = [p for p in by.get("pass", []) if not p["traced"]]
    per_op = {}
    for o in pass_ops(by):
        if o["ok"]:
            per_op.setdefault(o["name"], []).append((o["end"] - o["start"]) / 1e6)
    heap = by.get("heap", [{"peak_mb": 0.0}])[-1]["peak_mb"]
    m = {
        "setup_s": setup_seconds(by),
        "pass_s": median([(p["end"] - p["start"]) / 1e6 for p in passes]),
        "query_geomean_s": geomean([median(v) for v in per_op.values()]),
        "driver_live_peak_mb": heap,
    }
    n = {"setup_s": len(by.get("setup", [])), "pass_s": len(passes),
         "query_geomean_s": sum(len(v) for v in per_op.values()), "driver_live_peak_mb": 1}
    return m, n


def per_layer(records, cores, user_bytes=None):
    """Every per-layer metric, from the traced passes of a trace run.
    Layers that a workload leaves idle report 0."""
    by = split(records)
    spans = by.get("span", [])
    jobs = jobs_of(by)
    owner = attribute(jobs, spans)
    span_by_id = {s["id"]: s for s in spans}
    stages_by_job = {}
    for st in by.get("stage", []):
        stages_by_job.setdefault(st["job"], []).append(st)
    traced = [p for p in by.get("pass", []) if p["traced"]]
    untraced = [p for p in by.get("pass", []) if not p["traced"]]
    rows = []
    for p in traced:
        root = next((s for s in spans if s["name"] == "pass"
                     and s["start"] >= p["start"] and s["end"] <= p["end"] + 1), None)
        if root is None:
            continue
        ids = _subtree(spans, root["id"])
        ps = [span_by_id[i] for i in ids]
        pjobs = [j for j in jobs if owner[j["id"]] in ids]
        rows.append(_pass_layers(p, ps, pjobs, owner, stages_by_job, cores, by,
                                 user_bytes))
    out = {k: median([r[k] for r in rows]) for k in (rows[0] if rows else {})}
    if not rows:
        out = {k: 0.0 for k in PER_LAYER_NAMES}
    # functions: one probe call each, after the passes
    for fn in FUNCTIONS:
        out[f"functions.{fn}_s"] = sum(
            (s["end"] - s["start"]) / 1e6 for s in spans if s["name"] == f"functions.{fn}")
    for cls in ("commit", "read"):
        lat = [(o["end"] - o["start"]) / 1e6 for o in pass_ops(by)
               if o["ok"] and o["cls"] == cls and "@" not in o["name"]]
        out[f"graft_table.{cls}_p50_s"] = median(lat)
        out[f"graft_table.{cls}_tail_s"] = tail(lat)[0]
    for layout in ("sf01", "x10"):
        per_op = {}
        for o in pass_ops(by):
            if o["ok"] and o["name"].endswith("@" + layout):
                per_op.setdefault(o["name"], []).append((o["end"] - o["start"]) / 1e6)
        out[f"query.{layout}_geomean_s"] = geomean([median(v) for v in per_op.values()])
    vac = [(o["end"] - o["start"]) / 1e6 for o in by.get("op", []) if o["name"] == "vacuum"]
    out["graft_table.vacuum_s"] = median(vac)
    t_wall = median([p["end"] - p["start"] for p in traced])
    u_wall = median([p["end"] - p["start"] for p in untraced])
    out["trace.overhead_ratio"] = t_wall / u_wall if u_wall else 0.0
    return {k: out.get(k, 0.0) for k in PER_LAYER_NAMES}


def _pass_layers(p, spans, jobs, owner, stages_by_job, cores, by, user_bytes):
    wall = p["end"] - p["start"]
    selfs = self_times(spans)
    m = {}
    named = [s for s in spans if s["name"].startswith(LAYER_PREFIXES)]
    m["trace.accounted_ratio"] = sum(selfs[s["id"]] for s in named) / wall if wall else 0.0
    # entry: plan build through SparkEntry.queries
    builds = [s for s in spans if s["name"] == "entry.build"]
    build_ids = {s["id"] for s in builds}
    ops = [s for s in spans if s["name"] == "op"]
    m["entry.build_s"] = sum(s["end"] - s["start"] for s in builds) / 1e6
    m["entry.build_jobs"] = sum(1 for j in jobs if owner[j["id"]] in build_ids)
    op_total = sum(s["end"] - s["start"] for s in ops) / 1e6
    m["entry.build_share"] = m["entry.build_s"] / op_total if op_total else 0.0
    # operators: all Spark work of the pass; gaps are per operation
    stages = [st for j in jobs for st in stages_by_job.get(j["id"], [])]
    job_us = gap_us = 0
    for o in ops:
        inside = [(j["start"], j["end"]) for j in jobs
                  if o["start"] <= j["start"] <= o["end"]]
        covered = union_length(inside)
        job_us += covered
        gap_us += (o["end"] - o["start"]) - covered
    m["operators.jobs"] = len(jobs)
    m["operators.stages"] = len(stages)
    m["operators.tasks"] = sum(st["tasks"] for st in stages)
    m["operators.job_s"] = job_us / 1e6
    m["operators.driver_gap_s"] = gap_us / 1e6
    m["operators.task_run_s"] = sum(st["run_ms"] for st in stages) / 1e3
    m["operators.task_cpu_s"] = sum(st["cpu_ns"] for st in stages) / 1e9
    m["operators.gc_s"] = sum(st["gc_ms"] for st in stages) / 1e3
    m["operators.task_wait_s"] = sum(st["wait_ms"] for st in stages) / 1e3
    m["operators.slot_busy_ratio"] = (
        m["operators.task_run_s"] / (m["operators.job_s"] * cores)
        if m["operators.job_s"] else 0.0)
    skews = [st["task_max_ms"] / st["task_median_ms"] for st in stages
             if st["tasks"] >= 2 and st["task_median_ms"] > 0]
    m["operators.max_stage_skew"] = max(skews) if skews else 1.0
    mb = 1024.0 * 1024.0
    m["operators.shuffle_write_mb"] = sum(st["shuffle_write"] for st in stages) / mb
    m["operators.shuffle_read_mb"] = sum(st["shuffle_read"] for st in stages) / mb
    m["operators.spill_mb"] = sum(st["spill"] for st in stages) / mb
    m["operators.tasks_failed"] = sum(st["failed_tasks"] for st in stages)
    # tables: what the scans read
    m["tables.scan_mb"] = sum(st["in_bytes"] for st in stages) / mb
    m["tables.scan_rows"] = sum(st["in_rows"] for st in stages)
    out_rows = sum(st["out_rows"] for st in stages)
    m["tables.rows_scanned_per_row_out"] = m["tables.scan_rows"] / out_rows if out_rows else 0.0
    # graft_table: verb spans and the table state sampled after the pass
    for verb in COMMIT_VERBS + READ_VERBS:
        m[f"graft_table.{verb}_s"] = median(
            [(s["end"] - s["start"]) / 1e6 for s in spans
             if s["name"] == f"graft_table.{verb}"])
    commits = [s for s in spans if s["name"] in
               {f"graft_table.{v}" for v in COMMIT_VERBS}]
    if commits:
        cj = [j for j in jobs if owner[j["id"]] in {s["id"] for s in commits}]
        m["graft_table.jobs_per_commit"] = len(cj) / len(commits)
        gaps = 0
        for s in commits:
            inside = [(j["start"], j["end"]) for j in cj if s["start"] <= j["start"] <= s["end"]]
            gaps += (s["end"] - s["start"]) - union_length(inside)
        m["graft_table.driver_gap_per_commit_s"] = gaps / len(commits) / 1e6
    stats = [t for t in by.get("table_stats", []) if t["pass"] == p["pass"]]
    if stats:
        t = stats[-1]
        m["graft_table.files_pruned_ratio"] = (
            t["pruned_files"] / t["live_files"] if t["live_files"] else 0.0)
        m["graft_table.live_files"] = t["live_files"]
        m["graft_table.log_bytes"] = t["log_bytes"]
        rounds = [r for r in by.get("round", []) if r["pass"] == p["pass"]]
        if rounds and user_bytes:
            lo = min(r["v0"] for r in rounds)
            hi = max(r["v1"] for r in rounds)
            added = sum(b for v, b in t["bytes_added"] if lo < v <= hi)
            ub = sum(user_bytes.get(r["id"], 0) for r in rounds)
            m["graft_table.bytes_written_per_user_byte"] = added / ub if ub else 0.0
    # streaming: micro-batch progress of the queries started in the pass
    starts = {s["query"]: s["t"] for s in by.get("stream_start", [])
              if p["start"] <= s["t"] <= p["end"]}
    prog = [e for e in by.get("stream_progress", []) if e["query"] in starts]
    if prog:
        def dur(key):
            return sum(e["durations"].get(key, 0) for e in prog) / 1e3
        m["streaming.batches"] = len(prog)
        m["streaming.batch_p50_s"] = median(
            [e["durations"].get("triggerExecution", 0) / 1e3 for e in prog])
        first = {}
        for e in sorted(prog, key=lambda e: e["t"]):
            first.setdefault(e["query"], e["t"])
        m["streaming.start_s"] = median([(first[q] - t0) / 1e6 for q, t0 in starts.items()
                                         if q in first])
        m["streaming.add_batch_s"] = dur("addBatch")
        m["streaming.planning_s"] = dur("queryPlanning")
        m["streaming.wal_commit_s"] = dur("walCommit")
    return {k: m.get(k, 0.0) for k in PER_LAYER_NAMES}


END_TO_END = [
    ("setup_s", "s"), ("pass_s", "s"), ("query_geomean_s", "s"),
    ("driver_live_peak_mb", "MB"),
]

PER_LAYER = (
    [("entry.build_s", "s"), ("entry.build_jobs", "count"), ("entry.build_share", "ratio")]
    + [(f"operators.{n}", u) for n, u in (
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"), ("job_s", "s"),
        ("driver_gap_s", "s"), ("task_run_s", "s"), ("task_cpu_s", "s"), ("gc_s", "s"),
        ("task_wait_s", "s"), ("slot_busy_ratio", "ratio"), ("max_stage_skew", "ratio"),
        ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"), ("spill_mb", "MB"),
        ("tasks_failed", "count"))]
    + [("tables.scan_mb", "MB"), ("tables.scan_rows", "count"),
       ("tables.rows_scanned_per_row_out", "ratio")]
    + [(f"functions.{f}_s", "s") for f in FUNCTIONS]
    + [(f"graft_table.{v}_s", "s") for v in COMMIT_VERBS + ("vacuum",) + READ_VERBS]
    + [("graft_table.jobs_per_commit", "count"), ("graft_table.driver_gap_per_commit_s", "s"),
       ("graft_table.bytes_written_per_user_byte", "ratio"),
       ("graft_table.files_pruned_ratio", "ratio"), ("graft_table.live_files", "count"),
       ("graft_table.log_bytes", "bytes"), ("graft_table.commit_p50_s", "s"),
       ("graft_table.commit_tail_s", "s"), ("graft_table.read_p50_s", "s"),
       ("graft_table.read_tail_s", "s")]
    + [(f"streaming.{n}", u) for n, u in (
        ("batches", "count"), ("batch_p50_s", "s"), ("start_s", "s"),
        ("add_batch_s", "s"), ("planning_s", "s"), ("wal_commit_s", "s"))]
    + [("query.sf01_geomean_s", "s"), ("query.x10_geomean_s", "s")]
    + [("trace.overhead_ratio", "ratio"), ("trace.accounted_ratio", "ratio")]
)
PER_LAYER_NAMES = [n for n, _ in PER_LAYER]
