#!/usr/bin/env python3
"""graft benchmark: closed-loop, single-client workloads on a local[nproc]
Spark session. See perfbench/README.md.

  python3 perfbench/run.py --workload query_sf01 --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the program with
sbt and generates the input layouts under perfbench/.work; later runs
reuse both while their stamps and manifests still match.

The last stdout line is one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with every end-to-end metric (--trace 0) or every per-layer metric
(--trace 1). A table with sample counts goes to stderr, and the full
record, with machine and input details, is appended to
perfbench/.work/results.jsonl.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

import numpy as np
import pandas as pd

import checks
import gen_data
import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
RUN_BUDGET_S = 170

# Input layouts. sf layouts are generated by gen_data.py, one file per
# table; x10 layouts by graft.tools.ScaleData (80 files per fact table).
# Pinned digests make a changed generator fail loudly instead of
# silently benchmarking other data.
LAYOUTS = {
    "sf0.1": ("gen", 0.1),
    "sf0.01": ("gen", 0.01),
    "x10": ("scale", "sf0.01"),
    "sf0.001": ("gen", 0.001),
    "sf0.0001": ("gen", 0.0001),
    "x10-smoke": ("scale", "sf0.0001"),
}
PINNED = {
    "sf0.1": "f88345aa93d84a5453476a63b191bfad548aea4b8b7f8bf379b35fd37c36b71e",
    "sf0.01": "7960d4c5031eda5bfc9f17af35d2be3a94b6bdfa79acae9334775f5adcd1e7e8",
    "x10": "bddc6fad2f89ad6fc835cf7d0c7c91bcb52b87d25d998e03bee0d8aadc63a261",
    "sf0.001": "6e87a85f61d3050322885a797d4626783c167b62fe8dc1e421a31977ada7b917",
    "sf0.0001": "0cfa9eb2c02f22264c77cc4bcc9902b2e0b8efe481f20be33aae09754f1ba792",
    "x10-smoke": "56bc7842bdc05ba23af1bfec33697ca520bae8b9ecaf72e1f5ae96f8ba036aaf",
}

QUERY_OPS = ["q1_agg", "d2_dedup_ngram_jaccard", "e9_knn_graph"]
STREAM_ENTRIES = ["s18_stream_native_sink"]
# table_write writes its batches up front, enough for this many passes
WRITE_PASSES = 12
# a traced pass must have this share of its wall inside layer spans
ACCOUNTED = (0.9, 1.1)

WORKLOADS = {
    # every headline operation on both layouts: one file per table,
    # where driver work dominates, and 80 files per fact table
    "query": {"kind": "query",
              "layouts": {"sf01": "sf0.1", "x10": "x10"},
              "smoke": {"sf01": "sf0.001", "x10": "x10-smoke"}},
    # commits next to reads on one table, plus two streaming entries
    "table_write": {"kind": "write",
                    "layouts": {"sf01": "sf0.1"},
                    "smoke": {"sf01": "sf0.001"}},
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(msg)
    sys.exit(code)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# ------------------------------------------------------------------ build

def source_stamp():
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(HERE, "project"),
                 os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            paths += [os.path.join(d, f) for f in sorted(files)]
    for p in paths:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """sbt-compiled classpath of graft plus the JVM side of perfbench."""
    out = os.path.join(WORK, "build")
    os.makedirs(out, exist_ok=True)
    stamp, cp_file = source_stamp(), os.path.join(out, "classpath.txt")
    try:
        with open(os.path.join(out, "stamp")) as f:
            old = f.read().strip()
        with open(cp_file) as f:
            cp = f.read().strip()
        if old == stamp and all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    except OSError:
        pass
    log("building with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + opts).strip()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=800)
    lines = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("sbt build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(os.path.join(out, "stamp"), "w") as f:
        f.write(stamp)
    return cp


def java_cmd(cp, tmp, *args):
    opens = []
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"):
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return (["java"] + opens +
            ["-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dfile.encoding=UTF-8",
             "-Dsun.jnu.encoding=UTF-8", "-Dspark.ui.enabled=false",
             "-cp", cp, "perfbench.Main"] + list(args))


def run_jvm(cmd, log_path, timeout):
    """Runs the JVM in its own process group and always reaps it."""
    env = dict(os.environ, LANG="C.UTF-8")
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env, start_new_session=True)
        try:
            return p.wait(timeout=max(10, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def tail_of(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


# ----------------------------------------------------------------- inputs

def layout_dir(name):
    return os.path.join(WORK, "data", name)


def digest_of(name):
    d = layout_dir(name)
    if LAYOUTS[name][0] == "gen":
        return gen_data.manifest(d)
    with open(os.path.join(d, "MANIFEST.tsv"), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def recorded_digest(name):
    try:
        with open(os.path.join(layout_dir(name), "DIGEST")) as f:
            return f.read().strip()
    except OSError:
        return None


def ensure_layout(name, cp):
    """Reuses a layout only when its files still match the recorded
    digest (and the pinned one, where pinned); regenerates otherwise."""
    d = layout_dir(name)
    want = PINNED.get(name)
    have = recorded_digest(name)
    if have and (want is None or have == want):
        try:
            if digest_of(name) == have:
                return d
        except OSError:
            pass
    kind, arg = LAYOUTS[name]
    shutil.rmtree(d, ignore_errors=True)
    log(f"generating input layout {name}")
    if kind == "gen":
        gen_data.generate(d, arg)
    else:
        src = ensure_layout(arg, cp)
        tmp = os.path.join(WORK, "tmp")
        os.makedirs(tmp, exist_ok=True)
        rc = run_jvm(java_cmd(cp, tmp, "scale", src, d, str(cores()),
                              os.path.join(tmp, "spark-local")),
                     os.path.join(WORK, f"scale-{name}.log"), 800)
        shutil.rmtree(tmp, ignore_errors=True)
        if rc != 0:
            fail(f"x10 generation failed:\n{tail_of(os.path.join(WORK, f'scale-{name}.log'))}")
    got = digest_of(name)
    if want and got != want:
        fail(f"layout {name} digest {got} differs from the pinned {want}")
    with open(os.path.join(d, "DIGEST"), "w") as f:
        f.write(got)
    return d


def input_sizes(name):
    """(files, bytes) per table, as the JVM must find them on disk: the
    manifest for x10 layouts, the digest-checked files otherwise."""
    d = layout_dir(name)
    out = {}
    if LAYOUTS[name][0] == "scale":
        with open(os.path.join(d, "MANIFEST.tsv")) as f:
            for line in f:
                t, n_files, _, files = line.rstrip("\n").split("\t")
                out[t] = [int(n_files), sum(int(x.split(":")[1]) for x in files.split(","))]
    else:
        for t in gen_data.TABLES:
            out[t] = [1, os.path.getsize(os.path.join(d, f"{t}.parquet"))]
    return out


# ------------------------------------------------------------------ plans

def query_plan(ops, layouts, rng, max_passes):
    runs = [f"{op}@{l}" for op in ops for l in layouts]
    return {"ops": ops,
            "pass_orders": [rng.sample(runs, len(runs)) for _ in range(max_passes)]}


def write_plan(data, rng, run_dir, max_passes):
    """One write round per pass, with its batches written up front."""
    orders = pd.read_parquet(os.path.join(data, "orders.parquet"))
    nrng = np.random.default_rng(rng.randrange(2 ** 32))
    batches = os.path.join(run_dir, "batches")
    warm = checks.make_rounds(orders, nrng, 1, batches, first_id=-1)[0]
    rounds = checks.make_rounds(orders, nrng, max_passes, batches)
    blocks = ["round"] + STREAM_ENTRIES
    return orders, {
        "rounds": rounds, "warm_round": warm, "stream_entries": STREAM_ENTRIES,
        "pass_orders": [rng.sample(blocks, len(blocks)) for _ in range(max_passes)]}


# ------------------------------------------------------------------- main

def steal_ticks():
    """(steal, total) CPU ticks from /proc/stat: time the host took."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return 0, 0


def loadavg():
    try:
        return os.getloadavg()[0]
    except OSError:
        return -1.0


def git_head():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def read_records(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs (sf0.001), for tests")
    a = ap.parse_args()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala"),
                 os.path.join("tools", "check.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a graft checkout", 2)

    wl = WORKLOADS[a.workload]
    load0 = loadavg()
    cp = build()
    # every layout of the mode is made on the first run, whatever its
    # workload, so later runs of any workload pay no generation
    mode_key = "smoke" if a.smoke else "layouts"
    for w in WORKLOADS.values():
        for name in w[mode_key].values():
            ensure_layout(name, cp)
    layouts = wl[mode_key]
    data = layout_dir(layouts["sf01"])
    # one-time build and generation may take long; the run itself
    # must stay inside the per-run budget
    t_start = time.monotonic()

    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    rng = random.Random(a.seed)
    max_passes = 64 if wl["kind"] == "query" else WRITE_PASSES
    plan = {"workload": a.workload, "cores": cores(), "seconds": a.seconds,
            "trace": a.trace, "work": run_dir,
            "layouts": {k: layout_dir(v) for k, v in layouts.items()},
            "inputs": {k: input_sizes(v) for k, v in layouts.items()},
            # a trace run brackets its traced pass with untraced ones, so
            # JIT warm-up between passes does not bias the overhead ratio
            "setup_rounds": 3, "min_passes": 3 if a.trace else 1,
            "max_passes": max_passes}
    orders = None
    if wl["kind"] == "query":
        plan.update(query_plan(QUERY_OPS, layouts, rng, max_passes))
    else:
        orders, extra = write_plan(data, rng, run_dir, max_passes)
        plan.update(extra)
    plan_path = os.path.join(run_dir, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)

    jvm_log = os.path.join(run_dir, "jvm.log")
    steal0 = steal_ticks()
    # leave time for the checks after the JVM
    budget = RUN_BUDGET_S - (time.monotonic() - t_start) - 25
    rc = run_jvm(java_cmd(cp, os.path.join(run_dir, "tmp"), "run", plan_path), jvm_log,
                 budget if not a.smoke else 600)
    if rc != 0:
        fail(f"benchmark JVM {'timed out' if rc is None else f'exited {rc}'}:\n"
             f"{tail_of(jvm_log)}")
    steal1 = steal_ticks()
    records = read_records(os.path.join(run_dir, "records.jsonl"))
    by = metrics.split(records)
    load1 = loadavg()

    # correctness, untimed
    canon = checks.load_check_tool(ROOT).canon
    ops = [o for o in by.get("op", []) if o["pass"] >= 0]
    attempted, failed = len(ops), sum(1 for o in ops if not o["ok"])
    fails = [f"{o['name']} pass {o['pass']} failed: {o['err']}" for o in ops if not o["ok"]]
    prints_path = os.path.join(HERE, "fingerprints.json")
    with open(prints_path) as f:
        prints = json.load(f)
    with open(os.path.join(run_dir, "oracle_sql.json")) as f:
        oracle_sql = json.load(f)
    runs = [(o["name"], o["pass"]) for o in ops if o["ok"] and o["cls"] in ("read", "stream")
            and o["name"] not in metrics.READ_VERBS]
    n_checked, bad, recorded = checks.check_query_outputs(
        os.path.join(run_dir, "out"), runs, layouts, oracle_sql,
        lambda layout: checks.Oracle(layout_dir(layout)), prints, canon)
    if recorded:
        # an output with neither oracle nor fingerprint is recorded, not
        # checked; the committed file holds every operation the
        # workloads run, so this happens only after adding one
        with open(prints_path, "w") as f:
            json.dump(prints, f, indent=1, sort_keys=True)
            f.write("\n")
        log(f"recorded fingerprints for {', '.join(recorded)}; commit fingerprints.json")
    if wl["kind"] == "write":
        executed = [r["id"] for r in by.get("round", []) if r["pass"] >= 0]
        n2, bad2 = checks.check_table_write(
            os.path.join(run_dir, "out"), orders, plan["rounds"], executed, canon)
        n_checked += n2
        bad += bad2
    fails += bad
    for f_ in fails:
        log(f"CHECK FAILED {f_}")
    correct_ratio = (n_checked - len(bad)) / n_checked if n_checked else 0.0
    correct = not fails and n_checked > 0

    e2e, samples = metrics.end_to_end(records)
    if a.trace:
        user_bytes = {r["id"]: r["user_bytes"] for r in plan.get("rounds", [])}
        values = metrics.per_layer(records, plan["cores"], user_bytes)
        units = dict(metrics.PER_LAYER)
        # the benchmark's own spans must cover its loop: wall time
        # outside every layer span is work the per-layer metrics miss
        ratio = values["trace.accounted_ratio"]
        if not ACCOUNTED[0] <= ratio <= ACCOUNTED[1]:
            fails.append(f"layer self-times cover {ratio:.3f} of the traced pass wall, "
                         f"outside {ACCOUNTED}")
            log(f"CHECK FAILED {fails[-1]}")
            correct = False
    else:
        values, units = e2e, dict(metrics.END_TO_END)
    out = {"correct": correct, "attempted": attempted, "failed": failed,
           "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}

    meta = by.get("meta", [{}])[0]
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "smoke": a.smoke,
              "input_digests": {v: recorded_digest(v) for v in layouts.values()},
              "nproc": cores(),
              "loadavg_start": load0, "loadavg_end": load1,
              "steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
              "heap_max_mb": meta.get("heap_max_mb"), "jdk": meta.get("java"),
              "spark": meta.get("spark"), "git_head": git_head(),
              "correct_ratio": correct_ratio,
              "fail_ratio": failed / attempted if attempted else 0.0,
              "samples": samples, "end_to_end": e2e,
              "op_seconds": {o["name"]: round((o["end"] - o["start"]) / 1e6, 4)
                             for o in ops if o["pass"] == 0},
              "result": out, "check_failures": fails[:50],
              "captured_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}
    with open(os.path.join(WORK, "results.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    for k, u in units.items():
        n = samples.get(k, 1) if not a.trace else 1
        log(f"{a.workload:12s} {k:40s} {values[k]:14.6f} {u:6s} n={n}")
    log(f"correct_ratio={correct_ratio:.4f} fail_ratio={record['fail_ratio']:.4f} "
        f"attempted={attempted} wall={time.monotonic() - t_start:.1f}s")
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
