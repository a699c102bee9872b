#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON line of metrics.

    python3 perfbench/run.py --workload serve_point --seed 1 --seconds 15 --trace 0

Run from the root of a graft checkout. The first run compiles the program
and the harness into .bench_build/ (see build.py). Each run then generates
its inputs from the seed, drives the workload in one JVM (Harness.scala),
checks every response or result, and prints human-readable lines followed
by the result object as the last line of stdout. `--trace 1` registers a
job listener and times direct calls into each layer, and reports the
per-layer metrics instead of the end-to-end ones.

Workloads:
  serve_point  1 closed-loop client; selective NL and find-spec requests,
               limit 10, alternating between a small single-file collection
               and a small rolling collection whose oldest part file the
               client replaces before every 4th request: fixed per-request
               cost dominates.
  batch_ops    5 heavy declared queries via SparkEntry.queries, count() per
               op with tracked caches released between ops.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import datagen  # noqa: E402
import workloads  # noqa: E402

HEAP = "1536m"
JVM_TIMEOUT_S = 165

POINT_ROWS = 20000
ROLL_FILES, ROLL_ROWS, ROLL_POOL, ROLL_EVERY = 4, 5000, 6, 4
ROUNDS = 5                  # distinct requests of each kind per collection
WARM_CLIENTS, WARM_S = 4, 15
BATCH_SIZES = dict(customers=800, documents=300, vectors=300, events=6000,
                   users=100)
# a timed pass takes about this long on four cores; a run measures a whole
# number of passes, the same number in every run
BATCH_PASS_S = 7.5
# er_resolve and text_lmscore_big are left out to keep a run short: each is
# the simpler or forced twin of a kept op (er_resolve2 runs the same
# distance-1 stage first; text_lmscore_big computes text_lmscore's scores
# through the routed shuffle-join arm)
BATCH_OPS = ["er_resolve2", "search_hybrid_ann_batch", "text_lmscore",
             "graph_triangles", "graph_triangles_sharded"]

WORKLOADS = ["serve_point", "batch_ops"]
SETUPS = 3
# the tail percentile and the sample count that supports it: ten samples
# beyond the 75th percentile
TAIL_Q, MIN_SAMPLES = 0.75, 40

END_TO_END = [("latency_p50_ms", "ms"), ("latency_p75_ms", "ms"),
              ("throughput_rps", "1/s"), ("setup_s", "s"),
              ("heap_retained_mb", "MB")]

SERVE_LAYERS = [
    ("api.http_ms", "ms"), ("api.gen_ms", "ms"), ("api.other_ms", "ms"),
    ("api.response_kb", "KiB"),
    ("compile.nl_us", "us"), ("compile.json_repair_us", "us"),
    ("compile.filter_us", "us"),
    ("catalog.resolve_ms", "ms"), ("catalog.jobs_per_resolve", "count"),
    ("exec.collect_ms", "ms"), ("exec.count_ms", "ms"),
    ("exec.count_degraded_ratio", "ratio"),
    ("exec.rows_examined_per_result", "ratio"),
    ("spark.jobs_per_request", "count"), ("spark.stages_per_request", "count"),
    ("spark.tasks_per_request", "count"), ("spark.task_ms_per_request", "ms"),
    ("spark.shuffle_kb_per_request", "KiB"),
    ("catalyst.driver_ms_per_request", "ms"),
    ("jvm.gc_ms_per_request", "ms"),
    ("trace.unattributed_ms", "ms"),
    ("trace.latency_p50_ms", "ms"), ("trace.throughput_rps", "1/s"),
]
BATCH_LAYERS = [(f"batch.{op}.{m}", u) for op in BATCH_OPS
                for m, u in [("s", "s"), ("jobs", "count"), ("task_s", "s"),
                             ("shuffle_mb", "MB"), ("spill_mb", "MB")]] + [
    ("batch.rdd_blocks_left", "count"), ("jvm.gc_s_per_pass", "s"),
    ("trace.pass_s", "s")]
PER_LAYER = SERVE_LAYERS + BATCH_LAYERS

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_jvm(cp, work, spec):
    os.makedirs(spec["tmp"], exist_ok=True)
    spec_path, out_path = f"{work}/spec.json", f"{work}/out.json"
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}",
           f"-Djava.io.tmpdir={spec['tmp']}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness", spec_path, out_path]
    with open(f"{work}/jvm.log", "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on SIGTERM, which main() turns into SystemExit
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(out_path):
        with open(f"{work}/jvm.log", errors="replace") as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"harness JVM failed ({rc}):\n{tail}")
    with open(out_path) as f:
        return json.load(f)


def metric(v, unit):
    return {"value": v, "unit": unit}


def median(xs):
    return statistics.median(xs) if xs else 0.0


# --------------------------------------------------------------- serving

def count_queries(con, files, reqs, by_file=False):
    """Expected totals: one DuckDB scan computes every distinct filter."""
    wheres = sorted({check.where_sql(r["terms"]) for r in reqs})
    aggs = ", ".join(f"count(*) FILTER (WHERE {w})" for w in wheres)
    src = "read_parquet([" + ", ".join(f"'{p}'" for p in files) + "], filename=true)"
    if by_file:
        rows = con.sql(f"SELECT filename, {aggs} FROM {src} GROUP BY filename").fetchall()
        return {(r[0], w): r[i + 1] for r in rows for i, w in enumerate(wheres)}
    row = con.sql(f"SELECT {aggs} FROM {src}").fetchone()
    return dict(zip(wheres, row))


def describe(name, files):
    size = sum(os.path.getsize(f) for f in files)
    return f"{name}: {len(files)} files, {size / 2**20:.1f} MiB"


def serve(cp, work, args):
    rng = random.Random(args.seed)
    con = datagen.connect()
    src = f"{work}/sources/{workloads.DB}"
    files = datagen.collection(con, f"{src}/staff.parquet", 1, POINT_ROWS, args.seed, 1)
    roll_dir = f"{src}/staff_roll.parquet"
    init = datagen.collection(con, roll_dir, ROLL_FILES, ROLL_ROWS, args.seed, 10)
    spare = datagen.collection(con, f"{work}/roll_pool", ROLL_POOL, ROLL_ROWS,
                               args.seed, 20, id0=ROLL_FILES * ROLL_ROWS)
    roll_ids = range((ROLL_FILES + ROLL_POOL) * ROLL_ROWS)
    mix = lambda coll, ids: workloads.pool(
        lambda k: workloads.point_request(rng, coll, ids, k), workloads.KINDS,
        ROUNDS, rng)
    staff, roll = mix("staff", range(POINT_ROWS)), mix("staff_roll", roll_ids)
    totals = count_queries(con, files, staff)
    per_file = count_queries(con, init + spare, roll, by_file=True)
    con.close()

    def expect(r, gen):
        w = check.where_sql(r["terms"])
        if r["collection"] == "staff":
            return totals[w]
        # replacement j copies spare[j % ROLL_POOL]; the newest files stay
        seq = init + [spare[j % ROLL_POOL] for j in range(gen)]
        return sum(per_file[(f, w)] for f in seq[-ROLL_FILES:])

    # the client alternates between the two collections; the warm-up sends
    # the same mix from four clients so the JIT settles sooner
    timed = [r for pair in zip(staff, roll) for r in pair]
    warm = [timed[2 * c:] + timed[:2 * c] for c in range(WARM_CLIENTS)]
    notes = [describe("staff", files) + f", {POINT_ROWS} rows",
             describe("staff_roll", init) + f", {ROLL_FILES * ROLL_ROWS} rows; "
             f"its oldest file is replaced before every {ROLL_EVERY}th request "
             f"from {describe('a pool', spare)}"]
    wire = lambda r: {"path": r["path"], "body": workloads.body(r)}
    spec = {"mode": "serve", "tmp": f"{work}/tmp", "sources": f"{work}/sources",
            "setups": SETUPS, "probe": [wire(staff[0])],
            "probe_total": expect(staff[0], 0),
            "warmup": [[wire(r) for r in l] for l in warm],
            "warmup_seconds": WARM_S,
            "clients": [[wire(r) for r in timed]],
            "seconds": args.seconds, "min_samples": MIN_SAMPLES,
            "rolling": {"dir": roll_dir, "initial": [os.path.basename(f) for f in init],
                        "pool": spare, "every": ROLL_EVERY},
            "responses": f"{work}/responses.tsv", "trace": bool(args.trace),
            "layer_probes": [{"path": r["path"], "input": r["input"],
                              "db": workloads.DB, "collection": r["collection"]}
                             for r in timed[:18]]}
    out = run_jvm(cp, work, spec)
    samples, failures = [], {}
    with open(spec["responses"], encoding="utf-8") as f:
        for line in f:
            c, seq, ri, gen, nanos, status, body = line.rstrip("\n").split("\t", 6)
            r = timed[int(ri)]
            why = check.check_response(int(status), body, r["terms"], r["fields"],
                                       r["limit"], expect(r, int(gen)))
            if why:
                failures[why] = failures.get(why, 0) + 1
            samples.append({"ms": int(nanos) / 1e6, "ok": why is None,
                            "body": body})
    for why, n in failures.items():
        log(f"{n} incorrect: {why}")
    if out["warmup_errors"]:
        log(f"{out['warmup_errors']} warm-up requests failed")
    n = len(samples)
    good = sum(s["ok"] for s in samples)
    window_s = out["window_ms"] / 1e3
    lat = [s["ms"] if s["ok"] else math.inf for s in samples]
    p50 = check.percentile(lat, 0.5)
    tail, k, tail_ok = check.gated(lat, TAIL_Q)
    notes.append(f"{n} timed requests in {window_s:.1f} s; p75 has {k} samples "
                 f"beyond it" + ("" if tail_ok else " (fewer than 10)"))
    third = max(n // 3, 1)
    notes.append(f"median latency, first third {median(lat[:third]):.1f} ms, "
                 f"last third {median(lat[-third:]):.1f} ms")
    notes.append("the program holds no data cache on this path: every request "
                 "resolves, plans and scans its collection")
    notes.append(f"set-up repetitions: {out['setup_ms']} ms")
    e2e = {"latency_p50_ms": p50, "latency_p75_ms": tail,
           "throughput_rps": good / window_s,
           "setup_s": median(out["setup_ms"]) / 1e3,
           "heap_retained_mb": out["heap_retained_bytes"] / 2**20}
    layers = serve_layers(out, samples, p50, good / window_s) if args.trace else None
    correct = good == n and not out["warmup_errors"] and tail_ok
    return correct, n, n - good, e2e, layers, notes


def _union_ms(iv):
    total, end = 0, -1
    for s, e in sorted(iv):
        if e > end:
            total += e - max(s, end)
            end = e
    return total


def attribute(jobs):
    """Groups jobs by the service's per-request `graft-query-*` tag. Count
    jobs carry that tag too (the count inherits it) plus `graft-count-*`."""
    groups = {}
    for j in jobs:
        tag = next((t for t in j["tags"] if t.startswith("graft-query-")), None)
        if tag:
            groups.setdefault(tag, []).append(j)
    return groups


def job_kind(j):
    if any(t.startswith("graft-count-") for t in j["tags"]):
        return "count"
    return "resolve" if "Catalog.scala" in j["name"] else "collect"


def serve_layers(out, samples, p50, rps):
    envs = [json.loads(s["body"]) for s in samples if s["ok"]]
    rtt = [s["ms"] for s in samples if s["ok"]]
    gen = [e["query_generation_time"] * 1e3 for e in envs]
    db = [e["db_execution_time"] * 1e3 for e in envs]
    http = [r - e["execution_time"] * 1e3 for r, e in zip(rtt, envs)]
    other = [(e["execution_time"] - e["query_generation_time"]
              - e["db_execution_time"]) * 1e3 for e in envs]
    groups = list(attribute(out["jobs"]).values())

    def per_group(f):
        return median([f(g) for g in groups])

    def span(kind):
        return per_group(lambda g: _union_ms(
            [(j["start_ms"], j["end_ms"]) for j in g if job_kind(j) == kind]))

    lay = out["layers"]
    m = {
        "api.http_ms": median(http), "api.gen_ms": median(gen),
        "api.other_ms": median(other),
        "api.response_kb": statistics.fmean(len(s["body"]) for s in samples) / 1024,
        "compile.nl_us": median(lay["nl_us"]),
        "compile.json_repair_us": median(lay["json_repair_us"]),
        "compile.filter_us": median(lay["filter_us"]),
        "catalog.resolve_ms": median(lay["resolve_ms"]),
        "catalog.jobs_per_resolve": median(lay["resolve_jobs"]),
        "exec.collect_ms": span("collect"), "exec.count_ms": span("count"),
        "exec.count_degraded_ratio":
            sum(bool(e.get("count_degraded")) for e in envs) / max(len(envs), 1),
        "exec.rows_examined_per_result":
            sum(j["input_records"] for g in groups for j in g)
            / max(sum(e["result_count"] for e in envs), 1),
        "spark.jobs_per_request": per_group(len),
        "spark.stages_per_request": per_group(lambda g: sum(j["stages"] for j in g)),
        "spark.tasks_per_request": per_group(lambda g: sum(j["tasks"] for j in g)),
        "spark.task_ms_per_request": per_group(lambda g: sum(j["task_ms"] for j in g)),
        "spark.shuffle_kb_per_request":
            per_group(lambda g: sum(j["shuffle_bytes"] for j in g)) / 1024,
        "catalyst.driver_ms_per_request": median(db) - per_group(
            lambda g: _union_ms([(j["start_ms"], j["end_ms"]) for j in g])),
        "jvm.gc_ms_per_request": out["gc_ms"] / max(len(samples), 1),
        "trace.latency_p50_ms": p50, "trace.throughput_rps": rps,
    }
    covered = ["api.http_ms", "api.gen_ms", "api.other_ms", "exec.collect_ms",
               "exec.count_ms", "catalyst.driver_ms_per_request"]
    m["trace.unattributed_ms"] = (p50 - sum(m[k] for k in covered)
                                  - span("resolve"))
    return m


# ----------------------------------------------------------------- batch

def canon_rows(rel):
    """Row tuples of (arrow dtype, repr) cells, columns sorted by name: the
    canonical form graft's own oracle check compares."""
    tbl = rel.arrow()
    cols = sorted(tbl.column_names)
    types = [str(tbl.schema.field(c).type) for c in cols]
    vals = [tbl.column(c).to_pylist() for c in cols]
    rows = [tuple(f"{t}:{'NaN' if isinstance(v, float) and math.isnan(v) else repr(v)}"
                  for t, v in zip(types, (col[i] for col in vals)))
            for i in range(tbl.num_rows)]
    return cols, rows


def digest(cols, rows):
    """Order-independent content digest."""
    h = hashlib.sha256(json.dumps(cols).encode())
    for r in sorted(rows):
        h.update(json.dumps(r).encode())
    return h.hexdigest()[:16]


def batch(cp, work, args):
    rng = random.Random(args.seed)
    con = datagen.connect()
    data = f"{work}/data"
    datagen.batch_tables(con, data, args.seed, **BATCH_SIZES)
    ops = rng.sample(BATCH_OPS, len(BATCH_OPS))
    spec = {"mode": "batch", "tmp": f"{work}/tmp", "data": data, "ops": ops,
            "results": f"{work}/results", "trace": bool(args.trace),
            "passes": max(1, round(args.seconds / BATCH_PASS_S))}
    out = run_jvm(cp, work, spec)

    for t in ["customer", "documents", "embeddings", "events"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    expected, bad = {}, 0
    for op in ops:
        want = canon_rows(con.sql(out["oracle_sql"][op]))
        got = canon_rows(con.sql(f"SELECT * FROM '{work}/results/{op}/*.parquet'"))
        expected[op] = len(want[1])
        if digest(*want) != digest(*got) or len(got[1]) != len(want[1]):
            log(f"{op}: result differs from the DuckDB oracle "
                f"({len(got[1])} rows vs {len(want[1])})")
            bad += 1
    runs = out["runs"]
    wrong = [r for r in runs if r["count"] != expected[r["op"]]]
    for r in wrong[:5]:
        log(f"{r['op']} pass {r['pass']}: count {r['count']} != {expected[r['op']]}")
    sizes = ", ".join(f"{k}={v}" for k, v in BATCH_SIZES.items())
    notes = [f"tables: {sizes}; ops in seed order: {' '.join(ops)}",
             f"{out['passes']} timed passes, {len(runs)} ops in "
             f"{out['window_ms'] / 1e3:.1f} s; oracle check: "
             f"{len(ops) - bad}/{len(ops)} match"]
    n = len(runs) + len(ops)
    failed = len(wrong) + bad
    # a pass is the batch user's request: its latency is the wall time of
    # the whole op list, and a pass with a wrong count misses every limit
    passes = [sum(r["ms"] for r in runs if r["pass"] == p) / 1e3
              for p in range(out["passes"])]
    lat = [1e3 * t if not any(r["pass"] == p for r in wrong) else math.inf
           for p, t in enumerate(passes)]
    pass_s = median(passes)
    e2e = {"latency_p50_ms": check.percentile(lat, 0.5),
           "latency_p75_ms": check.percentile(lat, TAIL_Q),
           "throughput_rps": (len(runs) - len(wrong)) / (out["window_ms"] / 1e3),
           "setup_s": out["setup_ms"] / 1e3,
           "heap_retained_mb": out["heap_retained_bytes"] / 2**20}
    notes.append(f"set-up (JVM start to the end of the first pass) "
                 f"{out['setup_ms'] / 1e3:.1f} s; passes " +
                 " ".join(f"{p:.2f}" for p in passes) + " s")
    layers = batch_layers(out, ops, pass_s) if args.trace else None
    return failed == 0, n, failed, e2e, layers, notes


def batch_layers(out, ops, pass_s):
    runs, jobs = out["runs"], out["jobs"]
    m = {"batch.rdd_blocks_left": statistics.fmean(out["rdd_blocks_left"]),
         "jvm.gc_s_per_pass": out["gc_ms"] / 1e3 / out["passes"],
         "trace.pass_s": pass_s}
    for op in ops:
        mine = [r for r in runs if r["op"] == op]
        per = []
        for r in mine:  # ops run one at a time: attribute jobs by interval
            js = [j for j in jobs if r["start_ms"] <= j["start_ms"] <= r["end_ms"]]
            per.append((r["ms"] / 1e3, len(js), sum(j["task_ms"] for j in js) / 1e3,
                        sum(j["shuffle_bytes"] for j in js) / 2**20,
                        sum(j["spill_bytes"] for j in js) / 2**20))
        for i, k in enumerate(["s", "jobs", "task_s", "shuffle_mb", "spill_mb"]):
            m[f"batch.{op}.{k}"] = median([p[i] for p in per])
    return m


# ------------------------------------------------------------------ main

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    try:
        cp = build.build(root)
    except build.BuildError as e:
        log(f"cannot build the program: {e}")
        return 2
    work = f"{root}/{build.BUILD}/runs/{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        runner = batch if args.workload == "batch_ops" else serve
        correct, attempted, failed, e2e, layers, notes = runner(cp, work, args)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in notes:
        print(f"# {line}")
    if args.trace:
        units = dict(PER_LAYER)
        vals = {k: 0.0 for k in units}
        vals.update(layers)
        metrics = {k: metric(v, units[k]) for k, v in vals.items()}
    else:
        metrics = {k: metric(e2e[k], u) for k, u in END_TO_END}
    for k, v in metrics.items():
        print(f"# {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": bool(correct) and failed == 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
