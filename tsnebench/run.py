#!/usr/bin/env python3
"""The repository benchmark: one closed-loop measurement of one workload.

    python3 tsnebench/run.py --workload embed_local --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It compiles the program and the harness
on first use (tsnebench/build.py), generates the workload's inputs from the
seed under .bench_work/, runs the measuring JVM on local[<nproc>], checks
every operation's output, prints each metric with its unit and ends with one
JSON line: {"correct", "attempted", "failed", "metrics"}. --trace 0 reports
the end-to-end metrics, --trace 1 the per-layer metrics of one traced
operation. See tsnebench/README.md for the workloads and metrics.
"""
import argparse
import collections
import datetime
import decimal
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import inputs  # noqa: E402

JVM_HEAP = "3g"
SETUP_ROUNDS = 3
WARMUP_OPS = 2
WARMUP_SECONDS = 25
MIN_OPS = 3
TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

QUERIES = ["q_dedup_minhash", "q_hits"]

# Tsne.run settings of embed_local: the reference CLI's defaults (300
# iterations, theta 0.25) on its own input format, with perplexity scaled
# down with the 600-point input. P stays under the CLI's maxLocalPEntries,
# so the run routes to the driver-local optimizer; the traced run also times
# the distributed superstep loop on the same P for a few iterations.
EMBED = dict(perplexity=10.0, knnMethod="partition", iterations=300, theta=0.25)
DIST_PROBE_ITERATIONS = 5
WORKLOADS = ["embed_local", "query_mix"]

END_TO_END = [
    ("run_s", "s"), ("setup_s", "s"), ("recall", "ratio"),
    ("heap_after_gc_peak_mb", "MB"), ("work_rate", "items/s"),
]


def per_layer_names():
    names = [
        "io.read_s", "io.read_rows", "io.write_s", "io.shuffle_write_mb",
        "knn.s", "knn.task_cpu_s", "knn.jobs", "knn.shuffle_write_mb", "knn.pairs",
        "knn.recall_vs_exact",
        "affinities.pairwise_s", "affinities.joint_s", "affinities.task_cpu_s",
        "affinities.jobs", "affinities.shuffle_write_mb", "affinities.p_entries",
        "optimizer.init_s", "optimizer.s", "optimizer.s_per_iter", "optimizer.driver_s",
        "optimizer.jobs", "optimizer.tasks", "optimizer.task_cpu_s",
        "optimizer.result_mb", "optimizer.gc_s", "optimizer.local_path",
        "optimizer.dist_s_per_iter", "optimizer.dist_driver_s_per_iter",
        "optimizer.dist_jobs_per_iter", "optimizer.dist_result_mb_per_iter",
        "bhtree.build_s", "bhtree.force_collapsed_s", "bhtree.force_spread_s",
        "gradient.attractive_s", "gradient.update_s"]
    for fam in ("dedup", "graph"):
        names += [f"{fam}.{m}" for m in
                  ("s", "driver_s", "jobs", "result_mb", "shuffle_write_mb")]
    for q in QUERIES:
        names += [f"q.{q}.s", f"q.{q}.jobs"]
    names += ["spark.jobs", "spark.task_cpu_s", "spark.gc_s", "spark.core_util",
              "trace.total_s", "trace.spans_s", "trace.unattributed_s",
              "trace.overhead_s"]
    return names


def unit_of(name):
    last = name.rsplit(".", 1)[-1]
    if re.search(r"(^|_)s(_per_iter)?$", last):
        return "s"
    if "_mb" in last:
        return "MB"
    if last in ("recall_vs_exact", "core_util"):
        return "ratio"
    if last == "local_path":
        return "flag"
    return "count"


def fail(msg):
    print(f"tsnebench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---- query result check: the canonicalization of tools/compare_oracle.py --

def norm(v):
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if hasattr(v, "to_pydatetime"):
        return v.to_pydatetime().replace(tzinfo=None).isoformat()
    return repr(v)


def canon_rows(rows, cols):
    order = sorted(range(len(cols)), key=lambda c: cols[c])
    return sorted(tuple(norm(r[c]) for c in order) for r in rows)


def digest(canon):
    h = hashlib.sha256()
    for r in canon:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def decode(obj):
    if "f" in obj:
        return float.fromhex(obj["f"])
    if "dec" in obj:
        return decimal.Decimal(obj["dec"])
    return obj


def oracle_answers(work):
    """Runs each query's DuckDB oracle SQL (SparkEntry.oracleSql) on the
    generated tables; returns {query: (sorted column names, canonical rows)}."""
    import duckdb
    con = duckdb.connect()
    for t in ("documents", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(work, t + '.parquet')}')")
    with open(os.path.join(work, "oracle_sql.json")) as f:
        sql = json.load(f)
    out = {}
    for q in QUERIES:
        res = con.execute(sql[q])
        cols = [d[0].lower() for d in res.description]
        out[q] = (sorted(cols), canon_rows(res.fetchall(), cols))
    con.close()
    return out


def check_query_op(work, idx, oracle):
    """(ok, row recall, message) of one query_mix operation."""
    hits = total = 0
    bad = []
    for q in QUERIES:
        with open(os.path.join(work, "out", f"op{idx}", f"{q}.jsonl")) as f:
            cols = json.loads(f.readline())
            rows = [json.loads(line, object_hook=decode) for line in f if line.strip()]
        ocols, orows = oracle[q]
        srows = canon_rows(rows, cols)
        total += len(orows)
        if sorted(cols) != ocols:
            bad.append(f"{q}: columns {sorted(cols)} != {ocols}")
            continue
        hits += sum((collections.Counter(srows) & collections.Counter(orows)).values())
        if len(srows) != len(orows) or digest(srows) != digest(orows):
            bad.append(f"{q}: {len(srows)} rows vs oracle {len(orows)}, hash differs")
    return not bad, (hits / total if total else 1.0), "; ".join(bad)


# ---- run ---------------------------------------------------------------

def cpu_steal_s():
    """Host CPU time stolen from this VM so far (Linux /proc/stat), in s."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def git_rev():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except OSError:
        return "none"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("program sources src/main/scala not found: run from a full checkout")

    classes = build.build()
    t_start = time.time()
    cores = len(os.sched_getaffinity(0))

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        result, metrics, correct, attempted, failed = measure(args, classes, cores, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    stamp = dict(result["stamp"], workload=args.workload, seed=args.seed,
                 seconds=args.seconds, nproc=cores, jvm_heap=JVM_HEAP,
                 git_rev=git_rev(), build=os.path.basename(classes),
                 input=result["info"])
    print("stamp " + json.dumps(stamp, sort_keys=True))
    for name, m in metrics.items():
        print(f"  {name:<34} {m['value']:>14.6g} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def measure(args, classes, cores, work, t_start):
    g0 = time.perf_counter()
    jvm_args = [f"workload={args.workload}", f"work={work}", f"cores={cores}",
                f"seconds={args.seconds}", f"trace={args.trace}",
                f"seed={args.seed}", f"rounds={SETUP_ROUNDS}", f"warmups={WARMUP_OPS}",
                f"warmupSeconds={WARMUP_SECONDS}", f"minOps={MIN_OPS}",
                f"queries={','.join(QUERIES)}"]
    if args.workload == "embed_local":
        shape = inputs.make_embed(args.seed, work)
        # ten times the recall@10 of a structure-free embedding
        floor = 10.0 * inputs.TRUTH_K / (shape["points"] - 1)
        jvm_args += [f"{k}={v}" for k, v in {**shape, **EMBED}.items()]
        jvm_args += [f"recallFloor={floor}", f"distIterations={DIST_PROBE_ITERATIONS}"]
    else:
        shape = inputs.make_tables(args.seed, work)
    gen_s = time.perf_counter() - g0

    jars = os.path.join(build.SPARK_HOME, "jars", "*")
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work}/tmp"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-cp", os.pathsep.join([classes, jars]), "tsnebench.Main"] + jvm_args)
    budget = TIMEOUT_S - (time.time() - t_start)
    steal0 = cpu_steal_s()
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work)
    try:
        rc = proc.wait(timeout=max(10.0, budget))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"measuring JVM did not finish within {budget:.0f} s")
    if rc != 0:
        fail(f"measuring JVM exited with code {rc}")
    with open(os.path.join(work, "result.json")) as f:
        result = json.load(f)
    result["stamp"]["cpu_steal_s"] = round(cpu_steal_s() - steal0, 2)
    result["info"].update(shape)

    ops = result["ops"]
    oracle_s = 0.0
    if args.workload == "query_mix":
        o0 = time.perf_counter()
        oracle = oracle_answers(work)
        oracle_s = time.perf_counter() - o0
        for i, op in enumerate(ops):
            op["ok"], op["recall"], op["msg"] = check_query_op(work, i, oracle)
    for i, op in enumerate(ops):
        if not op["ok"]:
            print(f"tsnebench: operation {i} failed: {op['msg']}", file=sys.stderr)
    good = [op for op in ops if op["ok"]] or ops
    run_s = statistics.median(op["s"] for op in good)
    trace = result["trace"]
    correct = all(op["ok"] for op in ops) and result["warmup_ok"]
    if not result["warmup_ok"]:
        print(f"tsnebench: warm-up failed: {result['warmup_msg']}", file=sys.stderr)

    print(f"setup: inputs {gen_s:.3f} s, oracle {oracle_s:.3f} s, session rounds "
          f"{', '.join(f'{x:.3f}' for x in result['setup_rounds_s'])} s, "
          f"warm-up {result['warmup_s']:.3f} s ({result['warmup_ops']} ops); ops " +
          ", ".join(f"{op['s']:.3f}/{op['cpu_s']:.2f}" for op in ops) + " s wall/cpu")
    if args.trace == 0:
        values = {
            "run_s": run_s,
            "setup_s": gen_s + oracle_s + statistics.median(result["setup_rounds_s"])
            + result["warmup_s"],
            "recall": statistics.median(op["recall"] for op in good),
            "heap_after_gc_peak_mb": result["heap_after_gc_peak_mb"],
            "work_rate": result["work_per_op"] / run_s,
        }
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END}
    else:
        if trace["error"]:
            print(f"tsnebench: traced run failed: {trace['error']}", file=sys.stderr)
            correct = False
        spans_s = sum(s["wall_s"] for s in trace["spans"] if s["parent"] == "op")
        values = dict(trace["layers"])
        values.update({k: trace[k] for k in
                       ("spark.jobs", "spark.task_cpu_s", "spark.gc_s", "spark.core_util")})
        values.update({"trace.total_s": trace["total_s"], "trace.spans_s": spans_s,
                       "trace.unattributed_s": trace["total_s"] - spans_s,
                       "trace.overhead_s": trace["total_s"] - run_s})
        print(f"traced run {args.workload} seed {args.seed}: "
              f"{len(trace['spans'])} spans")
        for s in trace["spans"]:
            print(f"  span {s['name']:<24} parent={s['parent']:<4} "
                  f"run={s['run_id']} {s['wall_s']:.4f} s")
        print(f"  sum of spans {spans_s:.4f} s of traced wall {trace['total_s']:.4f} s, "
              f"unattributed {trace['total_s'] - spans_s:.4f} s")
        metrics = {n: {"value": float(values.get(n, 0.0)), "unit": unit_of(n)}
                   for n in per_layer_names()}
    return result, metrics, correct, len(ops), sum(1 for op in ops if not op["ok"])


if __name__ == "__main__":
    main()
