#!/usr/bin/env python3
"""Benchmark entry point: build, run one workload, check, print metrics.

    python3 perfbench/run.py --workload shared_stores --seed 1 --seconds 10 --trace 0

Run from the repository root. The program (src/main/scala) and the
harness (perfbench/src) are compiled with the Scala compiler that ships in
the Spark jars into .bench_build/, then one JVM runs the workload. The last
stdout line is the JSON result; the full stamped record goes to
.bench_build/results/. `--record` rewrites perfbench/expected/<workload>.json
from this run's outputs (use it only on a commit whose results are trusted).
"""
import argparse
import glob
import hashlib
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import bench_lib  # noqa: E402

SPARK_JARS = "/opt/spark/jars"
FIXTURES = "/root/testdata"
BUILD = ".bench_build"
XMX = "2g"
JVM_TIMEOUT_S = 165

# Each workload: fixture, serve-phase queries (issued once per pass in a
# seeded order), the passes a run always makes and at most makes (further
# passes run while the serve phase is shorter than --seconds), and how
# many ALS re-factorizations each Alg. 1 trace runs.
WORKLOADS = {
    "alg1_antidote": {
        "sf": "sf0.01",
        # the build's alpha-sweep trains the heuristic-init model the trace
        # starts from, so the trace's first train is a memo hit; a second
        # pass would be all memo hits, so there is none
        "serve": ["q_antidote_trace_grp", "q_antidote_step",
                  "q_antidote_eval", "q_antidote_init"],
        "passes": (1, 1),
        "refits": {"q_antidote_trace_grp": 3},
    },
    "shared_stores": {
        "sf": "sf0.01",
        "serve": [
            # shingle stores
            "q_text_repetition",
            # simhash store
            "q_dedup_simhash_pairs", "q_dedup_rate_by_source",
            "q_near_dup_eval", "q_dedup_threshold_sweep",
            # pair store
            "q_degree_hist", "q_triangle_count", "q_pref_attach",
            "q_adamic_adar",
            # ANN indexes
            "q_sim_trained_ivf", "q_sim_pq", "q_sim_ivfpq",
            # stream slice store: an incremental maintainer committing
            # versioned state per micro-batch, and two stream queries
            "q_stream_incr_agg", "q_stream_tumbling", "q_stream_dedup",
            # relational/aggregate/window/scalar queries over the cached
            # tables: per-query planning and scheduling cost
            "q_agg_cube", "q_join_semi", "q_window_running",
            "q_scan_project", "q_regexp"],
        "passes": (2, 64),
    },
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def java_opens():
    mods = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
            "java.net", "java.nio", "java.util", "java.util.concurrent",
            "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
            "sun.security.action", "sun.util.calendar"]
    out = []
    for m in mods:
        out += ["--add-opens", f"java.base/{m}=ALL-UNNAMED"]
    return out


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"),
                            recursive=True))


def tree_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def scalac(files, out, classpath, extra=""):
    """Compile `files` into `out` unless a build of the same sources (and
    `extra`, the digest of what they compile against) is already there.
    Returns the source digest."""
    digest = tree_digest(files) + extra
    stamp = os.path.join(out, ".digest")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return digest
    subprocess.run(["rm", "-rf", out], check=True)
    os.makedirs(out)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", f"{SPARK_JARS}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-cp", classpath]
    r = subprocess.run(cmd + files, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail(f"compile failed for {out}")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return digest


def build():
    main_src = sources("src/main/scala")
    if not main_src:
        fail("no program sources under src/main/scala; run from the repo root")
    if not os.path.isdir(SPARK_JARS):
        fail(f"Spark jars not found at {SPARK_JARS}")
    jars = f"{SPARK_JARS}/*"
    main_out = os.path.join(BUILD, "classes", "main")
    bench_out = os.path.join(BUILD, "classes", "bench")
    digest = scalac(main_src, main_out, jars)
    scalac(sources(os.path.join(HERE, "src")), bench_out,
           f"{jars}:{main_out}", digest)
    return f"{jars}:{main_out}:{bench_out}", digest


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def end_to_end(rec):
    serve = [c for c in rec["calls"] if c["phase"] == "serve" and c["ok"]]
    lat = [c["end"] - c["start"] for c in serve]
    first = [c for c in serve if c["pass"] == 0]
    pass_times = {}
    for c in serve:
        p = pass_times.setdefault(c["pass"], [c["start"], c["end"]])
        p[0], p[1] = min(p[0], c["start"]), max(p[1], c["end"])
    serve_s = bench_lib.median([e - s for s, e in pass_times.values()])
    build_s = rec["build_s"]
    wall_s = build_s + ((max(c["end"] for c in first) -
                         min(c["start"] for c in first)) if first else 0.0)
    t = bench_lib.tail(lat)
    info = {"tail_percentile": t[0] if t else None, "samples": len(lat),
            "passes": rec["passes"]}
    return {
        "setup_s": rec["session_s"] + bench_lib.median(rec["table_cache_s"]),
        "build_s": build_s,
        "serve_s": serve_s,
        "wall_s": wall_s,
        "query_p50_s": bench_lib.median(lat),
        "query_tail_s": t[1] if t else max(lat, default=0.0),
        "peak_rss_mb": rec["peak_rss_mb"],
    }, info


def per_layer(rec):
    lay = dict(rec["layers"])
    steps = {c["name"]: c for c in rec["calls"] if c["phase"] == "build"}

    def step_s(name):
        c = steps.get(name)
        return c["end"] - c["start"] if c and c["ok"] else 0.0

    serve = [c for c in rec["calls"] if c["phase"] == "serve" and c["ok"]]
    refits = WORKLOADS[rec["workload"]].get("refits", {})
    traces = [c for c in serve if c["pass"] == 0 and c["name"] in refits]
    n_refits = sum(refits[c["name"]] for c in traces)
    lay.update({
        "ratings.view_s": step_s("ratings.view"),
        "pairstore.build_s": step_s("pairstore.pairs"),
        "shingles.build_s": step_s("shingles.k5") + step_s("shingles.k20"),
        "simhash.build_s": step_s("simhash.cands"),
        "ann.build_s": step_s("ann.indexes"),
        "stream.slices_build_s": step_s("stream.slices"),
        "sql.plan_s": bench_lib.median([c["plan_s"] for c in serve]),
        "sql.exec_s": bench_lib.median([c["exec_s"] for c in serve]),
        "alg1_iter_s": (sum(c["end"] - c["start"] for c in traces) / n_refits
                        if n_refits else 0.0),
    })
    return lay


def declared_metrics(kind):
    """Name -> unit of the metrics BENCHMARK.json declares under `kind`."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="write this run's outputs as the expected results")
    args = ap.parse_args()
    spec = WORKLOADS[args.workload]
    t_start = time.time()

    classpath, src_digest = build()
    sf_dir = os.path.join(FIXTURES, spec["sf"])
    if not os.path.isdir(sf_dir):
        fail(f"fixture directory {sf_dir} is missing")

    run_id = f"{args.workload}_s{args.seed}_t{args.trace}"
    run_dir = os.path.join(BUILD, "runs", run_id)
    os.makedirs(run_dir, exist_ok=True)
    orders = os.path.join(run_dir, "orders.txt")
    with open(orders, "w") as fh:
        for order in bench_lib.pass_orders(spec["serve"], args.seed,
                                           spec["passes"][1]):
            fh.write(" ".join(order) + "\n")
    result_file = os.path.join(run_dir, "raw.json")
    spans_file = os.path.join(BUILD, "traces", f"{run_id}.json")
    if os.path.exists(result_file):
        os.remove(result_file)
    cmd = (["java"] + java_opens() +
           [f"-Xmx{XMX}", "-Xss16m", "-XX:+UseParallelGC",
            "-Dspark.ui.enabled=false"] +
           (["-Dspark.callstack.depth=1000"] if args.trace else []) +
           ["-cp", classpath, "perfbench.Harness", args.workload, sf_dir,
            str(args.seconds), str(args.trace),
            str(spec["passes"][0]), orders, result_file,
            spans_file])
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                               timeout=max(30, JVM_TIMEOUT_S -
                                           (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            fail(f"harness timed out; see {run_dir}/jvm.log")
    if r.returncode != 0 or not os.path.exists(result_file):
        fail(f"harness exited {r.returncode}; see {run_dir}/jvm.log")
    with open(result_file) as fh:
        rec = json.load(fh)

    calls = rec["calls"]
    failed = [c for c in calls if not c["ok"]]
    checked = [c for c in calls if c["phase"] == "serve" and c["ok"]]
    exp_path = os.path.join(HERE, "expected", f"{args.workload}.json")
    if args.record:
        want = {}
        for c in checked:
            e = bench_lib.expectation(c)
            if want.setdefault(c["name"], e) != e:
                fail(f"{c['name']} gave different results in one run")
        with open(exp_path, "w") as fh:
            json.dump(want, fh, indent=1, sort_keys=True)
            fh.write("\n")
    with open(exp_path) as fh:
        expected = json.load(fh)
    wrong = [w for w in (bench_lib.check_call(c["name"], c,
                                              expected.get(c["name"]))
                         for c in checked) if w]

    e2e, info = end_to_end(rec)
    stamp = {"nproc": rec["cores"], "xmx_mb": rec["xmx_mb"], "sf": sf_dir,
             "commit": git_commit(), "source": src_digest, "seed": args.seed,
             "trace": args.trace, "seconds": args.seconds,
             "workload": args.workload}
    values = per_layer(rec) if args.trace else e2e
    declared = declared_metrics("per_layer" if args.trace else "end_to_end")
    missing = set(declared) - set(values)
    if missing:
        fail(f"metrics not measured: {sorted(missing)}")
    metrics = {k: {"value": values[k], "unit": u} for k, u in declared.items()}
    full = {"stamp": stamp, "info": info, "metrics": metrics,
            "end_to_end": e2e,
            "failed_frac": len(failed) / max(1, len(calls)),
            "wrong_results": len(wrong),
            "errors": [f"{c['name']}: {c['error']}" for c in failed],
            "wrong": wrong}
    res_dir = os.path.join(BUILD, "results")
    os.makedirs(res_dir, exist_ok=True)
    with open(os.path.join(res_dir, f"{run_id}.json"), "w") as fh:
        json.dump(full, fh, indent=1)

    for line in full["errors"] + wrong:
        print(f"perfbench: {line}", file=sys.stderr)
    print(f"# {args.workload}: {info['samples']} serve calls in "
          f"{info['passes']} pass(es); query_tail_s is p"
          f"{info['tail_percentile'] or 100:.1f}; failed_frac "
          f"{full['failed_frac']:.3f}; wrong_results {len(wrong)}")
    correct = not wrong and not failed
    print(json.dumps({"correct": correct, "attempted": len(calls),
                      "failed": len(failed), "metrics": metrics}))
    sys.stdout.flush()
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
