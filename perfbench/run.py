"""The graft benchmark: one seeded workload, measured end to end.

    python3 perfbench/run.py --workload elt_merge --seed 1 --seconds 25 --trace 0

Run from the root of a checkout. The first run builds the program and
the benchmark driver from source (sbt); later runs reuse the build
until a source file changes. A run generates the workload's inputs from
the seed, runs the driver JVM on them for the timed budget, checks every
output with plain Python/DuckDB, and prints one JSON object as its last
line: the end-to-end metrics with `--trace 0`, the per-layer metrics of
a traced run with `--trace 1`. See README.md beside this file.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("elt_merge", "lake_query", "corpus_screen")
JVM_TIMEOUT_S = 150

# End-to-end metrics: every workload reports each; the README maps each
# one to the workload's own operation. The tail latency is in the run
# record only: a run holds too few operations for a percentile with ten
# samples beyond it.
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("op_p50_ms", "ms", "lower"),
    ("ops_per_s", "1/s", "higher"),
    ("rows_per_s", "1/s", "higher"),
    ("store_mb", "MB", "lower"),
    ("heap_retained_mb", "MB", "lower"),
]

_MODULE_JOBS = ["sources", "pipeline", "incremental", "write", "dataset",
                "streaming", "ext", "operators"]
_TEMPLATES = ["lookup", "range", "agg", "join", "asof", "rowcounts", "loads", "topn"]
_SPANS = ([("sources.read_jsonl", "s"), ("pipeline.run", "s"), ("write.compact", "s"),
           ("write.vacuum", "s")] + [(f"dataset.{t}", "ms") for t in _TEMPLATES]
          + [("ext.assemble", "s"), ("ext.index", "s")])
_BUCKETS = ["sources", "normalize", "schema", "incremental", "pipeline", "write",
            "dataset", "streaming", "ext", "functions", "operators", "analyzer",
            "optimizer", "planner", "aqe", "job_wait", "bench", "other"]
PER_LAYER = (
    [("spark.jobs", "count"), ("spark.job_busy_s", "s"), ("spark.driver_gap_s", "s"),
     ("spark.analysis_ms", "ms"), ("spark.optimization_ms", "ms"), ("spark.planning_ms", "ms"),
     ("spark.task_s", "s"), ("spark.max_task_s", "s"), ("spark.gc_s", "s"),
     ("spark.shuffle_read_mb", "MB"), ("spark.shuffle_write_mb", "MB"), ("spark.spill_mb", "MB"),
     ("spark.scan_files", "count"), ("spark.scan_mb", "MB"), ("spark.leaked_rdds", "count")]
    + [(f"{m}.{k}", u) for m in _MODULE_JOBS for k, u in (("jobs", "count"), ("job_s", "s"))]
    + [(f"{s}_{u}", u) for s, u in _SPANS] + [(f"{s}_calls", "count") for s, _ in _SPANS]
    + [("streaming.trigger_ms", "ms"), ("streaming.add_batch_ms", "ms"),
       ("streaming.latest_offset_ms", "ms")]
    + [("write.manifests_written", "count"), ("write.segments_live", "count"),
       ("write.merge_rewrite_frac", "ratio"), ("dataset.lookup_scan_frac", "ratio")]
    + [(f"driver.{b}_frac", "ratio") for b in _BUCKETS])

# Parameters the driver JVM and the checkers share; each is defined only
# here and passed to the JVM with --params.
PARAMS = {
    "elt_merge": lambda sizes: {"packages": sizes["packages"]},
    "lake_query": lambda sizes: {"packages": sizes["packages"]},
    "corpus_screen": lambda sizes: {"seed_docs": sizes["seed_docs"], "min_score": 0.5,
                                    "near_dup": 0.9, "domain_cap": 30},
}

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


# ---- build -------------------------------------------------------------
def _sources():
    out = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files]
    return sorted(out)


def build():
    """Compile the program and the driver; returns the JVM classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("program sources (src/main/scala/graft) not found beside the benchmark")
    h = hashlib.sha256()
    for f in _sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp, cp_file = os.path.join(STATE, "build.stamp"), os.path.join(STATE, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == h.hexdigest():
                with open(cp_file) as f2:
                    return f2.read()
    os.makedirs(STATE, exist_ok=True)
    env = dict(os.environ)
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx3g")
    env.setdefault("COURSIER_MODE", "offline")
    if "SPARK_HOME" not in env:
        # the first Spark installation on the PATH that ships its jars
        submits = [os.path.realpath(os.path.join(d, "spark-submit"))
                   for d in env.get("PATH", "").split(os.pathsep)]
        homes = [os.path.dirname(os.path.dirname(s)) for s in submits if os.path.isfile(s)]
        env["SPARK_HOME"] = next((h for h in homes if os.path.isdir(os.path.join(h, "jars"))), "")
    log("building the program and the benchmark driver")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime / fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=600, start_new_session=True)
    lines = [ln for ln in p.stdout.splitlines() if ".jar" in ln and os.pathsep in ln]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return lines[-1].strip()


# ---- the driver JVM ----------------------------------------------------
def run_jvm(cp, workload, inputs, work, out, seconds, trace, params):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # soft references cleared at every collection: the retained heap
    # then does not depend on when the last collection happened
    cmd = (["java", "-Xmx3g", "-XX:SoftRefLRUPolicyMSPerMB=0", f"-Djava.io.tmpdir={work}/tmp"]
           + ADD_OPENS
           + ["-cp", cp, "perfbench.Main", "--workload", workload, "--inputs", inputs,
              "--work", work, "--out", out, "--seconds", str(seconds), "--trace", str(trace),
              "--params", ",".join(f"{k}={v}" for k, v in params.items())])
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"driver JVM exited with {rc}")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


# ---- metrics -----------------------------------------------------------
TAIL_LADDER = (99, 95, 90, 75, 50)


def tail(values):
    """The highest percentile of the ladder with at least ten samples
    beyond it (nearest rank); (percentile, value)."""
    s = sorted(values)
    for p in TAIL_LADDER:
        k = math.ceil(p / 100 * len(s))
        if len(s) - k >= 10:
            return p, s[k - 1]
    return 100, s[-1]


def end_to_end(workload, record, sizes, lake_rows):
    ops = record["ops"]
    wall = record["phase_wall_s"]
    main_phase = {"elt_merge": "load", "lake_query": "query", "corpus_screen": "screen"}[workload]
    main = [o for o in ops if o["phase"] == main_phase and o["ok"]]
    lat = [o["ms"] for o in main]
    p, t = tail(lat)
    if workload == "elt_merge":
        rows = sum(sizes["package_rows"][int(o["note"])] for o in main)
        rows_wall = wall["load"]
    elif workload == "lake_query":
        rows = sum(lake_rows[o["note"].split(":")[1]] for o in main)
        rows_wall = wall["query"]
    else:
        passes = [o for o in ops if o["phase"] == "assemble" and o["ok"]]
        rows = len(passes) * sizes["docs"]
        rows_wall = wall["assemble"]
    m = {
        "setup_s": record["setup"]["setup_s"],
        "op_p50_ms": statistics.median(lat),
        "op_tail_ms": t,
        "ops_per_s": len(main) / wall[main_phase],
        "rows_per_s": rows / rows_wall,
        "store_mb": record["store_mb"],
        "heap_retained_mb": record["heap_retained_mb"],
    }
    return m, {"tail_percentile": p, "samples": len(lat)}


def named(workload, m, record, sizes, failed, attempted):
    """The end-to-end figures under the workload's own names."""
    common = {"setup_s": (m["setup_s"], "s"), "heap_retained_mb": (m["heap_retained_mb"], "MB"),
              "ops_failed_frac": (failed / attempted, "ratio")}
    if workload == "elt_merge":
        own = {"load_p50_s": (m["op_p50_ms"] / 1000, "s"), "load_tail_s": (m["op_tail_ms"] / 1000, "s"),
               "load_rows_per_s": (m["rows_per_s"], "rows/s"), "store_mb": (m["store_mb"], "MB")}
    elif workload == "lake_query":
        own = {"query_p50_ms": (m["op_p50_ms"], "ms"), "query_tail_ms": (m["op_tail_ms"], "ms"),
               "queries_per_s": (m["ops_per_s"], "1/s")}
    else:
        screened = sizes["docs_per_batch"] * sum(1 for o in record["ops"] if o["phase"] == "screen")
        own = {"curate_docs_per_s": (m["rows_per_s"], "docs/s"),
               "screen_batch_p50_s": (m["op_p50_ms"] / 1000, "s"),
               "screen_batch_tail_s": (m["op_tail_ms"] / 1000, "s"),
               "screen_docs_per_s": (screened / record["phase_wall_s"]["screen"], "docs/s")}
    return {k: {"value": v, "unit": u} for k, (v, u) in {**own, **common}.items()}


def main():
    ap = argparse.ArgumentParser(description="graft benchmark: one seeded workload")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run's scratch directory")
    a = ap.parse_args()

    cp = build()
    work = os.path.join(STATE, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs, out = os.path.join(work, "inputs"), os.path.join(work, "out")
    try:
        t0 = time.time()
        sizes = gen.generate(a.workload, a.seed, inputs)
        gen_s = time.time() - t0
        params = PARAMS[a.workload](sizes)
        t0 = time.time()
        record = run_jvm(cp, a.workload, inputs, work, out, a.seconds, a.trace, params)
        jvm_s = time.time() - t0
        t0 = time.time()
        lake_rows = None
        if a.workload == "elt_merge":
            failed, problems = check.check_elt_merge(inputs, out, record)
        elif a.workload == "lake_query":
            failed, problems, lake_rows = check.check_lake_query(inputs, out, record,
                                                                 sizes["packages"])
        else:
            with open(os.path.join(HERE, "golden.json")) as f:
                golden = json.load(f)["corpus_screen_assembly"]
            failed, problems, hashes = check.check_corpus_screen(
                inputs, out, record, sizes, params, golden, a.seed)
            record["assembly_hashes"] = sorted(set(hashes.values()))
        check_s = time.time() - t0
        attempted = len(record["ops"])
        failed = min(failed, attempted)
        for p in problems:
            log(p)
        m, shape = end_to_end(a.workload, record, sizes, lake_rows)
        info = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                "trace": a.trace, "gen_s": round(gen_s, 3), "jvm_s": round(jvm_s, 3),
                "check_s": round(check_s, 3),
                "inputs": {k: v for k, v in sizes.items() if not isinstance(v, list)},
                "ops": shape, "setup": record["setup"], "phase_wall_s": record["phase_wall_s"],
                "sentinel": record["sentinel"],
                "store_mb_after_run": record["store_mb_after_run"],
                "end_to_end": m,
                "named": named(a.workload, m, record, sizes, failed, attempted)}
        if "assembly_hashes" in record:
            info["assembly_hashes"] = record["assembly_hashes"]
        if a.keep:
            info["work_dir"] = work
        print(json.dumps({"run_record": info}))
        if a.trace:
            pl = record["per_layer"]
            metrics = {k: {"value": pl.get(k, 0.0), "unit": u} for k, u in PER_LAYER}
        else:
            metrics = {k: {"value": m[k], "unit": u} for k, u, _ in END_TO_END}
        print(json.dumps({"correct": failed == 0 and not problems, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
