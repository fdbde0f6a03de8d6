"""Self-test of the output checkers: run each workload briefly, confirm
its checker passes, then confirm it reports a failure when one timed
operation is recorded as having thrown and when one output row is
corrupted.

    python3 perfbench/selftest.py

Exits 0 when every checker fires on both.
"""
import glob
import json
import os
import shutil
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import run  # noqa: E402


def _rewrite(path, sql):
    """Replace the parquet files under `path` by `sql` over them."""
    con = duckdb.connect()
    con.sql(f"CREATE TABLE t AS SELECT * FROM read_parquet('{path}/*.parquet')")
    con.sql(sql)
    for f in glob.glob(f"{path}/*"):
        os.remove(f)
    con.sql(f"COPY t TO '{path}/part-0.parquet' (FORMAT PARQUET)")


def _check(workload, work, seed):
    inputs, out = os.path.join(work, "inputs"), os.path.join(work, "out")
    with open(os.path.join(inputs, "sizes.json")) as f:
        sizes = json.load(f)
    with open(os.path.join(out, "result.json")) as f:
        record = json.load(f)
    if workload == "elt_merge":
        return check.check_elt_merge(inputs, out, record)[0]
    if workload == "lake_query":
        return check.check_lake_query(inputs, out, record, sizes["packages"])[0]
    with open(os.path.join(HERE, "golden.json")) as f:
        golden = json.load(f)["corpus_screen_assembly"]
    return check.check_corpus_screen(inputs, out, record, sizes, run.PARAMS[workload](sizes),
                                     golden, seed)[0]


def _fail_op(workload, work):
    """Record the first timed operation as one that threw."""
    path = os.path.join(work, "out", "result.json")
    with open(path) as f:
        record = json.load(f)
    op = record["ops"][0]
    op["ok"] = False
    if workload == "elt_merge":
        for x in record["check"]["loaded"]:
            if x["package"] == op["note"]:
                x["ok"] = False
    with open(path, "w") as f:
        json.dump(record, f)
    return f"timed {op['phase']} operation 0 recorded as thrown"


def _corrupt(workload, work):
    out = os.path.join(work, "out")
    if workload == "elt_merge":
        _rewrite(f"{out}/orders", """UPDATE t SET o_totalprice = o_totalprice + 1
                                     WHERE o_orderkey = (SELECT min(o_orderkey) FROM t)""")
        return "one order's price changed"
    if workload == "lake_query":
        path = os.path.join(out, "result.json")
        with open(path) as f:
            record = json.load(f)
        op = record["ops"][0]
        i, t, h, n = op["note"].split(":")
        op["note"] = f"{i}:{t}:{'0' * len(h)}:{n}"
        with open(path, "w") as f:
            json.dump(record, f)
        return f"the result of query {i} ({t}) replaced"
    _rewrite(f"{out}/curated", "DELETE FROM t WHERE doc_id = (SELECT min(doc_id) FROM t)")
    return "one landed doc removed"


def main():
    seed, ok = 1, True
    for w in run.WORKLOADS:
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                            "--seed", str(seed), "--seconds", "3", "--keep"],
                           capture_output=True, text=True)
        if p.returncode != 0:
            sys.stderr.write(p.stderr[-3000:])
            print(f"{w}: run failed")
            ok = False
            continue
        work = json.loads(p.stdout.strip().splitlines()[-2])["run_record"]["work_dir"]
        result = os.path.join(work, "out", "result.json")
        try:
            before = _check(w, work, seed)
            print(f"{w}: clean output failed={before}")
            ok &= before == 0
            with open(result) as f:
                clean = f.read()
            for corrupt in (_fail_op, _corrupt):
                what = corrupt(w, work)
                after = _check(w, work, seed)
                with open(result, "w") as f:
                    f.write(clean)
                ok &= after > 0
                print(f"{w}: {what}: failed={after} -> "
                      f"{'check fires' if after > 0 else 'CHECK DID NOT FIRE'}")
        finally:
            shutil.rmtree(work, ignore_errors=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
