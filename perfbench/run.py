#!/usr/bin/env python3
"""graft's benchmark: one timed workload run, or the full-result self-test.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 11 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The first run in a checkout builds the
program and the benchmark with sbt and computes the DuckDB oracle results;
later runs reuse both from perfbench/.work. Every run checks the committed
inputs against the digests in perfbench/workloads.json, then launches one
fresh JVM on the exported classpath, which sets up, runs the workload's
closed loop for --seconds, and checks every timed result. The last stdout
line is one JSON object {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics (--trace 0) or the per-layer metrics of a traced run
(--trace 1), as BENCHMARK.json lists them.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, "data", "sf0.1")
MANIFEST = os.path.join(HERE, "workloads.json")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 800
# cdc_mutation batch shape: shares of the orders keys upserted and deleted
UPSERT_FRAC, DELETE_FRAC = 0.01, 0.002


def fail(msg):
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sha256_files(paths, base):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, base).encode())
        with open(p, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
    return h.hexdigest()


def tree(d):
    out = []
    for r, dirs, files in os.walk(d):
        dirs[:] = sorted(x for x in dirs if not x.startswith("."))
        out += [os.path.join(r, f) for f in sorted(files)]
    return out


def cores():
    return len(os.sched_getaffinity(0))


def heap():
    """The tier-1 heap: half the machine's memory in GiB, clamped to 2..8."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


# ---- build, inputs and oracle (once per checkout) ----

def ensure_build():
    """Compile the program and the benchmark; reuse while no build input changes.
    Returns (classpath, JVM flags, build stamp)."""
    for p in ("build.sbt", os.path.join("src", "main")):
        if not os.path.exists(os.path.join(ROOT, p)):
            fail(f"no {p} in {ROOT}: run from the root of a graft checkout")
    inputs = [os.path.join(d, f) for d, f in ((ROOT, "build.sbt"), (ROOT, "project/build.properties"),
                                              (HERE, "build.sbt"), (HERE, "project/build.properties"))]
    inputs = [p for p in inputs if os.path.exists(p)]
    inputs += tree(os.path.join(ROOT, "src", "main")) + tree(os.path.join(HERE, "src"))
    stamp = sha256_files(inputs, ROOT)
    spec, stamp_file = os.path.join(WORK, "launch.txt"), os.path.join(WORK, "build.stamp")
    fresh = os.path.exists(stamp_file) and open(stamp_file).read() == stamp and os.path.exists(spec)
    if not fresh or not all(os.path.exists(p) for p in open(spec).readline().strip().split(os.pathsep)):
        log("building (sbt launchSpec)")
        os.makedirs(WORK, exist_ok=True)
        r = subprocess.run(["sbt", "-batch", "-error", "launchSpec"], cwd=HERE,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=BUILD_LIMIT_S)
        if r.returncode != 0 or not os.path.exists(spec):
            sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
            fail("build failed")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    lines = open(spec).read().splitlines()
    return lines[0], lines[1:], stamp


def check_inputs(manifest):
    """The committed tables must be the ones the manifest records."""
    for name, want in manifest["inputs"].items():
        p = os.path.join(DATA, name)
        if not os.path.isfile(p) or sha256_files([p], DATA) != want["sha256"]:
            fail(f"input {p} is missing or differs from perfbench/workloads.json")


def java(cp, flags, args, timeout):
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jbin = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [jbin, f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}", *flags, "-cp", cp, "graftbench.Main",
           "--cores", str(cores()), *args]
    log_path = os.path.join(WORK, "jvm.log")
    with open(log_path, "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=WORK,
                             env=dict(os.environ, SPARK_LOCAL_DIRS=tmp))
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"JVM exceeded {timeout:.0f} s; see {log_path}")
    if rc != 0:
        sys.stderr.write(open(log_path, errors="replace").read()[-4000:])
        fail(f"JVM exited with {rc}")


def duck(threads):
    import duckdb
    tmp = os.path.join(WORK, "tmp", "duckdb")
    os.makedirs(tmp, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads={threads}; SET memory_limit='3GB'; SET temp_directory='{tmp}'")
    return con


def ensure_oracle(cp, flags, stamp):
    """DuckDB runs SparkEntry.oracleSql of every curation query on the
    timed data. Recomputed when the build changes."""
    out = os.path.join(WORK, "oracle")
    done = os.path.join(out, "stamp")
    if os.path.exists(done) and open(done).read() == stamp:
        return
    log("computing oracle results")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    sql_file = os.path.join(out, "oracle_sql.json")
    java(cp, flags, ["--mode", "oracle", "--data", DATA, "--out", sql_file], BUILD_LIMIT_S)
    con = duck(cores())
    for t in sorted(os.listdir(DATA)):
        con.execute(f"CREATE VIEW {t.removesuffix('.parquet')} AS "
                    f"SELECT * FROM read_parquet('{os.path.join(DATA, t)}')")
    for q, sql in json.load(open(sql_file)).items():
        con.execute(f"CREATE OR REPLACE TEMP TABLE r AS {sql}")
        # Spark has no 128-bit or unsigned integers; DECIMAL(38,0) holds the values
        sel = ", ".join(f'CAST("{c}" AS DECIMAL(38,0)) AS "{c}"' if t in ("HUGEINT", "UHUGEINT", "UBIGINT")
                        else f'"{c}"' for c, t, *_ in con.execute("DESCRIBE r").fetchall())
        con.execute(f"COPY (SELECT {sel} FROM r) TO '{os.path.join(out, q)}.parquet' (FORMAT PARQUET)")
    con.close()
    with open(done, "w") as f:
        f.write(stamp)


# ---- cdc_mutation inputs and reference ----

def make_batches(seed, n):
    """n seeded batches on sf0.1 orders. Batch b upserts UPSERT_FRAC of the
    keys (new price and status, other columns kept) and deletes another
    DELETE_FRAC; the two key sets are disjoint."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    d = os.path.join(WORK, "batches")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    base = pq.read_table(os.path.join(DATA, "orders.parquet"))
    rng = np.random.default_rng(seed)
    nu, nd = int(base.num_rows * UPSERT_FRAC), int(base.num_rows * DELETE_FRAC)
    for b in range(1, n + 1):
        idx = rng.choice(base.num_rows, size=nu + nd, replace=False)
        up = base.take(pa.array(idx[:nu]))
        price = pc.round(pc.multiply(up["o_totalprice"], pa.array(rng.uniform(0.5, 1.5, nu))), 2)
        status = pa.array(["FOP"[(b + i) % 3] for i in range(nu)])
        for name, col in (("o_totalprice", price), ("o_orderstatus", status)):
            up = up.set_column(up.schema.get_field_index(name), name, col)
        pq.write_table(up, os.path.join(d, f"upsert-{b:05d}.parquet"))
        pq.write_table(base.take(pa.array(idx[nu:])).select(["o_orderkey"]),
                       os.path.join(d, f"delete-{b:05d}.parquet"))


def cdc_reference(n, reads):
    """Applies the first n batches in DuckDB. Returns the indices of graft's
    reads that differ from the reference's, and whether graft's end state
    equals the reference's."""
    con = duck(1)
    b = os.path.join(WORK, "batches")
    con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{os.path.join(DATA, 'orders.parquet')}')")
    bad = []
    for i in range(1, n + 1):
        up, de = os.path.join(b, f"upsert-{i:05d}.parquet"), os.path.join(b, f"delete-{i:05d}.parquet")
        con.execute(f"DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM read_parquet('{up}'))")
        con.execute(f"INSERT INTO t SELECT * FROM read_parquet('{up}')")
        con.execute(f"DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM read_parquet('{de}'))")
        rows = con.execute("SELECT o_orderstatus, count(*), sum(o_orderkey), "
                           "sum(CAST(o_totalprice AS DECIMAL(28,6))) FROM t GROUP BY 1").fetchall()
        if i > len(reads) or reads[i - 1] != sorted("|".join(map(str, r)) for r in rows):
            bad.append(i - 1)
    fin = os.path.join(WORK, "cdc_final", "*.parquet")
    diff = con.execute(
        f"SELECT (SELECT count(*) FROM (SELECT * FROM t EXCEPT ALL SELECT * FROM read_parquet('{fin}')))"
        f" + (SELECT count(*) FROM (SELECT * FROM read_parquet('{fin}') EXCEPT ALL SELECT * FROM t))").fetchone()[0]
    con.close()
    return bad, diff == 0


# ---- metrics ----

def tail(xs, q=0.9):
    """The q-th percentile (nearest rank), or the highest percentile with at
    least ten samples above it, but not below the median. Returns
    (value, percentile used)."""
    s = sorted(xs)
    n = len(s)
    k = max(min(math.ceil(q * n) - 1, n - 11), n // 2)
    return s[k], (k + 1) / n


def summarize(res):
    full = set(res["complete_passes"])
    timed = [o for o in res["ops"] if o["pass"] in full]
    if not timed:
        fail("no pass completed")
    by_pass = {}
    for o in timed:
        by_pass.setdefault(o["pass"], []).append(o)
    pass_walls = [(max(o["end_ms"] for o in ps) - min(o["start_ms"] for o in ps)) / 1e3
                  for _, ps in sorted(by_pass.items())]
    walls = [o["wall_s"] for o in timed]
    p90, q = tail(walls)
    e2e = {"setup_s": (res["setup_s"], "s"), "pass_s": (statistics.median(pass_walls), "s")}
    layers = {}
    traced = [lay for lay in res["layers"] if lay["pass"] in full]
    for k in (traced[0] if traced else {}):
        if k != "pass":
            layers[k] = statistics.median(lay[k] for lay in traced)

    def lat(kind):
        xs = [o["wall_s"] for o in timed if o["kind"] == kind]
        return (statistics.median(xs), tail(xs)[0]) if xs else (0.0, 0.0)
    (w50, w90), (r50, r90), (c50, _) = lat("write"), lat("read"), lat("compact")
    layers.update({
        "sources.write_p50_s": w50, "sources.write_p90_s": w90,
        "sources.read_p50_s": r50, "sources.read_p90_s": r90,
        "sources.compact_s": c50, "sources.space_amp": res["space_amp"],
        "sources.discover_s": res["discover_s"],
        "op_p50_s": statistics.median(walls), "op_p90_s": p90,
        "peak_rss_mb": res["peak_rss_mb"],
        "trace.pass_s": statistics.median(pass_walls),
        "trace.phase_coverage_min": min((o["construct_s"] + o["plan_s"] + o["action_s"]) / o["wall_s"]
                                        for o in timed),
    })
    detail = {"passes": len(full), "ops": len(walls), "op_p90_percentile": round(q, 3),
              "pass_walls_s": [round(w, 3) for w in pass_walls]}
    return e2e, layers, detail, timed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=11)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not os.path.isfile(MANIFEST) or not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        fail("perfbench/workloads.json or BENCHMARK.json is missing")
    manifest = json.load(open(MANIFEST))
    if not a.selftest and a.workload not in manifest["workloads"]:
        fail(f"--workload must be one of {sorted(manifest['workloads'])}")
    check_inputs(manifest)
    cp, flags, stamp = ensure_build()
    ensure_oracle(cp, flags, stamp)
    if a.selftest:
        java(cp, flags, ["--mode", "selftest", "--data", DATA], BUILD_LIMIT_S)
        print("".join(line for line in open(os.path.join(WORK, "jvm.log")) if line.startswith("[selftest]")))
        return

    t0 = time.time()
    if a.workload == "cdc_mutation":
        # three cycles of four, and more than --seconds can use: a batch takes over 1 s
        make_batches(a.seed, max(12, int(a.seconds) + 4))
    out = os.path.join(WORK, "result.json")
    if os.path.exists(out):
        os.remove(out)
    java(cp, flags, ["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", DATA,
                     "--work", WORK, "--out", out, "--spans", os.path.join(WORK, "spans.jsonl")],
         RUN_LIMIT_S - (time.time() - t0))
    res = json.load(open(out))
    e2e, layers, detail, timed = summarize(res)
    failures = {o["id"]: o["failure"] for o in timed if o["failure"]}
    if a.workload == "cdc_mutation":
        reads = [o for o in res["ops"] if o["name"] == "cdc_read"]
        bad, end_ok = cdc_reference(res["cdc_batches"], res["cdc_reads"])
        for i in bad:
            failures.setdefault(reads[i]["id"] if i < len(reads) else -1, "read differs from the reference")
        if not end_ok:
            failures.setdefault(reads[-1]["id"] if reads else -1, "end state differs from the reference")
    layers["failed_frac"] = len(failures) / len(timed)
    for i, msg in sorted(failures.items()):
        log(f"op {i} failed: {msg}")
    detail.update(workload=a.workload, seed=a.seed, trace=a.trace, cores=cores(), heap=heap(),
                  run_wall_s=round(time.time() - t0, 1))
    print(json.dumps({"detail": detail}))
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()} if a.trace == 0 else \
        {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]} for m in bench["per_layer"]}
    print(json.dumps({"correct": not failures, "attempted": len(timed), "failed": len(failures),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
