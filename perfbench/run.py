#!/usr/bin/env python3
"""Run one perfbench workload and print its metrics.

    python3 perfbench/run.py --workload athena_query --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the engine. The first run builds the
engine with the checkout's own sbt build and the harness in
`perfbench/src` against it (harness outputs under `.bench_build/`);
later runs reuse the build while the sources are unchanged.

A run generates its inputs from the seed, starts one JVM (Spark
local[4]), builds the fixtures, warms up, drives the workload's closed
loop for `--seconds`, then checks the outputs against DuckDB with
`tools/check.py`. Every end-to-end metric (`--trace 0`) or per-layer
metric (`--trace 1`) is printed by name with its unit; the last stdout
line is one JSON object, and the full result is written to
`.bench_build/results/<workload>-seed<seed>-trace<0|1>.json`.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("athena_query", "lake_merge", "curate_dedup")
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    for top in ("build.sbt", "project/build.properties", "src/main",
                "perfbench/src", "perfbench/build.sbt",
                "perfbench/project/build.properties"):
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, root)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(root, out):
    """Compile engine + harness once per source state; return the classpath."""
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "build.stamp")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().split()
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "sbt.offline" not in env.get("SBT_OPTS", ""):
        repos = os.path.expanduser("~/.sbt/repositories")
        extra = " -Dsbt.offline=true -Dsbt.override.build.repos=true"
        if os.path.exists(repos):
            extra += f" -Dsbt.repository.config={repos}"
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + extra).strip()
    log = os.path.join(out, "build.log")
    with open(log, "w") as f:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", f"writeClasspath {cp_file}"],
            cwd=os.path.join(root, "perfbench"), stdout=f, stderr=subprocess.STDOUT,
            env=env, timeout=840)
    if r.returncode != 0 or not os.path.exists(cp_file):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (log: {log})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().split()


def metric_line(name, v):
    return f"  {name:<34} {v['value']:.6g} {v['unit']}"


def lake_expected(input_dir, check_dir, facts):
    """Apply the run's change sets to the base orders in DuckDB: a MERGE
    upsert is delete-then-insert of the named keys, a MERGE delete and
    the periodic SQL DELETE remove rows."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{input_dir}/orders.parquet')")
    maint = set(facts["maintenance_cycles"])
    mod = facts["delete_modulus"]
    for c in range(1, facts["cycles"] + 1):
        k = (c - 1) % facts["input_cycles"] + 1
        ch = f"read_parquet('{input_dir}/changes/c{k:03d}.parquet')"
        con.execute(f"DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM {ch})")
        con.execute(f"INSERT INTO t SELECT * EXCLUDE (op) FROM {ch} WHERE op = 'U'")
        if c in maint:
            con.execute(f"DELETE FROM t WHERE o_orderkey % {mod} = {c % mod}")
    exp = os.path.join(os.path.dirname(check_dir), "expected")
    os.makedirs(exp, exist_ok=True)
    con.execute(f"COPY t TO '{exp}/orders.parquet' (FORMAT PARQUET)")
    con.close()


def partition_mismatches(facts):
    """Catalog partitions vs. the dataset's partition directories."""
    root = facts["dataset_root"]
    listed = sorted(d for d in os.listdir(root) if "=" in d and
                    os.path.isdir(os.path.join(root, d)))
    from urllib.parse import unquote
    listed = sorted(unquote(d) for d in listed)
    return 0 if listed == sorted(facts["catalog_partitions"]) else 1


def check(root, work, res):
    """Correctness outside the timed ops: every output against its DuckDB
    oracle through tools/check.py (its hashing rules), plus the
    workload's structural checks. Returns (mismatches, details)."""
    check_dir = os.path.join(work, "check")
    input_dir = os.path.join(work, "input")
    os.makedirs(check_dir, exist_ok=True)
    with open(os.path.join(check_dir, "oracle_sql.json"), "w") as f:
        json.dump(res["oracle"], f)
    details = {}
    mismatches = 0
    if res["workload"] == "lake_merge":
        lake_expected(input_dir, check_dir, res["facts"])
        bad = partition_mismatches(res["facts"])
        details["catalog_partitions_match"] = bad == 0
        mismatches += bad
    out_json = os.path.join(work, "check_result.json")
    r = subprocess.run([sys.executable, os.path.join(root, "tools", "check.py"),
                        input_dir, check_dir, out_json],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=120)
    per = json.load(open(out_json)) if os.path.exists(out_json) else {}
    bad = [k for k, v in per.items() if not v.get("hash_match")]
    if not per and res["oracle"]:
        bad = ["<check.py produced no result>"]
        sys.stderr.write(r.stdout[-2000:])
    for line in r.stdout.splitlines():
        if line.startswith("FAIL"):
            print(f"  {line}", file=sys.stderr)
    details.update(oracle_checked=len(per), oracle_failed=bad)
    return mismatches + len(bad), details


def overhead(results_dir, workload, seed, traced):
    """Traced vs. untraced end-to-end numbers: against the untraced run of
    the same seed when its result is present, else against the median of
    every untraced result of the workload. None without any."""
    same = os.path.join(results_dir, f"{workload}-seed{seed}-trace0.json")
    if os.path.exists(same):
        paths = [same]
    else:
        paths = [os.path.join(results_dir, f) for f in sorted(os.listdir(results_dir))
                 if f.startswith(f"{workload}-seed") and f.endswith("-trace0.json")]
    if not paths:
        return None
    base = [json.load(open(p))["metrics"] for p in paths]
    out = {}
    for k, v in traced.items():
        vals = [b[k]["value"] for b in base if k in b]
        if vals and statistics.median(vals):
            out[k] = v["value"] / statistics.median(vals) - 1.0
    return {"against": [os.path.basename(p) for p in paths], "relative": out}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(root, "tools", "check.py"))):
        fail("run from the root of a checkout of the engine "
             "(src/main/scala/graft and tools/check.py are missing)")
    bench_dir = os.path.join(root, ".bench_build")
    classpath = build(root, bench_dir)

    t0 = time.time()  # set-up starts here: inputs, JVM, session, fixtures
    work = os.path.join(bench_dir, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    input_dir = os.path.join(work, "input")
    os.makedirs(os.path.join(work, "tmp"))
    g0 = time.time()
    props = gen.generate(a.workload, input_dir, a.seed)
    gen_s = time.time() - g0

    # a fixed heap and young generation keep the resident set from
    # following GC sizing decisions; no hsperfdata file outside the checkout
    java = ["java", "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+UseG1GC", "-XX:-UsePerfData",
            *[x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC",
            "-cp", ":".join(classpath), "perfbench.Main",
            "--workload", a.workload, "--input", input_dir, "--work", work,
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--t0-ms", str(int(t0 * 1000)), "--seed", str(a.seed)]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as f:
        try:
            r = subprocess.run(java, stdout=f, stderr=subprocess.STDOUT, cwd=work,
                               timeout=max(60.0, 150.0 - a.seconds) + a.seconds)
        except subprocess.TimeoutExpired:
            fail(f"the workload did not finish in time (log: {log})")
    result_file = os.path.join(work, "jvm_result.json")
    if r.returncode != 0 or not os.path.exists(result_file):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"the workload exited with {r.returncode} (log: {log})")
    res = json.load(open(result_file))
    jvm_s = time.time() - g0 - gen_s

    c0 = time.time()
    mismatches, details = check(root, work, res)
    check_s = time.time() - c0
    failed = res["failed"] + mismatches
    attempted = max(1, res["attempted"])
    named = res["named"]
    named["fail_frac"] = {"value": failed / attempted, "unit": "ratio"}
    if a.trace:
        metrics = res["per_layer"]
        metrics["setup.gen_s"] = {"value": gen_s, "unit": "s"}
    else:
        metrics = res["end_to_end"]

    results_dir = os.path.join(bench_dir, "results")
    os.makedirs(results_dir, exist_ok=True)
    summary = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "correct": mismatches == 0 and res["failed"] == 0,
        "attempted": attempted, "failed": failed, "errors": res["errors"],
        "metrics": metrics, "end_to_end": res["end_to_end"], "named": named,
        "inputs": props, "setup": dict(res["setup"], gen_s=gen_s),
        "phase_s": {"gen": gen_s, "jvm": jvm_s, "check": check_s,
                    "total": time.time() - t0},
        "tail": res["tail"], "checks": details, "breakdown": res["breakdown"],
        "samples": res["samples"]}
    if a.trace:
        summary["tracing_overhead"] = overhead(
            results_dir, a.workload, a.seed, res["end_to_end"])
    with open(os.path.join(results_dir,
                           f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(summary, f, indent=1)

    # inputs and table trees are large; keep only the logs and results
    for d in os.listdir(work):
        p = os.path.join(work, d)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)

    print(f"{a.workload} seed={a.seed} attempted={attempted} failed={failed} "
          f"correct={summary['correct']}")
    print("end-to-end:")
    for k, v in res["end_to_end"].items():
        print(metric_line(k, v))
    print(f"workload metrics (tail = p{res['tail']['percentile']:.3g} "
          f"of {res['tail']['samples']} {res['tail']['kind']} samples):")
    for k, v in named.items():
        print(metric_line(k, v))
    if a.trace:
        print("per-layer (per op unless a gauge):")
        for k, v in metrics.items():
            print(metric_line(k, v))
        for kind, b in res["breakdown"].items():
            print(f"  self time of {b['ops']} '{kind}' ops: wall {b['wall_s']:.3f}s = "
                  + ", ".join(f"{k} {v:.3f}" for k, v in sorted(b["layer_self_s"].items()))
                  + f", unattributed {b['unattributed_s']:.3f} "
                  f"(sum/wall {b['sum_over_wall']:.4f})")
        ov = summary["tracing_overhead"]
        if ov is not None:
            print(f"tracing overhead vs. {len(ov['against'])} untraced run(s): " + ", ".join(
                f"{k} {v:+.1%}" for k, v in ov["relative"].items()))
    print(json.dumps({"correct": summary["correct"], "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
