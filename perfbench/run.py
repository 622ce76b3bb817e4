#!/usr/bin/env python3
"""Repository benchmark: one seeded workload against one in-process Spark
session, end-to-end metrics (or, with --trace 1, per-layer metrics) as
the last line of stdout.

    python3 perfbench/run.py --workload serve-report --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the program and
the benchmark code with sbt (perfbench/build.sbt); later runs reuse
the build while no source changed. Everything the run writes stays under
perfbench/target/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORKLOADS = ("serve-report", "pipeline-batch", "ingest-cdc")
RUN_TIMEOUT_S = 170
FAILED_MS = 1e9  # latency charged to a failed operation, as perfbench.Metrics.FailedMs
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file whose change needs a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = [x for x in dirs if x != "target"]
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def build():
    """Compile with sbt unless the sources match the last build; return
    the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("no program sources next to the benchmark (build.sbt, src/main/scala/graft); "
            "run from the root of a full checkout")
    h = hashlib.sha256()
    for f in sources():
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    stamp = h.hexdigest()
    cp_file = os.path.join(TARGET, "classpath.txt")
    stamp_file = os.path.join(TARGET, "classpath.stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}",
                "-Dsbt.offline=true"]
    cmd += ["compile", "export perfbench/Runtime/fullClasspath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    print("perfbench: building with sbt ...", file=sys.stderr)
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, capture_output=True, text=True,
                           timeout=850, stdin=subprocess.DEVNULL)
    except (OSError, subprocess.TimeoutExpired) as e:
        die(f"build failed: {e}")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("build failed")
    cps = [l for l in p.stdout.splitlines() if not l.startswith("[") and ".jar" in l]
    if not cps:
        sys.stderr.write(p.stdout[-4000:])
        die("build printed no classpath")
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1].strip()


def java_cmd(classpath, main, args, work):
    # A fixed heap, a fixed young generation and a fixed marking threshold,
    # not pre-touched: the collector's sizing heuristics do not move peak
    # RSS from run to run, and heap pages become resident only when the
    # program's objects land in them, so peak RSS follows what the program
    # allocates and keeps (the young generation, the old-generation regions
    # its surviving objects fill) plus the memory it holds outside the heap.
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-Xms3g", "-Xmx3g", "-Xmn512m", "-XX:-G1UseAdaptiveIHOP",
             "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"] + opens +
            ["-cp", classpath, main] + args)


def run_jvm(cmd, work):
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=os.path.join(work, "scratch"))
    p = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                         stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        out, _ = p.communicate()
        sys.stderr.write(out[-4000:])
        die(f"run exceeded {RUN_TIMEOUT_S} s")
    return p.returncode, out


# ---- pipeline-batch output check ---------------------------------------

def canon_digest(rel):
    """Order-insensitive digest of a DuckDB relation, canonicalized as
    tools/selfcheck.py compares: columns sorted by name, values by repr,
    rows sorted; column types are part of the digest."""
    cols = rel.columns
    types = [str(t) for t in rel.types]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(repr(float(r[i])) if isinstance(r[i], float) else repr(r[i])
                        for i in order) for r in rel.fetchall())
    h = hashlib.sha256()
    h.update(json.dumps([[cols[i] for i in order], [types[i] for i in order]]).encode())
    for r in rows:
        h.update(("\x1f".join(r) + "\n").encode())
    return h.hexdigest(), len(rows)


def parquet_digest(con, path):
    files = os.path.join(path, "*.parquet").replace("'", "''")
    return canon_digest(con.sql(f"SELECT * FROM read_parquet('{files}')"))


def check_pipeline(work):
    """Digest every written query result against the committed
    references; returns (checked, mismatches, output directories with a
    mismatch)."""
    import duckdb
    with open(os.path.join(HERE, "refs", "pipeline.json")) as f:
        refs = json.load(f)
    con = duckdb.connect()
    out_root = os.path.join(work, "pipeline-out")
    checked, bad, bad_tags = 0, [], set()
    for tag in sorted(os.listdir(out_root)) if os.path.isdir(out_root) else []:
        for q in sorted(os.listdir(os.path.join(out_root, tag))):
            path = os.path.join(out_root, tag, q)
            checked += 1
            try:
                got, n = parquet_digest(con, path)
            except Exception as e:  # unreadable output is a failed check
                bad.append(f"{tag}/{q}: unreadable output: {e}")
                bad_tags.add(tag)
                continue
            want = refs.get(q)
            if want is None or want["digest"] != got:
                bad.append(f"{tag}/{q}: digest {got[:12]} ({n} rows) != reference "
                           f"{(want or {}).get('digest', '')[:12]} ({(want or {}).get('rows')} rows)")
                bad_tags.add(tag)
    return checked, bad, bad_tags


def pct(xs, p):
    """Linear-interpolated percentile, as perfbench.Stats.pct."""
    s = sorted(xs)
    r = p / 100 * (len(s) - 1)
    lo = int(r)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (r - lo)


def charge_failed_passes(res, bad_tags):
    """Recompute the pass metrics with every pass whose output failed its
    check charged as failed: it misses every latency limit and does not
    count towards ops_per_s."""
    passes = res["passes"]
    lat = [FAILED_MS if p["tag"] in bad_tags else p["ms"] for p in passes]
    ok = sum(1 for p in passes if p["tag"] not in bad_tags)
    m = res["metrics"]
    m["ops_per_s"]["value"] = ok / res["wall_s"]
    m["op_p50_ms"]["value"] = pct(lat, 50)
    m["op_p95_ms"]["value"] = pct(lat, 95)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds < 1:
        die("--seconds must be at least 1")
    classpath = build()
    work = os.path.join(TARGET, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "scratch"):
        os.makedirs(os.path.join(work, d))
    result_file = os.path.join(work, "result.json")
    data = os.path.join(HERE, "data")
    code, out = run_jvm(java_cmd(classpath, "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", os.path.join(data, "sf0.1"),
        "--warm", os.path.join(data, "sf0.001"), "--work", work, "--out", result_file], work), work)
    if code != 0 or not os.path.isfile(result_file):
        sys.stderr.write(out[-6000:])
        die(f"benchmark process exited with {code}")
    with open(result_file) as f:
        res = json.load(f)
    errors = list(res["errors"])
    if a.workload == "pipeline-batch":
        checked, bad, bad_tags = check_pipeline(work)
        if checked == 0:
            bad.append("no query output was written")
        # a query whose output fails its check counts as a failed
        # operation, and its pass as a failed pass
        res["failed"] += len(bad)
        errors += bad
        if bad_tags and not a.trace:
            charge_failed_passes(res, bad_tags)
    correct = res["correct"] and res["failed"] == 0 and not errors

    print(f"workload {a.workload} seed {a.seed} seconds {a.seconds} trace {a.trace}")
    for k, v in res["host"].items():
        print(f"host {k} {v}")
    for k, m in res["named"].items():
        print(f"{k} {m['value']} {m['unit']}")
    if res.get("e2e_traced"):
        for k, v in res["e2e_traced"].items():
            print(f"traced {k} {v}")
    for k, m in res["metrics"].items():
        print(f"metric {k} {m['value']} {m['unit']}")
    for e in errors[:20]:
        print(f"error {e}")
    print(f"attempted {res['attempted']} failed {res['failed']} correct {str(correct).lower()}")
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))


if __name__ == "__main__":
    main()
