#!/usr/bin/env python3
"""Repo benchmark: four seeded workloads over the graft library in one Spark
process. Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the library and the benchmark from source with sbt (cached under
.bench_build/ by a hash of the sources, with a class-data archive recorded
by a short training run), runs graftbench.Main in a work dir
under .bench_work/, replays the view DAG's DuckDB oracles over the same
generated tables, deletes the work dir, and prints one JSON result as the
last stdout line. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

WORKLOADS = ("view_refresh", "daily_sync", "stream_sync", "near_dup")
# the workloads BENCHMARK.json gates; daily_sync runs the same way but is not gated
GATED = ("view_refresh", "stream_sync", "near_dup")
# the checkout files the build reads; a change to any of them rebuilds
BUILD_INPUTS = ("build.sbt", "project", "src/main", "perfbench/build.sbt",
                "perfbench/project", "perfbench/src")
JVM_TIMEOUT_S = 165


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_key(root):
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        top = os.path.join(root, rel)
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, subdirs, fs in os.walk(top)
            for f in fs if "target" not in os.path.relpath(d, root).split(os.sep))
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build(root):
    """Compile with sbt once per source state. Returns the runtime classpath
    (jars) and the class-data archive recorded by a training run, or None."""
    out_dir = os.path.join(root, ".bench_build")
    key = source_key(root)
    cp_file = os.path.join(out_dir, f"classpath-{key}.txt")
    jsa = os.path.join(out_dir, f"classes-{key}.jsa")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip(), jsa if os.path.exists(jsa) else None
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt compile)")
    t0 = time.time()
    # jars, not class directories: class-data sharing archives only jars
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspathAsJars"],
                       cwd=os.path.join(root, "perfbench"), env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=600)
    sys.stderr.write(p.stdout[-4000:])
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        raise SystemExit(f"[perfbench] build failed (sbt exit {p.returncode})")
    cp = lines[-1].strip()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    with open(cp_file, "w") as f:
        f.write(cp)
    log(f"compiled in {time.time() - t0:.0f} s")
    # Class-data sharing: a training pass over the gated workloads, scaled
    # down, records the classes a run loads; later JVMs map them from the
    # archive instead of loading and verifying each one. Without the
    # archive a run is slower, not wrong.
    t0 = time.time()
    work = os.path.join(root, ".bench_work", f"train-{os.getpid()}")
    try:
        code = run_jvm(cp, [f"-XX:ArchiveClassesAtExit={jsa}"], work, 300,
                       ["--train", ",".join(GATED), "--scale", "0.1"])
    finally:
        remove_work(work)
    if code != 0 and os.path.exists(jsa):
        os.remove(jsa)
    log(f"class-data archive {'written' if os.path.exists(jsa) else 'not written'} "
        f"in {time.time() - t0:.0f} s")
    return cp, jsa if os.path.exists(jsa) else None


def heap():
    """Half the host's memory, clamped to 2..8 GiB (the Tier-1 test sizing)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def oracle_checks(work):
    """Replay each view's DuckDB oracle over the generated tables and compare
    it, as a multiset of rows over the same sorted columns, with the view
    Spark wrote. Returns check name -> pass."""
    import duckdb
    with open(os.path.join(work, "check", "views.json")) as f:
        spec = json.load(f)
    con = duckdb.connect()
    for t in spec["tables"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{spec['tables_dir']}/{t}/*.parquet')")
    res = {}
    for name, sql in spec["oracles"].items():
        check = f"view_refresh.oracle.{name}"
        try:
            con.execute(f"CREATE OR REPLACE TEMP TABLE want AS {sql}")
            con.execute("CREATE OR REPLACE TEMP TABLE got AS SELECT * FROM "
                        f"read_parquet('{spec['views_dir']}/{name}/*.parquet')")
            cols = {t: sorted(r[0] for r in con.execute(f"DESCRIBE {t}").fetchall())
                    for t in ("got", "want")}
            if cols["got"] != cols["want"]:
                log(f"oracle {name}: columns differ: spark {cols['got']} vs duckdb {cols['want']}")
                res[check] = False
                continue
            sel = ", ".join(f'"{c}"' for c in cols["got"])
            diff, n_got, n_want = con.execute(
                f"SELECT (SELECT count(*) FROM ((SELECT {sel} FROM got EXCEPT ALL SELECT {sel} FROM want)"
                f" UNION ALL (SELECT {sel} FROM want EXCEPT ALL SELECT {sel} FROM got))),"
                " (SELECT count(*) FROM got), (SELECT count(*) FROM want)").fetchone()
            res[check] = diff == 0 and n_got == n_want
            if not res[check]:
                log(f"oracle {name}: {diff} rows differ (spark {n_got} rows, duckdb {n_want})")
        except Exception as e:  # a failed replay is a failed check
            log(f"oracle {name} failed: {e}")
            res[check] = False
    con.close()
    return res


def run_jvm(cp, jvm_opts, work, timeout, args):
    """Run graftbench.Main in its own work dir; returns the exit code."""
    os.makedirs(os.path.join(work, "jtmp"))
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", f"-Xmx{heap()}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/jtmp"] +
           jvm_opts + [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")] +
           ["-cp", cp, "graftbench.Main"] + args +
           ["--work", work, "--out", os.path.join(work, "result.json")])
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/spark-local")
    try:
        return subprocess.run(cmd, env=env, stdin=subprocess.DEVNULL, stdout=sys.stderr,
                              stderr=sys.stderr, timeout=timeout).returncode
    except subprocess.TimeoutExpired:
        raise SystemExit(f"[perfbench] run exceeded {timeout:.0f} s")


def remove_work(work):
    shutil.rmtree(work, ignore_errors=True)
    parent = os.path.dirname(work)
    if os.path.isdir(parent) and not os.listdir(parent):
        os.rmdir(parent)


def tree_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
               if os.path.isfile(os.path.join(d, f)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiply every input size (for measuring at other scales; not gated)")
    args = ap.parse_args()

    root = os.getcwd()
    missing = [p for p in ("build.sbt", "src/main/scala", "perfbench/build.sbt")
               if not os.path.exists(os.path.join(root, p))]
    if missing:
        raise SystemExit(f"[perfbench] not a graft checkout (missing {', '.join(missing)})")
    cp, jsa = build(root)

    work = os.path.join(root, ".bench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(work, "result.json")
    try:
        code = run_jvm(cp, [f"-XX:SharedArchiveFile={jsa}"] if jsa else [], work,
                       JVM_TIMEOUT_S * max(1.0, args.scale),
                       ["--workload", args.workload, "--seed", str(args.seed),
                        "--seconds", str(args.seconds), "--trace", str(args.trace),
                        "--scale", str(args.scale)])
        if code != 0 or not os.path.exists(out):
            raise SystemExit(f"[perfbench] benchmark process failed (exit {code})")
        with open(out) as f:
            res = json.load(f)
        checks = oracle_checks(work) if os.path.exists(os.path.join(work, "check", "views.json")) else {}
        res["context"]["checks"].update(checks)
        res["attempted"] += len(checks)
        res["failed"] += sum(1 for ok in checks.values() if not ok)
        tmp_end = tree_bytes(work)
    finally:
        remove_work(work)
    tmp_after = tree_bytes(work) if os.path.exists(work) else 0
    if args.trace:
        res["layers"]["ops.tmp_bytes_end"] = {"value": tmp_end, "unit": "bytes"}
        res["layers"]["ops.tmp_bytes_after_cleanup"] = {"value": tmp_after, "unit": "bytes"}
    res["context"]["tmp_bytes"] = {"before_cleanup": tmp_end, "after_cleanup": tmp_after}
    print(json.dumps({"context": res["context"]}))
    correct = res["failed"] == 0 and all(res["context"]["checks"].values())
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": res["layers"] if args.trace else res["e2e"]}))


if __name__ == "__main__":
    main()
