#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine: one workload, one fresh JVM.

    python3 e2ebench/run.py --workload query_scan --seed 3 --seconds 10 --trace 0
    python3 e2ebench/run.py --selftest

Run from the repository root. The first run builds the engine and the harness
from source with sbt (offline) and caches the build under e2ebench/target,
keyed by a hash of the sources. Each run then generates its inputs from the
seed, starts one JVM with pinned flags, warms every op for a fixed number of
reps, measures a closed loop for --seconds, checks every output, and prints as
its last line one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json; with
--trace 1 the JVM also runs a traced phase and the metrics are the per-layer
ones.
"""
import argparse
import datetime as dt
import decimal
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, ".work")
# class-data archive of the harness JVM, written by the build's self-test run;
# it cuts JVM and Spark session start from about 7 s to about 3 s
CDS = os.path.join(TARGET, "app.jsa")
HEAP = "2g"
# scale of the seeded tables of query_scan (gen_data.py)
QUERY_SCALE = 0.01
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[e2ebench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------- build

def source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def java_cmd(classpath, work, main_args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    if os.path.exists(CDS):
        opens.append(f"-XX:SharedArchiveFile={CDS}")
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
             "-XX:-AlwaysPreTouch", "-XX:TieredStopAtLevel=1",
             "-Duser.timezone=UTC",
             # the stub's server must not wait on Nagle/delayed-ACK rounds
             "-Dsun.net.httpserver.nodelay=true",
             f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
             "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
            + opens + ["-cp", classpath, "e2ebench.Main"] + main_args)


def build():
    """Compile once per source hash; return the runtime classpath."""
    stamp = os.path.join(TARGET, "build.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    want = source_hash()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == want:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building engine and harness with sbt (offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" +
                       os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "compile", "writeClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build failed (sbt exit {r.returncode})")
    with open(cp_file) as g:
        cp = g.read().strip()
    work = fresh_dir(os.path.join(WORK, "build"))
    subprocess.run(java_cmd(cp, work, ["--dump-oracles",
                                       os.path.join(TARGET, "oracle_sql.json")]),
                   check=True, timeout=120, stdout=subprocess.DEVNULL)
    if os.path.exists(CDS):
        os.remove(CDS)
    cmd = java_cmd(cp, work, ["--selftest", work])
    r = subprocess.run(cmd[:1] + [f"-XX:ArchiveClassesAtExit={CDS}"] + cmd[1:],
                       timeout=300, stdout=subprocess.DEVNULL,
                       stderr=subprocess.DEVNULL)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0:
        # no stamp and no archive: the next run builds and tests again
        if os.path.exists(CDS):
            os.remove(CDS)
        raise SystemExit(f"self-test failed (exit {r.returncode}); "
                         "run --selftest to see it")
    with open(stamp, "w") as f:
        f.write(want)
    log(f"build done in {time.time() - t0:.0f} s")
    return cp


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "tmp"))
    return path


# ------------------------------------------------------------ fingerprints

def _dec(v):
    s = format(v, ".6f")
    if "." in s:
        s = s.rstrip("0").rstrip(".")
    return "0" if s in ("", "-0") else s


def canon(v):
    """Canonical text of one cell; the same rules as Stats.canon in Scala."""
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v in (float("inf"), float("-inf")):
            return "inf" if v > 0 else "-inf"
        return _dec(v)
    if isinstance(v, decimal.Decimal):
        return _dec(v)
    if isinstance(v, str):
        return v
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return str((v - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1))
    if isinstance(v, dt.date):
        return "d" + str((v - dt.date(1970, 1, 1)).days)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        items = sorted((canon(k), canon(x)) for k, x in v.items())
        return "{" + ",".join(f"{k}:{x}" for k, x in items) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def fingerprint(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        text = "\x01".join(canon(r[i]) for i in order)
        total += int.from_bytes(hashlib.md5(text.encode()).digest()[:8], "big")
    return f"{len(rows)}:{total % (1 << 64):016x}"


def expected_fingerprints(data_dir, queries):
    """DuckDB oracle fingerprint of every query; each must have an oracle."""
    import duckdb
    with open(os.path.join(TARGET, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{data_dir}/{t}.parquet'")
    missing = [q for q in queries if q not in oracles]
    if missing:
        raise SystemExit(f"no DuckDB oracle for {missing}")
    out = {}
    for q in queries:
        rel = con.sql(oracles[q])
        out[q] = fingerprint(rel.columns, rel.fetchall())
    con.close()
    return out


# --------------------------------------------------------------------- run

def main():
    # a terminated run must take its JVM down with it: SystemExit raised while
    # subprocess.run waits makes it kill and reap the child
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("engine sources (src/main/scala/graft) not found: "
                         "run from a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        wcfg = json.load(f)
    cp = build()
    if a.selftest:
        work = fresh_dir(os.path.join(WORK, "selftest"))
        r = subprocess.run(java_cmd(cp, work, ["--selftest", work]),
                           timeout=JVM_TIMEOUT_S)
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit(r.returncode)
    names = [w["name"] for w in bench["workloads"]]
    if a.workload not in names:
        raise SystemExit(f"unknown workload {a.workload}; one of {names}")
    cfg = wcfg[a.workload]
    work = fresh_dir(os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}"))
    try:
        data = os.path.join(work, "data")
        expected = os.path.join(work, "expected.json")
        if a.workload == "query_scan":
            sys.path.insert(0, HERE)
            import gen_data
            gen_data.write(data, a.seed, QUERY_SCALE)
            with open(expected, "w") as f:
                json.dump(expected_fingerprints(data, cfg["queries"]), f)
        out = os.path.join(work, "result.json")
        cmd = java_cmd(cp, work, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data, "--work", work, "--expected", expected,
            "--config", os.path.join(HERE, "workloads.json"), "--out", out])
        r = subprocess.run(cmd, timeout=JVM_TIMEOUT_S, stdout=subprocess.DEVNULL)
        if r.returncode != 0 or not os.path.exists(out):
            raise SystemExit(f"benchmark JVM failed (exit {r.returncode})")
        with open(out) as f:
            res = json.load(f)
        spans = os.path.join(work, f"spans_{a.workload}.jsonl")
        if os.path.exists(spans):
            os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
            shutil.move(spans, os.path.join(
                WORK, "spans", f"{a.workload}-{a.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report(a, bench, res)


def report(a, bench, res):
    if a.trace:
        specs = bench["per_layer"]
        values = res["layers"]
    else:
        specs = bench["end_to_end"]
        values = res["e2e"]
    metrics = {}
    for s in specs:
        v = float(values.get(s["name"], 0.0))
        metrics[s["name"]] = {"value": v, "unit": s["unit"]}
    print(f"workload {a.workload} seed {a.seed}: {res['timed_ops']} timed ops, "
          f"tail at p{res['tail_pct']:g}, attempted {res['attempted']}, "
          f"failed {res['failed']}")
    for k, m in metrics.items():
        print(f"  {k:34s} {m['value']:.6g} {m['unit']}")
    print(f"  steadiness: {res['steadiness']}")
    for e in res["errors"]:
        print(f"  FAILED: {e}")
    print(json.dumps({"correct": res["failed"] == 0 and res["attempted"] > 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
