#!/usr/bin/env python3
"""Repository benchmark: one closed-loop, single-client run of a workload.

Usage (from the repository root):

    python3 perfbench/run.py --workload graph_read --seed 1 --seconds 10 --trace 0

Builds the library and the harness from source on first use (sbt, output
under .bench_build/), generates the workload's input tables from --seed,
runs the harness JVM, checks every result (DuckDB oracles for query rows,
the store model for store_write), and prints one line per metric followed
by a final JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end_to_end metrics of BENCHMARK.json, --trace 1 the
per_layer ones. Everything the run writes lives under .bench_build/ and is
deleted at exit.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = Path.cwd()
BUILD = ROOT / ".bench_build" / "perfbench"
LIB_SRC = ROOT / "src" / "main" / "scala"
DEADLINE_S = 170
HEAP = "4g"

# Generated input tables per workload: sf is the TPC-H scale factor and
# text_sf that of the documents and embeddings tables. store_write makes
# its own data inside the harness.
WORKLOADS = {
    "graph_read": {"sf": 0.01, "text_sf": 0.1},
    "store_write": {},
}

# Spark 4 on JDK 17 outside spark-submit needs these opens (the same list
# as the library build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of every build input: Scala sources and the sbt build files."""
    h = hashlib.sha256()
    inputs = [*LIB_SRC.rglob("*.scala"), *(BENCH / "src").rglob("*.scala"),
              BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for p in sorted(inputs):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt unless the classpath of these exact sources exists."""
    digest = source_digest()
    cp_file, stamp = BUILD / "classpath.txt", BUILD / "sources.sha256"
    if cp_file.exists() and stamp.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        env["SPARK_HOME"] = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building library and harness with sbt")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800)
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("sbt build failed")
    cp = [l for l in out.stdout.splitlines() if l and not l.startswith("[")][-1]
    BUILD.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(cp)
    stamp.write_text(digest)
    return cp


def other_jvms():
    """Spark or sbt JVMs on this machine that are not ours."""
    found = []
    for d in Path("/proc").iterdir():
        if not d.name.isdigit() or int(d.name) == os.getpid():
            continue
        try:
            argv = (d / "cmdline").read_bytes().split(b"\0")
        except OSError:
            continue
        if not argv or not argv[0].endswith(b"java"):
            continue
        cmd = b" ".join(argv)
        if any(t in cmd for t in (b"sbt-launch", b"xsbt.boot", b"sbt.ForkMain",
                                  b"org.apache.spark", b"spark-core")):
            found.append(f"{d.name}: {cmd[:120].decode(errors='replace')}")
    return found


def quiet_box(wait_s=60):
    """Refuse to time while another Spark or sbt JVM runs: such a neighbour
    distorts timings two to three times. Waits up to `wait_s` for it to end."""
    t0 = time.time()
    while True:
        busy = other_jvms()
        if not busy:
            return
        if time.time() - t0 > wait_s:
            log("another Spark or sbt JVM is running; refusing to time:")
            for b in busy:
                log("  " + b)
            raise SystemExit(3)
        time.sleep(2)


def canon(v):
    """A comparable form of one result cell from either side."""
    import datetime
    import decimal
    if isinstance(v, float) and v != v:
        return "NaN"
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, str) and len(v) >= 19 and v[4] == "-" and v[10] == " " and v[13] == ":":
        try:
            return datetime.datetime.fromisoformat(v).strftime("%Y-%m-%d %H:%M:%S.%f")
        except ValueError:
            return v
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    if isinstance(v, dict):
        return {k: canon(x) for k, x in v.items()}
    return v


def same(a, b):
    if a == b:
        return True
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        return abs(a - b) <= 1e-9 * max(abs(a), abs(b), 1e-3)
    if isinstance(a, list) and isinstance(b, list) and len(a) == len(b):
        return all(same(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict) and a.keys() == b.keys():
        return all(same(a[k], b[k]) for k in a)
    return False


def check_oracles(results, data):
    """Compare each dumped first-pass result with DuckDB running its oracle
    SQL over the same tables. Returns {row name: reason} for mismatches."""
    import duckdb
    oracles = json.loads((results / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for p in sorted(data.glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
    bad = {}
    for name, sql in sorted(oracles.items()):
        f = results / f"{name}.jsonl"
        if not f.exists():
            bad[name] = "no result"
            continue
        got = [json.loads(l) for l in f.read_text().splitlines() if l]
        try:
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            want = [dict(zip(cols, r)) for r in cur.fetchall()]
        except Exception as e:  # a broken oracle is a failed check
            bad[name] = f"oracle error: {e}"
            continue
        if got and sorted(got[0]) != sorted(cols):
            bad[name] = f"columns {sorted(got[0])} vs {sorted(cols)}"
            continue
        if len(got) != len(want):
            bad[name] = f"{len(got)} rows vs {len(want)}"
            continue
        keys = sorted(cols)
        rows = lambda rs: sorted(([canon(r[k]) for k in keys] for r in rs), key=str)
        for i, (a, b) in enumerate(zip(rows(got), rows(want))):
            if not same(a, b):
                bad[name] = f"row {i}: {a} vs {b}"
                break
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (LIB_SRC / "graft").is_dir():
        log(f"library sources not found under {LIB_SRC}; run from the repository root")
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    cp = build()
    quiet_box()
    t_start = time.time()  # a first run also builds; the deadline covers the run
    cfg = WORKLOADS[args.workload]
    work = ROOT / ".bench_build" / "runs" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    proc = None
    try:
        (work / "tmp").mkdir(parents=True)
        data = work / "data"
        if "sf" in cfg:
            sys.path.insert(0, str(BENCH))
            sys.dont_write_bytecode = True
            import gen
            gen.generate(str(data), args.seed, cfg["sf"], cfg.get("text_sf"))
        cpus = len(os.sched_getaffinity(0))
        cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
        for o in ADD_OPENS:
            cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
        cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload,
                "--data", str(data), "--work", str(work), "--seconds", str(args.seconds),
                "--trace", str(args.trace), "--seed", str(args.seed), "--cpus", str(cpus),
                "--out", str(work / "result.json")]
        env = dict(os.environ, GRAFT_INDEX_ROOT=str(work / "index"))
        proc = subprocess.Popen(cmd, env=env, stdout=sys.stderr, start_new_session=True)
        try:
            proc.wait(timeout=max(10, DEADLINE_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            log(f"harness still running after {DEADLINE_S} s; stopping it")
            return 1
        if proc.returncode != 0:
            log(f"harness exited with code {proc.returncode}")
            return 1
        res = json.loads((work / "result.json").read_text())
        failures = dict(res["failures"])
        if (work / "results" / "oracle_sql.json").exists():
            for name, why in check_oracles(work / "results", data).items():
                log(f"wrong result: {name}: {why}")
                failures[name] = res["executions"].get(name, 1)
        for name, n in sorted(failures.items()):
            log(f"failed: {name} ({n} of {res['executions'].get(name, n)} executions)")
        failed = sum(failures.values())
        env_line = ", ".join(f"{k}={v}" for k, v in res["env"].items())
        print(f"env: {env_line}, passes={res['passes']}, workload={args.workload}, "
              f"seed={args.seed}, trace={args.trace}")
        metrics = {}
        for n in names:
            m = res["metrics"].get(n)
            if m is None and not args.trace:
                raise SystemExit(f"metric {n} missing from the harness output")
            m = m or {"value": 0.0, "unit": "", "n": 0}
            unit = next(x["unit"] for x in spec["per_layer" if args.trace else "end_to_end"]
                        if x["name"] == n)
            metrics[n] = {"value": m["value"], "unit": unit}
            print(f"{n:32s} {m['value']:>16.6f} {unit:8s} n={m['n']}")
        print(f"failed_frac {failed / max(1, res['attempted']):.6f}")
        print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
