#!/usr/bin/env python3
"""Local correctness harness (dev-only, mirrors the driver's gate):
run graft.Verify on a scale-factor dir, then compare each query's parquet
output against its DuckDB oracle SQL: column names, row count, and
sorted-row values must match exactly. The output directory is cleared
before Verify runs, a query Verify reports as failed counts as FAIL, and
the exit code is non-zero when anything fails.

Usage: python3 tools/check.py [sfdir] [--only=q1,q2] [--skip-verify]
"""
import json, math, os, re, shutil, subprocess, sys, glob

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("--") else "/root/testdata/sf0.01"
OUT = "/tmp/graft_verify"
ONLY = None
for a in sys.argv:
    if a.startswith("--only="):
        ONLY = set(a.split("=", 1)[1].split(","))
SKIP_VERIFY = "--skip-verify" in sys.argv

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def heap():
    """The Tier-1 rule (as tools/bench.sh and perfbench/run.py apply it):
    half of physical memory, clamped to 2..8 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration):
        g = 2
    return f"-Xmx{min(max(g, 2), 8)}g"

def run_verify():
    jars = ":".join(glob.glob("/opt/spark/jars/*.jar"))
    cp = f"{REPO}/target/scala-2.13/classes:{jars}"
    opens = []
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd = ["java"] + opens + [
        heap(), "-cp", cp, "graft.Verify", SF, OUT]
    if ONLY:
        cmd.append("--only=" + ",".join(sorted(ONLY)))
    shutil.rmtree(OUT, ignore_errors=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    r = subprocess.run(cmd, capture_output=True, text=True, env=env)
    sys.stdout.write(r.stdout[-4000:])
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-8000:])
        sys.exit(f"Verify failed rc={r.returncode}")
    failed = {}
    for line in r.stderr.splitlines():
        if "[verify]" in line:
            print(line)
            m = re.match(r"\[verify\] (\S+) failed: (.*)", line)
            if m:
                failed[m.group(1)] = m.group(2)
    return failed

def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    return repr(v)

def main():
    import duckdb
    failed = {} if SKIP_VERIFY else run_verify()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    oracle = json.load(open(f"{OUT}/oracle_sql.json"))
    results = {n: f"VERIFY FAILED: {e[:200]}" for n, e in failed.items()}
    names = sorted(os.listdir(OUT))
    for name in names:
        path = os.path.join(OUT, name)
        if not os.path.isdir(path):
            continue
        if ONLY and name not in ONLY or name in failed:
            continue
        try:
            mine = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')")
            mrows = mine.fetchall()
            mcols = [c.lower() for c in mine.columns]
        except Exception as e:
            results[name] = f"ERROR reading output: {e}"
            continue
        if name not in oracle:
            results[name] = f"ROWS-ONLY ({len(mrows)} rows)" + (" !!EMPTY" if not mrows else "")
            continue
        try:
            ref = con.sql(oracle[name])
            rrows = ref.fetchall()
            rcols = [c.lower() for c in ref.columns]
        except Exception as e:
            results[name] = f"ORACLE SQL ERROR: {e}"
            continue
        if sorted(mcols) != sorted(rcols):
            results[name] = f"SCHEMA MISMATCH mine={sorted(mcols)} oracle={sorted(rcols)}"
            continue
        if len(mrows) != len(rrows):
            results[name] = f"ROWCOUNT MISMATCH mine={len(mrows)} oracle={len(rrows)}"
            continue
        # sort columns by name, then rows
        mi = [mcols.index(c) for c in sorted(mcols)]
        ri = [rcols.index(c) for c in sorted(rcols)]
        ms = sorted(tuple(norm(r[i]) for i in mi) for r in mrows)
        rs = sorted(tuple(norm(r[i]) for i in ri) for r in rrows)
        if ms != rs:
            bad = next((a, b) for a, b in zip(ms, rs) if a != b)
            results[name] = f"VALUE MISMATCH e.g. mine={bad[0]} oracle={bad[1]}"
            continue
        results[name] = f"OK ({len(mrows)} rows)"
    width = max(len(n) for n in results) if results else 10
    npass = 0
    for name in sorted(results):
        r = results[name]
        ok = r.startswith("OK") or r.startswith("ROWS-ONLY") and "!!EMPTY" not in r
        npass += ok
        print(f"{'PASS' if ok else 'FAIL'}  {name:<{width}}  {r}")
    nmatch = sum(r.startswith("OK") for r in results.values())
    print(f"== {npass}/{len(results)} pass ({nmatch} oracle-matched)")
    if npass != len(results):
        sys.exit(1)

if __name__ == "__main__":
    main()
