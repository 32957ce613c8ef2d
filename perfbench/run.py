"""Launcher for the graft benchmark.

  python3 perfbench/run.py --workload <analyst|curation|stream_ingest> \\
      --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --selftest

One run: build graft and the harness once (perfbench/build.py), make the
workload's inputs from the seed (perfbench/gen.py), then start one fresh
JVM with `java -cp` (never sbt), a `local[nproc]` SparkSession and the
Tier-1 heap rule. Every metric is printed by name with its unit; the last
stdout line is the JSON result. `--trace 1` runs the workload untraced and
then traced, each in its own JVM, prints the per-layer metrics of the
traced run and the tracing overhead between the two, and leaves the spans
in .bench_build/traces/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402

try:
    import gen  # noqa: E402
except ImportError as e:  # numpy and pyarrow make the inputs
    raise SystemExit(f"perfbench needs numpy and pyarrow in this python3: {e}")

# Every run must end within 180 s of its start once the build is done.
RUN_BUDGET_S = 172
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def heap():
    """The Tier-1 rule: half of physical memory, clamped to 2..8 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration):
        g = 2
    return f"-Xmx{min(max(g, 2), 8)}g"


def java_cmd(cp, work, main, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java", heap(), "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.sql.session.timeZone=UTC",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
            + opens + ["-cp", ":".join(cp), main] + args)


def run_jvm(cp, work, main, args, deadline):
    """Run the harness; return (info dict, result dict) or raise."""
    p = subprocess.Popen(java_cmd(cp, work, main, args), stdout=subprocess.PIPE,
                         text=True, cwd=ROOT)
    try:
        out, _ = p.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise SystemExit(f"{main} ran past the {RUN_BUDGET_S}s budget")
    if p.returncode != 0:
        raise SystemExit(f"{main} exited with {p.returncode}")
    lines = [l for l in out.splitlines() if l.strip()]
    info = next((json.loads(l[5:]) for l in lines if l.startswith("info ")), {})
    return info, json.loads(lines[-1])


def one_run(cp, workload, seed, seconds, trace, base, deadline):
    work = os.path.join(base, f"{'traced' if trace else 'plain'}")
    inp = os.path.join(work, "in")
    gen.generate(workload, seed, inp)
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--in", inp, "--work", work,
            "--trace-out", os.path.join(build.OUT, "traces")]
    try:
        return run_jvm(cp, work, "graftbench.Main", args, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def selftest(cp):
    base = os.path.join(build.OUT, "work", f"selftest-{os.getpid()}")
    bad = []
    try:
        for w in ["analyst", "curation", "stream_ingest"]:
            a = gen.generate(w, 11, os.path.join(base, w, "a"))
            b = gen.generate(w, 11, os.path.join(base, w, "b"))
            c = gen.generate(w, 12, os.path.join(base, w, "c"))
            ok = a["sha256"] == b["sha256"] and a["sha256"] != c["sha256"]
            print(f"generator {w}: {'ok' if ok else 'FAIL'} (repeat seed byte-identical, "
                  f"other seed differs; {len(a['sha256'])} files)")
            bad += [] if ok else [w]
            shutil.rmtree(os.path.join(base, w), ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        p = subprocess.run(java_cmd(cp, base, "graftbench.SelfTest", [base]), cwd=ROOT,
                           timeout=RUN_BUDGET_S)
        if p.returncode != 0:
            bad.append("SelfTest")
    finally:
        shutil.rmtree(base, ignore_errors=True)
    print("selftest:", "FAILED " + ", ".join(bad) if bad else "all passed")
    return 1 if bad else 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["analyst", "curation", "stream_ingest"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    cp = build.build()
    if a.selftest:
        return selftest(cp)
    if not a.workload:
        ap.error("--workload is required")
    base = os.path.join(build.OUT, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    deadline = time.monotonic() + RUN_BUDGET_S
    try:
        # a traced run is preceded by the untraced run of the same seed,
        # so the overhead compares two runs made back to back
        plain, res = one_run(cp, a.workload, a.seed, a.seconds, False, base, deadline)
        info = plain
        if a.trace:
            info, res = one_run(cp, a.workload, a.seed, a.seconds, True, base, deadline)
            p0, p1 = plain.get("op_p50_ms"), info.get("op_p50_ms")
            res["metrics"]["trace.overhead_pct"] = {
                "value": 100.0 * (p1 - p0) / p0 if p0 and p1 else 0.0, "unit": "%"}
    finally:
        shutil.rmtree(base, ignore_errors=True)
    print("inputs " + json.dumps(info.get("inputs", {}), sort_keys=True))
    print(f"warm operations {info.get('warm_ops')}; op_p90_ms "
          f"{info.get('op_p90_ms')} ({info.get('op_p90_rule')}); "
          f"failed_ratio {info.get('failed_ratio')}")
    for f in info.get("failures", []):
        print("failure", f)
    for k, v in sorted(res["metrics"].items()):
        print(f"metric {k} = {v['value']} {v['unit']}")
    print(json.dumps(res, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
