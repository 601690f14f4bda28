#!/usr/bin/env python3
"""graft repo benchmark launcher.

One run:
    python3 perfbench/run.py --workload cdc_trickle --seed 1 --seconds 20 --trace 0

builds the benchmark package (perfbench/build.sbt compiles the graft
sources of this checkout next to the benchmark's own) when its sources
changed, runs one JVM for the workload, and prints the result JSON as the
last stdout line. Build outputs and run scratch live under
$CARGO_TARGET_DIR (default .bench_build) at the checkout root.

Other modes:
    --selftest             checker self-test and same-seed reproducibility
    --steady [--runs N]    N runs per workload with seeds 1..N: median,
                           quartiles and spread of every end-to-end metric
                           against its bound; --out FILE keeps the runs
    --compare A B          medians of two --steady --out files (parent,
                           change) against the bounds in BENCHMARK.json
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def source_files():
    lib = os.path.join(ROOT, "src", "main", "scala")
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (lib, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile when the sources changed; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("no graft sources next to the benchmark (src/main/scala/graft)")
        sys.exit(2)
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "stamp.txt")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "sbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log("building (sources changed)")
    t = time.time()
    tmp = os.path.join(out, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", f"-Djava.io.tmpdir={tmp}",
         "-J-XX:-UsePerfData", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    cps = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        log("build failed")
        sys.exit(3)
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(want)
    log(f"built in {time.time() - t:.0f} s")
    return cps[-1].strip()


def run_jvm(classpath, args, work):
    """Run one benchmark JVM; return (result dict, peak RSS MB)."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # -Xmx only: the heap grows with what the run allocates, so the
    # resident set, and peak_rss_mb, follow the program
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", "-XX:ReservedCodeCacheSize=512m",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main"] + args + ["--work", work]
    out_path = os.path.join(work, "stdout.txt")
    err_path = os.path.join(build_dir(), "last_run.log")
    with open(out_path, "w") as so, open(err_path, "w") as se:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=so, stderr=se,
                                start_new_session=True)

    def kill():
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    old = signal.signal(signal.SIGTERM, lambda *_: (kill(), sys.exit(1)))
    deadline = time.time() + RUN_TIMEOUT_S
    status, usage = None, None
    try:
        while status is None:
            pid, st, ru = os.wait4(proc.pid, os.WNOHANG)
            if pid:
                status, usage = st, ru
            elif time.time() > deadline:
                kill()
                os.wait4(proc.pid, 0)
                log(f"run exceeded {RUN_TIMEOUT_S} s")
                return None, 0.0
            else:
                time.sleep(0.1)
    finally:
        signal.signal(signal.SIGTERM, old)
        kill()  # anything the JVM left in its process group
    with open(err_path) as f:
        for line in f:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
    code = os.waitstatus_to_exitcode(status)
    if code != 0:
        log(f"benchmark JVM exited with {code}; see {err_path}")
        return None, 0.0
    with open(out_path) as f:
        lines = [l for l in f.read().splitlines() if l.startswith("{")]
    if not lines:
        return None, 0.0
    # ru_maxrss is the JVM's own high-water mark (VmHWM), in KiB
    return json.loads(lines[-1]), usage.ru_maxrss / 1024.0


def one_run(a):
    cp = build()
    work = os.path.join(build_dir(), "run", a.workload)
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
    res, rss = run_jvm(cp, args, work)
    if res is None:
        return 1
    if a.trace == 0:
        res["metrics"]["peak_rss_mb"] = {"value": rss, "unit": "MB"}
    spans = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans):
        shutil.copy(spans, os.path.join(build_dir(), f"spans-{a.workload}-{a.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    ff = res["failed"] / max(1, res["attempted"])
    log(f"{a.workload} seed={a.seed}: correct={res['correct']} "
        f"failed={res['failed']}/{res['attempted']} (failed_frac={ff:.4f})")
    print(json.dumps(res))
    return 0


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def summarize(runs, bench):
    """Per workload and metric: median, quartiles, spread vs bound."""
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    for w, rs in runs.items():
        print(f"== {w}: {len(rs)} runs, failed/attempted "
              f"{[r['failed'] for r in rs]}/{rs[0]['attempted'] if rs else 0}")
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in rs if name in r["metrics"]]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            flag = "steady" if spread < bound / 3 else ("ok" if spread <= bound else "WIDE")
            if spread > bound:
                ok = False
            print(f"   {name:16s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
                  f"spread {spread:7.4f}  bound {bound:5.3f}  {flag}")
    return ok


def steady(a):
    bench = spec()
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    me = os.path.abspath(__file__)
    runs = {}
    for w in names:
        runs[w] = []
        for i in range(a.runs):
            seed = i + 1
            t = time.time()
            p = subprocess.run([sys.executable, me, "--workload", w, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                               stdout=subprocess.PIPE, text=True)
            line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            if p.returncode != 0 or not line.startswith("{"):
                log(f"{w} seed {seed} failed")
                continue
            runs[w].append(json.loads(line))
            log(f"{w} seed {seed}: {time.time() - t:.1f} s wall")
        if a.trace_too:
            p = subprocess.run([sys.executable, me, "--workload", w, "--seed", "1",
                                "--seconds", str(bench["run_seconds"]), "--trace", "1"],
                               stdout=subprocess.PIPE, text=True)
            if p.returncode == 0 and p.stdout.strip():
                t = json.loads(p.stdout.strip().splitlines()[-1])["metrics"]
                for m in ("throughput_rps", "latency_p50_ms", "latency_p90_ms", "read_p50_ms"):
                    base = statistics.median(r["metrics"][m]["value"] for r in runs[w])
                    traced = t[f"trace.{m}"]["value"]
                    print(f"   tracing overhead {w} {m}: untraced median {base:.3f}, "
                          f"traced {traced:.3f} ({(traced - base) / base * 100:+.1f}%)")
    if a.out:
        with open(a.out, "w") as f:
            json.dump(runs, f)
    return 0 if summarize(runs, bench) else 1


def compare(a):
    bench = spec()
    with open(a.compare[0]) as f:
        parent = json.load(f)
    with open(a.compare[1]) as f:
        change = json.load(f)
    bad = False
    for m in bench["end_to_end"]:
        for w in parent:
            pv = [r["metrics"][m["name"]]["value"] for r in parent[w]]
            cv = [r["metrics"][m["name"]]["value"] for r in change.get(w, [])]
            if not pv or not cv:
                continue
            pm, cm = statistics.median(pv), statistics.median(cv)
            worse = (cm - pm) / pm if m["better"] == "lower" else (pm - cm) / pm
            verdict = "REGRESSION" if worse > m["bound"] else "ok"
            bad |= worse > m["bound"]
            print(f"{w:15s} {m['name']:16s} parent {pm:12.4f} change {cm:12.4f} "
                  f"worse by {worse * 100:+6.1f}% (bound {m['bound'] * 100:.0f}%) {verdict}")
    return 1 if bad else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--steady", action="store_true")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads")
    ap.add_argument("--trace-too", action="store_true")
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2)
    a = ap.parse_args()
    if a.compare:
        return compare(a)
    if a.steady:
        return steady(a)
    if a.selftest:
        a.workload, a.trace = "selftest", 0
        cp = build()
        res, _ = run_jvm(cp, ["--workload", "selftest", "--seed", str(a.seed),
                              "--seconds", "1", "--trace", "0"],
                         os.path.join(build_dir(), "run", "selftest"))
        shutil.rmtree(os.path.join(build_dir(), "run", "selftest"), ignore_errors=True)
        if res is None:
            return 1
        print(json.dumps(res))
        return 0 if res["correct"] else 1
    if not a.workload:
        ap.error("--workload is required")
    return one_run(a)


if __name__ == "__main__":
    sys.exit(main())
