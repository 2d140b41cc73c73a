#!/usr/bin/env python3
"""Benchmark of the graft engine: one run of one workload.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

A run builds the engine and the harness from source when they changed,
prepares the workload's corpus once (checksummed, reused afterwards),
then runs the harness JVM: set-up, one cold pass and warm passes over
the workload's queries, the query order of each pass permuted by the
seed. After the timed passes
every result is compared with the DuckDB oracle (tools/oracle_check.py).

The last stdout line is one JSON object with the keys correct, attempted,
failed and metrics: the end-to-end metrics of BENCHMARK.json with
--trace 0, its per-layer metrics with --trace 1. The line before it is
the full record: every failure by query and reason, standing and disk
footprints, per-pass times and the host fingerprint.

Workloads, metrics and the rules the harness keeps are described in
perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.join(ROOT, "perfbench")
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
HARNESS = os.path.join(HERE, "harness")
DEADLINE_S = 170          # a run must end within 180 s
XMX = "3g"
SCALE_COPIES = 10         # sf1 = ScaleGen x10 of the sf0.1 corpus
# Spark 4 on JDK 17 outside spark-submit needs these (same list as the
# root build.sbt passes to forked runs)
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_proc(cmd, timeout, cwd=ROOT, env=None, stdout=None, stderr=None):
    """Runs cmd in its own process group; on timeout kills the whole
    group and waits for it, so no process outlives the run."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=max(1, timeout))
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise
    return p.returncode, out


# ---------------------------------------------------------------- build

def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for d in (os.path.join(ROOT, "project"),):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in os.listdir(d)
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for dp, dns, fns in os.walk(r):
            dns.sort()
            files += [os.path.join(dp, f) for f in fns]
    return sorted(f for f in files if os.path.isfile(f))


def build():
    """Compiles engine + harness with sbt when their sources changed;
    returns the runtime classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(STATE, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            saved = json.load(fh)
        if saved.get("stamp") == stamp:
            return saved["classpath"], saved["java"]
    log("building engine and harness (sbt)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    with open(os.path.join(STATE, "build.log"), "wb") as lf:
        rc, out = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           timeout=850, cwd=HARNESS, env=env,
                           stdout=subprocess.PIPE, stderr=lf)
    lines = out.decode(errors="replace").splitlines()
    cps = [l for l in lines if os.pathsep in l and not l.startswith("[")]
    if rc != 0 or not cps:
        fail(f"build failed (exit {rc}); see {os.path.join(STATE, 'build.log')}\n"
             + "\n".join(lines[-20:]))
    jv = subprocess.run(["java", "-version"], capture_output=True, text=True)
    java = (jv.stderr.splitlines() or ["unknown"])[0]
    with open(cp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cps[-1], "java": java}, fh)
    log(f"build done in {time.time() - t0:.1f} s")
    return cps[-1], java


def java_cmd(cp, run_dir, main, args):
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{XMX}", *opens,
             f"-Djava.io.tmpdir={run_dir}/tmp",
             f"-Dgraft.sink.root={run_dir}/sink",
             "-cp", cp, main] + args)


def fresh_run_dir(tag):
    d = os.path.join(STATE, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    for sub in ("tmp", "sink", "local", "warehouse", "check"):
        os.makedirs(os.path.join(d, sub))
    return d


# --------------------------------------------------------------- corpus

def digest_tree(d):
    h = hashlib.sha256()
    for dp, dns, fns in os.walk(d):
        dns.sort()
        for f in sorted(fns):
            p = os.path.join(dp, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                while True:
                    b = fh.read(1 << 22)
                    if not b:
                        break
                    h.update(b)
    return h.hexdigest()


def corpus(name, cp, cpus):
    """Returns (dir, sha256) of a checksummed corpus, making it once."""
    d = os.path.join(STATE, "corpus", name)
    sums = os.path.join(STATE, "corpus", name + ".sha256")
    if os.path.isdir(d) and os.path.exists(sums):
        with open(sums) as fh:
            want = fh.read().strip()
        if digest_tree(d) == want:
            return d, want
        log(f"corpus {name} does not match its checksum; making it again")
    shutil.rmtree(d, ignore_errors=True)
    tmp = d + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.time()
    if name == "sf0.1":
        src = os.path.join(os.environ.get("PERFBENCH_TESTDATA",
                                          os.path.expanduser("~/testdata")), "sf0.1")
        if not os.path.isdir(src):
            fail(f"source corpus {src} not found (set PERFBENCH_TESTDATA)", 3)
        shutil.copytree(src, tmp)
    else:
        base, _ = corpus("sf0.1", cp, cpus)
        run_dir = fresh_run_dir("scalegen")
        try:
            rc, _ = run_proc(java_cmd(cp, run_dir, "graft.ScaleGen",
                                      [base, tmp, str(SCALE_COPIES)]),
                             timeout=600, cwd=run_dir,
                             env=dict(os.environ, SPARK_GRAFT_CPUS=str(cpus)),
                             stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
        if rc != 0:
            fail(f"ScaleGen failed with exit {rc}", 3)
    os.rename(tmp, d)
    got = digest_tree(d)
    with open(sums, "w") as fh:
        fh.write(got + "\n")
    log(f"corpus {name} made in {time.time() - t0:.1f} s")
    return d, got


# ---------------------------------------------------------- fingerprint

def fingerprint(run_dir, java, cpus):
    mem = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem = int(line.split()[1]) // 1024
    # small disk probe, no page-cache drop: 32 MiB written with fsync,
    # then read back
    p = os.path.join(run_dir, "tmp", "disk_probe.bin")
    blob = os.urandom(1 << 20)
    t0 = time.perf_counter()
    with open(p, "wb") as fh:
        for _ in range(32):
            fh.write(blob)
        fh.flush()
        os.fsync(fh.fileno())
    w = time.perf_counter() - t0
    t0 = time.perf_counter()
    with open(p, "rb") as fh:
        while fh.read(1 << 22):
            pass
    r = time.perf_counter() - t0
    os.remove(p)
    return {"nproc": cpus, "mem_total_mb": mem, "jvm": java, "xmx": XMX,
            "disk_write_mb_s": round(32 * 1.048576 / w, 1),
            "disk_read_mb_s": round(32 * 1.048576 / r, 1)}


# ----------------------------------------------------------------- main

def oracle(corpus_dir, check_dir, queries, timeout):
    """DuckDB compare of the check-phase results: {query: reason} of the
    queries that did not pass."""
    rc, out = run_proc([sys.executable, os.path.join("tools", "oracle_check.py"),
                        corpus_dir, check_dir, *queries],
                       timeout=timeout, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT)
    lines = out.decode(errors="replace").splitlines()
    passed, failed = set(), {}
    for i, line in enumerate(lines):
        m = re.match(r"(PASS|FAIL) (\S+?):?(?: (.*))?$", line)
        if not m:
            continue
        if m.group(1) == "PASS":
            passed.add(m.group(2))
        else:
            detail = [m.group(3) or ""] + [l.strip() for l in lines[i + 1:i + 4]
                                           if l.startswith("  ")]
            failed[m.group(2)] = "oracle mismatch: " + " | ".join(detail)
    for q in queries:
        if q not in passed and q not in failed:
            failed[q] = f"oracle check gave no verdict (exit {rc})"
    return failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))
            and os.path.isfile(os.path.join(ROOT, "tools", "oracle_check.py"))):
        fail("run from the repository root: the engine sources (build.sbt, "
             "src/main, tools/oracle_check.py) are not here")
    with open(os.path.join(HERE, "workloads.json")) as fh:
        workloads = json.load(fh)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload}; have {sorted(workloads)}")
    wl = workloads[a.workload]
    queries = wl["queries"]
    # per-layer construction metrics exist for every module of any workload
    modules = sorted({m for w in workloads.values() for m in w["queries"].values()})
    os.makedirs(STATE, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))

    cp, java = build()
    corpus_dir, corpus_sum = corpus(wl["corpus"], cp, cpus)
    t_start = time.time()  # building and making the corpus are not timed

    def left():
        return DEADLINE_S - (time.time() - t_start)

    def harness(run_dir):
        args = [f"corpus={corpus_dir}", f"cpus={cpus}",
                f"seed={a.seed}", f"seconds={a.seconds}", f"trace={a.trace}",
                "queries=" + ",".join(f"{q}:{m}" for q, m in queries.items()),
                "modules=" + ",".join(modules),
                f"out={run_dir}/result.json", f"spans={run_dir}/spans.json",
                f"check={run_dir}/check", f"sink={run_dir}/sink",
                f"tmp={run_dir}/tmp", f"local={run_dir}/local",
                f"warehouse={run_dir}/warehouse"]
        with open(os.path.join(run_dir, "harness.log"), "wb") as lf:
            try:
                rc, _ = run_proc(java_cmd(cp, run_dir, "perfbench.Harness", args),
                                 timeout=left() - 15, cwd=run_dir,
                                 stdout=lf, stderr=subprocess.STDOUT)
            except subprocess.TimeoutExpired:
                rc = "timeout"
        res = os.path.join(run_dir, "result.json")
        if rc != 0 or not os.path.exists(res):
            with open(os.path.join(run_dir, "harness.log"), errors="replace") as fh:
                tail = fh.read()[-3000:]
            fail(f"harness run failed ({rc}):\n{tail}", 4)
        with open(res) as fh:
            return json.load(fh)

    run_dir = fresh_run_dir(f"{a.workload}-seed{a.seed}")
    try:
        fp = fingerprint(run_dir, java, cpus)
        rec = harness(run_dir)
        timed = {}
        for e in rec["errors"]:
            timed.setdefault(e["query"], []).append(f"pass {e['pass']}: {e['error']}")
        checks = {q: [] for q in queries}
        for q, e in rec["check_errors"].items():
            checks[q].append(f"check: {e}")
        for q, e in rec["selftest_failures"].items():
            checks[q].append(f"self-test: {e}")
        t0 = time.time()
        checked = [q for q in queries if q not in rec["check_errors"]]
        for q, e in oracle(corpus_dir, os.path.join(run_dir, "check"),
                           checked, left() - 3).items():
            checks[q].append(e)
        oracle_s = time.time() - t0
        spans = os.path.join(run_dir, "spans.json")
        if a.trace and os.path.exists(spans):
            os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
            shutil.copy(spans, os.path.join(
                STATE, "traces", f"{a.workload}-seed{a.seed}.spans.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = rec["executions"] + len(queries)
    failed = len(rec["errors"]) + sum(1 for r in checks.values() if r)
    failures = {q: timed.get(q, []) + checks[q] for q in sorted(queries)
                if timed.get(q) or checks[q]}
    values = {
        "setup_s": rec["setup_s"],
        "cold_pass_s": rec["cold_pass_s"],
        "warm_pass_s": rec["warm_pass_s"],
        "ok_frac": 1.0 - failed / attempted,
    }
    if a.trace:
        values = dict(rec["layers"], failed_frac=failed / attempted,
                      peak_rss_mb=rec["peak_rss_mb"], heap_live_mb=rec["heap_live_mb"],
                      standing_mb=rec["standing_mb"], disk_mb=rec["disk_mb"])
    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        fail(f"metrics not produced: {missing}", 5)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}

    record = {k: v for k, v in rec.items() if k not in ("errors", "layers")}
    record.update(workload=a.workload, seed=a.seed, trace=a.trace,
                  corpus=wl["corpus"],
                  corpus_sha256=corpus_sum, host=fp,
                  failed_frac=failed / attempted,
                  failures=failures, oracle_s=oracle_s,
                  wall_s=time.time() - t_start)
    print("perfbench record " + json.dumps(record, sort_keys=True))
    for q, reasons in failures.items():
        for r in reasons:
            log(f"FAILED {q}: {r}")
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
