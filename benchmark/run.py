#!/usr/bin/env python3
"""Benchmark of the graft engine: one seeded workload per run.

    python3 benchmark/run.py --workload olap_read --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
harness with sbt (benchmark/build.sbt) and generates the warehouse; later
runs reuse both while their sources are unchanged. Each run generates its
statements and derived files from the seed, starts one JVM (local[nproc],
one closed-loop client thread), checks every result against its reference
outside the timed window, and prints one JSON line: {"correct",
"attempted", "failed", "metrics"}. With --trace 1 the metrics are the
per-layer ones and the span file lands in .bench_build/traces/. See
benchmark/README.md.
"""
import argparse
import fcntl
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
sys.path.insert(0, HERE)

import gen  # noqa: E402
import verify  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("olap_read", "txn_dml")
SETUPS = 3          # set-up cycles per run; setup_s is their median
XMX = "3g"
# statements per pass, views not counted
PASS = {"olap_read": len(gen.OLAP_QUERIES), "txn_dml": gen.PASS_LEN}
# a timed window is round(--seconds / this) whole passes, at least one. A
# fixed count, not a deadline, so a window's composition does not depend on
# the host's speed. At --seconds 10 it is one pass of each workload, so
# that a comparison of two commits (48 runs, two builds) fits in 3420 s.
PASS_SECONDS = {"olap_read": 10, "txn_dml": 10}
# seconds before the engine run is killed: a run must end within 180 s
JVM_TIMEOUT = 160
# processes that write the fixed scratch paths registered queries use
CONFLICTS = ("graft.Bench", "graft.Verify", "sbt.ForkMain")
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[benchmark] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def load1():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def conflicting_processes():
    found = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if "java" in cmd and any(c in cmd.split() for c in CONFLICTS):
            found.append((pid, next(c for c in CONFLICTS if c in cmd.split())))
    return found


def source_stamp():
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt")]
    for top in ("src/main", "project", "benchmark/src", "benchmark/project"):
        for d, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(x for x in dirs if x != "target")
            paths += [os.path.join(d, f) for f in sorted(files)]
    paths.append(os.path.join(HERE, "build.sbt"))
    for p in paths:
        if os.path.isfile(p):
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    """Build with sbt when the sources changed; return the run classpath."""
    stamp_file = os.path.join(BUILD, "classpath.json")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser(
                       "~/.sbt/repositories") + " -Dsbt.offline=true -Xmx3g")
    log("building engine and harness with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [x for x in p.stdout.splitlines() if x.strip()]
    if p.returncode != 0 or not lines or ":" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        die("sbt build failed")
    cp = lines[-1].strip()
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp,
                   "build_s": time.time() - t0}, f)
    return cp


def git_commit():
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"


def warehouse():
    """The warehouse directory, generated on first use in a checkout and
    read only after that (keyed by the generator's source)."""
    with open(gen.__file__, "rb") as f:
        key = hashlib.sha256(f.read()).hexdigest()[:16]
    d = os.path.join(BUILD, "warehouse", key)
    if not os.path.isdir(d):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.warehouse(tmp)
        os.rename(tmp, d)
    return d


def window_passes(workload, seconds):
    """(untraced, traced) passes. olap_read's traced window repeats the
    untraced one; txn_dml's runs the next passes, an even number of them,
    so that it holds both pass kinds (an index ADD and a REMOVE)."""
    n = max(1, round(seconds / PASS_SECONDS[workload]))
    return n, (n if workload == "olap_read" else n + n % 2)


def prepare(workload, seed, run_dir, data, passes):
    """Generate the run's statements and derived files for a warm pass and
    the `passes` (untraced, traced) of the timed windows. Returns (ops,
    model, substitutions)."""
    subst = {"store": os.path.join(run_dir, "store"), "run": run_dir}
    if workload == "olap_read":
        return gen.olap_stream(seed, passes[0]), None, subst
    n = 1 + sum(passes)  # warm, untraced and traced passes
    derived = gen.derived_inputs(seed, data, run_dir, n)
    ops, model = gen.txn_stream(seed, gen.load_cols(data), n)
    model.update(derived, seed=seed, data=data)
    return ops, model, subst


def pct(xs, q):
    """Nearest-rank percentile (q in 0..100)."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(-(-q * len(s) // 100)) - 1))]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ("all",),
                    help="'all' runs every workload, one after another")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true",
                    help="keep the run's scratch root")
    a = ap.parse_args()
    if a.workload == "all":
        # one line per workload; non-zero if any run failed or mismatched
        rc = 0
        for w in WORKLOADS:
            argv = [sys.executable, __file__, "--workload", w,
                    "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", str(a.trace)] + (["--keep"] if a.keep else [])
            if subprocess.run(argv).returncode != 0:
                rc = 1
        sys.exit(rc)
    started = time.time()
    # a SIGTERM unwinds through the `finally` blocks: the JVM is killed and
    # waited for, and the run's scratch root removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die(f"no engine sources under {ROOT}: run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are required")

    os.makedirs(BUILD, exist_ok=True)
    lock = open(os.path.join(BUILD, "lock"), "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        die("another benchmark run holds the lock")
    others = conflicting_processes()
    if others:
        die(f"refusing to run beside {others}: they share scratch paths")

    cp = classpath()
    data = warehouse()
    run_id = f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    run_dir = os.path.join(BUILD, "runs", run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    context = run_context(a.workload, a.seed, a.trace, a.seconds)
    try:
        result, record = run(a, cp, run_dir, data, context)
    finally:
        if not a.keep:
            shutil.rmtree(run_dir, ignore_errors=True)
    context["load1_after"] = load1()
    context["run_s"] = time.time() - started
    record["context"] = context
    if a.trace:
        for k in ("load1_before", "load1_after"):
            result["metrics"][f"host.{k}"] = {"value": context[k],
                                              "unit": "load"}
    out_dir = os.path.join(BUILD, "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}"
                           ".json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


def run_context(workload, seed, trace, seconds):
    """What every result records beside its metrics."""
    return {"seed": seed, "workload": workload, "trace": trace,
            "seconds": seconds, "commit": git_commit(), "nproc": nproc(),
            "xmx": XMX, "load1_before": load1()}


def trace_overhead(w):
    """Median traced pass over median untraced pass, minus 1. On olap_read
    the untraced figure is the mean of the runs of the same passes before
    and after the traced ones; on txn_dml the traced window runs the next
    passes, so there the figure is an estimate."""
    untraced = statistics.median(w["pass_s"])
    if w["again_pass_s"]:
        untraced = (untraced + statistics.median(w["again_pass_s"])) / 2
    return statistics.median(w["traced_pass_s"]) / untraced - 1.0


def jvm_command(workload, cp, run_dir, data, passes, trace, subst):
    """The engine run: it reads the warehouse and the generated files under
    `run_dir` and nothing else the benchmark knows (no model, no expected
    results)."""
    tmp = os.path.join(run_dir, "tmp")
    # SoftRefLRUPolicyMSPerMB=0: a full GC clears soft references, so the
    # heap retained after it does not depend on how full the heap was
    return (["java", f"-Xmx{XMX}", "-XX:+UseParallelGC",
             "-XX:SoftRefLRUPolicyMSPerMB=0"]
            + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
               "-cp", cp, "graftbench.Main",
               "--workload", workload,
               "--data", data,
               "--ops", os.path.join(run_dir, "ops.tsv"),
               "--root", run_dir,
               "--out", os.path.join(run_dir, "out.json"),
               "--cores", str(nproc()), "--setups", str(SETUPS),
               "--trace", str(trace), "--pass", str(PASS[workload]),
               "--warm", str(gen.WARM_LEN),
               "--passes", str(passes[0]), "--traced-passes", str(passes[1]),
               "--subst", ",".join(f"{k}={v}" for k, v in subst.items())])


def run(a, cp, run_dir, data, context):
    passes = window_passes(a.workload, a.seconds)
    t0 = time.time()
    ops, model, subst = prepare(a.workload, a.seed, run_dir, data, passes)
    gen_s = time.time() - t0
    gen.write_ops(os.path.join(run_dir, "ops.tsv"), ops)
    out_file = os.path.join(run_dir, "out.json")
    log_file = os.path.join(run_dir, "jvm.log")
    cmd = jvm_command(a.workload, cp, run_dir, data, passes, a.trace, subst)
    with open(log_file, "w") as lf:
        # the engine's working-directory scratch (target/warehouse) lands
        # in the run's root too
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=lf, stderr=lf)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT)
        except subprocess.TimeoutExpired:
            rc = -9
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or not os.path.exists(out_file):
        with open(log_file, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        die(f"engine run failed (exit {rc})", 3)
    with open(out_file) as f:
        out = json.load(f)

    problems = verify.check(a.workload, out, model, run_dir, data)
    for p_ in problems[:20]:
        log(f"MISMATCH {p_}")
    stmts = [s for s in out["stmts"] if s["kind"] != "setup"]
    timed = [s for s in stmts if s["phase"] == "timed"]
    failed = sum(1 for s in stmts if not s["ok"])
    result = {"correct": not problems and failed == 0,
              "attempted": len(timed), "failed": failed}
    setup = [sum(c) for c in out["setup"]]
    w = out["window"]

    def walls(kind, phase="timed"):
        return [s["wall_s"] for s in stmts
                if s["kind"] == kind and s["phase"] == phase and s["ok"]]

    if not a.trace:
        result["metrics"] = {
            "setup_s": {"value": statistics.median(setup), "unit": "s"},
            # the median pass: a slow stretch of the host in one pass moves
            # it less than it moves the window's mean
            "ops_per_min": {"value": 60.0 * w["pass"]
                            / statistics.median(w["pass_s"]),
                            "unit": "1/min"},
            "read_p50_s": {"value": statistics.median(walls("read")),
                           "unit": "s"},
            "retained_heap_mb": {"value": out["jvm"]["retained_heap_mb"],
                                 "unit": "MB"},
        }
    else:
        m = dict(out["trace"]["metrics"])
        writes, maints = walls("write", "traced"), walls("maint", "traced")
        replays = walls("stream", "traced")
        m.update({
            "engine.session_s": statistics.median(c[0] for c in out["setup"]),
            "engine.register_s": statistics.median(c[1] for c in out["setup"]),
            "engine.warm_s": statistics.median(c[2] for c in out["setup"]),
            "bench.gen_s": gen_s,
            "bench.prepare_s": out["prepare_s"],
            "bench.checks_s": out["checks_s"],
            "jvm.gc_s": out["jvm"]["gc_s"],
            "jvm.peak_heap_mb": out["jvm"]["peak_heap_mb"],
            "write_p50_s": statistics.median(writes) if writes else 0.0,
            "write_p90_s": pct(writes, 90) if writes else 0.0,
            "maint_p50_s": statistics.median(maints) if maints else 0.0,
            "replay_p50_s": statistics.median(replays) if replays else 0.0,
            "space_amp": verify.space_amp(a.workload, out, model, run_dir),
            "index.recall_at_k": verify.recall(a.workload, out, model),
            "trace.overhead": trace_overhead(w),
        })
        result["metrics"] = {k: {"value": v, "unit": verify.unit_of(k)}
                             for k, v in sorted(m.items())}
        trace_dir = os.path.join(BUILD, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.json")
        with open(path, "w") as f:
            json.dump({"seed": a.seed, "workload": a.workload,
                       "self_time": out["trace"]["self_time"],
                       "spans": out["trace"]["spans"]}, f)
        log(f"span file: {path}")
    record = {"result": result, "gen_s": gen_s, "ops_digest": gen.ops_digest(ops),
              "jvm": out["jvm"], "window": w,
              "setup": out["setup"], "problems": problems[:50],
              "stmts": [{k: s[k] for k in ("i", "kind", "phase", "wall_s",
                                            "ok", "err", "text")}
                        for s in stmts]}
    context["java"] = out["jvm"]["java"]
    context["spark"] = out["jvm"]["spark"]
    return result, record


if __name__ == "__main__":
    main()
