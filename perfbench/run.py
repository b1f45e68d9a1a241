#!/usr/bin/env python3
"""Repository benchmark: catalog ingest under dashboard reads over the
served statement lifecycle, and graft.operators pipelines.

Run one workload:

    python3 perfbench/run.py --workload served_ingest_dashboard --seed 1 \\
        --seconds 15 --trace 0

builds the program and the harness from source (sbt, offline), generates
the workload's inputs from the seed (plan.py), runs them in one JVM
(perfbench.Main), checks the results, and prints one JSON line with every
end-to-end metric (--trace 0) or every per-layer metric (--trace 1) named
in BENCHMARK.json. Each run is also appended to perfbench/runs/records.jsonl
with its run record (load_start, nproc, commit, seed, -Xmx, workload).

Compare two sets of traced runs layer by layer:

    python3 perfbench/run.py diff PARENT.jsonl CHANGE.jsonl

Tracing overhead (traced minus untraced end-to-end medians) per workload:

    python3 perfbench/run.py overhead perfbench/runs/records.jsonl
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import plan as planlib  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
SPEC = os.path.join(ROOT, "BENCHMARK.json")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
RECORDS = os.path.join(HERE, "runs", "records.jsonl")
XMX = "4g"
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def load_spec():
    with open(SPEC) as f:
        return json.load(f)


def spark_home():
    """$SPARK_HOME, else the Spark install whose bin/spark-submit is on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.exists(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("Spark not found (set SPARK_HOME)")


def sf_dir():
    """The sf0.1 test data (TESTDATA.md), as every entry point reads it."""
    return os.environ.get("SPARK_GRAFT_SF_DIR",
                          os.path.expanduser("~/testdata/sf0.1"))


def source_hash():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (PROGRAM_SRC, HARNESS_SRC):
        for d, _, names in sorted(os.walk(base)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program's sources plus the harness, unless the classes
    on disk were built from exactly the current sources."""
    digest = source_hash()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return digest
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    env["SPARK_HOME"] = spark_home()
    log("building program + harness (sbt compile)")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=840)
    if r.returncode != 0:
        fail("build failed")
    with open(STAMP, "w") as f:
        f.write(digest)
    log(f"build done in {time.time() - t0:.0f}s")
    return digest


def cpu_probe_s():
    """Seconds a fixed single-thread loop takes right now: the box's own
    speed, recorded so runs on a loaded or throttled box can be told apart."""
    t0 = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i * i
    return time.perf_counter() - t0


def cpu_ticks():
    """(steal, total) jiffies of all CPUs from /proc/stat: the share the
    hypervisor stole during a run shows a run slowed by a busy host."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        return v[7], sum(v)
    except (OSError, ValueError, IndexError):
        return 0, 0


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return None


def run_jvm(plan, trace, tmp, data):
    plan_path = os.path.join(tmp, "plan.json")
    out_path = os.path.join(tmp, "result.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{XMX}", f"-Xmx{XMX}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dderby.system.home=" + tmp,
            "-cp", f"{CLASSES}:{os.path.join(spark_home(), 'jars')}/*",
            "perfbench.Main", plan_path, out_path, data, str(trace), tmp]
    proc = subprocess.Popen(cmd, cwd=tmp, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"JVM did not finish within {JVM_TIMEOUT_S}s")
    finally:
        if proc.poll() is None:  # timed out, or this process was stopped
            proc.kill()
            proc.wait()
    if code != 0 or not os.path.exists(out_path):
        fail(f"JVM exited with code {code}")
    with open(out_path) as f:
        result = json.load(f)
    spans = out_path + ".spans.jsonl"
    return result, (spans if os.path.exists(spans) else None)


def end_to_end(result):
    window = [o for o in result["ops"] if o["in_window"]]
    ok = [o for o in window if o["ok"]]
    lat = [o["ms"] for o in ok]
    kinds = {}
    for o in ok:
        kinds.setdefault(o["kind"], []).append(o["ms"] / 1000.0)
    return {
        "setup_s": stats.median(result["setup_s"][1:]),
        "stmt_per_s": len(ok) / result["window_s"] if result["window_s"] > 0 else 0.0,
        "stmt_p50_ms": stats.median(lat),
        "op_geomean_s": stats.geomean([stats.median(v) for v in kinds.values()]),
    }


def summary(result):
    """Sample counts and tails for the run record (not metrics: a tail is
    reported only where at least ten samples lie beyond it)."""
    window = [o for o in result["ops"] if o["in_window"] and o["ok"]]
    out = {"statements": len(window)}
    t = stats.tail([o["ms"] for o in window])
    out["stmt_tail"] = {"p": t[0], "ms": t[1]} if t else None
    out["stmt_p95_ms"] = stats.percentile([o["ms"] for o in window], 95)
    writes = [o["ms"] for o in window if o["client"] == "writer"]
    if writes:
        out["commit_p50_ms"] = stats.median(writes)
        out["commit_p95_ms"] = stats.percentile(writes, 95)
        out["commits"] = len(writes)
    by_kind = {}
    for o in window:
        by_kind.setdefault(o["kind"], []).append(o["ms"])
    out["kind_p50_ms"] = {k: stats.median(v) for k, v in sorted(by_kind.items())}
    out["kind_count"] = {k: len(v) for k, v in sorted(by_kind.items())}
    out["kind_ms"] = {k: [round(x, 1) for x in v] for k, v in sorted(by_kind.items())}
    return out


def per_layer(result, e2e):
    layers = dict(result["layers"])
    layers["jvm.cold_start_s"] = result["setup_s"][0] if result["setup_s"] else 0.0
    layers["jvm.heap_peak_mb"] = result["heap_peak_mb"]
    layers["trace.stmt_p50_ms"] = e2e["stmt_p50_ms"]
    layers["trace.stmt_per_s"] = e2e["stmt_per_s"]
    layers["trace.op_geomean_s"] = e2e["op_geomean_s"]
    ops = [layers[k] for k in layers
           if k.startswith("operators.") and k.endswith("_s")]
    layers["operators.total_s"] = sum(ops)
    layers["operators.geomean_s"] = stats.geomean(ops)
    return layers


def cmd_run(args):
    spec = load_spec()
    if not os.path.isdir(PROGRAM_SRC):
        fail(f"program sources not found at {PROGRAM_SRC}")
    data = sf_dir()
    if not os.path.isdir(data):
        fail(f"test data not found at {data} (set SPARK_GRAFT_SF_DIR)")
    if args.workload not in planlib.WORKLOADS:
        fail(f"unknown workload {args.workload!r}; "
             f"known: {', '.join(sorted(planlib.WORKLOADS))}")
    digest = build()
    load_start = os.getloadavg()[0]
    probe = cpu_probe_s()
    ticks0 = cpu_ticks()
    plan = planlib.make_plan(args.workload, args.seed, args.seconds)
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    try:
        result, spans = run_jvm(plan, args.trace, tmp, data)
        ticks1 = cpu_ticks()
        steal = ((ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1])
                 if ticks1[1] > ticks0[1] else 0.0)
        e2e = end_to_end(result)
        failed_checks = [c for c in result["checks"] if not c["ok"]]
        attempted = len(result["ops"]) + result["attempted_extra"]
        failed = min(attempted, len(failed_checks))
        if args.trace:
            layers = per_layer(result, e2e)
            wanted = [m["name"] for m in spec["per_layer"]]
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        else:
            layers = {}
            wanted = [m["name"] for m in spec["end_to_end"]]
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        values = layers if args.trace else e2e
        metrics = {n: {"value": float(values.get(n, 0.0)), "unit": units[n]}
                   for n in wanted}
        record = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "load_start": load_start, "cpu_probe_s": probe,
            "steal_share": steal,
            "nproc": os.cpu_count(),
            "commit": git_commit(), "source_sha256": digest, "xmx": XMX,
            "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "setup_reps_s": result["setup_s"], "window_s": result["window_s"],
            "attempted": attempted, "failed": failed,
            "failed_share": failed / attempted if attempted else 0.0,
            "failed_checks": failed_checks[:20],
            "summary": summary(result), "end_to_end": e2e,
            "layers": layers,
        }
        os.makedirs(os.path.dirname(RECORDS), exist_ok=True)
        with open(RECORDS, "a") as f:
            f.write(json.dumps(record) + "\n")
        if spans:
            dst = os.path.join(os.path.dirname(RECORDS),
                               f"spans-{args.workload}-{args.seed}.jsonl")
            shutil.copyfile(spans, dst)
        log(f"load_start={load_start:.2f} steal_share={steal:.3f} failed_share={record['failed_share']:.4f} "
            f"summary={json.dumps(record['summary'])}")
        for c in failed_checks[:10]:
            log(f"FAILED {c['name']}: {c['detail']}")
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0 if failed == 0 else 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass


def read_records(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def moved(parent, change):
    """A change's median moved when it differs from the parent's median by
    more than the parent's own quartile spread."""
    qa, qb = stats.quartiles(parent), stats.quartiles(change)
    return abs(qb[1] - qa[1]) > (qa[2] - qa[0])


def cmd_diff(args):
    """Per-layer medians and quartiles of two sets of traced runs; a delta
    larger than the parent's own quartile spread is flagged."""
    a = [r for r in read_records(args.parent) if r["trace"]]
    b = [r for r in read_records(args.change) if r["trace"]]
    for w in sorted({r["workload"] for r in a} & {r["workload"] for r in b}):
        ra = [r for r in a if r["workload"] == w]
        rb = [r for r in b if r["workload"] == w]
        print(f"## {w}  (parent n={len(ra)}, change n={len(rb)})")
        print(f"{'metric':44s} {'parent q1/med/q3':>32s} {'change q1/med/q3':>32s}  flag")
        for m in sorted({k for r in ra + rb for k in r["layers"]}):
            va = [r["layers"][m] for r in ra if m in r["layers"]]
            vb = [r["layers"][m] for r in rb if m in r["layers"]]
            if not va or not vb:
                continue
            qa, qb = stats.quartiles(va), stats.quartiles(vb)
            print(f"{m:44s} {qa[0]:10.4g} {qa[1]:10.4g} {qa[2]:10.4g} "
                  f"{qb[0]:10.4g} {qb[1]:10.4g} {qb[2]:10.4g}  "
                  f"{'MOVED' if moved(va, vb) else ''}")
    return 0


def cmd_overhead(args):
    """Tracing overhead: the traced runs' median end-to-end numbers minus the
    untraced runs' medians, per workload, over runs of the same sources and
    run length."""
    recs = read_records(args.records)
    for key in sorted({(r["workload"], r["seconds"], r["source_sha256"])
                       for r in recs}):
        same = [r for r in recs
                if (r["workload"], r["seconds"], r["source_sha256"]) == key]
        plain = [r for r in same if not r["trace"]]
        traced = [r for r in same if r["trace"]]
        if not plain or not traced:
            continue
        print(f"## {key[0]} --seconds {key[1]} sources {key[2][:12]}  "
              f"(untraced n={len(plain)}, traced n={len(traced)})")
        for m in ("stmt_p50_ms", "stmt_per_s", "op_geomean_s"):
            u = stats.median([r["end_to_end"][m] for r in plain])
            t = stats.median([r["end_to_end"][m] for r in traced])
            pct = 100.0 * (t - u) / u if u else 0.0
            print(f"{m:16s} untraced {u:10.4g}  traced {t:10.4g}  "
                  f"overhead {t - u:+10.4g} ({pct:+.1f}%)")
    return 0


def main(argv):
    # a stop request unwinds like an error: the JVM is killed and the run's
    # temp directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if argv and argv[0] == "diff":
        p = argparse.ArgumentParser(prog="run.py diff")
        p.add_argument("parent")
        p.add_argument("change")
        return cmd_diff(p.parse_args(argv[1:]))
    if argv and argv[0] == "overhead":
        p = argparse.ArgumentParser(prog="run.py overhead")
        p.add_argument("records")
        return cmd_overhead(p.parse_args(argv[1:]))
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return cmd_run(p.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
