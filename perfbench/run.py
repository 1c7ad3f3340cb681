#!/usr/bin/env python3
"""graft benchmark: batch workloads driven through graft's public API.

Run from the repository root:

    python3 perfbench/run.py --workload offline_eval --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 12 --trace 0

The first call builds the library and the harness with sbt (offline) and
caches the classpath under .bench_work/build; later calls reuse it while
the sources are unchanged. gen.py writes the seed's inputs once, under
.bench_work/inputs, before any JVM starts. A run is one fresh JVM: it builds
the session, locates the inputs (setup_s runs from the JVM launch to here)
and then runs passes for --seconds, plus one warm pass when every warm pass
lost more than 5 % of the CPU to other guests. The outputs of a run live
under .bench_work/runs and are deleted when it ends.

The last line of stdout is one JSON object: correct, attempted, failed and
the metrics -- the end-to-end metrics of BENCHMARK.json with --trace 0, its
per-layer metrics with --trace 1. A full run record (passes, digests,
spans, environment, load) is written under .bench_work/records. The exit
code is non-zero when any output check fails.

--pin stores the digests of this run as the pinned digests of the seed.
"""
import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
PINS = os.path.join(HERE, "pins.json")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
WORKLOADS = ["offline_eval", "training_data"]
RUN_BUDGET_S = 170.0
HEAP = "2g"
# a pass or run during which the machine lost more CPU than this to other
# guests is contaminated: its run flags itself, the pass does not count
# toward pass_s when a clean warm pass exists, and an untraced run adds one
# warm pass looking for one
STEAL_LIMIT = 0.05
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, for the rebuild stamp."""
    out = [os.path.join(ROOT, "build.sbt"),
           os.path.join(HERE, "build.sbt"),
           os.path.join(HERE, "project", "build.properties")]
    for base in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                 os.path.join(ROOT, "project")]:
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x != "target")
            out += [os.path.join(d, f) for f in sorted(files)]
    return out


def tree_sha():
    h = hashlib.sha256()
    for f in source_files():
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(sha):
    """Compile library + harness with sbt once per source tree; returns the
    runtime classpath."""
    bdir = os.path.join(WORK, "build")
    cp_file = os.path.join(bdir, f"classpath-{sha}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log = os.path.join(bdir, "sbt.log")
    with open(log, "w") as fh:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840).returncode
    cp = None
    with open(log) as fh:
        for line in fh:
            line = line.strip()
            if not line.startswith("[") and "perfbench" in line and line.count(":") > 2:
                cp = line
    if rc != 0 or not cp:
        fail(f"build failed (see {os.path.relpath(log, ROOT)})")
    with open(cp_file, "w") as f:
        f.write(cp)
    return cp


def java_cmd(cp, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [java, f"-Xmx{HEAP}", "-XX:+UseG1GC", *opens,
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
            "-cp", cp, "perfbench.Main", *args]


def jvm(cp, args, record, log, deadline):
    """Runs one benchmark JVM; returns its record."""
    if os.path.exists(record):
        os.remove(record)
    launched_ms = int(time.time() * 1000)
    with open(log, "a") as fh:
        proc = subprocess.Popen(
            java_cmd(cp, [*args, "--record", record, "--launched-ms", str(launched_ms)]),
            cwd=ROOT, stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"JVM ran past the run budget (see {os.path.relpath(log, ROOT)})")
    if rc != 0 or not os.path.exists(record):
        fail(f"JVM exited with {rc} (see {os.path.relpath(log, ROOT)})")
    with open(record) as f:
        return json.load(f)


def load_json(path, default):
    if not os.path.exists(path):
        return default
    with open(path) as f:
        return json.load(f)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def end_to_end(rec):
    """(end-to-end metrics, other figures of the record). pass_s is the
    median of the warm passes that lost at most STEAL_LIMIT of the machine's
    CPU to other guests, or of all warm passes when none did."""
    passes = rec["passes"]
    warm = passes[1:]
    clean = [p for p in warm if p["steal_share"] <= STEAL_LIMIT]

    def kind_sum(p, kind):
        return sum(o["s"] for o in p["ops"] if o["kind"] == kind)

    return {
        "setup_s": rec["setup_s"],
        "pass_s": median([p["wall_s"] for p in clean or warm]),
        # after the first warm pass: every run has one, and a run's live heap
        # grows with its passes
        "live_heap_mb": passes[1]["live_heap_mb"],
    }, {
        kind + "_s": median([kind_sum(p, kind) for p in warm])
        for kind in ("fit", "predict", "refit", "evaluate")
    } | {"warm_passes": len(warm), "clean_warm_passes": len(clean),
         "first_pass_s": passes[0]["wall_s"], "peak_rss_mb": rec["peak_rss_mb"]}


def inputs(workload, seed):
    """The seed's inputs, written by gen.py on first use; returns (dir, sizes)."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        stamp = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(WORK, "inputs", f"{workload}-s{seed}-{stamp}")
    if not os.path.exists(os.path.join(d, "sizes.json")):
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(workload, seed, tmp)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return d, load_json(os.path.join(d, "sizes.json"), {})


def check_outputs(rec, pins, seed):
    """(attempted, failed, messages): one operation per library call of
    every pass; a call fails when it threw or an output check on it failed
    (invariants, pinned digests, digests changing between passes)."""
    pinned = pins.get(rec["workload"], {}).get(str(seed), {})
    first = rec["passes"][0]["digests"]
    attempted, failed, msgs = 0, 0, []
    for p in rec["passes"]:
        attempted += max(1, len(p["ops"]))
        bad = {}
        for name, msg in p["failures"]:
            bad.setdefault(name, msg)
        if p.get("error"):
            bad.setdefault("pass", p["error"])
        for name, got in p["digests"].items():
            if name in pinned and pinned[name] != got:
                bad.setdefault(name, f"digest {got} != pinned {pinned[name]}")
            elif name in first and first[name] != got:
                bad.setdefault(name, f"digest {got} != first pass {first.get(name)}")
        for name, msg in bad.items():
            msgs.append(f"pass {p['pass']}: {name}: {msg}")
        failed += len(bad)
    attempted += 1  # the once-per-run law check
    if rec["law_failures"]:
        failed += 1
        msgs += [f"law: {m}" for m in rec["law_failures"]]
    return attempted, min(failed, attempted), msgs


def cpu_times():
    """(busy, steal) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    steal = v[7] if len(v) > 7 else 0
    return sum(v[:3]) + sum(v[5:7]), steal


def contamination(warm, steal_share, bound, prior):
    """Why a run is contaminated, if it is. `warm` are the wall times of its
    untraced warm passes, `prior` the pass_s of earlier clean untraced runs
    of the same source tree and workload. A run flags itself when its warm
    passes spread (max - min over median) beyond the pass_s bound, when its
    pass_s strays from the median of at least three prior runs by more than
    the bound, or when the machine lost more than STEAL_LIMIT of its CPU to
    other guests."""
    reasons = []
    if len(warm) >= 2:
        spread = (max(warm) - min(warm)) / median(warm)
        if spread > bound:
            reasons.append(f"warm passes spread {spread:.3f} > bound {bound}")
    if warm and len(prior) >= 3:
        ref = median(prior)
        off = abs(median(warm) - ref) / ref
        if off > bound:
            reasons.append(f"pass_s {median(warm):.3f} is {off:.3f} off the median {ref:.3f}"
                           f" of {len(prior)} earlier runs > bound {bound}")
    if steal_share > STEAL_LIMIT:
        reasons.append(f"cpu steal {steal_share:.3f} > {STEAL_LIMIT}")
    return reasons


def prior_pass_s(workload, sha):
    """pass_s of the earlier clean untraced runs of this source tree."""
    out = []
    rdir = os.path.join(WORK, "records")
    for f in sorted(os.listdir(rdir)) if os.path.isdir(rdir) else []:
        if f.startswith(workload + "-") and f.endswith(".json") and not f.endswith(".jvm.json"):
            r = load_json(os.path.join(rdir, f), {})
            if r.get("tree_sha") == sha and r.get("trace") == 0 and not r.get("contaminated"):
                out.append(r["end_to_end"]["pass_s"])
    return out


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_one(workload, seed, seconds, trace, pin, spec):
    t_start = time.time()
    deadline = t_start + RUN_BUDGET_S
    load_start = os.getloadavg()
    cpu_start = cpu_times()
    sha = tree_sha()
    cp = build(sha)
    deadline = max(deadline, time.time() + RUN_BUDGET_S - 30)  # a fresh build gets its own budget
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime()) + f"-{os.getpid()}"
    tag = f"{workload}-s{seed}-t{trace}-{stamp}"
    for d in ("records", "logs"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    log = os.path.join(WORK, "logs", f"{tag}.log")
    run_dir = os.path.join(WORK, "runs", tag)
    t_gen = time.time()
    in_dir, sizes = inputs(workload, seed)
    gen_s = time.time() - t_gen
    prior = prior_pass_s(workload, sha)
    try:
        rec = jvm(cp, ["--workload", workload, "--seconds", str(seconds),
                       "--trace", str(trace), "--steal-limit", str(STEAL_LIMIT),
                       "--inputs", in_dir, "--out", os.path.join(run_dir, "out")],
                  os.path.join(WORK, "records", f"{tag}.jvm.json"), log, deadline)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    pins = load_json(PINS, {})
    if pin:
        # digests taken on the last pass only are pinned from there
        pins.setdefault(workload, {})[str(seed)] = {
            n: d for p in reversed(rec["passes"]) for n, d in p["digests"].items()}
        with open(PINS, "w") as f:
            json.dump(pins, f, indent=1, sort_keys=True)
            f.write("\n")
    attempted, failed, msgs = check_outputs(rec, pins, seed)
    e2e, extra = end_to_end(rec)
    load_end = os.getloadavg()
    busy, steal = (e - s for e, s in zip(cpu_times(), cpu_start))
    # a traced run alternates traced and untraced warm passes: it is judged
    # on the untraced ones
    warm = [p["wall_s"] for p in rec["passes"][1:] if not p["traced"]]
    bound = {m["name"]: m["bound"] for m in spec["end_to_end"]}["pass_s"]
    steal_share = steal / max(1, busy + steal)
    reasons = contamination(warm, steal_share, bound, prior)
    if trace:
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        metrics = {n: {"value": rec["per_layer"][n], "unit": u} for n, u in units.items()}
    else:
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in units.items()}
    record = {
        "workload": workload, "seed": seed, "trace": trace, "seconds": seconds,
        "commit": git_commit(), "tree_sha": sha,
        "nproc": rec["nproc"], "heap_max_mb": rec["heap_max_mb"], "jdk": rec["jdk"],
        "spark": rec["spark"], "python": platform.python_version(),
        "loadavg_start": load_start, "loadavg_end": load_end,
        "steal_share": steal_share,
        "inputs": sizes, "gen_s": gen_s,
        "session_s": rec["session_s"], "locate_s": rec["locate_s"],
        "pass_s_each": [p["wall_s"] for p in rec["passes"]],
        "contaminated": bool(reasons), "contaminated_by": reasons,
        "persisted_after_pass": [p["persisted_after_pass"] for p in rec["passes"]],
        "end_to_end": e2e, "extra": extra, "metrics": metrics,
        "attempted": attempted, "failed": failed, "check_messages": msgs,
        "wall_s": time.time() - t_start,
    }
    with open(os.path.join(WORK, "records", f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)
    for m in msgs:
        print(f"CHECK FAILED {workload} seed {seed}: {m}", file=sys.stderr)
    for r in reasons:
        print(f"CONTAMINATED {workload} seed {seed}: {r}", file=sys.stderr)
    return record


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--pin", action="store_true")
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from a checkout of the graft repository: build.sbt and src/ are missing")
    spec = load_json(SPEC, None)
    if spec is None:
        fail("BENCHMARK.json is missing")
    names = WORKLOADS if a.workload == "all" else [a.workload]
    records = [run_one(w, a.seed, a.seconds, a.trace, a.pin, spec) for w in names]
    for r in records:
        for n, m in r["metrics"].items():
            print(f"{r['workload']:14s} {n:48s} {m['value']:.6g} {m['unit']}")
        print(f"{r['workload']:14s} ops attempted {r['attempted']}, failed {r['failed']}"
              f"{', CONTAMINATED' if r['contaminated'] else ''}")
    attempted = sum(r["attempted"] for r in records)
    failed = sum(r["failed"] for r in records)
    if len(records) == 1:
        metrics = records[0]["metrics"]
    else:
        metrics = {f"{r['workload']}.{n}": m for r in records for n, m in r["metrics"].items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
