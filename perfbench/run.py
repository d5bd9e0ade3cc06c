#!/usr/bin/env python3
"""graft benchmark: four seeded workloads against graft's public entry points.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all --seed 1            # every workload once
    python3 perfbench/run.py --steady 10 --workload lake_upsert  # spread per metric

Run from the repository root. The first run builds graft and the harness
from source with sbt. Each run generates its inputs from the seed under
perfbench/.work, runs one JVM in local[<cores>] mode, checks every op's
result against expectations graft does not compute, and prints a summary
and, as its last line, one JSON object with the metrics named in
BENCHMARK.json (end-to-end metrics untraced, per-layer metrics traced).
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

sys.dont_write_bytecode = True  # keep the benchmark directory free of caches
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CDS_ARCHIVE = os.path.join(WORK, "classes.jsa")
sys.path.insert(0, HERE)

WORKLOADS = ["sql_interactive", "lake_upsert", "dedup_corpus", "stream_backlog"]
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
SETUP_REPS = 5
HEAP = "3g"

# JDK module openings Spark needs outside spark-submit (as in the root build).
ADD_OPENS = [f"--add-opens={m}=ALL-UNNAMED" for m in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar")]


def _die_with_parent():
    """Child-process hook: have the kernel kill the child if this script
    dies, so an interrupted run leaves no JVM or sbt behind."""
    try:
        import ctypes
        ctypes.CDLL("libc.so.6", use_errno=True).prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG
    except OSError:
        pass


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"perfbench: {msg}")
    sys.exit(code)


# ---------------------------------------------------------------------------
# Build

def _sources():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile graft and the harness; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("graft sources not found next to perfbench/ (run from a full checkout)")
    h = hashlib.sha256()
    for f in _sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file, stamp_file = os.path.join(WORK, "classpath.txt"), os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(WORK, exist_ok=True)
    log("perfbench: building graft and the harness with sbt ...")
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    try:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                            "export Runtime/fullClasspath"], cwd=HERE, env=env,
                           stdin=subprocess.DEVNULL, capture_output=True, text=True,
                           timeout=BUILD_LIMIT_S, preexec_fn=_die_with_parent)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[") and ".jar" in l]
    if p.returncode != 0 or not lines:
        log(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    # Class directories go into jars: the JVM's class-data-sharing archive
    # (which cuts JVM and Spark start-up, see run_jvm) accepts only jars.
    jars = os.path.join(WORK, "jars")
    shutil.rmtree(jars, ignore_errors=True)
    os.makedirs(jars)
    cp = []
    for i, entry in enumerate(lines[-1].split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(jars, f"classes{i}.jar")
            shutil.make_archive(jar[:-4], "zip", entry)
            os.rename(jar[:-4] + ".zip", jar)
            entry = jar
        cp.append(entry)
    for f in (CDS_ARCHIVE, stamp_file):
        if os.path.exists(f):
            os.remove(f)
    with open(cp_file, "w") as f:
        f.write(os.pathsep.join(cp))
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return os.pathsep.join(cp)


# ---------------------------------------------------------------------------
# Inputs

def make_inputs(workload, seed, data):
    import numpy as np
    import gen
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    if workload == "sql_interactive":
        import check
        info = gen.gen_sql(rng, data)
        info["expected"] = check.sql_expected(info, data)
        desc = (f"{len(info['statements'])} distinct statements from {info['templates']} templates, "
                f"{gen.SQL_CLIENTS} clients; lineitem {info['rows']['lineitem']} rows, "
                f"{sum(info['bytes'].values())} parquet bytes")
    elif workload == "lake_upsert":
        info = gen.gen_lake(rng, data)
        desc = (f"orders {info['orders_rows']} rows ({info['orders_bytes']} bytes); op script "
                f"{info['ops']} ops, {info['read_share']:.0%} reads, "
                f"{info['hot_key_share']:.0%} of write keys from the newest 10% of orders")
    elif workload == "dedup_corpus":
        info = gen.gen_dedup(rng, data)
        with open(f"{data}/docs.txt", "w") as f:
            f.write(f"{info['docs']}\n")
        desc = (f"{info['docs']} documents, {len(info['planted_pairs'])} planted near-dup pairs, "
                f"corpus {info['corpus_bytes']} parquet bytes ({info['text_bytes']} text bytes)")
    else:
        info = gen.gen_stream(rng, data)
        with open(f"{data}/events.txt", "w") as f:
            f.write(f"{info['events']}\n")
        desc = f"{info['events']} events in {info['files']} files ({info['bytes']} bytes)"
    return info, desc


# ---------------------------------------------------------------------------
# Run and check

def run_jvm(cp, workload, data, out, seconds, trace, deadline, make_data):
    """Start the harness JVM, generate the inputs while it starts (it waits
    for data/READY before its first set-up), and wait for its result."""
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # The first run after a build records the classes it loads; later runs
    # map them from that archive instead of parsing and verifying ~20k
    # classes again. Only start-up gets faster: set-up is reported as the
    # median of repeated set-ups, which excludes the cold first one.
    cds = (f"-XX:SharedArchiveFile={CDS_ARCHIVE}" if os.path.exists(CDS_ARCHIVE)
           else f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}.tmp")
    cmd = ["java", cds, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dderby.system.home={tmp}", *ADD_OPENS, "-cp", cp, "perfbench.Main",
           "--workload", workload, "--data", data, "--out", out, "--seconds", str(seconds),
           "--trace", str(trace), "--cores", str(cores), "--setup-reps", str(SETUP_REPS)]
    env = dict(os.environ, GRAFT_LAKE_DIR=os.path.join(out, "lake"), SPARK_LOCAL_DIRS=tmp)
    env.pop("SPARK_GRAFT_CPUS", None)
    with open(os.path.join(out, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=out, env=env, stdin=subprocess.DEVNULL, stdout=logf,
                             stderr=subprocess.STDOUT, preexec_fn=_die_with_parent)
        try:
            made = make_data()
            open(os.path.join(data, "READY"), "w").close()
            p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"{workload}: run exceeded its time limit")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if p.returncode != 0 or not os.path.exists(os.path.join(out, "result.json")):
        with open(os.path.join(out, "jvm.log")) as f:
            log(f.read()[-6000:])
        fail(f"{workload}: harness exited with {p.returncode}")
    if os.path.exists(f"{CDS_ARCHIVE}.tmp"):
        os.replace(f"{CDS_ARCHIVE}.tmp", CDS_ARCHIVE)
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)
    with open(os.path.join(out, "ops.json")) as f:
        res["ops"] = json.load(f)
    return res, made


def check_ops(workload, res, info, data, out):
    """Mark each op ok/failed; return (ops, extra failures, notes)."""
    import check
    import gen
    ops, notes, extra = res["ops"], {}, []
    if workload == "sql_interactive":
        for op in ops:
            op["bad"] = op["error"] or check.check_sql(op, info["expected"])
    elif workload == "lake_upsert":
        for i, op in enumerate(ops):
            op["bad"] = op["error"] or (check.check_lake_read(op, info, i)
                                        if op["kind"] in ("point", "range") else None)
        model = gen.lake_model_after(info, res["final"]["ops_run"])
        extra.append(("final snapshot", check.check_lake_final(os.path.join(out, "final.tsv"), model)))
        notes["space_amp"] = res["final"]["space_amp"]
    elif workload == "dedup_corpus":
        recalls = []
        for op in ops:
            bad = op["error"]
            if not bad and op["kind"] == "pairs":
                bad = check.check_pairs(op, info)
                recalls.append(check.pair_recall(op, info))
            elif not bad and op["kind"] == "minhash":
                bad = check.check_candidates(op, info)
            elif not bad and op["kind"] == "cluster":
                bad = check.check_clusters(op, info)
            op["bad"] = bad
        notes["dedup_recall"] = min(recalls) if recalls else 0.0
    else:
        for op in ops:
            small = op["phase"] == "warm" and op["seq"] < ROUND_OPS[workload]  # first warm-up round
            op["bad"] = op["error"] or check.check_stream(op, info["warm"] if small else info)
    return ops, extra, notes


def quantile(xs, q):
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[int(q * 100) - 1]


# A pipeline workload's unit of latency is one round: a pass of the whole
# corpus through the five dedup calls, or of the backlog through the four
# graphs (the calls differ several-fold in cost, so a median over calls
# would jump between call kinds from run to run).
ROUND_OPS = {"dedup_corpus": 5, "stream_backlog": 4}


def e2e_metrics(workload, res, ops, notes):
    measured = [o for o in ops if o["phase"] == "measure" and not o["bad"]]
    ms = [o["ms"] for o in measured]
    if workload in ROUND_OPS:
        rounds = {}
        for o in ops:
            if o["phase"] == "measure":
                rounds.setdefault(o["seq"] // ROUND_OPS[workload], []).append(o)
        ms = [sum(o["ms"] for o in r) for r in rounds.values() if not any(o["bad"] for o in r)]
    if not ms:
        return None, {}
    setup = statistics.median(c + w for c, w in zip(res["setup_create_ms"], res["setup_warm_ms"])) / 1000
    metrics = {
        "setup_s": (setup, "s"),
        "latency_p50_ms": (statistics.median(ms), "ms"),
        "latency_p90_ms": (quantile(ms, 0.9), "ms"),
        "throughput_per_s": (sum(o["units"] for o in measured) / res["measured_s"], "1/s"),
        "retained_heap_mb": (res["retained_heap_mb"], "MB"),
    }
    # The per-workload names the same measurements are usually discussed with.
    named = {"setup_s": setup, "retained_heap_mb": res["retained_heap_mb"]}
    if workload == "sql_interactive":
        named.update(sql_p50_ms=metrics["latency_p50_ms"][0], sql_p90_ms=metrics["latency_p90_ms"][0],
                     sql_qps=metrics["throughput_per_s"][0])
    elif workload == "lake_upsert":
        w = [o["ms"] for o in measured if o["kind"] not in ("point", "range")]
        r = [o["ms"] for o in measured if o["kind"] in ("point", "range")]
        named.update(commit_p50_ms=statistics.median(w) if w else float("nan"),
                     commit_p90_ms=quantile(w, 0.9) if w else float("nan"),
                     lake_read_p50_ms=statistics.median(r) if r else float("nan"),
                     space_amp=notes["space_amp"])
    elif workload == "dedup_corpus":
        named.update(dedup_docs_per_s=metrics["throughput_per_s"][0], dedup_recall=notes["dedup_recall"])
    else:
        named.update(stream_events_per_s=metrics["throughput_per_s"][0])
    return metrics, named


def run_once(workload, seed, seconds, trace, spec, quiet=False):
    started = time.time()
    deadline = started + RUN_LIMIT_S
    cp = build()
    if time.time() - started > 30:  # this run built the program: the build gets its own allowance
        deadline = time.time() + RUN_LIMIT_S
    out = os.path.join(WORK, f"run-{workload}")
    shutil.rmtree(out, ignore_errors=True)
    data = os.path.join(out, "data")
    os.makedirs(data)
    res, (info, desc) = run_jvm(cp, workload, data, out, seconds, trace, deadline,
                                lambda: make_inputs(workload, seed, data))
    ops, extra, notes = check_ops(workload, res, info, data, out)
    failures = [(f"{o['kind']}#{o['client']}.{o['seq']}", o["bad"]) for o in ops if o["bad"]]
    failures += [(name, why) for name, why in extra if why]
    attempted = len(ops) + len(extra)
    metrics, named = e2e_metrics(workload, res, ops, notes)
    for d in ("lake", "data", "tmp", "spark-local", "warehouse", "fresh_copy"):
        shutil.rmtree(os.path.join(out, d), ignore_errors=True)

    if not quiet:
        n = sum(1 for o in ops if o["phase"] == "measure" and not o["bad"])
        print(f"# {workload} seed={seed} trace={trace}: {desc}")
        print("# harness phases: " + " ".join(f"{k}={v:.1f}s" for k, v in res["phase_s"].items()))
        print(f"# ops attempted={attempted} failed={len(failures)} "
              f"error_rate={len(failures) / attempted:.4f} timed_samples={n}"
              + ("" if n >= 100 else " (p90 has fewer than 10 samples beyond it)"))
        for name, why in failures[:10]:
            print(f"# FAIL {name}: {why}")
        for k, v in named.items():
            print(f"#   {k} = {v:.6g}")
    if trace:
        layer = res["layers"]
        values = {m["name"]: (float(layer.get(m["name"], 0.0)), m["unit"]) for m in spec["per_layer"]}
        if not quiet:
            for k, (v, u) in values.items():
                print(f"#   {k} = {v:.6g} {u}")
            print(f"# spans: {os.path.join(out, 'spans.jsonl')}")
    else:
        if metrics is None:
            fail(f"{workload}: no op succeeded", 1)
        values = metrics
    return {"correct": not failures, "attempted": attempted, "failed": len(failures),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()}}, named


# ---------------------------------------------------------------------------
# Steadiness: repeat a workload over seeds and report each metric's spread

def cpu_times():
    """The machine's CPU time counters (Linux /proc/stat), or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(a, b):
    """Share of CPU time the hypervisor gave to other guests between two
    readings: on a shared host it moves every timing, so the steadiness
    log shows it next to each run."""
    if not a or not b or len(a) < 8:
        return ""
    d = [y - x for x, y in zip(a, b)]
    return f" steal={d[7] / max(1, sum(d)):.1%}"


def steady(workloads, runs, sets, seed0, seconds, spec):
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for w in workloads:
        medians = []
        for s in range(sets):
            vals = {k: [] for k in bounds}
            for i in range(runs):
                seed = seed0 + s * 1000 + i
                cpu0 = cpu_times()
                r, _ = run_once(w, seed, seconds, 0, spec, quiet=True)
                for k in bounds:
                    vals[k].append(r["metrics"][k]["value"])
                log(f"  {w} set {s} seed {seed}: " + " ".join(
                    f"{k}={r['metrics'][k]['value']:.4g}" for k in bounds) + f" failed={r['failed']}"
                    + steal_share(cpu0, cpu_times()))
            print(f"# {w} set {s + 1} ({runs} runs)")
            med = {}
            for k, xs in vals.items():
                q1, q2, q3 = statistics.quantiles(xs, n=4)
                med[k] = q2
                spread = (q3 - q1) / q2 if q2 else float("inf")
                verdict = "ok" if spread <= bounds[k] / 3 else ("within bound" if spread <= bounds[k] else "TOO WIDE")
                print(f"#   {k:18s} median={q2:10.4g} q1={q1:10.4g} q3={q3:10.4g} "
                      f"spread={spread:6.3f} bound={bounds[k]} {verdict}")
            medians.append(med)
        for s in range(1, sets):
            for k in bounds:
                better_lower = next(m["better"] for m in spec["end_to_end"] if m["name"] == k) == "lower"
                a, b = medians[0][k], medians[s][k]
                worse = (b - a) / a if better_lower else (a - b) / a
                print(f"#   set {s + 1} vs 1: {k:18s} {a:10.4g} -> {b:10.4g} worse by {worse:+.3f} "
                      f"(bound {bounds[k]}) {'ok' if worse <= bounds[k] else 'EXCEEDS'}")


def main():
    # SIGTERM unwinds like an exception, so subprocess.run kills its child.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", type=int, default=0, metavar="RUNS",
                    help="repeat each workload RUNS times over seeds and print spreads")
    ap.add_argument("--sets", type=int, default=1, help="with --steady: sets of runs to compare")
    a = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found at the repository root")
    with open(spec_path) as f:
        spec = json.load(f)
    seconds = a.seconds if a.seconds is not None else spec["run_seconds"]
    workloads = WORKLOADS if a.workload == "all" else [a.workload]
    if a.steady:
        steady(workloads, a.steady, a.sets, a.seed, seconds, spec)
        return
    if len(workloads) == 1:
        r, _ = run_once(workloads[0], a.seed, seconds, a.trace, spec)
        print(json.dumps(r))
        return
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in workloads:
        r, named = run_once(w, a.seed, seconds, a.trace, spec)
        total["correct"] &= r["correct"]
        total["attempted"] += r["attempted"]
        total["failed"] += r["failed"]
        total["metrics"].update({f"{w}.{k}": v for k, v in r["metrics"].items()})
    print(json.dumps(total))


if __name__ == "__main__":
    main()
