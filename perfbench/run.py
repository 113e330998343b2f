#!/usr/bin/env python3
"""Benchmark of the engine's own layers: iterative graph loops and
multi-statement DSL script pipelines.

Usage (from the root of a source checkout):

    python3 perfbench/run.py --workload <graph_loops|script_pipelines>
                             --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the JVM harness from source into `.bench_build/`
(or `$CARGO_TARGET_DIR`), times the session set-up over several JVM
launches, runs one JVM over the workload (see `src/perfbench/Harness.scala`)
on the repository's fixture tables in `perfbench/data/`, checks every
distinct entry against its DuckDB oracle, and prints one summary row and,
as the last line, the JSON result. `--trace 0` reports the end-to-end
metrics, `--trace 1` the per-layer ones; the full record and the span file
land in `.bench_build/results/`. See `perfbench/README.md`.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import oracle  # noqa: E402

GRAPH = ["p66_pagerank", "p120_coreness"]
SCRIPTS = ["s3_script_set_sql", "s7_script_branch", "s14_script_set_compile",
           "s8_script_save_roundtrip", "s17_script_vparquet", "s20_script_seqpack",
           "s49_script_stream_screen"]
# The workloads are bound by per-job driver overhead, so their cost barely
# depends on the input scale; entries and pass counts are sized so that a
# run takes about a minute on 4 cores (README, Settings).
# sf: fixture scale (perfbench/data/sf<sf>); min_passes: warm passes run
# even past --seconds
WORKLOADS = {
    "graph_loops": dict(sf="0.01", entries=GRAPH, min_passes=2),
    "script_pipelines": dict(sf="0.01", entries=SCRIPTS, min_passes=2),
}
LAUNCHES = 3              # JVM launches timed per run; setup_s is their median
VIEWFS = "perfbench"      # Hadoop mount table that keeps /tmp inside the run
JVM_TIMEOUT_S = 165
HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
MB = 1048576.0
# layer times that are 0 on graph_loops by construction: in the record only
RECORD_ONLY = ("sources.write_stage_ms", "streaming.batch_p50_ms")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def spark_jars(root):
    """The Spark jar directory the build compiles against: $SPARK_HOME/jars,
    else the `unmanagedBase` that build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      open(os.path.join(root, "build.sbt")).read())
    except OSError:
        m = None
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    fail("no Spark jars: set SPARK_HOME")


def sources(root):
    out = []
    for base in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root, build_dir, jars):
    """Compile the engine's main sources plus the harness with scalac (the
    compiler ships in the Spark jar directory); skipped when unchanged."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("no engine sources under src/main/scala: run from a source checkout")
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        h.update(open(p, "rb").read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    args_file = os.path.join(build_dir, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    log = os.path.join(build_dir, "scalac.log")
    with open(log, "w") as lf:
        rc = subprocess.call(
            ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
             "-nowarn", "-d", classes, "-classpath", cp, "@" + args_file],
            stdout=lf, stderr=subprocess.STDOUT)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (scalac exit {rc}); log in {log}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


# ---------------------------------------------------------------- box state

def busy_jiffies():
    try:
        f = open("/proc/stat").readline().split()[1:]
        return sum(int(f[i]) for i in (0, 1, 2, 5, 6, 7))
    except (OSError, ValueError, IndexError):
        return None


def load1():
    try:
        return float(open("/proc/loadavg").read().split()[0])
    except (OSError, ValueError):
        return None


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q):
    """The q-quantile (0<q<1), or None without ten samples beyond it."""
    xs = sorted(xs)
    if len(xs) * (1 - q) < 10:
        return None
    return statistics.quantiles(xs, n=100, method="inclusive")[int(q * 100) - 1]


def union_ms(intervals, lo=None, hi=None):
    """Total length of the union of [a, b] intervals, clipped to [lo, hi]."""
    spans = sorted((a if lo is None else max(a, lo), b if hi is None else min(b, hi))
                   for a, b in intervals)
    total, cur_a, cur_b = 0, None, None
    for a, b in spans:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def end_to_end(res, setups):
    warm = res["passes"]
    lat = [r["latency_s"] for p in warm for r in p["requests"]]
    m = {
        "setup_s": (median(setups), "s"),
        "cold_pass_s": (res["cold"]["wall_s"], "s"),
        "wall_s": (median([p["wall_s"] for p in warm]), "s"),
        "cpu_s": (median([p["cpu_s"] for p in warm]), "s"),
        "heap_retained_mb": (res["heap_retained_mb"], "MB"),
    }
    extra = {"latency_samples": len(lat), "latency_p50_s": percentile(lat, 0.5),
             "latency_p90_s": percentile(lat, 0.9)}
    return m, extra


def request_at(reqs, t):
    """The request running at epoch-ms t (requests never overlap)."""
    return next((r for r in reqs if r["start"] <= t <= r["end"]), None)


def trace_layers(res):
    """Per-layer metrics (per traced warm pass) and the span list."""
    tr = res["trace"]
    cores = tr["cores"]
    passes = res["passes"]
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    n = max(1, len(traced))
    reqs = [r for p in traced for r in p["requests"]]
    jobs, stages, qes, prog = tr["jobs"], tr["stages"], tr["qes"], tr["progress"]

    stage_job = {}
    for j in jobs:
        for s in j["stages"]:
            stage_job.setdefault(s, j)
    build_jobs = set()
    for j in jobs:
        r = request_at(reqs, j["start"])
        j["phase"] = "materialize" if r and j["start"] >= r["build_end"] else "build"
        if j["phase"] == "build":
            build_jobs.add(j["id"])
    write_stages = [s for s in stages
                    if stage_job.get(s["id"], {}).get("id") in build_jobs and s["out_rows"] > 0]
    job_iv = [(j["start"], j["end"]) for j in jobs]
    gap = sum((r["build_end"] - r["start"]) -
              union_ms(job_iv, r["start"], r["build_end"]) for r in reqs)
    busy = union_ms(job_iv)
    run_ms = sum(s["run_ms"] for s in stages)
    task_ms = [t for s in stages for t in s["task_ms"]]
    per_entry = {}
    for r in reqs:
        e = per_entry.setdefault(r["name"], {"build_ms": 0.0, "materialize_ms": 0.0})
        e["build_ms"] += r["build_ms"] / n
        e["materialize_ms"] += r["materialize_ms"] / n
    tw, uw = median([p["wall_s"] for p in traced]), median([p["wall_s"] for p in untraced])
    last_state = {}
    for p in prog:
        last_state[p["query"]] = p
    m = {
        "queries.build_ms": (sum(r["build_ms"] for r in reqs) / n, "ms"),
        "queries.materialize_ms": (sum(r["materialize_ms"] for r in reqs) / n, "ms"),
        "dsl.driver_gap_ms": (gap / n, "ms"),
        "plans.analysis_ms": (sum(q["analysis_ms"] for q in qes) / n, "ms"),
        "plans.optimization_ms": (sum(q["optimization_ms"] for q in qes) / n, "ms"),
        "plans.planning_ms": (sum(q["planning_ms"] for q in qes) / n, "ms"),
        "plans.actions": (len(qes) / n, "count"),
        "session.jobs": (len(jobs) / n, "count"),
        "session.stages": (len(stages) / n, "count"),
        "session.tasks": (sum(s["tasks"] for s in stages) / n, "count"),
        "session.failed_tasks": (sum(s["failed_tasks"] for s in stages) / n, "count"),
        "session.busy_ms": (busy / n, "ms"),
        "session.task_run_ms": (run_ms / n, "ms"),
        "session.task_cpu_ms": (sum(s["cpu_ms"] for s in stages) / n, "ms"),
        "session.task_ms_p50": (median(task_ms), "ms"),
        "session.task_gc_ms": (sum(s["gc_ms"] for s in stages) / n, "ms"),
        "session.slot_util": (run_ms / (busy * cores) if busy else 0.0, "ratio"),
        "session.shuffle_write_mb": (sum(s["shuffle_write_b"] for s in stages) / MB / n, "MB"),
        "session.shuffle_read_mb": (sum(s["shuffle_read_b"] for s in stages) / MB / n, "MB"),
        "session.spill_mb": (sum(s["spill_b"] for s in stages) / MB / n, "MB"),
        "sources.read_mb": (sum(s["in_b"] for s in stages) / MB / n, "MB"),
        "sources.read_rows": (sum(s["in_rows"] for s in stages) / n, "count"),
        "sources.write_mb": (sum(s["out_b"] for s in write_stages) / MB / n, "MB"),
        "sources.write_rows": (sum(s["out_rows"] for s in write_stages) / n, "count"),
        "sources.write_stage_ms": (sum(s["end"] - s["start"] for s in write_stages) / n, "ms"),
        "cachescope.peak_cached_mb": (max([r["cached_mb"] for r in reqs] or [0.0]), "MB"),
        "cachescope.leftover_cached_mb": (max([r["leftover_mb"] for r in reqs] or [0.0]), "MB"),
        "streaming.batches": (len(prog) / n, "count"),
        "streaming.rows": (sum(p["rows"] for p in prog) / n, "count"),
        "streaming.batch_p50_ms": (median([p["batch_ms"] for p in prog]), "ms"),
        "streaming.state_rows": (sum(p["state_rows"] for p in last_state.values()) / n, "count"),
        "streaming.state_mb": (sum(p["state_b"] for p in last_state.values()) / MB / n, "MB"),
        "jvm.gc_ms": (median([p["gc_ms"] for p in passes]), "ms"),
        "jvm.jit_ms": (res["cold"]["jit_ms"], "ms"),
        "jvm.codecache_mb": (res["codecache_mb"], "MB"),
        "bench.trace_overhead_pct": (100.0 * (tw - uw) / uw if uw else 0.0, "%"),
    }
    return m, per_entry, spans(reqs, jobs, stages, qes)


def spans(reqs, jobs, stages, qes):
    """Spans of the traced passes: request > build|materialize > job >
    stage, and request > plan (one per QueryExecution). Every span carries
    its request's id as `trace`, and `self_ms`: its duration minus what its
    children cover."""
    out, by_req = [], {}
    for r in reqs:
        rid = f"p{r['pass']}.{len(by_req)}"
        by_req[id(r)] = rid
        out.append(dict(id=rid, trace=rid, parent=None, name=f"request:{r['name']}",
                        kind="request", start=r["start"], end=r["end"]))
        out.append(dict(id=rid + ".b", trace=rid, parent=rid, name="build", kind="build",
                        start=r["start"], end=r["build_end"]))
        out.append(dict(id=rid + ".m", trace=rid, parent=rid, name="materialize",
                        kind="materialize", start=r["build_end"], end=r["end"]))

    job_span = {}
    for j in jobs:
        r = request_at(reqs, j["start"])
        rid = by_req[id(r)] if r else None
        parent = (rid + (".m" if j["phase"] == "materialize" else ".b")) if rid else None
        sid = f"job{j['id']}"
        out.append(dict(id=sid, trace=rid, parent=parent, name=f"job:{j['id']}", kind="job",
                        start=j["start"], end=j["end"]))
        for s in j["stages"]:
            job_span.setdefault(s, (sid, rid))
    for s in stages:
        parent, rid = job_span.get(s["id"], (None, None))
        out.append(dict(id=f"stage{s['id']}.{s['attempt']}", trace=rid, parent=parent,
                        name=f"stage:{s['id']}", kind="stage", start=s["start"], end=s["end"],
                        tasks=s["tasks"]))
    for i, q in enumerate(qes):
        r = request_at(reqs, q["start"])
        rid = by_req[id(r)] if r else None
        out.append(dict(id=f"plan{i}", trace=rid, parent=rid, name=f"plan:{q['func']}",
                        kind="plan", start=q["start"], end=q["end"]))
    children = {}
    for s in out:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for s in out:
        s["self_ms"] = (s["end"] - s["start"]) - union_ms(
            children.get(s["id"], []), s["start"], s["end"])
    return out


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", choices=("0.01", "0.001"), help="fixture scale (default 0.01)")
    ap.add_argument("--expect-wrong", help=argparse.SUPPRESS)  # self-test hook
    a = ap.parse_args()

    root = os.getcwd()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    wl = WORKLOADS[a.workload]
    sf = a.sf or wl["sf"]
    data = os.path.join(HERE, "data", f"sf{sf}")
    if not os.path.isdir(data):
        fail(f"no fixture tables in {data}")
    os.makedirs(build_dir, exist_ok=True)
    jars = spark_jars(root)
    classes = build(root, build_dir, jars)
    entries = wl["entries"]
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(build_dir, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "fs-tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    with open(os.path.join(work, "entries.txt"), "w") as f:
        f.write("\n".join(entries) + "\n")
    cpus = str(min(32, len(os.sched_getaffinity(0))))
    fs_tmp = os.path.join(work, "fs-tmp")

    # build.sbt's javaOptions, plus: C1 only, because C2 was still compiling
    # 10-20 s of CPU per warm pass after the cold pass and warm passes
    # drifted 10-25% (README, Settings); no hsperfdata file outside the tree.
    # Some entries save to fixed /tmp paths through Hadoop; a viewfs mount
    # table maps /tmp to the run's fs-tmp directory and every other path to
    # the local file system, so the entries run unchanged and every file
    # stays inside the checkout.
    mount = f"-Dspark.hadoop.fs.viewfs.mounttable.{VIEWFS}"
    jvm = (["java", "-XX:-UsePerfData", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
            "-XX:+UseCodeCacheFlushing", "-XX:TieredStopAtLevel=1",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            f"-Dspark.hadoop.fs.defaultFS=viewfs://{VIEWFS}/",
            f"{mount}.link./tmp=file://{fs_tmp}", f"{mount}.linkFallback=file:///",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Harness",
              "--data", data, "--work", work, "--cpus", cpus])

    def launch(label, *args):
        """Run the harness JVM; its result JSON, timed from just before launch."""
        out_json = os.path.join(work, label + ".json")
        log = os.path.join(work, label + ".log")
        with open(log, "w") as lf:
            p = subprocess.Popen(jvm + ["--launch-ms", str(int(time.time() * 1000)),
                                        "--out", out_json, *args],
                                 stdout=lf, stderr=subprocess.STDOUT, cwd=work)
            try:
                rc = p.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                fail(f"JVM exceeded {JVM_TIMEOUT_S} s; log in {log}")
        if rc != 0 or not os.path.exists(out_json):
            sys.stderr.write(open(log).read()[-4000:])
            fail(f"JVM exit {rc}; log in {log}")
        return json.load(open(out_json))

    busy0, times0, t0 = busy_jiffies(), os.times(), time.time()
    load_start = load1()
    setups = [launch(f"setup{i}", "--setup-only", "1")["setup_s"] for i in range(LAUNCHES - 1)]
    res = launch("run", "--entries", os.path.join(work, "entries.txt"),
                 "--seconds", str(a.seconds), "--min-passes", str(wl["min_passes"] + a.trace),
                 "--trace", str(a.trace))
    setups.append(res["setup_s"])
    wall = time.time() - t0
    busy1, times1 = busy_jiffies(), os.times()

    # ---- correctness, outside the timed passes ----
    # the oracles read what the entries saved under /tmp from where it landed
    oracles = {n: q.replace("'/tmp/", f"'{fs_tmp}/") for n, q in res["oracles"].items()}
    if a.expect_wrong:  # self-test: a deliberately wrong expectation
        oracles[a.expect_wrong] = oracles[a.expect_wrong].rstrip().rstrip(";") + " LIMIT 0"
    verdict = oracle.check(data, os.path.join(work, "out"), oracles, entries)
    all_reqs = res["cold"]["requests"] + [r for p in res["passes"] for r in p["requests"]]
    failed = sum(1 for r in all_reqs if r["error"])
    # an entry whose cold request failed has no result: failed, not wrong
    unverified = sorted(n for n, v in verdict.items() if v == oracle.NO_RESULT)
    wrong = sorted(n for n, v in verdict.items() if v not in (None, oracle.NO_RESULT))
    e2e, extra = end_to_end(res, setups)

    own_cpu = sum(times1[i] - times0[i] for i in range(4))
    other = None
    if busy0 is not None and busy1 is not None and wall > 0:
        other = max(0.0, ((busy1 - busy0) / os.sysconf("SC_CLK_TCK") - own_cpu) / wall)
    record = {
        "workload": a.workload, "seed": a.seed, "sf": sf, "data_dir": data,
        "cores": int(cpus), "seconds": a.seconds, "trace": a.trace,
        "box": {"load1_start": load_start, "load1_end": load1(),
                "other_cpu_cores": other, "run_wall_s": wall},
        "entries": entries, "warm_passes": len(res["passes"]),
        "setups_s": setups,
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "fail_ratio": failed / len(all_reqs), "wrong_results": len(wrong),
        "wrong": {n: verdict[n] for n in wrong}, "unverified": unverified,
        "errors": sorted({r["error"] for r in all_reqs if r["error"]}),
        **extra,
    }
    if a.trace:
        layers, per_entry, span_list = trace_layers(res)
        metrics = {k: v for k, v in layers.items() if k not in RECORD_ONLY}
        record["per_layer"] = {k: v for k, (v, _) in layers.items()}
        record["per_entry"] = per_entry
        record["self_ms"] = {}
        for s in span_list:
            record["self_ms"][s["kind"]] = record["self_ms"].get(s["kind"], 0) + s["self_ms"]
    else:
        metrics = e2e
    results = os.path.join(build_dir, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, tag + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    if a.trace:
        with open(os.path.join(results, tag + ".spans.jsonl"), "w") as f:
            for s in span_list:
                f.write(json.dumps(s) + "\n")

    row = "  ".join(f"{k}={v:.4g}{u}" for k, (v, u) in metrics.items())
    lat = "".join(f" {k}={extra[k]:.4g}s" for k in ("latency_p50_s", "latency_p90_s")
                  if extra[k] is not None)
    print(f"{a.workload} seed={a.seed} sf={sf} cores={cpus} trace={a.trace} "
          f"fail_ratio={record['fail_ratio']:.4g} wrong_results={len(wrong)} "
          f"latency_samples={extra['latency_samples']}{lat} {row}")
    for n in wrong:
        print(f"WRONG {n}: {verdict[n]}")
    print(json.dumps({
        "correct": not wrong and not unverified, "attempted": len(all_reqs), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
