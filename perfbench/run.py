#!/usr/bin/env python3
"""graft benchmark: one workload, one JVM, one closed-loop client.

Usage (from the repository root):
  python3 perfbench/run.py --workload hbase --seed 1 --seconds 18 --trace 0

Builds graft and the harness (perfbench/build.sbt depends on graft's own
build) when a source changed, runs perfbench.Main in one JVM over the sf0.1
tables in perfbench/fixture/, checks every query the workload ran against
its DuckDB oracle with tools/compare.py, and prints the metrics. The last
line of stdout is one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones; with
--trace 1 they are the per-layer ones, computed from the spans of the
traced passes of a window that alternates traced and untraced passes
(spans are written to perfbench/.work/traces/). --seconds defaults to
BENCHMARK.json's run_seconds. Exits non-zero if any query failed or
mismatched its oracle.
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
WORK = os.path.join(HERE, ".work")
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
COMPARE = os.path.join(ROOT, "tools", "compare.py")
# a copy of graft's sf0.1 test fixture: 600k lineitem rows, 100k events
# (the cells), 5,000 documents and 2,000 embeddings
FIXTURE = os.path.join(HERE, "fixture", "sf0.1")
WORKLOADS = ("hbase", "llm-curate")
JVM_TIMEOUT_S = 165  # a whole run must end within 180 s
SPEC_FILE = os.path.join(ROOT, "BENCHMARK.json")

# what Spark on JDK 17 needs outside spark-submit (graft's build.sbt passes
# the same list to its forked JVMs)
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


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft + harness with sbt when any source changed; returns
    the runtime classpath."""
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = tree_hash([GRAFT_SRC, os.path.join(ROOT, "build.sbt"),
                       os.path.join(ROOT, "project", "build.properties"),
                       os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                       os.path.join(HERE, "project", "build.properties")])
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building graft + harness (sbt compile)")
    t0 = time.time()
    with open(os.path.join(WORK, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=800).returncode
    lines = open(os.path.join(WORK, "build.log")).read().splitlines()
    cps = [l for l in lines if "scala-2.13/classes" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        sys.exit("perfbench: build failed")
    log(f"built in {time.time() - t0:.1f} s")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1].strip()


def run_jvm(cp, args, run_dir):
    cpus = min(4, len(os.sched_getaffinity(0)))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={local}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main"] +
           [str(a) for a in args] + [run_dir, str(cpus)])
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        sys.stderr.write("".join(open(os.path.join(run_dir, "jvm.log")).readlines()[-40:]))
        sys.exit(f"perfbench: benchmark JVM failed ({rc})")
    return cpus


def cpu_times():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def oracle_check(fixture_dir, check_dir):
    """tools/compare.py over the run's result dump: {query: (ok, detail)}."""
    p = subprocess.run([sys.executable, COMPARE, fixture_dir, check_dir],
                       capture_output=True, text=True)
    out = {}
    for line in p.stdout.splitlines():
        if line.startswith("PASS "):
            name, rest = line[5:].split(" ", 1)
            out[name] = (True, int(rest.strip("()").split()[0]))
        elif line.startswith("FAIL ") and ":" in line:
            name, rest = line[5:].split(":", 1)
            out[name] = (False, rest.strip())
    return out


def tail(values):
    """Highest percentile with at least 10 samples beyond it."""
    v = sorted(values)
    i = max(0, len(v) - 11)
    return v[i], 100.0 * (i + 1) / len(v), len(v)


def score(samples, verdict, failures):
    """Mark each timed sample failed or not; returns the successful ones."""
    ok = []
    for s in samples:
        check = verdict.get(s["name"], (False, "no oracle verdict"))
        if s["error"]:
            failures.append(f"{s['name']}: {s['error']}")
        elif not check[0]:
            failures.append(f"{s['name']}: oracle mismatch ({check[1]})")
        elif s["rows"] != check[1]:
            failures.append(f"{s['name']}: oracle mismatch (timed run counted {s['rows']} rows, "
                            f"checked result has {check[1]})")
        else:
            ok.append(s)
    return ok


def query_medians(samples):
    """Each query's median latency over the passes, in ms. A burst of GC or
    host contention that slows one sample of a query does not move it."""
    by_query = {}
    for s in samples:
        by_query.setdefault(s["name"], []).append(s["ms"])
    return {k: statistics.median(v) for k, v in sorted(by_query.items())}


def end_to_end(res, ok):
    lat = [s["ms"] for s in ok]
    t, pct, n = tail(lat)
    p50 = query_medians(ok)
    # reported, not gated (see README.md)
    print("per_query_p50_ms " + json.dumps({k: round(v, 1) for k, v in p50.items()}))
    print(f"query_p50_ms {statistics.median(lat)} ms (pooled over {n} samples)")
    print(f"query_tail_ms {t} ms (p{pct:.1f} of {n} samples)")
    print(f"peak_rss_mb {res['peak_rss_mb']} MB (VmHWM at the end of the window)")
    return {
        "query_p50_gmean_ms": statistics.geometric_mean(p50.values()),
        # one closed-loop client running a pass of the mix at those medians
        "queries_per_s": len(p50) / (sum(p50.values()) / 1e3),
        "setup_s": res["setup"]["total_s"],
        "heap_live_mb": res["heap_live_mb"],
    }


def covered(span, children):
    """Length of the union of the children's intervals inside span."""
    total, reached = 0, span["start"]
    for s, e in sorted((c["start"], c["end"]) for c in children):
        s, e = max(s, reached), min(e, span["end"])
        if e > s:
            total += e - s
            reached = e
    return total


def per_layer(res, spans, cpus, overhead):
    """Per-layer metrics of the traced passes: per-query means unless the
    name says rate or ratio."""
    ms = lambda s: (s["end"] - s["start"]) / 1e6
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    jobs_of = lambda s: [j for j in kids.get(s["id"], []) if j["name"] == "job"]
    roots = [s for s in spans if s["name"] == "query"]
    acc = {}

    def add(k, v):
        acc[k] = acc.get(k, 0.0) + v

    for r in roots:
        for k, v in r["attrs"].items():
            add(k, v)
        jobs = jobs_of(r)
        for ph in kids.get(r["id"], []):
            if ph["name"] == "job":
                continue
            ph_jobs = jobs_of(ph)
            add(ph["name"] + "_ms", ms(ph))
            add(ph["name"] + "_self_ms", ms(ph) - covered(ph, ph_jobs) / 1e6)
            add(ph["name"] + "_jobs", len(ph_jobs))
            jobs += ph_jobs
            if ph["name"] == "exec":
                add("exec_task_run_ms", sum(st["attrs"]["task_run_ms"]
                                            for j in ph_jobs for st in kids.get(j["id"], [])))
        add("jobs", len(jobs))
        stages = [st for j in jobs for st in kids.get(j["id"], [])]
        add("stages", len(stages))
        for st in stages:
            for k, v in st["attrs"].items():
                if k != "peak_exec_mem_bytes":
                    add(k, v)
        add("peak_exec_mem_mb", max([st["attrs"]["peak_exec_mem_bytes"] for st in stages], default=0) / 2**20)
    mean = lambda k: acc.get(k, 0.0) / max(1, len(roots))
    setup = res["setup"]
    m = {
        "session.build_ms": setup["build_ms"],
        "session.warmup_s": setup["warmup_s"],
        "tables.resolve_ms": setup["resolve_ms"],
        "catalog.files_discovered": mean("files_discovered"),
        "ops.construct_ms": mean("construct_ms"),
        "ops.construct_self_ms": mean("construct_self_ms"),
        "ops.construct_jobs": mean("construct_jobs"),
        "plan.plan_ms": mean("plan_ms"),
        "plan.exchanges": mean("exchanges"),
        "plan.topk_nodes": mean("topk_nodes"),
        "codegen.compiles": mean("codegen_compiles"),
        "exec.exec_ms": mean("exec_ms"),
        "exec.self_ms": mean("exec_self_ms"),
        "spark.core_busy_ratio": acc.get("exec_task_run_ms", 0.0) / max(1e-9, acc.get("exec_ms", 0.0) * cpus),
        "sources.bytes_written": mean("bytes_written"),
        "sources.write_amp": acc.get("bytes_written", 0.0) / max(1.0, acc.get("input_bytes", 0.0)),
        "trace.overhead_ratio": overhead,
        "jvm.peak_rss_mb": res["peak_rss_mb"],
    }
    for k in ("jobs", "stages", "tasks", "task_wait_ms", "task_run_ms", "task_cpu_ms",
              "shuffle_write_bytes", "shuffle_read_bytes", "shuffle_fetch_wait_ms",
              "spill_bytes", "gc_ms", "peak_exec_mem_mb", "input_bytes", "failed_tasks"):
        m["spark." + k] = mean(k)

    micro = {}
    for s in spans:
        if s["name"] == "micro":
            micro.setdefault(s["label"], []).append(s)
    secs = lambda s: (s["end"] - s["start"]) / 1e9
    med = lambda label, f: statistics.median(f(s) for s in micro[label])
    for name in ("none", "fastdiff_gz"):
        enc, dec = f"hfile.encode.{name}", f"hfile.decode.{name}"
        m[f"hfile.encode_mb_per_s.{name}"] = med(enc, lambda s: s["attrs"]["raw_bytes"] / 1e6 / secs(s))
        m[f"hfile.decode_mb_per_s.{name}"] = med(dec, lambda s: s["attrs"]["raw_bytes"] / 1e6 / secs(s))
        m[f"hfile.bytes_per_cell.{name}"] = med(enc, lambda s: s["attrs"]["file_bytes"] / s["attrs"]["cells"])
    for k in ("shingles", "minhash", "simhash"):
        m[f"kernels.{k}_docs_per_s"] = med(f"kernels.{k}", lambda s: s["attrs"]["docs"] / secs(s))
    for k in ("signatures", "candidates", "cc"):
        m[f"dedup.{k}_ms"] = ms(micro[f"dedup.{k}"][0])
    m["dedup.cc_jobs"] = float(len(jobs_of(micro["dedup.cc"][0])))
    verify = micro["dedup.verify"][0]["attrs"]
    m["dedup.candidate_pairs"] = verify["pairs"]
    m["dedup.candidate_precision"] = verify["verified"] / max(1.0, verify["pairs"])
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM (run_jvm's finally) and its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    for need in (GRAFT_SRC, COMPARE, SPEC_FILE, FIXTURE):
        if not os.path.exists(need):
            sys.exit(f"perfbench: {os.path.relpath(need, ROOT)} not found; run from a graft checkout")
    if a.seconds is None:
        a.seconds = json.load(open(SPEC_FILE))["run_seconds"]
    os.makedirs(WORK, exist_ok=True)
    cp = build()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        t0 = time.time()
        cpu0 = cpu_times()
        cpus = run_jvm(cp, [a.workload, a.seed, a.seconds, a.trace, FIXTURE], run_dir)
        t1 = time.time()
        cpu1 = cpu_times()
        res = json.load(open(os.path.join(run_dir, "result.json")))
        verdict = oracle_check(FIXTURE, os.path.join(run_dir, "check"))
        su = res["setup"]
        warm_s = " + ".join(f"{x:.1f}" for x in su["warmup_passes_s"])
        pass_s = " + ".join(f"{p['seconds']:.1f}" for p in res["window"]["passes"])
        print(f"jvm {t1 - t0:.1f} s (set-up {su['total_s']:.1f} s: {su['jvm_ms'] / 1e3:.1f} s "
              f"before main, session {su['build_ms'] / 1e3:.1f} s, tables {su['resolve_ms'] / 1e3:.1f} s, "
              f"warm-up {su['warmup_s']:.1f} s = {warm_s}; window {res['window']['elapsed_s']:.1f} s "
              f"= {pass_s}, result dump {res['dump_s']:.1f} s), "
              f"oracle check {time.time() - t1:.1f} s; "
              # CPU time the hypervisor gave to other guests while the JVM ran
              f"host steal {100 * (cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1]):.1f} % of CPU time")
        if a.trace:
            spans = json.load(open(os.path.join(run_dir, "spans.json")))
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            shutil.copy(os.path.join(run_dir, "spans.json"),
                        os.path.join(WORK, "traces", f"{a.workload}-seed{a.seed}.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    failures = []
    passes = res["window"]["passes"]
    attempted = sum(len(p["samples"]) for p in passes)
    ok = score([s for p in passes for s in p["samples"]], verdict, failures)
    for f in failures:
        print(f"FAILED {f}")
    print(f"failed_ratio {len(failures) / attempted} ratio ({len(failures)} of {attempted} attempted)")
    correct = not failures and bool(verdict) and all(v[0] for v in verdict.values())
    values = {}
    if ok:
        if a.trace:
            # traced over untraced queries_per_s, over the paired passes
            ok_ids = {id(s) for s in ok}
            pass_ms = lambda t: sum(query_medians(
                [s for p in passes if p["traced"] == t for s in p["samples"] if id(s) in ok_ids]).values())
            values = per_layer(res, spans, cpus, pass_ms(False) / pass_ms(True))
        else:
            values = end_to_end(res, ok)
    spec = json.load(open(SPEC_FILE))["per_layer" if a.trace else "end_to_end"]
    missing = [m["name"] for m in spec if m["name"] not in values]
    if values and missing:
        sys.exit(f"perfbench: metrics not computed: {missing}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec if values}
    for k, v in metrics.items():
        print(f"{k} {v['value']} {v['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": len(failures),
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)

if __name__ == "__main__":
    main()
