#!/usr/bin/env python3
"""Closed-loop benchmark of the graft engine (described by BENCHMARK.json).

Run from the repository root:

  python3 perfbench/run.py --workload etl_ref --seed 1 --seconds 10 --trace 0
  python3 perfbench/run.py --smoke              # every workload, sf0.001
  python3 perfbench/run.py --expected-hashes    # regenerate expected_hashes.json

A run builds the engine and the harness with sbt (once per source state,
cached under .bench_build/), starts one harness JVM, checks every query's
canonical row hash against expected_hashes.json and prints one JSON object
as the last stdout line. With --trace 0 it holds the end-to-end metrics,
with --trace 1 the per-layer metrics; the traced run also writes its spans
to .bench_build/perfbench/trace-<workload>-seed<seed>.json.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
# A fixed young generation keeps the resident set from following G1's
# adaptive eden sizing, so peak_rss_mb moves with the data the engine holds.
HEAP = ["-Xms1g", "-Xmx3g", "-Xmn512m"]
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these outside spark-submit (the root build's list).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]

E2E_UNITS = {
    "setup_s": "s", "pass_s": "s", "cpu_s": "s", "query_p50_s": "s",
    "query_tail_s": "s", "peak_rss_mb": "MiB",
}
LAYER_UNITS = {
    "SparkEntry.build_s": "s", "SparkEntry.build_jobs": "count",
    "execute.s": "s", "execute.jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "catalyst.qe_count": "count",
    "scheduler.jobs": "count", "scheduler.stages": "count",
    "scheduler.tasks": "count", "scheduler.failed_tasks": "count",
    "scheduler.no_task_s": "s", "scheduler.core_idle_frac": "ratio",
    "executor.cpu_s": "s", "executor.run_s": "s", "executor.gc_s": "s",
    "executor.noncpu_frac": "ratio", "executor.task_p50_ms": "ms",
    "executor.stage_skew": "ratio",
    "exchange.shuffle_write_bytes": "bytes",
    "exchange.shuffle_read_bytes": "bytes", "exchange.fetch_wait_ms": "ms",
    "exchange.spill_mem_bytes": "bytes", "exchange.spill_disk_bytes": "bytes",
    "scan.input_bytes": "bytes", "scan.input_rows": "count",
    "sink.output_bytes": "bytes", "storage.persisted_mb_max": "MiB",
    "streaming.batches": "count", "streaming.data_batch_frac": "ratio",
    "streaming.trigger_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count", "streaming.state_mem_bytes": "bytes",
    "trace.overhead_s": "s", "trace.overhead_frac": "ratio",
}


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def load_json(path):
    with open(path) as f:
        return json.load(f)


# ---- build -----------------------------------------------------------------

def source_stamp():
    """Hash of every input of the two sbt builds."""
    h = hashlib.sha256()
    files = ["build.sbt", "perfbench/build.sbt"]
    for d in ["project", "perfbench/project"]:
        p = os.path.join(ROOT, d)
        files += [f"{d}/{n}" for n in sorted(os.listdir(p))
                  if os.path.isfile(os.path.join(p, n))]
    for d in ["src/main", "perfbench/src"]:
        for base, dirs, names in os.walk(os.path.join(ROOT, d)):
            dirs.sort()
            files += [os.path.relpath(os.path.join(base, n), ROOT)
                      for n in sorted(names)]
    for rel in files:
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, timeout, log_path, env=None):
    """Runs cmd in its own process group with stdout+stderr to log_path;
    kills the whole group on timeout. Returns the exit code (None on
    timeout)."""
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def classpath():
    """Builds the engine and the harness once per source state and returns
    the harness's runtime classpath."""
    for rel in ["build.sbt", "src/main/scala/graft/SparkEntry.scala",
                "perfbench/build.sbt"]:
        if not os.path.isfile(os.path.join(ROOT, rel)):
            fail(f"{rel} not found: run from the root of the repository")
    os.makedirs(OUT, exist_ok=True)
    stamp = source_stamp()
    cache = os.path.join(OUT, "classpath.json")
    if os.path.isfile(cache):
        cached = load_json(cache)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(OUT, "build.log")
    code = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath"],
        os.path.join(ROOT, "perfbench"), BUILD_TIMEOUT_S, log, env)
    with open(log, errors="replace") as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    cp = next((ln for ln in reversed(lines)
               if "perfbench" in ln and os.pathsep in ln
               and not ln.startswith("[")), None)
    if code != 0 or cp is None:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {code}); log in {log}")
    with open(cache, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    return cp


# ---- harness ---------------------------------------------------------------

def run_harness(cp, queries, corpus, seed, passes, trace, tag):
    """Runs one harness JVM and returns its raw record document."""
    work = os.path.join(OUT, "work")
    tmp = os.path.join(OUT, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(work, "target"), exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    raw = os.path.join(OUT, f"raw-{tag}.json")
    if os.path.exists(raw):
        os.remove(raw)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *HEAP]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Harness",
            "--queries", ",".join(queries), "--data", corpus,
            "--seed", str(seed), "--passes", str(passes),
            "--trace", "1" if trace else "0", "--out", raw]
    log = os.path.join(OUT, f"jvm-{tag}.log")
    code = run_bounded(cmd, work, RUN_TIMEOUT_S, log)
    shutil.rmtree(tmp, ignore_errors=True)
    if code != 0 or not os.path.isfile(raw):
        with open(log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"harness failed (exit {code}); log in {log}")
    doc = load_json(raw)
    os.remove(raw)
    return doc


# ---- metrics ---------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, sample count). Below 21 samples that percentile
    would not lie above the median, so the maximum is returned as the
    100th."""
    s = sorted(xs)
    n = len(s)
    if n < 21:
        return (s[-1] if s else 0.0), 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def host_summary(host):
    b, a = host["before"], host["after"]
    ticks = a["cpu_total_ticks"] - b["cpu_total_ticks"]
    steal = a["cpu_steal_ticks"] - b["cpu_steal_ticks"]
    return {"nproc": b["nproc"], "loadavg_1m_before": b["loadavg_1m"],
            "loadavg_1m_after": a["loadavg_1m"],
            "cpu_steal_frac": steal / ticks if ticks > 0 else 0.0}


def end_to_end(doc):
    passes = [p for p in doc["passes"] if not p["traced"]]
    spans = [s for s in doc["spans"] if not s["traced"]]
    q = [s["build_s"] + s["execute_s"] for s in spans]
    t, pct, n = tail(q)
    return {
        "setup_s": doc["setup_s"],
        "pass_s": median([p["wall_s"] for p in passes]),
        "cpu_s": median([p["cpu_s"] for p in passes]),
        "query_p50_s": median(q),
        "query_tail_s": t,
        "peak_rss_mb": doc["peak_rss_mb"],
    }, {"query_tail_pct": round(pct, 2), "query_tail_samples": n}


def union_s(intervals, start, end):
    """Seconds of [start, end] (ms) covered by the given [a, b] ms
    intervals."""
    covered, cur_a, cur_b = 0, None, None
    for a, b in sorted((max(a, start), min(b, end)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return covered / 1e3


def per_query_layers(doc):
    """Per traced query span: its phases, jobs, stages and tasks, and the
    Catalyst and streaming records whose start falls inside it."""
    tr = doc["trace"]
    out = {}
    for s in doc["spans"]:
        if s["traced"]:
            out[s["id"]] = {"span": s, "jobs": [], "stages": [],
                            "catalyst": [], "streaming": []}
    for kind in ("jobs", "stages"):
        for r in tr[kind]:
            if r["span"] in out:
                out[r["span"]][kind].append(r)
    for kind in ("catalyst", "streaming"):
        for r in tr[kind]:
            for q in out.values():
                if q["span"]["start_ms"] <= r["start_ms"] <= q["span"]["end_ms"]:
                    q[kind].append(r)
                    break
    return out


def layer_numbers(qs, wall_s, start_ms, end_ms, cores):
    """Per-layer numbers over a set of traced query spans."""
    jobs = [j for q in qs for j in q["jobs"]]
    stages = [st for q in qs for st in q["stages"]]
    cat = [c for q in qs for c in q["catalyst"]]
    strm = [b for q in qs for b in q["streaming"]]
    task_ms = [t for st in stages for t in st["task_ms"]]
    ssum = lambda k: sum(st[k] for st in stages)
    run_s = ssum("run_ms") / 1e3
    cpu_s = ssum("cpu_ns") / 1e9
    skews = [max(st["task_ms"]) / max(statistics.median(st["task_ms"]), 1)
             for st in stages if len(st["task_ms"]) >= 2]
    busy = union_s([iv for st in stages for iv in st["task_intervals"]],
                   start_ms, end_ms)

    def state_max(k):
        return sum(max((b[k] for b in q["streaming"]), default=0) for q in qs)

    return {
        "SparkEntry.build_s": sum(q["span"]["build_s"] for q in qs),
        "SparkEntry.build_jobs": sum(j["phase"] == "build" for j in jobs),
        "execute.s": sum(q["span"]["execute_s"] for q in qs),
        "execute.jobs": sum(j["phase"] == "execute" for j in jobs),
        "catalyst.analysis_ms": sum(c["analysis_ms"] for c in cat),
        "catalyst.optimization_ms": sum(c["optimization_ms"] for c in cat),
        "catalyst.planning_ms": sum(c["planning_ms"] for c in cat),
        "catalyst.qe_count": len(cat),
        "scheduler.jobs": len(jobs),
        "scheduler.stages": len(stages),
        "scheduler.tasks": ssum("tasks"),
        "scheduler.failed_tasks": ssum("failed_tasks"),
        "scheduler.no_task_s": max(wall_s - busy, 0.0),
        "scheduler.core_idle_frac":
            1 - run_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "executor.cpu_s": cpu_s,
        "executor.run_s": run_s,
        "executor.gc_s": ssum("gc_ms") / 1e3,
        "executor.noncpu_frac": 1 - cpu_s / run_s if run_s > 0 else 0.0,
        "executor.task_p50_ms": median(task_ms),
        "executor.stage_skew": median(skews) if skews else 1.0,
        "exchange.shuffle_write_bytes": ssum("shuffle_write_bytes"),
        "exchange.shuffle_read_bytes": ssum("shuffle_read_bytes"),
        "exchange.fetch_wait_ms": ssum("fetch_wait_ms"),
        "exchange.spill_mem_bytes": ssum("spill_mem_bytes"),
        "exchange.spill_disk_bytes": ssum("spill_disk_bytes"),
        "scan.input_bytes": ssum("input_bytes"),
        "scan.input_rows": ssum("input_rows"),
        "sink.output_bytes": ssum("output_bytes"),
        "storage.persisted_mb_max": max(
            (q["span"]["persisted_bytes"] for q in qs), default=0) / 2**20,
        "streaming.batches": len(strm),
        "streaming.data_batch_frac":
            sum(b["input_rows"] > 0 for b in strm) / len(strm) if strm else 0.0,
        "streaming.trigger_ms": sum(b["trigger_ms"] for b in strm),
        "streaming.add_batch_ms": sum(b["add_batch_ms"] for b in strm),
        "streaming.wal_commit_ms": sum(b["wal_commit_ms"] for b in strm),
        "streaming.state_commit_ms": sum(b["state_commit_ms"] for b in strm),
        "streaming.state_rows": state_max("state_rows"),
        "streaming.state_mem_bytes": state_max("state_mem_bytes"),
    }


def per_layer(doc, workload, seed, hashes):
    """Per-layer metrics (median over traced passes), the tracing overhead,
    and the trace file: spans run → pass → query → build/execute → job →
    stage, per-query layer numbers and the per-workload numbers."""
    byq = per_query_layers(doc)
    cores = doc["cores"]
    traced = [p for p in doc["passes"] if p["traced"]]
    plain = [p for p in doc["passes"] if not p["traced"]]
    per_pass = []
    for p in traced:
        qs = [q for q in byq.values() if q["span"]["pass"] == p["pass"]]
        per_pass.append(layer_numbers(qs, p["wall_s"], p["start_ms"],
                                      p["end_ms"], cores))
    metrics = {k: median([pp[k] for pp in per_pass]) for k in per_pass[0]}
    t_wall = median([p["wall_s"] for p in traced])
    u_wall = median([p["wall_s"] for p in plain])
    metrics["trace.overhead_s"] = t_wall - u_wall
    metrics["trace.overhead_frac"] = (t_wall - u_wall) / u_wall

    spans = [{"id": "run", "parent": None, "kind": "run",
              "setup_s": doc["setup_s"]}]
    queries = []
    for p in doc["passes"]:
        spans.append({"id": f"p{p['pass']}", "parent": "run", "kind": "pass",
                      "traced": p["traced"], "start_ms": p["start_ms"],
                      "end_ms": p["end_ms"], "wall_s": p["wall_s"],
                      "cpu_s": p["cpu_s"]})
    for qid, q in byq.items():
        s = q["span"]
        spans.append({"id": qid, "parent": f"p{s['pass']}", "kind": "query",
                      "query": qid, "name": s["name"],
                      "start_ms": s["start_ms"], "end_ms": s["end_ms"]})
        for ph in ("build", "execute"):
            spans.append({"id": f"{qid}/{ph}", "parent": qid, "kind": ph,
                          "query": qid, "s": s[f"{ph}_s"]})
        for j in q["jobs"]:
            jid = f"{qid}/job{j['job']}"
            spans.append({"id": jid, "parent": f"{qid}/{j['phase']}",
                          "kind": "job", "query": qid,
                          "start_ms": j["start_ms"], "end_ms": j["end_ms"],
                          "ok": j["ok"]})
            for st in q["stages"]:
                if st["stage"] in j["stages"]:
                    spans.append({
                        "id": f"{qid}/stage{st['stage']}.{st['attempt']}",
                        "parent": jid, "kind": "stage", "query": qid,
                        "start_ms": st["submit_ms"], "end_ms": st["end_ms"],
                        "tasks": st["tasks"], "run_ms": st["run_ms"],
                        "cpu_ns": st["cpu_ns"]})
        nums = layer_numbers([q], s["build_s"] + s["execute_s"],
                             s["start_ms"], s["end_ms"], cores)
        queries.append({"query": qid, "name": s["name"], "pass": s["pass"],
                        "wall_s": s["build_s"] + s["execute_s"],
                        "output_rows": rows_of(hashes.get(s["name"], "")),
                        "layers": nums})
    trace_file = os.path.join(OUT, f"trace-{workload}-seed{seed}.json")
    with open(trace_file, "w") as f:
        json.dump({"workload": workload, "seed": seed, "cores": cores,
                   "host": host_summary(doc["host"]),
                   "workload_layers": metrics, "queries": queries,
                   "spans": spans}, f)
    return metrics, trace_file


def rows_of(h):
    tag = h.rpartition(":rows=")
    return int(tag[2]) if tag[1] else None


def check(doc, expected):
    """Queries whose check-pass hash differs from the committed one."""
    return sorted(n for n, h in doc["hashes"].items() if expected.get(n) != h)


# ---- modes -----------------------------------------------------------------

def passes_for(spec, seconds, trace):
    """Whole passes for a run of about `seconds`; a traced run needs one
    untraced and one traced pass at least."""
    n = max(1, round(seconds / spec["nominal_pass_s"]))
    return max(n, 2) if trace else n


def run_one(cp, wl, name, corpus_key, seed, passes, trace):
    spec = wl["workloads"][name]
    corpus = os.path.join(HERE, wl[corpus_key])
    doc = run_harness(cp, spec["queries"], corpus, seed, passes, trace,
                      f"{name}-{int(trace)}")
    expected = load_json(os.path.join(HERE, "expected_hashes.json"))
    bad = check(doc, expected[wl[corpus_key]])
    errors = [s for s in doc["spans"] if s["error"]]
    attempted = len(doc["hashes"]) + len(doc["spans"])
    failed = len(bad) + len(errors)
    details = {"workload": name, "seed": seed, "passes": passes,
               "corpus": wl[corpus_key], "attempted": attempted,
               "failed": failed, "failed_frac": failed / attempted,
               "hash_mismatch": bad,
               "query_errors": sorted({s["name"] for s in errors}),
               "session_s": doc["session_s"],
               "host": host_summary(doc["host"])}
    if trace:
        values, trace_file = per_layer(doc, name, seed, doc["hashes"])
        units = LAYER_UNITS
        details["trace_file"] = os.path.relpath(trace_file, ROOT)
    else:
        values, extra = end_to_end(doc)
        units = E2E_UNITS
        details.update(extra)
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}, details


def smoke(cp, wl):
    """Every workload on the small corpus, one untraced and one traced run:
    every metric BENCHMARK.json names must print with its unit and a finite
    value, and no query may fail or mismatch."""
    bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    problems = []
    for name in wl["workloads"]:
        for trace, key in ((False, "end_to_end"), (True, "per_layer")):
            res, details = run_one(cp, wl, name, "smoke_corpus", 0,
                                   2 if trace else 1, trace)
            print(json.dumps(details))
            for m in bench[key]:
                got = res["metrics"].get(m["name"])
                if got is None:
                    problems.append(f"{name}: {m['name']} missing")
                elif got["unit"] != m["unit"]:
                    problems.append(f"{name}: {m['name']} unit {got['unit']}")
                elif not math.isfinite(got["value"]):
                    problems.append(f"{name}: {m['name']} = {got['value']}")
            if details["failed_frac"] != 0:
                problems.append(f"{name}: failed_frac {details['failed_frac']}")
    for p in problems:
        print(f"[perfbench] smoke: {p}", file=sys.stderr)
    print(json.dumps({"smoke": "fail" if problems else "ok",
                      "problems": len(problems)}))
    return 1 if problems else 0


def expected_hashes(cp, wl):
    """Writes every workload query's canonical row hash on both corpora."""
    out = {}
    for key in ("corpus", "smoke_corpus"):
        out[wl[key]] = {}
        for name, spec in wl["workloads"].items():
            doc = run_harness(cp, spec["queries"], os.path.join(HERE, wl[key]),
                              0, 0, False, f"hashes-{name}")
            errors = {n: h for n, h in doc["hashes"].items()
                      if h.startswith("error:")}
            if errors:
                fail(f"queries failed: {errors}")
            out[wl[key]].update(doc["hashes"])
    with open(os.path.join(HERE, "expected_hashes.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--expected-hashes", action="store_true")
    a = ap.parse_args()
    wl = load_json(os.path.join(HERE, "workloads.json"))
    if not (a.smoke or a.expected_hashes) and a.workload not in wl["workloads"]:
        fail(f"--workload must be one of {sorted(wl['workloads'])}")
    cp = classpath()
    if a.smoke:
        return smoke(cp, wl)
    if a.expected_hashes:
        return expected_hashes(cp, wl)
    spec = wl["workloads"][a.workload]
    res, details = run_one(cp, wl, a.workload, "corpus", a.seed,
                           passes_for(spec, a.seconds, a.trace), a.trace == 1)
    print(json.dumps(details))
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
