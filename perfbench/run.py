#!/usr/bin/env python3
"""Benchmark of the diachronic engine, run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source (sbt, offline), generates the
workload's inputs from the seed (cached under .bench_build/perfbench),
runs the JVM harness (one process, local[nproc], one sequential client),
checks every output, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}, with the end-to-end metrics
when --trace 0 and the per-layer metrics when --trace 1. The line before
it is a detail record (samples, host label, errors, span self times).

Workloads, metrics and their meaning: perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
# Seconds the harness may run, counted from the end of the build: the
# whole run must end within 180 s (a first run may also build).
HARNESS_S = 160.0

QUERIES = ["assoc_rules", "fuzzy_match_k2", "dedup_ngram", "boilerplate_frequent",
           "corpus_sample_exactn", "graph_components", "vector_ann_sql_streamed",
           "llm_clean_corpus", "asof_join", "diachronic_daily"]
# fuzzy_match_k2's deletion neighbourhoods grow fast with the table, so it
# runs on a corpus a tenth the size of the others' (it would otherwise be
# most of the workload's time).
QUERY_SF, SMALL_SF = 0.01, 0.001
SMALL_QUERIES = {"fuzzy_match_k2"}

END_TO_END = {
    "setup_s": "s", "job_s": "s", "input_mb_per_s": "MB/s",
    "query_geomean_s": "s", "cpu_s": "s", "peak_rss_mb": "MB",
    "out_bytes_ratio": "ratio",
}
PER_LAYER = {
    "sources.WikiBz2.find_starts_s": "s", "sources.plan_s": "s",
    "sources.partitions": "count", "sources.scan_busy_frac": "ratio",
    "sources.WikiLexer.scan_mb_per_s": "MB/s", "sources.decode_mb_per_s": "MB/s",
    "sources.WikiXml.parse_mb_per_s": "MB/s", "sources.scan_s": "s",
    "sources.scan_task_s": "s", "sources.scan_task_max_s": "s",
    "sources.rows_emitted": "count", "sources.ns_kept_frac": "ratio",
    "operators.Diachronic.downsample_s": "s",
    "operators.Diachronic.shuffle_write_mb": "MB",
    "operators.Diachronic.spill_mb": "MB",
    "operators.Diachronic.rows_kept_frac": "ratio",
    "sources.Sink.write_s": "s", "sources.Sink.bytes_written": "bytes",
    "sources.Sink.files_written": "count", "sources.Manifest.skip_s": "s",
    "sources.Manifest.files_skipped": "count",
    "queries.serial_s": "s", "queries.jobs": "count", "queries.build_s": "s",
    "queries.exec_s": "s", "plans.analysis_s": "s", "plans.optimization_s": "s",
    "plans.planning_s": "s", "queries.tasks": "count", "queries.task_s": "s",
    "queries.shuffle_write_mb": "MB", "queries.spill_mb": "MB", "queries.gc_s": "s",
    "streaming.micro_batches": "count", "streaming.batch_s": "s",
    **{f"queries.{q}.{k}": u for q in QUERIES for k, u in (("wall_s", "s"), ("jobs", "count"))},
    "trace.overhead_frac": "ratio", "host.steal_pct": "%", "host.ext_busy_pct": "%",
}

ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def call(cmd, timeout, **kw):
    """Run `cmd` in its own process group and wait for it; on timeout the
    whole group is killed (sbt leaves a JVM child behind otherwise).
    Returns (returncode, stdout) or None on timeout."""
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None


# ---------------------------------------------------------------- build

def _fingerprint():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "harness")]
    files = [os.path.join(ROOT, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt unless the sources are unchanged
    since the last build; return the runtime classpath."""
    stamp, cp_file = os.path.join(WORK, "build.stamp"), os.path.join(WORK, "classpath.txt")
    fp = _fingerprint()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == fp:
        return open(cp_file).read()
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export harness/Runtime/fullClasspath"]
    r = call(cmd, 800, cwd=os.path.join(HERE, "harness"), env=env,
             stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r is None:
        fail("build exceeded 800 s")
    lines = [ln for ln in r[1].splitlines() if ".jar" in ln and os.pathsep in ln]
    if r[0] != 0 or not lines:
        sys.stderr.write(r[1][-4000:])
        fail("build failed")
    os.makedirs(WORK, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(fp)
    return lines[-1].strip()


# ---------------------------------------------------------------- inputs

def inputs(workload, seed):
    """Generate (or reuse) the inputs for (workload, seed); returns meta."""
    # keyed by the generators' code and settings too, so that a changed
    # generator never reuses inputs made by an older one
    h = hashlib.sha256(repr((QUERIES, QUERY_SF, SMALL_SF, SMALL_QUERIES)).encode())
    for g in ("gen_wiki.py", "gen_tables.py"):
        with open(os.path.join(HERE, g), "rb") as fh:
            h.update(fh.read())
    d = os.path.join(WORK, "inputs", f"{workload}-{seed}-{h.hexdigest()[:12]}")
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        return d, json.load(open(meta_path))
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    if workload == "llm_queries":
        import gen_tables
        size = gen_tables.generate(seed, os.path.join(tmp, "tables"), QUERY_SF)
        gen_tables.generate(seed, os.path.join(tmp, "tables_small"), SMALL_SF)
        order = list(QUERIES)
        random.Random(seed).shuffle(order)
        with open(os.path.join(tmp, "queries.txt"), "w") as f:
            f.write("".join(f"{q}\t{'tables_small' if q in SMALL_QUERIES else 'tables'}\n"
                            for q in order))
        meta = {"workload": workload, "seed": seed, "input_bytes": size, "queries": order}
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
    else:
        import gen_wiki
        meta = gen_wiki.generate(workload, seed, tmp)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d, meta


# ---------------------------------------------------------------- run

def run_jvm(cp, workload, in_dir, seconds, trace, budget_s):
    out = os.path.join(WORK, "runs", f"{workload}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    result = os.path.join(out, "result.json")
    cmd = ["java", *ADD_OPENS, "-Xms2g", "-Xmx2g", "-Xmn768m", f"-Djava.io.tmpdir={out}/tmp",
           "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
           "--workload", workload, "--input", in_dir, "--out", out,
           "--seconds", str(seconds), "--trace", "1" if trace else "0",
           "--cpus", str(os.cpu_count() or 1), "--result", result]
    log = os.path.join(WORK, f"{workload}.log")
    with open(log, "w") as lf:
        r = call(cmd, budget_s, stdout=lf, stderr=lf)
    if r is None:
        fail(f"harness exceeded {budget_s:.0f} s (log: {log})")
    if r[0] != 0 or not os.path.exists(result):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"harness exited with {r[0]}")
    return out, json.load(open(result))


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def evaluate(workload, meta, in_dir, res):
    """Check every output; return (attempted, failed, {operation: reason})."""
    errors = {}
    passes = [(f"warmup{i}", p) for i, p in enumerate(res["warmup"])]
    passes += [(f"t{i}", p) for i, p in enumerate(res["passes"])]
    passes += [(f"r{i}", p) for i, p in enumerate(res.get("traced_passes", []))]
    passes += [("check", {"ops": res["check"]})]
    for tag, p in passes:
        for op in p["ops"]:
            if "error" in op:
                errors[f"{tag}:{op['name']}"] = op["error"]
    attempted = sum(len(p["ops"]) for _, p in passes)
    if workload == "llm_queries":
        plan = {q: os.path.join(in_dir, "tables_small" if q in SMALL_QUERIES else "tables")
                for q in meta["queries"]}
        for q, why in checks.check_queries(res["outputs"]["check_dir"], plan).items():
            if why is not None:
                errors.setdefault(f"check:{q}", f"check: {why}")
    else:
        expected = json.load(open(os.path.join(in_dir, "expected.json")))
        dirs = res["outputs"]["dirs"]
        attempted += 1 if res.get("layers") else 0   # the traced layer pass
        for d in dirs:
            tag = os.path.basename(d)
            key = f"{tag}:job"
            if key in errors:
                continue
            why = checks.check_wiki(d, meta, expected)
            if why is not None:
                errors[key] = f"check: {why}"
    return attempted, len(errors), errors


def ok_walls(passes):
    return [p["wall_s"] for p in passes if all("error" not in o for o in p["ops"])]


def end_to_end(workload, meta, res):
    timed = res["passes"]
    walls = ok_walls(timed)
    job = median(walls)
    if workload == "llm_queries":
        per_q = {}
        for p in timed:
            for o in p["ops"]:
                if "error" not in o:
                    per_q.setdefault(o["name"], []).append(o["wall_s"])
        ops = [median(v) for v in per_q.values()]
        input_mb = meta["input_bytes"] / 1e6
        check = res["outputs"]["check_dir"]
        written = sum(os.path.getsize(os.path.join(d, f))
                      for d, _, fs in os.walk(check) for f in fs if f.endswith(".parquet"))
    else:
        ops = walls
        input_mb = meta["xml_bytes"] / 1e6
        last = res["outputs"]["dirs"][-1]
        written = sum(os.path.getsize(os.path.join(d, f))
                      for d, _, fs in os.walk(last) for f in fs if f.endswith(".parquet"))
    return {
        "setup_s": res["session_s"] + sum(p["wall_s"] for p in res["warmup"]),
        "job_s": job,
        "input_mb_per_s": input_mb / job,
        "query_geomean_s": checks.geomean(ops) if ops else float("nan"),
        "cpu_s": median([p["cpu_s"] for p in timed]),
        "peak_rss_mb": res["peak_rss_mb"],
        "out_bytes_ratio": written / (input_mb * 1e6),
    }


def per_layer(workload, meta, res):
    m = {k: 0.0 for k in PER_LAYER}
    m.update({k: v for k, v in res["layers"].items() if k in m})
    if workload != "llm_queries":
        m["sources.ns_kept_frac"] = m["sources.rows_emitted"] / meta["revisions"]
    m["trace.overhead_frac"] = median(ok_walls(res["traced_passes"])) / median(ok_walls(res["passes"])) - 1
    m["host.steal_pct"] = res["host"]["steal_pct"]
    m["host.ext_busy_pct"] = res["host"]["ext_busy_pct"]
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["wiki_snapshot", "wiki_index", "llm_queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t0 = time.monotonic()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the root of an engine checkout (build.sbt and src/main/scala/graft not found)")
    phases = {}
    cp = build()
    phases["build"] = time.monotonic() - t0
    in_dir, meta = inputs(a.workload, a.seed)
    phases["inputs"] = time.monotonic() - t0 - sum(phases.values())
    out, res = run_jvm(cp, a.workload, in_dir, a.seconds, a.trace == 1,
                       HARNESS_S - phases["inputs"])
    phases["harness"] = time.monotonic() - t0 - sum(phases.values())
    attempted, failed, errors = evaluate(a.workload, meta, in_dir, res)
    phases["check"] = time.monotonic() - t0 - sum(phases.values())
    if a.trace:
        metrics = per_layer(a.workload, meta, res)
        units = PER_LAYER
        spans = {}
        for s in res["spans"]:
            spans[s["name"]] = spans.get(s["name"], 0.0) + s["self_s"]
    else:
        metrics = end_to_end(a.workload, meta, res)
        units = END_TO_END
        spans = None
    detail = {"workload": a.workload, "seed": a.seed, "samples": len(res["passes"]),
              "warmup_wall_s": [round(p["wall_s"], 4) for p in res["warmup"]],
              "pass_wall_s": [round(p["wall_s"], 4) for p in res["passes"]],
              "pass_cpu_s": [round(p["cpu_s"], 2) for p in res["passes"]],
              "host": res["host"], "error_frac": failed / attempted, "errors": errors,
              "run_phase_s": {k: round(v, 2) for k, v in phases.items()}}
    if a.workload == "llm_queries":
        detail["query_wall_s"] = {o["name"]: round(o["wall_s"], 3) for o in res["passes"][-1]["ops"]}
    if spans is not None:
        detail["span_self_s"] = {k: round(v, 4) for k, v in spans.items()}
        spans_file = os.path.join(WORK, f"spans-{a.workload}-{a.seed}.json")
        with open(spans_file, "w") as f:
            json.dump(res["spans"], f)
        detail["spans_file"] = os.path.relpath(spans_file, ROOT)
    shutil.rmtree(out, ignore_errors=True)
    print(json.dumps(detail))
    # a metric nothing could be measured for (every pass failed) is null
    metrics = {k: {"value": None if v != v else v, "unit": units[k]} for k, v in metrics.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
