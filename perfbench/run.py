#!/usr/bin/env python3
"""End-to-end benchmark of the report pipeline and the query registry.

Usage (from the repository root):

    python3 perfbench/run.py --workload report-clean --seed 1 --seconds 15 --trace 0

The first run in a checkout builds the program and the harness from source
with sbt. Each run then generates its inputs from --seed, starts one JVM
with a local Spark session, sets up several times, runs ops in a closed
loop with one client for --seconds, checks every op's output and prints the
metrics. The last line of stdout is one JSON object: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1 (see README.md).
"""
import argparse
import hashlib
import html
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)
import gen  # noqa: E402

# hours = hourly files in the log directory; records = records per file
WORKLOADS = {
    "report-clean": {"hours": 72, "records": 3000, "shapes": "clean"},
    "report-multiline": {"hours": 72, "records": 3000, "shapes": "multiline"},
    "backfill": {"hours": 720, "records": 300, "shapes": "clean"},
    "registry": {},
}
SETUPS = 3
MAX_RECORDS = 5  # files per report, the reference's default
SECTIONS = ["level_counts", "hourly_histogram", "query_stats",
            "distinct_entities", "percentiles", "top_slowest",
            "error_rate_hourly"]
# registry names the roadmap's open items target
TARGETED = [
    "n6_minhash_neardup_pairs", "n46_semantic_dedup",
    "n54_semantic_dedup_collapsed", "n55_incremental_semantic_dedup",
    "n59_lsh_tuning", "n83_clean_corpus", "n99_training_data_build",
    "n115_containment_prefix", "n121_dupsub_spans",
    "n142_training_build_safe", "n145_dupsub_dedup_auto",
    "n146_training_build_safe_paragraph",
    "n147_training_build_safe_substring", "m18_mixed_build"]
FAMILIES = "abrsnm"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# C1 only: under the default tiered JIT, C2 keeps compiling Spark for ~40 s
# and op latency halves over that time, so a run would measure JIT progress.
# A fixed-size heap with the parallel collector keeps peak RSS repeatable.
JVM_FLAGS = ["-XX:TieredStopAtLevel=1", "-XX:+UseParallelGC", "-Xms2g",
             "-Xmx2g"]
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("Spark not found: set SPARK_HOME")
    return os.path.join(home, "jars")


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compile program + harness once per source state; return classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "Graft.scala")):
        fail("program sources (src/main/scala) not found next to perfbench/")
    if not shutil.which("sbt"):
        fail("sbt not found")
    stamp = os.path.join(WORK, "build", source_digest() + ".classpath")
    if os.path.isfile(stamp):
        return open(stamp).read().strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    env = dict(os.environ, SPARK_JARS=spark_jars())
    log = os.path.join(WORK, "build", "sbt.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
            text=True, timeout=840)
        out.write(r.stdout)
    target = os.path.join(HERE, "target")
    cp = [l for l in r.stdout.splitlines() if l.startswith(target)]
    if r.returncode != 0 or not cp:
        fail(f"build failed, see {log}")
    with open(stamp, "w") as f:
        f.write(cp[-1])
    return cp[-1]


# ---------------------------------------------------------------- inputs

def make_inputs(workload, seed):
    """Generated log directory (or the registry's tables) for this seed."""
    if workload == "registry":
        return os.path.join(HERE, "data", "sf0.001")
    base = os.path.join(WORK, "inputs")
    name = f"{workload}-{seed}"
    d = os.path.join(base, name)
    if not os.path.isfile(os.path.join(d, "truth.json")):
        if os.path.isdir(base):  # keep one input set on disk
            for old in os.listdir(base):
                shutil.rmtree(os.path.join(base, old))
        spec = WORKLOADS[workload]
        gen.generate(d, seed, spec["hours"], spec["records"], spec["shapes"])
    return d


def make_plan(workload, seed):
    """Warm-up key and the op keys, in the order the loop runs them."""
    rng = random.Random(seed)
    if workload == "registry":
        with open(os.path.join(HERE, "registry.txt")) as f:
            names = [l.strip() for l in f if l.strip() and l[0] != "#"]
        rng.shuffle(names)
        return ["a1_catalog_topk"], names * 20
    hours = WORKLOADS[workload]["hours"]
    if workload == "backfill":
        # consecutive hours from a seeded start, as a scheduler catches up
        start = rng.randrange(MAX_RECORDS + 1, hours)
        span = range(MAX_RECORDS + 1, hours)
        keys = [gen.hour_name(span[(start - span[0] + k) % len(span)])
                for k in range(len(span))]
        return [gen.hour_name(MAX_RECORDS)], keys
    refs = list(range(MAX_RECORDS + 1, hours))
    rng.shuffle(refs)
    return [gen.hour_name(MAX_RECORDS)], [gen.hour_name(r) for r in refs] * 10


# ---------------------------------------------------------------- run

def run_harness(cp, workload, seed, seconds, trace, inputs):
    warm, keys = make_plan(workload, seed)
    out = os.path.join(WORK, "out", workload)
    local = os.path.join(WORK, "tmp")
    for d in (out, local):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    plan = os.path.join(WORK, "plan.txt")
    with open(plan, "w") as f:
        f.writelines([f"warmup {k}\n" for k in warm] +
                     [f"op {k}\n" for k in keys])
    result = os.path.join(WORK, "result.json")
    if os.path.exists(result):
        os.remove(result)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Djava.io.tmpdir={local}"] + JVM_FLAGS + \
        [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JVM_OPENS] + \
        ["-cp", cp, "perfbench.Harness", result, plan,
         f"workload={workload}", f"input={inputs}", f"out={out}",
         f"seconds={seconds}", f"trace={trace}", f"setups={SETUPS}",
         f"cpus={os.cpu_count()}", f"local={local}",
         f"pass={len(set(keys)) if workload == 'registry' else 1}"]
    log = os.path.join(WORK, "harness.log")
    with open(log, "w") as err:
        try:
            r = subprocess.run(cmd, stdout=err, stderr=err,
                               timeout=seconds + 150)
        except subprocess.TimeoutExpired:
            fail(f"harness timed out, see {log}")
    if r.returncode != 0 or not os.path.isfile(result):
        fail(f"harness failed ({r.returncode}), see {log}")
    with open(result) as f:
        res = json.load(f)
    res["out"] = out
    return res


# ---------------------------------------------------------------- checks

SECTION_RE = re.compile(
    r'<section id="([^"]*)">\s*<h2>[^<]*</h2>\s*<table>(.*?)</table>', re.S)


def html_tables(doc):
    """Section name → list of {column: text} rows."""
    out = {}
    for name, body in SECTION_RE.findall(doc):
        rows = re.findall(r"<tr>(.*?)</tr>", body, re.S)
        head = [html.unescape(c) for c in re.findall(r"<th>(.*?)</th>", rows[0])]
        out[html.unescape(name)] = [
            dict(zip(head, [html.unescape(c) for c in
                            re.findall(r"<td>(.*?)</td>", r, re.S)]))
            for r in rows[1:]]
    return out


def window_truth(truth, hour):
    return [(n, truth["files"][n])
            for n in gen.window(truth["files"], gen.hour_index(hour))]


def merged_levels(files):
    levels = {}
    for _, f in files:
        for k, v in f["levels"].items():
            levels[k] = levels.get(k, 0) + v
    return levels


def cents(text):
    return round(float(text) * 100)


def check_report(doc, files):
    """Error text, or None when the sections equal the generator's truth."""
    t = html_tables(doc)
    levels = merged_levels(files)
    got = {r["level"]: int(r["n"]) for r in t.get("level_counts", [])}
    if got != levels:
        return f"level_counts {got} != {levels}"
    hist = {f"{n[-13:-3]} {n[-2:]}:00:00": (f["records"], f["sum_cents"],
                                           f["n_users"])
            for n, f in files if f["records"]}
    got = {r["hour"]: (int(r["n"]), cents(r["sum_value"]), int(r["n_users"]))
           for r in t.get("hourly_histogram", [])}
    if got != hist:
        return f"hourly_histogram {got} != {hist}"
    queries = {}
    for _, f in files:
        for q, (n, lo, hi, tot) in f["queries"].items():
            a = queries.setdefault(q, [0, lo, hi, 0])
            a[0] += n
            a[1] = min(a[1], lo)
            a[2] = max(a[2], hi)
            a[3] += tot
    got = {r["query_norm"]: [int(r["n_calls"]), cents(r["min_ms"]),
                             cents(r["max_ms"]), cents(r["total_ms"])]
           for r in t.get("query_stats", [])}
    if got != queries:
        return "query_stats differ"
    return None


def check_outputs(res, workload, inputs):
    """Mark every op that errored or whose output is wrong as failed."""
    ops = res["ops"]
    if workload == "registry":
        import duckdb
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(inputs, t)}.parquet'")
        want = {}
        for name, sql in res["oracles"].items():
            want[name] = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        con.close()
        for op in ops:
            if op["ok"] and op["key"] in want and op["rows"] != want[op["key"]]:
                op["ok"], op["error"] = False, "check:row_count"
        res["oracle_checked"] = sum(op["key"] in want for op in ops)
        return
    with open(os.path.join(inputs, "truth.json")) as f:
        truth = json.load(f)
    for op in ops:
        files = window_truth(truth, op["key"])
        op["truth_records"] = sum(f["records"] for _, f in files)
        op["reported"], op["unparsed"] = 0, 0
        if not op["ok"]:
            continue
        d = os.path.join(res["out"], f"op{op['i']}")
        if workload == "backfill":
            import pyarrow.parquet as pq
            part = os.path.join(d, f"hour={op['key']}")
            got = {r["level"]: r["n"] for r in pq.read_table(part).to_pylist()}
            op["files_written"] = sum(not n.endswith(".crc")
                                      for n in os.listdir(part))
            want = merged_levels(files)
            err = None if got == want else f"levels {got} != {want}"
        else:
            with open(os.path.join(d, f"report_{op['key']}.html")) as f:
                doc = f.read()
            got = {r["level"]: int(r["n"])
                   for r in html_tables(doc).get("level_counts", [])}
            op["html_bytes"] = len(doc.encode())
            op["files_written"] = 1
            err = check_report(doc, files)
        op["reported"] = sum(v for k, v in got.items() if k)
        op["unparsed"] = got.get("", 0)
        if err:
            op["ok"], op["error"] = False, "check:" + err[:200]


# ---------------------------------------------------------------- metrics

def tail(values):
    """(value, percentile) of the highest sample with ≥ 10 samples above it.
    Below 21 samples that falls under the median, which is given instead."""
    s = sorted(values)
    k = len(s) - 11
    if k < (len(s) - 1) / 2:
        return statistics.median(s), 50.0
    return s[k], 100.0 * k / (len(s) - 1)


def op_spans(res):
    return {s["op"]: s for s in res["spans"] if s["parent"] == -1}


def end_to_end(res):
    ops = res["ops"]
    spans = op_spans(res)
    lat = [spans[o["i"]]["end_s"] - spans[o["i"]]["start_s"] for o in ops]
    ok = sum(o["ok"] for o in ops)
    tags = {str(s["id"]) for s in res["spans"]}
    cpu = sum(c["cpu_s"] for t, c in res["counters"].items() if t in tags)
    t, p = tail(lat)
    return {
        "setup_s": (statistics.median(res["setup_s"]), "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_tail_s": (t, "s"),
        "ops_per_s": (ok / res["loop_s"], "1/s"),
        "cpu_s_per_op": (cpu / len(ops), "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }, {"n": len(lat), "tail_pct": p, "fail_share": 1 - ok / len(ops)}


def per_layer(res, workload):
    """Per-op layer metrics from the traced run's spans and counters."""
    ops = res["ops"]
    n = len(ops)
    spans = res["spans"]
    cnt = res["counters"]
    zero = {"jobs": 0, "stages": 0, "tasks": 0, "input_stages": 0,
            "cpu_s": 0.0, "run_s": 0.0, "gc_s": 0.0, "wait_s": 0.0,
            "input_bytes": 0, "shuffle_bytes": 0, "spill_bytes": 0,
            "output_bytes": 0, "straggler": 1.0, "job_s": 0.0}

    def c(s):
        return cnt.get(str(s["id"]), zero)

    def dur(s):
        return s["end_s"] - s["start_s"]

    def named(prefix):
        return [s for s in spans if s["name"].startswith(prefix)]

    def total(ss, f):
        return sum(f(s) for s in ss) / n

    m = {}
    for key, field in [("jobs", "jobs"), ("stages", "stages"),
                       ("tasks", "tasks"), ("task_wait_s", "wait_s"),
                       ("executor_cpu_s", "cpu_s"), ("executor_run_s", "run_s"),
                       ("gc_s", "gc_s"), ("input_bytes", "input_bytes"),
                       ("shuffle_bytes", "shuffle_bytes"),
                       ("spill_bytes", "spill_bytes"),
                       ("output_bytes", "output_bytes")]:
        m["spark." + key] = total(spans, lambda s: c(s)[field])
    worst = {}
    for s in spans:
        worst[s["op"]] = max(worst.get(s["op"], 1.0), c(s)["straggler"])
    m["spark.straggler_ratio"] = statistics.median(worst.values()) if worst else 1.0

    sel = named("LogCatalog.select")
    m["LogCatalog.select_s"] = total(sel, dur)
    m["LogCatalog.files_selected"] = sum(o.get("files_selected", 0) for o in ops) / n
    m["LogLines.ingest_s"] = total(named("LogLines.ingest"), dur)
    text = [s for s in spans if s["parent"] != -1 and s not in sel]
    m["LogLines.text_scans"] = 0.0
    m["LogLines.read_amplification"] = 0.0
    if workload != "registry":
        m["LogLines.text_scans"] = total(text, lambda s: c(s)["input_stages"])
        selected = sum(o.get("selected_bytes", 0) for o in ops)
        m["LogLines.read_amplification"] = (
            sum(c(s)["input_bytes"] for s in text) / selected if selected else 0.0)
    reported = sum(o.get("reported", 0) for o in ops)
    unparsed = sum(o.get("unparsed", 0) for o in ops)
    truth = sum(o.get("truth_records", 0) for o in ops)
    m["LogLines.unparsed_share"] = unparsed / (reported + unparsed) \
        if reported + unparsed else 0.0
    m["LogLines.record_recall"] = reported / truth if truth else 0.0

    rep = named("Reports.")
    for sec in SECTIONS:
        m[f"Reports.{sec}_s"] = total(named(f"Reports.{sec}"), dur)
    m["Reports.cpu_s"] = total(rep, lambda s: c(s)["cpu_s"])
    m["Reports.shuffle_bytes"] = total(rep, lambda s: c(s)["shuffle_bytes"])
    m["Graft.render_self_s"] = total(rep, lambda s: dur(s) - c(s)["job_s"]) \
        if workload.startswith("report") else 0.0
    m["Graft.html_bytes"] = sum(o.get("html_bytes", 0) for o in ops) / n
    m["Sinks.publish_s"] = total(named("Sinks.publish"), dur)
    m["Sinks.files_written"] = sum(o.get("files_written", 0) for o in ops) / n

    for stage in ("build", "plan", "exec"):
        m[f"Queries.{stage}_s"] = total(named(f"Queries.{stage}"), dur)
    roots = op_spans(res)

    def op_cpu(i):
        return sum(c(s)["cpu_s"] for s in spans if s["op"] == i)

    for group, keep in [(f, lambda k, f=f: k[0] == f) for f in FAMILIES] + \
            [(q, lambda k, q=q: k == q) for q in TARGETED]:
        sel_ops = [o["i"] for o in ops if workload == "registry" and keep(o["key"])]
        k = len(sel_ops) or 1
        m[f"Queries.{group}_s"] = sum(dur(roots[i]) for i in sel_ops) / k
        m[f"Queries.{group}_cpu_s"] = sum(op_cpu(i) for i in sel_ops) / k
    return m


def span_table(res):
    """Per span name: calls, wall, self time, CPU and bytes, all per op."""
    spans = res["spans"]
    n = len(res["ops"])
    child = {}
    for s in spans:
        if s["parent"] != -1:
            child[s["parent"]] = child.get(s["parent"], 0.0) + \
                s["end_s"] - s["start_s"]
    rows = {}
    for s in spans:
        name = s["name"] if s["parent"] != -1 else "op (self)"
        c = res["counters"].get(str(s["id"]), {})
        r = rows.setdefault(name, [0, 0.0, 0.0, 0.0, 0, 0])
        d = s["end_s"] - s["start_s"]
        r[0] += 1
        r[1] += d
        r[2] += d - child.get(s["id"], 0.0)
        r[3] += c.get("cpu_s", 0.0)
        r[4] += c.get("input_bytes", 0)
        r[5] += c.get("shuffle_bytes", 0)
    lines = [f"{'span':34} {'calls':>6} {'wall_s':>9} {'self_s':>9} "
             f"{'cpu_s':>9} {'input_B':>11} {'shuffle_B':>10}"]
    for name, r in sorted(rows.items()):
        lines.append(f"{name:34} {r[0] / n:6.2f} {r[1] / n:9.4f} "
                     f"{r[2] / n:9.4f} {r[3] / n:9.4f} {r[4] / n:11.0f} "
                     f"{r[5] / n:10.0f}")
    return "\n".join(lines)


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    cp = build()
    t0 = time.time()
    inputs = make_inputs(a.workload, a.seed)
    gen_s = time.time() - t0
    res = run_harness(cp, a.workload, a.seed, a.seconds, a.trace, inputs)
    check_outputs(res, a.workload, inputs)
    ops = res["ops"]
    if not ops:
        fail("no op ran")
    failed = [o for o in ops if not o["ok"]]
    e2e, info = end_to_end(res)

    print(f"workload={a.workload} seed={a.seed} trace={a.trace} "
          f"cpus={os.cpu_count()} seconds={a.seconds} input_gen_s={gen_s:.2f}")
    print(f"ops attempted={len(ops)} failed={len(failed)} "
          f"fail_share={info['fail_share']:.4f}")
    errors = sorted({o["error"].split(" ")[0] for o in failed})
    if errors:
        print("error classes: " + ", ".join(errors))
    if a.workload == "registry":
        print(f"oracle-checked ops: {res['oracle_checked']}")
    for name, (v, unit) in e2e.items():
        extra = f" (n={info['n']})" if name.startswith("op_") else ""
        if name == "op_tail_s":
            extra = f" (p{info['tail_pct']:.1f}, n={info['n']})"
        if name == "setup_s":
            extra = f" (median of {len(res['setup_s'])})"
        print(f"{name} = {v:.6g} {unit}{extra}")

    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    saved = os.path.join(WORK, "results", f"{a.workload}-trace{a.trace}.json")
    if a.trace:
        layer = per_layer(res, a.workload)
        print()
        print(span_table(res))
        print()
        # the BENCHMARK.json metrics, then the layer times this workload has
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        for k, v in layer.items():
            if k in units or v:
                print(f"{k} = {v:.6g} {units.get(k, 's')}")
        untraced = os.path.join(WORK, "results", f"{a.workload}-trace0.json")
        if os.path.isfile(untraced):
            with open(untraced) as f:
                base = json.load(f)["op_p50_s"]
            print(f"tracing overhead: op_p50_s {e2e['op_p50_s'][0]:.4f} s traced "
                  f"vs {base:.4f} s untraced "
                  f"({100 * (e2e['op_p50_s'][0] / base - 1):+.1f}%)")
        else:
            print("tracing overhead: run this workload with --trace 0 first")
        metrics = {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    with open(saved, "w") as f:
        json.dump({k: v for k, (v, _) in e2e.items()}, f)
    print(json.dumps({"correct": not failed, "attempted": len(ops),
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
