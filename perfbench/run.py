#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the harness and the
engine with sbt into the build directory ($CARGO_TARGET_DIR, default
.bench_build); later runs reuse the build while the sources are unchanged.
Each run generates its inputs from the seed, runs one JVM (local[4], one
client thread), checks the outputs, and prints a report followed by one
JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, taken from spans the
harness records around each call into the engine. The exit code is 1 when
an output check fails.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import stats  # noqa: E402

JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600

# End-to-end metrics (BENCHMARK.json "end_to_end") and their units.
E2E_UNITS = {"setup_s": "s", "ops_per_s": "1/s", "cpu_s_per_op": "s",
             "stored_bytes_per_row": "bytes", "peak_rss_mb": "MB"}
# Background operations: timed and inside the timed wall, but not client
# operations.
BACKGROUND = {"compact"}

QUERY_MODULES = ["Aggregates", "AnalyticsOps", "CorpusStatsOps", "EventsOps",
                 "ExtendedOps", "GraphSearchOps", "MiningOps", "PipelineOps",
                 "QualityOps", "RelationalCore", "ScalarFns", "SinkOps",
                 "SortSetOps", "TextOps", "VectorOps", "WindowOps"]
STORE_OPS = ["put_if_absent", "put", "read", "list", "exists"]
SPAN_SECONDS = {  # per-layer metric -> span name whose durations it sums
    "curation.curate_batch_s": "curation.curate_batch",
    "curation.near_dup_batch_s": "curation.near_dup_batch",
    "sink.process_s": "sink.process",
    "sink.merge_s": "sink.merge",
    "sink.compact_s": "sink.compact",
    "sink.read_lookup_s": "sink.read_lookup",
    "sink.read_skipping_s": "sink.read_skipping",
    "sink.read_asof_s": "sink.read_asof",
    "sink.read_changes_s": "sink.read_changes",
    "sink.row_count_s": "sink.row_count",
}
SELF_LAYERS = ["op", "curation", "sink", "commitstore", "queries"]
COUNTERS = (
    ["stream.trigger_s", "stream.offsets_s", "stream.planning_s",
     "stream.add_batch_s", "stream.rows", "curation.kept_frac",
     "sink.files_read_frac", "sink.versions", "sink.live_files",
     "sink.dv_files", "sink.deleted_rows", "sink.data_bytes", "sink.log_bytes",
     "commitstore.claims_lost", "commitstore.bytes_written",
     "commitstore.bytes_read", "stagecache.builds", "stagecache.build_s",
     "stagecache.disk_serves"] +
    ["spark." + m for m in ("jobs", "stages", "tasks", "task_s", "cpu_s",
                            "gc_s", "busy_frac", "shuffle_write_bytes",
                            "shuffle_read_bytes", "spill_bytes", "stage_skew")])


def per_layer_names():
    names = list(COUNTERS) + list(SPAN_SECONDS)
    names += [f"commitstore.{o}.{k}" for o in STORE_OPS for k in ("n", "s")]
    names += [f"queries.{m}.s" for m in QUERY_MODULES]
    names += [f"self.{layer}_s" for layer in SELF_LAYERS]
    names += ["trace.spans", "trace.top_cover_frac", "traced.ops_per_s",
              "traced.cpu_s_per_op"]
    return names


def unit_of(name):
    """Unit of a per-layer metric, from its name."""
    if "bytes" in name:
        return "bytes"
    if name.endswith("ops_per_s"):
        return "1/s"
    if name.endswith(("_s", ".s", "_per_op")):
        return "s"
    if name.endswith(("_frac", "stage_skew")):
        return "ratio"
    return "count"


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest(root):
    h = hashlib.sha256()
    for top in ("src/main", "perfbench/src", "perfbench/build.sbt",
                "perfbench/project/build.properties"):
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, build_dir):
    """Compile engine + harness once per source state; return the
    classpath."""
    stamp = os.path.join(build_dir, "classpath.json")
    digest = source_digest(root)
    if os.path.exists(stamp):
        with open(stamp) as f:
            got = json.load(f)
        if got.get("digest") == digest:
            return got["classpath"]
    tmp = os.path.join(build_dir, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["PERFBENCH_TARGET"] = os.path.join(build_dir, "target")
    env["SBT_OPTS"] = (env.get("SBT_OPTS") or
                       "-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" +
                       os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Xmx2g") + \
        f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    log = os.path.join(build_dir, "build.log")
    t0 = time.time()
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.forcestart=false", "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), env=env, stdout=subprocess.PIPE,
            stderr=out, stdin=subprocess.DEVNULL, text=True,
            timeout=BUILD_TIMEOUT_S)
        out.write(proc.stdout)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or "[" in lines[-1][:1]:
        fail(f"build failed (see {log})")
    classpath = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath,
                   "build_s": time.time() - t0}, f)
    return classpath


JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def run_jvm(classpath, args, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # no hsperfdata file in the system temp directory
    cmd = [java, "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main"] + args
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, cwd=run_dir)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log) as f:
            tail = f.read()[-4000:]
        fail(f"benchmark JVM failed ({code}); log tail:\n{tail}", 1)


def oracle_checks(results_dir, fixture_dir):
    """Hash-compare each dumped query result with its DuckDB oracle on the
    same fixture files (order-insensitive; floats to 9 significant
    digits)."""
    import duckdb
    path = os.path.join(results_dir, "oracle_sql.json")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for t in os.listdir(fixture_dir):
        if t.endswith(".parquet"):
            con.sql(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                    f"'{os.path.join(fixture_dir, t)}'")

    def digest(rel):
        cols = sorted(rel.columns)
        idx = [rel.columns.index(c) for c in cols]
        rows = []
        for r in rel.fetchall():
            cells = []
            for i in idx:
                v = r[i]
                if isinstance(v, float):
                    v = "nan" if math.isnan(v) else float(f"{v:.9g}")
                cells.append(repr(v))
            rows.append("|".join(cells))
        rows.sort()
        return cols, len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()

    checks = []
    for name, sql in sorted(oracles.items()):
        label = f"serve_mix: {name} result hash matches its DuckDB oracle"
        try:
            got = digest(con.sql(f"SELECT * FROM '{results_dir}/{name}/*.parquet'"))
            want = digest(con.sql(sql))
            checks.append({"name": label, "ok": got == want,
                           "detail": f"spark rows={got[1]} oracle rows={want[1]}"
                           + ("" if got[0] == want[0] else
                              f" cols {got[0]} vs {want[0]}")})
        except Exception as e:  # a failing oracle is a failed check
            checks.append({"name": label, "ok": False, "detail": f"error: {e}"})
    return checks


def load_spans(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(ln) for ln in f if ln.strip()]


def layer_metrics(raw, spans, e2e):
    m = {n: 0.0 for n in per_layer_names()}
    for k, v in list(raw["layers"].items()) + list(raw["extras"].items()):
        if k in m and v is not None:
            m[k] = float(v)
    dur = {}
    cnt = {}
    for s in spans:
        d = (s["end_ns"] - s["start_ns"]) / 1e9
        dur[s["name"]] = dur.get(s["name"], 0.0) + d
        cnt[s["name"]] = cnt.get(s["name"], 0) + 1
    for metric, span in SPAN_SECONDS.items():
        m[metric] = dur.get(span, 0.0)
    for o in STORE_OPS:
        m[f"commitstore.{o}.n"] = float(cnt.get(f"commitstore.{o}", 0))
        m[f"commitstore.{o}.s"] = dur.get(f"commitstore.{o}", 0.0)
    for mod in QUERY_MODULES:
        m[f"queries.{mod}.s"] = dur.get(f"queries.{mod}", 0.0)
    selfs = stats.self_times(spans)
    for s in spans:
        layer = s["name"].split(".")[0]
        if layer in SELF_LAYERS:
            m[f"self.{layer}_s"] += selfs[s["id"]]
    top = [(s["start_ns"], s["end_ns"]) for s in spans
           if s["parent"] == -1 and s["name"].startswith("op.")]
    m["trace.spans"] = float(len(spans))
    m["trace.top_cover_frac"] = stats.union_ns(top) / 1e9 / raw["wall_s"]
    m["traced.ops_per_s"] = e2e["ops_per_s"]
    m["traced.cpu_s_per_op"] = e2e["cpu_s_per_op"]
    return m


def named_report(workload, raw, e2e, failed, attempted):
    """Per-operation-kind figures (ingest_rps, batch/merge/read/query
    percentiles, suite_s, failed_frac) with sample counts, printed before
    the result line."""
    ops = raw["ops"]

    def lat(kind, p):
        xs = [s for k, s in ops if k == kind]
        try:
            return stats.percentile(xs, p), len(xs)
        except ValueError:
            return None, len(xs)

    out = [("setup_s", e2e["setup_s"], "s", len(raw["prep_s"])),
           ("peak_rss_mb", e2e["peak_rss_mb"], "MB", 1),
           ("failed_frac", failed / attempted, "ratio", attempted),
           ("stored_bytes_per_row", e2e["stored_bytes_per_row"], "bytes", 1),
           ("ops_per_s", e2e["ops_per_s"], "1/s", len(ops)),
           ("cpu_s_per_op", e2e["cpu_s_per_op"], "s", len(ops))]
    if workload == "curate_docs":
        out.append(("ingest_rps", raw["rows"] / raw["wall_s"], "1/s", raw["rows"]))
        for p in (50, 95):
            v, n = lat("batch", p)
            out.append((f"batch_s_p{p}", v, "s", n))
    if workload == "serve_mix":
        for kind in ("merge", "read", "query", "compact"):
            for p in (50, 90):
                v, n = lat(kind, p)
                out.append((f"{kind}_s_p{p}", v, "s", n))
        cycles = max(1, sum(1 for k, _ in ops if k == "compact"))
        out.append(("suite_s", sum(s for k, s in ops if k == "query") / cycles,
                    "s", cycles))
    for name, v, unit, n in out:
        shown = "n/a (too few samples)" if v is None else f"{v:.6g}"
        print(f"{workload} {name} = {shown} {unit} (n={n})")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala",
                 "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the repository root")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classpath = build(root, build_dir)

    run_dir = os.path.join(build_dir, "runs",
                           f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs = os.path.join(run_dir, "inputs")
    try:
        t0 = time.perf_counter()
        manifest = gen.generate(a.workload, a.seed, inputs)
        gen_s = time.perf_counter() - t0
        raw_path = os.path.join(run_dir, "raw.json")
        run_jvm(classpath, [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                            inputs, os.path.join(run_dir, "work"), raw_path],
                run_dir)
        with open(raw_path) as f:
            raw = json.load(f)
        checks = raw["checks"]
        if a.workload == "serve_mix":
            checks += oracle_checks(os.path.join(run_dir, "work", "results"),
                                    os.path.join(inputs, "fixture"))
        spans = load_spans(os.path.join(run_dir, "spans.jsonl"))
        if a.trace:
            os.makedirs(os.path.join(build_dir, "traces"), exist_ok=True)
            if spans:
                shutil.copy(os.path.join(run_dir, "spans.jsonl"),
                            os.path.join(build_dir, "traces",
                                         f"{a.workload}-s{a.seed}.spans.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    client_ops = [k for k, _ in raw["ops"] if k not in BACKGROUND]
    e2e = {
        "setup_s": (gen_s + raw["spark_start_s"] + stats.median(raw["prep_s"])
                    + raw["warm_s"]),
        "ops_per_s": len(client_ops) / raw["wall_s"],
        "cpu_s_per_op": raw["cpu_s"] / len(client_ops),
        "stored_bytes_per_row": raw["extras"]["stored_bytes_per_row"],
        "peak_rss_mb": raw["peak_rss_mb"],
    }
    # every timed operation and every output check is an attempt; a failed
    # check counts as a failed operation
    bad = [c for c in checks if not c["ok"]]
    attempted = len(raw["ops"]) + len(checks)
    for c in bad:
        print(f"{a.workload} FAILED CHECK: {c['name']}: {c['detail']}")
    print(f"{a.workload} inputs: " + json.dumps(manifest["files"]))
    print(f"{a.workload} sentinels: " + json.dumps(raw["sentinels"]))
    print(f"{a.workload} checks: {len(checks) - len(bad)}/{len(checks)} passed")
    named_report(a.workload, raw, e2e, len(bad), attempted)
    if a.trace:
        print(f"{a.workload} spark jobs by span: " + json.dumps(raw["jobs_by_span"]))
        lm = layer_metrics(raw, spans, e2e)
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in lm.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": not bad, "attempted": attempted,
                      "failed": len(bad), "metrics": metrics}))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
