#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload batch_mix --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run builds the library and the
harness (perfbench/jvm) with sbt; later runs reuse the build while the
sources are unchanged. Each run is a fresh JVM with fresh directories
under .bench_build/perfbench/. The last stdout line is the result JSON;
the full record of every run is kept in .bench_build/perfbench/artifacts/.
See perfbench/README.md for the workloads and metrics."""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import arith  # noqa: E402

DATA = os.path.join(HERE, "data", "sf0.1")
JVM_TIMEOUT_S = 165

# Stateless queries timed by batch_mix, each with the operators module
# it exercises. Fixed for every seed; the seed only shuffles the order.
BATCH_QUERIES = {
    "q_topk_agg": "Relational",
    "q_window_tumbling": "Windows",
    "q_asof_join": "AsOfJoin",
    "q_doc_dedup_exact": "Dedup",
    "q_mmr_rerank": "Similarity",
    "q_bm25": "Corpus",
    "q_sketch_overlap": "Sketches",
    "q_ols_holdout": "Regression",
    "q_image_neardup": "Multimodal",
    "q_feature_matrix": "FeatureMatrix",
}
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_hash(root):
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/jvm/build.sbt", "perfbench/jvm/project/build.properties",
            "perfbench/jvm/src"]
    for top in tops:
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build(root, state):
    """Compiles graft and the harness, one build at a time; returns the
    runtime classpath."""
    with open(os.path.join(state, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _build(root, state)


def _build(root, state):
    cp_file = os.path.join(state, f"classpath-{source_hash(root)}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(state, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true",
                            "-Dsbt.server.forcestart=false", "compile",
                            "export perfbench/Runtime/fullClasspath"],
                           cwd=os.path.join(root, "perfbench", "jvm"), env=env,
                           stdout=subprocess.PIPE, stderr=fh, text=True, timeout=840)
        fh.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if r.returncode != 0 or not lines:
        fail(f"build failed, see {log}")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    return lines[-1]


# ----------------------------------------------------------------- plan

# The legs of each workload; the first is its closed loop.
WORKLOADS = {"batch_mix": ["batch_mix"], "ingest": ["view_ticks", "stream_ingest"]}
# The leg metric each workload prints as throughput_per_s.
THROUGHPUT = {"batch_mix": "batch.queries_per_s", "ingest": "stream.achieved_msgs_per_s"}


def make_plan(workload, seed, seconds, trace, work, cpus):
    """The program's inputs for one run. The legs of a workload share
    the run's seconds equally."""
    legs = WORKLOADS[workload]
    cfg = {
        "batch_mix": lambda: {"queries": arith.batch_order(seed, BATCH_QUERIES)},
        "view_ticks": lambda: arith.view_schedule(seed),
        "stream_ingest": lambda: {
            "rate": 50000, "sources": 2, "offset": arith.stream_offset(seed, 100000),
            "window": "30 seconds", "trigger": "1 second", "warmup_s": 6,
            "start_phase_ms": 250},
    }
    return {"workload": workload, "seed": seed, "trace": bool(trace), "data": DATA,
            "work": work, "cpus": cpus,
            "legs": {leg: dict(cfg[leg](), seconds=seconds / len(legs)) for leg in legs}}


# -------------------------------------------------------------- metrics

def by_name(spans, name, leg):
    t0, t1 = leg["t0"], leg["t1"]
    return [s for s in spans if s["name"] == name and t0 <= s["t0"] and s["t1"] <= t1]


def dur(s):
    return s["t1"] - s["t0"]


class Trace:
    """Jobs and Catalyst phases of a traced run, attached to spans."""

    def __init__(self, rec):
        self.spans = rec["spans"]
        self.jobs = rec.get("jobs", [])
        self.phases = [p for p in rec.get("phases", [])
                       if p["phase"] in ("analysis", "optimization", "planning")]

    def jobs_in(self, span):
        ids = set(arith.subtree(self.spans, span["id"]))
        return [j for j in self.jobs if j["span"] in ids]

    def plan_ms(self, span):
        return arith.union_length([(p["t0"], p["t1"]) for p in self.phases],
                                  span["t0"], span["t1"])

    def driver_ms(self, span):
        busy = [(j["t0"], j["t1"]) for j in self.jobs_in(span)]
        busy += [(p["t0"], p["t1"]) for p in self.phases]
        return dur(span) - arith.union_length(busy, span["t0"], span["t1"])


def health_metrics(rec):
    h = rec["health"]
    cal = {k: (h["cal_pre"][k] + h["cal_post"][k]) / 2 for k in ("spin_ms", "spark_ms")}
    timed_ms = sum(leg["t1"] - leg["t0"] for leg in rec["legs"].values())
    return {
        "jvm.heap_after_gc_mb": (h["heap_after_gc_mb"], "MB"),
        "jvm.gc_pause_ms": (h["gc_pause_ms"], "ms"),
        "jvm.threads": (h["threads"], "count"),
        "spark.persisted_rdds": (h["persisted_rdds"], "count"),
        "disk.scratch_mb": (h["scratch_mb"], "MB"),
        "cal.spin_ms": (cal["spin_ms"], "ms"),
        "cal.spark_ms": (cal["spark_ms"], "ms"),
        "trace.overhead": (rec.get("tracer_ms", 0.0) / timed_ms, "ratio"),
    }


def loop_metrics(rec, rounds):
    """The metrics every workload prints, over its closed loop: rounds of
    operations, each operation a top span (batch_mix: passes of queries;
    ingest: cycles of view ticks)."""
    ops = [s for r in rounds for s in r]
    walls = [max(s["t1"] for s in r) - min(s["t0"] for s in r) for r in rounds]
    e2e = {
        "wall_s": (arith.median(walls) / 1000, "s"),
        "op_p90_ms": (arith.percentile([dur(s) for s in ops], 90), "ms"),
    }
    layer = {}
    if rec.get("jobs") is not None:
        tr = Trace(rec)

        def per_round(f):
            return arith.median([sum(f(s) for s in r) for r in rounds])
        layer = {
            "op_p50_ms": (arith.percentile([dur(s) for s in ops], 50), "ms"),
            "plan_ms": (per_round(tr.plan_ms), "ms"),
            "jobs": (per_round(lambda s: len(tr.jobs_in(s))), "count"),
            "tasks": (per_round(lambda s: sum(j["tasks"] for j in tr.jobs_in(s))), "count"),
            "job_busy_ms": (per_round(lambda s: arith.union_length(
                [(j["t0"], j["t1"]) for j in tr.jobs_in(s)], s["t0"], s["t1"])), "ms"),
            "driver_ms": (per_round(tr.driver_ms), "ms"),
        }
    return e2e, layer


def batch_metrics(rec, failed_queries):
    timed = rec["legs"]["batch_mix"]
    qs = [s for s in by_name(rec["spans"], "query", timed) if s["pass"] >= 0]
    passes = {}
    for s in qs:
        passes.setdefault(s["pass"], []).append(s)
    rounds = [passes[p] for p in sorted(passes)]
    failed = sum(1 for s in qs if s["error"] or s["query"] in failed_queries)
    e2e = {"batch.queries_per_s": (len(qs) / ((timed["t1"] - timed["t0"]) / 1000), "1/s")}
    layer = {}
    if rec.get("jobs") is not None:
        for m in BATCH_QUERIES.values():
            layer[f"batch.op.{m}_ms"] = (arith.median([sum(
                dur(s) for s in r if BATCH_QUERIES[s["query"]] == m) for r in rounds]), "ms")
    return e2e, layer, len(qs), failed, qs, rounds


def views_metrics(rec, check_failures, cycle):
    spans, timed = rec["spans"], rec["legs"]["view_ticks"]
    ticks = [s for s in by_name(spans, "tick", timed) if not s["warm"]]
    tick_of = {i: t for t in ticks for i in arith.subtree(spans, t["id"])}

    def within(name):
        return [s for s in spans if s["name"] == name and s["id"] in tick_of]

    cycles = [ticks[i:i + cycle] for i in range(0, len(ticks), cycle)]
    ops = within("tick.agg") + within("read.agg")
    failed = sum(1 for s in ops if s["error"]) + check_failures
    e2e = {
        "views.agg_tick_p50_ms": (arith.percentile([dur(s) for s in within("tick.agg")], 50), "ms"),
        "views.read_p50_ms": (arith.percentile([dur(s) for s in within("read.agg")], 50), "ms"),
    }
    layer = {}
    if rec.get("jobs") is not None:
        tr = Trace(rec)
        deletes = within("snapshots.deleteWhere")
        st = rec["out"]["view_ticks"]["storage"]
        boot = [s for s in spans if s["name"] == "bootstrap.agg"][0]
        layer = {
            "views.commit_ms_p50": (arith.percentile([dur(s) for s in within("snapshots.commit")], 50), "ms"),
            "views.delete_ms_p50": (arith.percentile([dur(s) for s in deletes], 50), "ms"),
            "views.delete_jobs_per_tick": (arith.median([len(tr.jobs_in(s)) for s in deletes]), "count"),
            "views.agg_refresh_ms_p50": (arith.percentile([dur(s) for s in within("views.refreshAgg")], 50), "ms"),
            "views.agg_jobs_per_tick": (arith.median([len(tr.jobs_in(s)) for s in within("tick.agg")]), "count"),
            "views.agg_bootstrap_ms": (dur(boot), "ms"),
            "views.data_files": (st["data_files"], "count"),
            "views.space_amp": (st["disk_bytes"] / st["live_source_bytes"], "ratio"),
            "views.tick_drift": (arith.drift([dur(t) for t in ticks if not t["delete"]]), "ratio"),
        }
    return e2e, layer, len(ops), failed, ticks, cycles


def stream_metrics(rec, check_failures, rows):
    out, leg = rec["out"]["stream_ingest"], rec["legs"]["stream_ingest"]
    t0, t1 = leg["t0"], leg["t1"]
    progress = {p["batch"]: p for p in out["progress"]}
    commits = {c["batch"]: c for c in out["commits"]}
    timed = sorted(b for b, p in progress.items() if t0 <= p["t0"] < t1)
    if not timed:
        raise RuntimeError("no micro-batch in the timed part")
    failed = sum(1 for b in timed if b not in commits) + check_failures
    failed += 1 if out.get("failure") else 0
    rates = [progress[b]["rows_per_s"] for b in timed if progress[b]["rows_per_s"] > 0]
    e2e = {"stream.achieved_msgs_per_s": (arith.median(rates), "1/s")}
    # trigger spans, with the sink commit as the child span
    units = []
    for b in timed:
        p = progress[b]
        trig = {"id": f"t{b}", "parent": None, "name": "trigger", "t0": p["t0"],
                "t1": p["t0"] + p["duration_ms"].get("triggerExecution", 0), "error": None}
        units.append(trig)
        if b in commits:
            c = commits[b]
            units.append({"id": f"c{b}", "parent": trig["id"], "name": "sink.commit",
                          "t0": c["t0"], "t1": c["t1"], "error": None})
    layer = {}
    if rec.get("jobs") is not None:
        end = {b: c["t1"] for b, c in commits.items()}
        lat_rows = [(b, last) for b, last, _, _ in rows]
        lat = arith.stream_latencies(lat_rows, end, set(timed))
        d = [progress[b]["duration_ms"] for b in timed]
        per_batch_lat = [arith.median(x) for x in (
            arith.stream_latencies(lat_rows, end, {b}) for b in timed) if x]
        ref = [pe - first for b, _, first, pe in rows if b in set(timed)]
        jobs_by_batch = {}
        for j in rec["jobs"]:
            jobs_by_batch[j["batch"]] = jobs_by_batch.get(j["batch"], 0) + 1
        last = progress[timed[-1]]
        layer = {
            "stream.latency_p50_ms": (arith.percentile(lat, 50), "ms"),
            "stream.latency_p95_ms": (arith.percentile(lat, 95), "ms"),
            "stream.query_planning_ms_p50": (arith.percentile([x.get("queryPlanning", 0) for x in d], 50), "ms"),
            "stream.jobs_per_trigger": (arith.median([jobs_by_batch.get(b, 0) for b in timed]), "count"),
            "stream.sink_commit_ms_p50": (arith.percentile(
                [dur(commits[b]) for b in timed if b in commits], 50), "ms"),
            "stream.sink_files": (out["sink_files"], "count"),
            "stream.trigger_ms_p50": (arith.percentile([x["triggerExecution"] for x in d], 50), "ms"),
            "stream.trigger_ms_p95": (arith.percentile([x["triggerExecution"] for x in d], 95), "ms"),
            "stream.addbatch_ms_p50": (arith.percentile([x.get("addBatch", 0) for x in d], 50), "ms"),
            "stream.offset_commit_ms_p50": (arith.percentile(
                [x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d], 50), "ms"),
            "stream.rows_per_trigger": (arith.median([progress[b]["rows"] for b in timed]), "count"),
            "stream.state_rows": (last["state_rows"], "count"),
            "stream.state_mem_mb": (last["state_bytes"] / 1048576.0, "MB"),
            "stream.ref_latency_p50_ms": (arith.percentile(ref, 50), "ms"),
            "stream.latency_drift": (arith.drift(per_batch_lat), "ratio"),
        }
    return e2e, layer, len(timed), failed, units, None


# ---------------------------------------------------------- correctness

def check_batch(check, root):
    """Queries whose result differs from the oracle (or has none), by the
    repository's DuckDB oracle compare (tools/check.py)."""
    import duckdb
    sys.path.insert(0, os.path.join(root, "tools"))
    from check import canon_df
    con = duckdb.connect()
    for t in ("events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA}/{t}.parquet')")
    bad = {q: "query failed" for q in check["failed"]}
    for q, sql in check["oracle"].items():
        if q in bad:
            continue
        mine = canon_df(con.sql(
            f"SELECT * FROM read_parquet('{check['dir']}/{q}/*.parquet')").df())
        try:
            want = canon_df(con.sql(sql).df())
        except Exception as e:  # an oracle that cannot run is a failed check
            bad[q] = f"oracle: {e}"
            continue
        if mine[3] or want[3] or mine[:3] != want[:3]:
            bad[q] = "result differs from the DuckDB oracle"
    for q in BATCH_QUERIES:
        if q not in check["oracle"] and q not in bad:
            bad[q] = "no oracle SQL"
    return bad


def check_views(check):
    if "error" in check:
        return {"error": check["error"]}
    if not check["view_equal"] or check["view_rows"] == 0:
        return {"view": "differs from a fresh refresh over the final source (or is empty)"}
    return {}


def check_stream(check):
    if "error" in check:
        return {"error": check["error"]}
    bad = {}
    if check["missing_progress"]:
        bad["progress"] = "a committed batch has no progress"
    if check["source_rows"] != check["counted_rows"] or check["source_rows"] == 0:
        bad["counts"] = f"windows count {check['counted_rows']} of {check['source_rows']} rows"
    if not check["windows_equal"]:
        bad["windows"] = "committed windows differ from the batch pipeline"
    return bad


# ----------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout (build.sbt and src/main/scala/graft)")
    if not os.path.isdir(DATA):
        fail(f"input tables missing: {DATA}")
    state = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(state, exist_ok=True)
    cp = build(root, state)

    stamp = f"{args.workload}-s{args.seed}-t{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    work = os.path.join(state, "runs", stamp)
    os.makedirs(os.path.join(work, "tmp"))
    cpus = len(os.sched_getaffinity(0))
    plan = make_plan(args.workload, args.seed, args.seconds, args.trace, work, cpus)
    plan_path = os.path.join(work, "plan.json")
    with open(plan_path, "w") as fh:
        json.dump(plan, fh)

    java = ["java", "-Xmx4g", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    java += ["-cp", cp, "perfbench.Main", plan_path]
    spawn = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(java, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    jvm_s = time.time() - spawn
    record_path = os.path.join(work, "record.json")
    if code != 0 or not os.path.exists(record_path):
        fail(f"the JVM ended with {code}, see {work}/jvm.log")
    with open(record_path) as fh:
        rec = json.load(fh)
    detail_e2e, detail_layer, bad, gaps = {}, {}, {}, {}
    attempted = failed = 0
    for leg in plan["legs"]:
        out = rec["out"][leg]
        if leg == "batch_mix":
            leg_bad = check_batch(out["check"], root)
            m = batch_metrics(rec, leg_bad)
        elif leg == "view_ticks":
            leg_bad = check_views(out["check"])
            m = views_metrics(rec, len(leg_bad), plan["legs"][leg]["cycle"])
        else:
            import pyarrow.parquet as pq
            t = pq.read_table(out["latency_dir"]).to_pydict()
            rows = list(zip(t["batch_id"], t["max_value"], t["min_value"],
                            t["processing_end_ts"]))
            leg_bad = check_stream(out["check"])
            m = stream_metrics(rec, len(leg_bad), rows)
        detail_e2e.update(m[0])
        detail_layer.update(m[1])
        attempted += m[2]
        failed += m[3]
        if m[5] is not None:
            e2e, layer = loop_metrics(rec, m[5])
        bad.update({f"{leg}.{k}": v for k, v in leg_bad.items()})
        if args.trace:
            spans = m[4] if leg == "stream_ingest" else rec["spans"]
            gaps.update({str(u["id"]): arith.self_time_gap(spans, u["id"])
                         for u in m[4] if u["parent"] in (None, -1)})
    legs = list(rec["legs"].values())
    e2e["setup_s"] = (legs[0]["ready"] / 1000.0 - spawn
                      + sum(l["ready"] - l["begin"] for l in legs[1:]) / 1000.0, "s")
    e2e["throughput_per_s"] = detail_e2e[THROUGHPUT[args.workload]]
    if args.trace:
        layer.update(health_metrics(rec))
        worst = max(gaps.values(), default=0.0)
        if worst > 0.05:
            print(f"perfbench: span self times miss a wall by {worst:.1%}", file=sys.stderr)
    metrics = layer if args.trace else e2e
    result = {"correct": not bad and failed == 0, "attempted": attempted,
              "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())}}

    artifacts = os.path.join(state, "artifacts")
    os.makedirs(artifacts, exist_ok=True)
    with open(os.path.join(artifacts, stamp + ".json"), "w") as fh:
        json.dump({"plan": plan, "result": result, "end_to_end": e2e, "per_layer": layer,
                   "leg_end_to_end": detail_e2e, "leg_per_layer": detail_layer,
                   "check_failures": bad, "self_time_gaps": gaps,
                   "wall_s": {"jvm": jvm_s, "run": time.time() - spawn}, "record": rec}, fh)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
