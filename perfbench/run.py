#!/usr/bin/env python3
"""One benchmark command for the graft engine.

    python3 perfbench/run.py --workload batch_queries --seed 1 --seconds 10 --trace 0

Builds the benchmark (the repository's sources plus perfbench/src) with
sbt when the sources changed, runs one workload in a fresh JVM on
local[nproc], checks the outputs and prints, as its last line, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones of the
traced run. The line before it holds the full detail record. See
perfbench/README.md."""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics as M  # noqa: E402

WORKLOADS = ("batch_queries", "lake_ingest")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
DIGESTS = os.path.join(HERE, "digests.json")
JVM_TIMEOUT_S = 170
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
         "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
         "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
         "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(files)


def build():
    """Compile with sbt unless the classes match the current sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no repository sources next to perfbench/")
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp and os.path.isdir(CLASSES):
        return
    log("building with sbt")
    env = dict(os.environ, SPARK_HOME=spark_home(), COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g"]))
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit("perfbench: build failed")
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def spark_home():
    """SPARK_HOME, or the installation that holds spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise SystemExit("perfbench: set SPARK_HOME to the Spark installation")
    return home


def cpu_ticks():
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def cpus():
    return len(os.sched_getaffinity(0))


def run_jvm(args, work, out):
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()))
    env.pop("SPARK_GRAFT_SESSION_CONF", None)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap and young generation, not pre-touched: the resident
    # set is then the young generation once it has cycled, plus the old
    # generation's high-water mark and native memory, and does not move
    # with when G1 decides to grow the heap
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xmn512m", "-Xss4m", "-XX:+UseG1GC"]
    for o in OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false",
            "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
            "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
            "-Dderby.system.home=" + os.path.join(work, "derby"),
            "-cp", CLASSES + os.pathsep + os.path.join(spark_home(), "jars", "*"),
            "graftbench.Main", args.workload, str(args.seed), str(args.seconds),
            str(args.trace), work, out]
    with open(os.path.join(work, "jvm.log"), "w") as errf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=errf, stderr=errf)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = -9
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"perfbench: benchmark JVM exited with {code}")


# ---------------------------------------------------------------- batch

def batch_summary(rec, expected):
    passes = rec["passes"]
    warm = passes[0]
    observed = {q["name"]: q["digest"] for q in warm["queries"] if q["ok"]}
    wrong = M.digest_mismatches(observed, expected) if expected is not None else []
    execs = [q for p in passes for q in p["queries"]]
    failed = sum(1 for q in execs if not q["ok"]) + len(wrong)
    timed = [p for p in passes if not p["warmup"] and not p["traced"]]
    wall = [(p["end_us"] - p["start_us"]) / 1e6 for p in timed]
    lat_ms = [(q["end_us"] - q["start_us"]) / 1000.0 for p in timed for q in p["queries"]]
    tail, pct, beyond = M.tail_percentile(lat_ms)
    e2e = {
        "suite_s": M.median(wall),
        "latency_p50_ms": M.median(lat_ms),
        "latency_tail_ms": tail,
    }
    detail = {
        "suite_s": e2e["suite_s"], "suite_s_passes": wall,
        "query_p50_s": e2e["latency_p50_ms"] / 1000.0,
        "query_tail_s": tail / 1000.0, "query_tail_percentile": pct,
        "query_tail_samples_beyond": beyond, "query_samples": len(lat_ms),
        "query_latency_ms": {n: M.median([(q["end_us"] - q["start_us"]) / 1000.0
                                          for p in timed for q in p["queries"]
                                          if q["name"] == n])
                             for n in rec["queries"]},
        "queries": rec["queries"], "digests": observed, "digest_mismatches": wrong,
        "errors": sorted({q["name"]: q["error"] for q in execs if not q["ok"]}.items()),
    }
    return e2e, detail, len(execs), failed, observed


def batch_layers(rec):
    traced = [p for p in rec["passes"] if p["traced"]]
    untraced = [p for p in rec["passes"] if not p["warmup"] and not p["traced"]]
    n = len(traced)
    wall = lambda ps: [(p["end_us"] - p["start_us"]) / 1e6 for p in ps]  # noqa: E731
    spans = rec["spans"]
    build = [s for s in spans if s["name"].startswith("SparkEntry.queries/")]
    out = {"build_s": sum(s["end_us"] - s["start_us"] for s in build) / 1e6 / n}
    for s in build:  # groups without a query stay 0 in the result line
        key = "group." + s["name"].split("/", 1)[1] + "_s"
        out[key] = out.get(key, 0.0) + (s["end_us"] - s["start_us"]) / 1e6 / n
    selfs = M.self_times(spans)
    out["harness_self_s"] = sum(selfs[s["id"]] for s in spans
                                if s["name"].startswith("query:")) / 1e6 / n
    windows = [(p["start_us"], p["end_us"]) for p in traced]
    out.update(spark_layers(rec, windows, n))
    t, u = M.median(wall(traced)), M.median(wall(untraced))
    out["trace_overhead"] = t / u
    base = {"trace_overhead_base_suite_s": u, "traced_suite_s": t}
    return out, base


# ----------------------------------------------------------------- lake

def lake_unit_view(unit):
    base = unit["due_us"]
    first_id = 10000000
    idx = lambda d: d - first_id  # noqa: E731
    commits = unit["commits"]
    processed = M.processed_times(commits, unit["emits"], idx)
    lat = M.doc_latencies_ms(base, unit["emits"], idx)
    ref = [c for c in commits if c["phase"] == "reference"]
    ref_docs = [i for c in ref for i in range(c["lo"], c["hi"]) if i in lat]
    ref_lat = [lat[i] for i in ref_docs]
    start = unit["start_us"]
    phases, t = [], start
    for ph in unit["phases"]:
        end = t + int(ph["seconds"] * 1e6)
        phases.append((ph["rate"], t, end))
        t = end
    return commits, processed, ref_lat, phases


def lake_summary(rec):
    unit = [u for u in rec["units"] if not u["traced"]][0]
    commits, processed, ref_lat, phases = lake_unit_view(unit)
    tail, pct, beyond = M.tail_percentile(ref_lat)
    ck = unit["checks"]
    cycle_s = (unit["cycle_end_us"] - unit["last_commit_us"]) / 1e6
    e2e = {
        "suite_s": cycle_s,
        "latency_p50_ms": M.median(ref_lat),
        "latency_tail_ms": tail,
    }
    failed = (ck["missing_verdicts"] + ck["repeated_verdicts"] + ck["unknown_verdicts"] +
              (0 if ck["takedown_ok"] else 1) + (0 if ck["curated"] == ck["curated_batch"] else 1))
    attempted = unit["docs"] + len(commits) + 2
    detail = {
        "ingest_latency_p50_ms": e2e["latency_p50_ms"], "ingest_latency_tail_ms": tail,
        "ingest_latency_tail_percentile": pct, "ingest_latency_samples_beyond": beyond,
        "ingest_latency_samples": len(ref_lat), "maintain_cycle_s": cycle_s,
        "steps_s": unit["steps_s"], "checks": ck, "docs": unit["docs"],
        "inputs_sha256": unit["inputs_sha256"],
        "phases": [{"rate": r, "backlog_end": M.backlog_at(e, commits, processed)}
                   for r, _, e in phases],
    }
    return e2e, detail, attempted, failed


def lake_layers(rec):
    units = {u["tag"]: u for u in rec["units"]}
    unit = units["traced"]
    commits, processed, _, _ = lake_unit_view(unit)
    idx = lambda d: d - 10000000  # noqa: E731
    # the ladder unit: its rungs after the warm-up; a rung also fails if
    # the generator fell a whole commit interval behind (rate not offered)
    lcommits, lprocessed, _, lphases = lake_unit_view(units["ladder"])
    every_us = int(units["ladder"]["phases"][-1]["commit_every_ms"] * 1000)
    lemits = [e["t_us"] for e in units["ladder"]["emits"]]
    rate, held = M.sustained_rate(lphases[1:], lcommits, lprocessed, lemits, every_us,
                                  max_late_us=every_us)
    rungs = [{"rate": r, "held": k <= held,
              "backlog_growth": M.backlog_growth(lemits, s, e, every_us),
              "late_ms_max": max((c["send_us"] - c["due_us"]) / 1000.0 for c in lcommits
                                 if s <= c["due_us"] < e)}
             for k, (r, s, e) in enumerate(lphases[1:])]
    commit_ms = [(c["end_us"] - c["send_us"]) / 1000.0 for c in commits]
    ctail, _, _ = M.tail_percentile(commit_ms)
    late_tail, _, _ = M.tail_percentile(M.generator_lateness_ms(commits))
    progress = [p for p in rec["progress"] if p["num_input_rows"] > 0]
    dur = lambda k: M.median([p["duration_ms"].get(k, 0) for p in progress])  # noqa: E731
    start_of = {p["batch_id"]: p["timestamp_us"] for p in rec["progress"]}
    first_batch = {}
    for e in unit["emits"]:
        for d in e["doc_ids"]:
            first_batch.setdefault(idx(d), e["batch_id"])
    pickup = []
    for c in commits:
        b = min((first_batch[i] for i in range(c["lo"], c["hi"]) if i in first_batch),
                default=None)
        if b is not None and b in start_of:
            pickup.append((start_of[b] - c["end_us"]) / 1000.0)
    events = sorted([c["end_us"] for c in commits] + [p for p in processed if p])
    steps = unit["steps_s"]
    out = {
        "commit_ms_p50": M.median(commit_ms), "commit_ms_tail": ctail,
        "commits": len(commits), "table_files": unit["table_files"],
        "table_bytes": unit["table_bytes"],
        "tail_pickup_ms": M.median(pickup),
        "backlog_versions_max": max((M.backlog_at(t, commits, processed) for t in events),
                                    default=0),
        "trigger_ms_p50": dur("triggerExecution"), "add_batch_ms_p50": dur("addBatch"),
        "query_planning_ms_p50": dur("queryPlanning"),
        "latest_offset_ms_p50": dur("latestOffset"), "get_batch_ms_p50": dur("getBatch"),
        "wal_commit_ms_p50": dur("walCommit"), "commit_offsets_ms_p50": dur("commitOffsets"),
        "state_rows_total": sum(s["rows_total"] for s in progress[-1]["state"]) if progress else 0,
        "state_memory_bytes": max((sum(s["memory_bytes"] for s in p["state"])
                                   for p in progress), default=0),
        "state_commit_ms_p50": M.median([sum(s["commit_ms"] for s in p["state"])
                                         for p in progress]),
        "triggers": len(progress),
        "compact_s": steps["TableLog.compact"], "vacuum_s": steps["TableLog.vacuum"],
        "follow_s": steps["IndexFollower.catchUp"],
        "curate_s": steps["TrainingDataPipeline.curate"],
        "takedown_s": steps["IndexFollower.takedown"],
        "gen_late_ms_tail": late_tail,
        "ingest_sustained_docs_per_s": rate or 0.0,
    }
    out.update(spark_layers(rec, [(unit["start_us"], unit["cycle_end_us"])], 1))
    cyc = lambda u: (u["cycle_end_us"] - u["last_commit_us"]) / 1e6  # noqa: E731
    out["trace_overhead"] = cyc(units["traced"]) / cyc(units["untraced"])
    base = {"trace_overhead_base_suite_s": cyc(units["untraced"]),
            "traced_suite_s": cyc(units["traced"]), "ladder": rungs,
            # every rung held: the sustained rate is only a lower bound
            "ingest_sustained_lower_bound": held == len(rungs) - 1}
    return out, base


# ---------------------------------------------------------------- shared

def spark_layers(rec, windows, n):
    """Scheduler, task, exchange and planning totals of the traced work,
    per traced pass."""
    stages = rec["stages"]
    plans = rec["plans"]
    wall = sum(e - s for s, e in windows)
    covered = M.interval_union_us([(s["submit_us"], s["complete_us"]) for s in stages
                                   if s["submit_us"] and s["complete_us"]])
    tot = lambda k: sum(s[k] for s in stages)  # noqa: E731
    plan_us = sum(ph["end_us"] - ph["start_us"] for p in plans for ph in p["phases"].values())
    return {
        "plan_s": plan_us / 1e6 / n,
        "jobs": len(rec["jobs"]) / n, "stages": len(stages) / n, "tasks": tot("tasks") / n,
        "driver_only_s": max(0.0, wall - covered) / 1e6 / n,
        "task_run_s": tot("run_ms") / 1e3 / n, "task_cpu_s": tot("cpu_ns") / 1e9 / n,
        "gc_s": tot("gc_ms") / 1e3 / n,
        "shuffle_write_bytes": tot("shuffle_write_bytes") / n,
        "shuffle_read_bytes": tot("shuffle_read_bytes") / n,
        "fetch_wait_s": tot("fetch_wait_ms") / 1e3 / n,
        "spill_bytes": tot("spill_bytes") / n,
    }


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", action="store_true",
                    help="store the warm-up digests as the expected ones")
    args = ap.parse_args()
    spec = load_spec()
    build()
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "record.json")
    try:
        steal0, total0 = cpu_ticks()
        run_jvm(args, work, out)
        steal1, total1 = cpu_ticks()
        with open(out) as fh:
            rec = json.load(fh)
        if rec["workload"] == "lake_ingest":
            e2e, detail, attempted, failed = lake_summary(rec)
        else:
            expected = None
            if os.path.exists(DIGESTS) and not args.record_digests:
                expected = json.load(open(DIGESTS)).get(args.workload, {})
            e2e, detail, attempted, failed, observed = batch_summary(rec, expected)
            if args.record_digests:
                stored = json.load(open(DIGESTS)) if os.path.exists(DIGESTS) else {}
                stored[args.workload] = observed
                with open(DIGESTS, "w") as fh:
                    json.dump(stored, fh, indent=1, sort_keys=True)
                    fh.write("\n")
        e2e["setup_s"] = rec["setup_s"]
        e2e["rss_peak_mb"] = rec["rss_peak_mb"]
        detail.update({"workload": args.workload, "seed": args.seed, "cpus": rec["cpus"],
                       "env": rec["env"], "setup_session_s": rec["setup_session_s"],
                       "setup_fixture_s": rec["setup_fixture_s"],
                       "error_rate": failed / attempted,
                       # CPU time the hypervisor gave to other guests
                       "steal_share": (steal1 - steal0) / max(1, total1 - total0),
                       "wall_s": time.time() - t_start})
        if args.trace:
            layers, base = (lake_layers if rec["workload"] == "lake_ingest"
                            else batch_layers)(rec)
            detail["trace"] = base
            zero = {m["name"]: 0 for m in spec["per_layer"]}
            chosen = {**zero, **{k: v for k, v in layers.items() if k in zero}}
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            with open(os.path.join(HERE, ".work", f"spans-{args.workload}-{args.seed}.json"),
                      "w") as fh:
                json.dump(rec["spans"], fh)
        else:
            chosen = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        detail["end_to_end"] = e2e
        print(json.dumps({"detail": detail}, sort_keys=True))
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in chosen.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
