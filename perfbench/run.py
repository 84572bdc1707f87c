#!/usr/bin/env python3
"""graft's benchmark: one command, three workloads, outputs checked.

  python3 perfbench/run.py --workload near_stream|near_backfill|iterative \
      --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds graft plus the harness
(sbt, offline) into perfbench/target and writes the input tables into
.bench_build/data; later runs reuse both. The last line of standard output
is one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 they are the
per-layer ones, a per-query and per-trigger ledger goes to
.bench_build/ledger/, and if the same seed already ran untraced the lines
before the JSON also print the tracing overhead. See perfbench/README.md.
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

import metrics as M

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("near_stream", "near_backfill", "iterative")
QUERIES = {
    "near_backfill": ["near_dedup", "near_roa_join", "near_transfers",
                      "near_balances", "near_multi_balances", "q_bigint_sum"],
    "iterative": ["q_dedup_decision", "q_nndescent_recall"],
}
# A batch workload's p50_ms: the median latency of this one query.
P50_QUERY = {"near_backfill": "near_dedup", "iterative": "q_nndescent_recall"}
RUNGS = ("lo", "hi", "overload")
# near_stream's tail_ms: this percentile of the freshness of the lo and hi
# rungs' legs. They carry about 380 legs, so p90 keeps at least 10 beyond.
TAIL_P = 90.0
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_hash(paths):
    h = hashlib.sha1()
    for top in paths:
        if os.path.isfile(top):
            files = [top]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft and the harness once per source tree; return the
    classpath and the sources' digest."""
    sources = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt")]
    stamp = os.path.join(BUILD, "classpath.json")
    digest = tree_hash(sources)
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached["digest"] == digest:
            return cached["classpath"], digest
    log("building graft and the harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    submit = shutil.which("spark-submit")
    if "SPARK_HOME" not in env and submit:
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
            f"-Djava.io.tmpdir={tmp}", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("sbt build failed")
    cp = [l for l in out.stdout.splitlines() if "scala-2.13/classes" in l][-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    return cp, digest


def inputs():
    """The benchmark's own input tables, made once per generator version."""
    out = os.path.join(BUILD, "data")
    stamp = os.path.join(out, "STAMP")
    digest = tree_hash([os.path.join(HERE, "gen.py")])
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return out
    log("generating input tables")
    shutil.rmtree(out, ignore_errors=True)
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), out], check=True)
    with open(stamp, "w") as f:
        f.write(digest)
    return out


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cp, data, workload, seed, seconds, trace, cores):
    """One harness JVM; returns its raw result dict."""
    tag = f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}"
    tmp = os.path.join(BUILD, "tmp", tag)
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(tmp, "result.json")
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-cp", cp, "graft.perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--data", data, "--out", out,
            "--tmp", tmp, "--cores", str(cores)]
    logfile = os.path.join(BUILD, "logs", f"{tag}.log")
    try:
        with open(logfile, "w") as lf:
            proc = subprocess.Popen(cmd, cwd=tmp, stdout=lf, stderr=subprocess.STDOUT)
            try:
                code = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                raise SystemExit(f"harness timed out; see {logfile}")
            finally:
                # also on SIGTERM (see main): never leave the JVM behind
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if code != 0 or not os.path.exists(out):
            with open(logfile) as lf:
                sys.stderr.write("".join(lf.readlines()[-40:]))
            raise SystemExit(f"harness failed ({code}); see {logfile}")
        with open(out) as f:
            return json.load(f)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------- metrics

def med(xs):
    return statistics.median(xs) if xs else 0.0


def stream_view(r):
    """Per-rung freshness, backlog and trigger figures of a near_stream run."""
    rungs, legs, sends = r["rungs"], r["legs"], r["sends"]
    trigs = M.triggers(r["progress"], r["epoch_wall_ms"])
    view = {}
    for rung in rungs:
        name = rung["name"]
        fresh = M.freshness_ms(legs, rungs, name)
        tail_p = M.tail_percentile(len(fresh))  # None below 20 legs
        samples = M.backlog_samples(trigs, sends, rung["start_ns"], rung["end_ns"])
        inside = [t for t in trigs
                  if rung["start_ns"] <= t["start_ns"] < rung["end_ns"] and t["rows"] > 0]
        view[name] = {
            "rate": rung["rate"], "fresh": fresh,
            "p50": M.percentile(fresh, 50) if fresh else None,
            "tail": M.percentile(fresh, tail_p) if tail_p else None,
            "backlog_max": max(y for _, y in samples),
            "backlog_end": samples[-1][1],
            "late_ms": M.generator_late_ms(sends, rungs, name),
            "triggers": inside,
            "emits": [e for i, e in legs if rung["first"] <= i < rung["first"] + rung["rows"]],
        }
    return view


def end_to_end(workload, r):
    """The four end-to-end figures: setup_s, pass_s, p50_ms, tail_ms."""
    if workload == "near_stream":
        v = stream_view(r)
        lo = next(x for x in r["rungs"] if x["name"] == "lo")
        over = next(x for x in r["rungs"] if x["name"] == "overload")
        fresh = v["lo"]["fresh"] + v["hi"]["fresh"]
        if (M.tail_percentile(len(fresh)) or 0) < TAIL_P:
            raise SystemExit(f"only {len(fresh)} legs; p{TAIL_P} needs more")
        return {
            # the harness clock starts before the query is built, so the
            # start of lo covers building and starting it, the warm-up
            # triggers and their drain
            "setup_s": r["session_s"] + r["setup"]["feed_s"] + lo["start_ns"] / 1e9,
            "pass_s": (max(v["overload"]["emits"]) - over["start_ns"]) / 1e9,
            "p50_ms": M.percentile(fresh, 50),
            "tail_ms": M.percentile(fresh, TAIL_P),
        }
    passes = r["passes"]
    per_query = {}
    for q in (q for p in passes for q in p["queries"]):
        per_query.setdefault(q["name"], []).append(q["total_s"] * 1e3)
    # nearest-rank medians, so each figure is one measured execution
    query_p50 = {name: M.percentile(v, 50) for name, v in per_query.items()}
    return {
        "setup_s": r["session_s"] + r["setup"]["warmup_s"],
        "pass_s": med([p["wall_s"] for p in passes]),
        "p50_ms": query_p50[P50_QUERY[workload]],
        "tail_ms": max(query_p50.values()),
    }


def checks(workload, r, pins):
    """(attempted, failed, notes): every checked output counts once."""
    notes = []
    if workload == "near_stream":
        c = r["check"]
        late = sum(op.get("numRowsDroppedByWatermark", 0)
                   for p in r["progress"] for op in p.get("stateOperators", []))
        if c["legs_diff"]:
            notes.append(f"{c['legs_diff']} transfer legs differ from the batch twin")
        if c["balances_diff"]:
            notes.append(f"{c['balances_diff']} balances differ from the batch twin")
        if late:
            notes.append(f"{late} rows dropped as late")
        return (c["legs"] + c["accounts"] + 1,
                c["legs_diff"] + c["balances_diff"] + (1 if late else 0), notes)
    runs = list(r["warmup"]) + [q for p in r["passes"] for q in p["queries"]]
    failed = 0
    for q in runs:
        if "error" in q:
            failed += 1
            notes.append(f"{q['name']}: {q['error']}")
        elif pins.get(q["name"]) != q["fingerprint"]:
            failed += 1
            notes.append(f"{q['name']}: fingerprint {q['fingerprint']} != pinned "
                         f"{pins.get(q['name'])}")
    return len(runs), failed, notes


def per_layer(workload, r):
    """Every per-layer metric, 0 where the workload does not use the layer."""
    out = {}
    # construction, scheduling, executor, Catalyst: per pass of a batch
    # workload; over the measured rungs (lo, hi, overload) of near_stream
    if workload == "near_stream":
        v = stream_view(r)
        tt = r["trigger_trace"]
        units = [tt.get(str(t["batch"]), {}) for n in RUNGS for t in v[n]["triggers"]]
        t0 = next(x for x in r["rungs"] if x["name"] == "lo")["start_ns"]
        t1 = max(v["overload"]["emits"])
        wall_s = (t1 - t0) / 1e9
        idle = r["idle_s"]
    else:
        units = [p["trace"] for p in r["passes"]]
        wall_s = med([p["wall_s"] for p in r["passes"]])
        idle = med([p["trace"]["idle_s"] for p in r["passes"]])
    n = len(r["passes"]) if workload != "near_stream" else 1

    def total(k):
        return sum(u.get(k, 0) for u in units) / n

    qs = [q for p in r.get("passes", []) for q in p["queries"] if "trace" in q]
    out["queries.construct_s"] = sum(q["construct_s"] for q in qs) / n if qs else 0.0
    out["queries.construct_jobs"] = sum(q["trace"]["construct_jobs"] for q in qs) / n if qs else 0.0
    for name in dict.fromkeys(QUERIES["iterative"] + QUERIES.get(workload, [])):
        out[f"queries.{name}.s"] = med([q["total_s"] for q in qs if q["name"] == name])
    actions = total("actions")
    out["catalyst.plan_ms"] = total("plan_ms") / actions if actions else 0.0
    for k in ("jobs", "stages", "tasks"):
        out[f"scheduler.{k}"] = total(k)
    out["scheduler.idle_s"] = idle
    for k in ("task_s", "cpu_s", "shuffle_write_mb", "spill_mb", "gc_s"):
        out[f"executor.{k}"] = total(k)
    cores = r["provenance"]["cores"]
    out["executor.util"] = total("task_s") / (wall_s * cores) if wall_s else 0.0
    s = r.get("setup", {})
    out["setup.session_s"] = r["session_s"]
    out["setup.warmup_s"] = s.get("warmup_s", 0.0)
    out["sources.feed_s"] = s.get("feed_s", 0.0)
    if workload == "near_stream":
        lo = next(x for x in r["rungs"] if x["name"] == "lo")
        out["setup.warmup_s"] = lo["start_ns"] / 1e9
    out["storage.persisted_rdds"] = r["storage"]["persisted_rdds"]
    out["storage.retained_mb"] = r["storage"]["retained_mb"]
    out.update(stream_layers(workload, r))
    return out


STREAM_KEYS = ("streaming.{r}.triggers", "streaming.{r}.rows_per_trigger",
               "streaming.{r}.trigger_ms", "streaming.{r}.plan_ms",
               "streaming.{r}.add_batch_ms", "streaming.{r}.wal_ms",
               "scheduler.{r}.tasks_per_trigger", "executor.{r}.task_s_per_trigger",
               "state.{r}.rows", "state.{r}.mb", "state.{r}.commit_ms",
               "state.{r}.update_ms", "state.{r}.dup_dropped", "state.{r}.dropped_late",
               "sinks.{r}.transfers_ms", "sinks.{r}.upsert_ms",
               "sources.{r}.backlog_rows_max", "sources.{r}.backlog_rows_end",
               "sources.{r}.gen_late_ms", "streaming.{r}.fresh_p50_ms",
               "streaming.{r}.fresh_tail_ms")


def stream_layers(workload, r):
    out = {k.format(r=rung): 0.0 for rung in ("lo", "hi") for k in STREAM_KEYS}
    out["streaming.local1.lo_fresh_p50_ms"] = 0.0
    out["streaming.overload.rows_per_s"] = 0.0
    if workload != "near_stream":
        return out
    v = stream_view(r)
    tt = r["trigger_trace"]
    for rung in ("lo", "hi"):
        x = v[rung]
        ts = x["triggers"]
        nt = len(ts) or 1

        def mean_dur(key):
            return sum(t["p"]["durationMs"].get(key, 0) for t in ts) / nt

        def state_sum(key):
            return [sum(op.get(key, 0) for op in t["p"].get("stateOperators", []))
                    for t in ts]

        def state_custom(key):
            return sum(op.get("customMetrics", {}).get(key, 0)
                       for t in ts for op in t["p"].get("stateOperators", []))

        sinks = [s for s in r["sink_log"]
                 if any(t["start_ns"] <= s[0] <= t["end_ns"] + 5e8 for t in ts)]
        f = {
            "streaming.{r}.triggers": len(ts),
            "streaming.{r}.rows_per_trigger": sum(t["rows"] for t in ts) / nt,
            "streaming.{r}.trigger_ms": mean_dur("triggerExecution"),
            "streaming.{r}.plan_ms": mean_dur("queryPlanning"),
            "streaming.{r}.add_batch_ms": mean_dur("addBatch"),
            "streaming.{r}.wal_ms": mean_dur("walCommit") + mean_dur("commitOffsets"),
            "scheduler.{r}.tasks_per_trigger":
                sum(tt.get(str(t["batch"]), {}).get("tasks", 0) for t in ts) / nt,
            "executor.{r}.task_s_per_trigger":
                sum(tt.get(str(t["batch"]), {}).get("task_s", 0) for t in ts) / nt,
            "state.{r}.rows": med(state_sum("numRowsTotal")),
            "state.{r}.mb": med(state_sum("memoryUsedBytes")) / 1e6,
            "state.{r}.commit_ms": sum(state_sum("commitTimeMs")) / nt,
            "state.{r}.update_ms": sum(state_sum("allUpdatesTimeMs")) / nt,
            "state.{r}.dup_dropped": state_custom("numDroppedDuplicateRows"),
            "state.{r}.dropped_late": sum(state_sum("numRowsDroppedByWatermark")),
            "sinks.{r}.transfers_ms": med([s[1] for s in sinks]),
            "sinks.{r}.upsert_ms": med([s[2] for s in sinks]),
            "sources.{r}.backlog_rows_max": x["backlog_max"],
            "sources.{r}.backlog_rows_end": x["backlog_end"],
            "sources.{r}.gen_late_ms": x["late_ms"],
            "streaming.{r}.fresh_p50_ms": x["p50"] or 0.0,
            "streaming.{r}.fresh_tail_ms": x["tail"] or 0.0,
        }
        out.update({k.format(r=rung): val for k, val in f.items()})
    # the pipeline's capacity as measured: rows per second of trigger time
    # while it works off the overload rung (nothing is sent after it)
    over = next(x for x in r["rungs"] if x["name"] == "overload")
    busy = [t for t in M.triggers(r["progress"], r["epoch_wall_ms"])
            if t["start_ns"] >= over["start_ns"] and t["rows"] > 0]
    out["streaming.overload.rows_per_s"] = (
        sum(t["rows"] for t in busy) / sum(t["end_ns"] - t["start_ns"] for t in busy) * 1e9)
    if "local1" in r:
        lv = stream_view(r["local1"])
        out["streaming.local1.lo_fresh_p50_ms"] = lv["lo"]["p50"]
    return out


def unit_of(name):
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_per_s"):
        return "rows/s"
    if last == "task_s_per_trigger":
        return "s"
    if last.endswith("_ms"):
        return "ms"
    if last == "s" or last.endswith("_s"):
        return "s"
    if last == "mb" or last.endswith("_mb"):
        return "MB"
    if last == "util":
        return "share"
    return "count"


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("graft's sources (src/main/scala/graft) are not here; "
                         "run from a checkout of the repository")
    cores = len(os.sched_getaffinity(0))
    cp, digest = build()
    data = inputs()
    with open(os.path.join(HERE, "pins.json")) as f:
        pins = json.load(f)

    started = time.time()
    cache = os.path.join(BUILD, "untraced",
                         f"{digest[:12]}-{a.workload}-{a.seed}-{a.seconds:g}.json")
    raw = run_jvm(cp, data, a.workload, a.seed, a.seconds, bool(a.trace), cores)
    attempted, failed, notes = checks(a.workload, raw, pins)
    e2e = end_to_end(a.workload, raw)
    extra = {}
    if not a.trace:
        values = e2e
        if failed == 0:
            os.makedirs(os.path.dirname(cache), exist_ok=True)
            with open(cache, "w") as f:
                json.dump(e2e, f)
    else:
        values = per_layer(a.workload, raw)
        write_ledger(a.workload, a.seed, raw)
        # tracing overhead: traced minus untraced figures of the same seed
        # and build, if that untraced run was made first
        if os.path.exists(cache):
            with open(cache) as f:
                untraced = json.load(f)
            extra = {f"trace.overhead.{k}": e2e[k] - untraced[k] for k in e2e}
        else:
            log("no untraced run of this seed and build yet: run it with "
                "--trace 0 first to get trace.overhead.*")
    for n in notes:
        log(f"CHECK FAILED: {n}")
    prov = dict(raw["provenance"], seed=a.seed, sf_events="0.1",
                sf_documents_embeddings="0.01", commit=git_commit(), workload=a.workload,
                wall_s=round(time.time() - started, 1))
    log("provenance " + json.dumps(prov, sort_keys=True))
    for k, v in sorted({**values, **extra}.items()):
        print(f"{a.workload}.{k} = {v:.6g} {unit_of(k)}")
    print(f"{a.workload}.error_rate = {failed / attempted:.6g} (failed {failed} of "
          f"{attempted})")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(v), "unit": unit_of(k)} for k, v in values.items()},
    }))
    return 0 if failed == 0 else 1


def write_ledger(workload, seed, r):
    """One JSON line per traced query execution or trigger."""
    d = os.path.join(BUILD, "ledger")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{workload}-seed{seed}.jsonl")
    with open(path, "w") as f:
        for i, p in enumerate(r.get("passes", [])):
            for q in p["queries"]:
                f.write(json.dumps({"kind": "query", "pass": i, **q}) + "\n")
        for p in r.get("progress", []):
            f.write(json.dumps({"kind": "trigger", "progress": p,
                                "trace": r["trigger_trace"].get(str(p["batchId"]))}) + "\n")
    log(f"ledger written to {os.path.relpath(path, ROOT)}")


if __name__ == "__main__":
    sys.exit(main())
