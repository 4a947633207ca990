#!/usr/bin/env python3
"""The graft benchmark: one command for its workloads.

    python3 perfbench/run.py --workload <name> --seed N --seconds S --trace 0|1

Workloads:
  pipeline_live     the four streaming units (persist, alerts dual sink,
                    4-minute aggregator, mail notifier), open loop at
                    2,000 readings/s
  pipeline_catchup  the same units draining a backlog in 19,992-reading
                    micro-batches, closed loop
  registry_loops    iterative registry queries (connected components,
                    ULM hard-EM)
  registry_scan     single-pass registry queries, one per family

Run from the root of a checkout. The program and the benchmark's JVM half
are compiled into `.bench_build/` on the first run (perfbench/build.py);
every run works in its own directory under `.bench_run/`, removed at the
end. A traced run (`--trace 1`) also keeps its spans under `.bench_out/`.

The last line of standard output is one JSON object:
  {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}
with the end-to-end metrics for `--trace 0` and the per-layer metrics for
`--trace 1`. Exit code 0 means the run completed and every output check
passed.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import stats  # noqa: E402

ROOT = build.ROOT
JVM_TIMEOUT_S = 165

# The loop set: oracle-checked iterative queries (connected components by
# label propagation; ULM hard-EM). Memoized queries (text_quality_train*,
# corpus_sample_quality, the DSIR queries) are kept out; the memos are also
# cleared after every call.
LOOP_QUERIES = ["dedup_clusters", "corpus_ulm_train_dist"]
# The scan set: one or more single-pass, oracle-checked queries per family.
SCAN_QUERIES = {
    "alerts_classify": "reference", "olap_unpivot": "olap",
    "stat_corr_matrix": "stat", "text_tfidf": "text",
    "dedup_minhash_lsh": "dedup", "mm_jpeg_decode": "multimodal",
    "corpus_stats": "corpus",
}
QUERY_SETS = {"registry_loops": LOOP_QUERIES,
              "registry_scan": list(SCAN_QUERIES)}

WORKLOADS = {
    "pipeline_live": "pipeline",
    "pipeline_catchup": "pipeline",
    "registry_loops": "registry",
    "registry_scan": "registry",
}

E2E = [("setup_s", "s"), ("throughput_per_s", "1/s"), ("latency_ms", "ms")]
UNITS = ["persist", "alerts", "aggregate", "notify"]
UNIT_FIELDS = [("planning_ms", "ms"), ("wal_ms", "ms"), ("offsets_ms", "ms"),
               ("source_ms", "ms"), ("compute_ms", "ms"),
               ("batches", "count"), ("rows_in", "count"),
               ("trigger_ms", "ms"), ("busy_frac", "share")]
SPAN_KINDS = ["batch", "jdbc_write", "publish", "send", "query", "job",
              "analysis", "optimization", "planning"]


def per_layer_units(workload):
    """Every per-layer metric of `workload` with its unit, in a fixed order.
    The per-family breakdown exists only on `registry_scan`."""
    out = [(f"{u}.{f}", unit) for u in UNITS for f, unit in UNIT_FIELDS]
    out += [("jdbc.calls", "count"), ("jdbc.rows", "count"),
            ("jdbc.ms", "ms"), ("kafka.rows", "count"), ("kafka.ms", "ms"),
            ("smtp.sends", "count"), ("smtp.ms", "ms"),
            ("smtp.failures", "count"), ("notify.capped", "count"),
            ("aggregate.state_rows", "count"),
            ("aggregate.state_bytes", "bytes"),
            ("aggregate.state_commit_ms", "ms"),
            ("aggregate.late_dropped", "count")]
    out += [("q.jobs", "count"), ("q.driver_gap_s", "s"), ("q.task_s", "s"),
            ("q.shuffle_read_mb", "MB"), ("q.shuffle_write_mb", "MB"),
            ("q.spill_mb", "MB"), ("q.analysis_ms", "ms"),
            ("q.optimization_ms", "ms"), ("q.planning_ms", "ms"),
            ("q.codegen_gap_s", "s"), ("q.cached_mb_end", "MB")]
    for q in LOOP_QUERIES:
        out += [(f"{q}.jobs", "count"), (f"{q}.warm_s", "s")]
    if workload == "registry_scan":
        out += [(f"{f}.warm_s", "s")
                for f in dict.fromkeys(SCAN_QUERIES.values())]
    out += [("gen.late_ms_max", "ms"), ("gen.backlog_rows_end", "count"),
            ("jvm.gc_ms", "ms"), ("jvm.heap_peak_mb", "MB"),
            ("host.steal_frac", "share")]
    out += [("rows_per_s", "1/s"), ("commit_p50_ms", "ms"),
            ("commit_p90_ms", "ms"), ("email_p50_ms", "ms"),
            ("email_p95_ms", "ms"), ("failed_frac", "share"),
            ("warm_total_s", "s"), ("first_pass_s", "s")]
    out += [(f"self.{k}_ms", "ms") for k in SPAN_KINDS]
    return out


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


# ─── pipeline ────────────────────────────────────────────────────────────

def pipeline_metrics(r, live, relay_accepted, spans):
    t0, t_end = r["window"]["start"], r["window"]["end"]
    span_ms = t_end - t0
    chunks = r["chunks"]
    lat = [c["complete"] - c["created"] for c in chunks]
    drained = max(c["complete"] for c in chunks) - t0
    emails = [e["accepted"] - e["created"] for e in r["emails"]]
    checks = list(r["checks"])
    checks.append({"name": "relay accepted every delivered email",
                   "expected": str(r["smtp_sends_all_setups"]),
                   "actual": str(relay_accepted),
                   "ok": relay_accepted == r["smtp_sends_all_setups"]})
    failed_checks = sum(1 for c in checks if not c["ok"])
    attempted = r["readings_sent"] + r["mailable"]
    failed = r["smtp_failures"] + failed_checks

    # Every chunk holds the same number of readings, so a percentile over
    # chunks is one over readings. Open loop: the median chunk's commit
    # latency; a run holds about 10 chunks a second, too few for a p95 with
    # 10 samples beyond it, so the tail is the p90. Closed loop: the mean
    # round trip of a chunk through all four units -- a run holds only a
    # handful of chunks, too few for any percentile, so these read 0.
    commit = ((stats.percentile(lat, 50), stats.percentile(lat, 90)) if live
              else (0.0, 0.0))
    e2e = {
        "setup_s": statistics.median(r["setup_s"]),
        "throughput_per_s": sum(c["n"] for c in chunks) / (drained / 1000.0),
        "latency_ms": (commit[0] if live else
                       statistics.mean(c["released"] - c["created"]
                                       for c in chunks)),
    }
    layer = {
        "rows_per_s": e2e["throughput_per_s"],
        "commit_p50_ms": commit[0],
        "commit_p90_ms": commit[1],
        "email_p50_ms": stats.percentile(emails, 50),
        "email_p95_ms": stats.percentile(emails, 95),
        "failed_frac": (failed + r["notify_capped"]) / attempted,
        "gen.late_ms_max": r["gen_late_ms_max"],
        "gen.backlog_rows_end": r["gen_backlog_rows_end"],
        "jvm.gc_ms": r["jvm_gc_ms"],
        "jvm.heap_peak_mb": r["jvm_heap_peak_mb"],
    }
    final = r["final_setup"]
    prog = [p for p in r["progress"]
            if p["setup"] == final and t0 <= p["start"] <= t_end]
    sinks = [s for s in r["sinks"] if t0 <= s["start"] <= t_end]
    for u in UNITS:
        ps = [p for p in prog if p["unit"] == u]
        d = lambda k: [p["durations"][k] for p in ps]  # noqa: E731
        sink_ms = sum(s["end"] - s["start"] for s in sinks if s["unit"] == u)
        n = len(ps)
        layer.update({
            f"{u}.planning_ms": mean(d("queryPlanning")),
            f"{u}.wal_ms": mean(d("walCommit")),
            f"{u}.offsets_ms": mean(a + b for a, b in
                                    zip(d("latestOffset"), d("commitOffsets"))),
            f"{u}.source_ms": mean(d("getBatch")),
            f"{u}.compute_ms": (sum(d("addBatch")) - sink_ms) / n if n else 0.0,
            f"{u}.batches": n,
            f"{u}.rows_in": sum(p["rows"] for p in ps) if u != "notify" else
            sum(b["rows"] for b in r["notify_batches"]
                if b["batch"] in {p["batch"] for p in ps}),
            f"{u}.trigger_ms": mean(d("triggerExecution")),
            f"{u}.busy_frac": sum(d("triggerExecution")) / span_ms,
        })
    agg = [p for p in prog if p["unit"] == "aggregate"]
    by_kind = lambda k: [s for s in sinks if s["kind"] == k]  # noqa: E731
    layer.update({
        "jdbc.calls": len(by_kind("jdbc")),
        "jdbc.rows": r["jdbc_rows_stored"],
        "jdbc.ms": mean(s["end"] - s["start"] for s in by_kind("jdbc")),
        "kafka.rows": sum(s["rows"] for s in by_kind("kafka")),
        "kafka.ms": mean(s["end"] - s["start"] for s in by_kind("kafka")),
        "smtp.sends": len(by_kind("smtp")),
        "smtp.ms": mean(s["end"] - s["start"] for s in by_kind("smtp")),
        "smtp.failures": r["smtp_failures"],
        "notify.capped": r["notify_capped"],
        "aggregate.state_rows": max((p["state_rows"] for p in agg), default=0),
        "aggregate.state_bytes": max((p["state_bytes"] for p in agg), default=0),
        "aggregate.state_commit_ms": mean(p["state_commit_ms"] for p in agg),
        "aggregate.late_dropped": sum(p["late_dropped"] for p in agg),
    })
    if spans is not None:
        window = [s for s in spans if t0 <= s["start"] <= t_end]
        layer.update(span_self_times(stats.assign_parents(window)))
    return e2e, layer, attempted, failed, checks


# ─── registry ────────────────────────────────────────────────────────────

def registry_metrics(r, spans, table_dir, dump_dir, workload_queries):
    import digest
    calls = r["calls"]
    warm = [c for c in calls if c["phase"] == "warm"]
    first = {c["query"]: c for c in calls if c["phase"] == "first"}
    errors = [c for c in calls if c["error"]]

    def med(q, key):
        return statistics.median(key(c) for c in warm if c["query"] == q)

    dur = lambda c: (c["end"] - c["start"]) / 1000.0  # noqa: E731
    warm_s = {q: med(q, dur) for q in workload_queries}
    warm_total = sum(warm_s.values())
    first_total = sum(dur(first[q]) for q in workload_queries)

    checks = []
    con = digest.connect(table_dir)
    for q in workload_queries:
        err = r["dump_errors"].get(q)
        if err:
            ok, detail = False, f"dump failed: {err}"
        else:
            ok, detail = digest.compare(con, os.path.join(dump_dir, q),
                                        r["oracle_sql"][q])
        checks.append({"name": f"{q} digest matches the oracle",
                       "expected": "oracle digest", "actual": detail, "ok": ok})
    con.close()
    attempted = len(calls) + len(workload_queries)
    failed = len(errors) + sum(1 for c in checks if not c["ok"])

    # Throughput is the sustained call rate over the measured window,
    # clean-up between calls included; latency is the warm pass built from
    # each query's median call.
    window_s = (r["window"]["end"] - r["window"]["start"]) / 1000.0
    e2e = {
        "setup_s": statistics.median(r["setup_s"]),
        "throughput_per_s": len(warm) / window_s,
        "latency_ms": warm_total * 1000.0,
    }
    mb = 1024.0 * 1024.0
    layer = {
        "warm_total_s": warm_total,
        "first_pass_s": first_total,
        "failed_frac": failed / attempted,
        "jvm.gc_ms": r["jvm_gc_ms"],
        "jvm.heap_peak_mb": r["jvm_heap_peak_mb"],
        "q.codegen_gap_s": first_total - warm_total,
        "q.cached_mb_end": sum(med(q, lambda c: c["cached_bytes"])
                               for q in workload_queries) / mb,
    }
    if spans is not None:
        def total(key, scale=1.0):
            return sum(med(q, key) for q in workload_queries) / scale
        jobs_of = {}
        for s in spans:
            if s["kind"] == "job":
                jobs_of.setdefault(s["parent"], []).append((s["start"], s["end"]))

        def gap(c):
            return (c["end"] - c["start"] - stats.covered(
                c["start"], c["end"], jobs_of.get(c["id"], ()))) / 1000.0
        layer.update({
            "q.jobs": total(lambda c: c["jobs"]),
            "q.driver_gap_s": total(gap),
            "q.task_s": total(lambda c: c["task_ms"], 1000.0),
            "q.shuffle_read_mb": total(lambda c: c["shuffle_read_bytes"], mb),
            "q.shuffle_write_mb": total(lambda c: c["shuffle_write_bytes"], mb),
            "q.spill_mb": total(lambda c: c["spill_bytes"], mb),
            "q.analysis_ms": total(lambda c: c["phases"]["analysis"]),
            "q.optimization_ms": total(lambda c: c["phases"]["optimization"]),
            "q.planning_ms": total(lambda c: c["phases"]["planning"]),
        })
        for q in workload_queries:
            if q in LOOP_QUERIES:
                layer[f"{q}.jobs"] = med(q, lambda c: c["jobs"])
                layer[f"{q}.warm_s"] = warm_s[q]
            else:
                f = f"{SCAN_QUERIES[q]}.warm_s"
                layer[f] = layer.get(f, 0.0) + warm_s[q]
        warm_ids = {c["id"] for c in warm}
        warm_spans = [s for s in spans
                      if s["id"] in warm_ids or s.get("parent") in warm_ids]
        layer.update(span_self_times(warm_spans))
    return e2e, layer, attempted, failed, checks


def span_self_times(spans):
    """Mean self time per span of each kind, as `self.<kind>_ms`."""
    own = stats.self_times(spans)
    out = {}
    for k in SPAN_KINDS:
        xs = [own[s["id"]] for s in spans if s["kind"] == k]
        out[f"self.{k}_ms"] = mean(xs)
    return out


# ─── running the JVM half ────────────────────────────────────────────────

def java_command(classes, args, work):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    cmd = ["java", "-Xmx3g", "-Xss4m", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={work}/tmp", "-Dlog4j2.level=ERROR"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", build.classpath(classes), "perfbench.Main"] + args


def cpu_jiffies():
    """(steal, total) jiffies of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def run_jvm(classes, args, work):
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(java_command(classes, args, work), cwd=work,
                                stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        raise RuntimeError(f"benchmark JVM exited with {code}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS) + ["generator_check"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    try:
        classes = build.build()
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")

    work = os.path.join(ROOT, ".bench_run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    base = ["--workload", a.workload, "--seed", str(a.seed), "--seconds",
            str(a.seconds), "--trace", str(a.trace), "--work", work,
            "--out", out]
    relay = None
    cpu_before = cpu_jiffies()
    try:
        kind = WORKLOADS.get(a.workload)
        if a.workload == "generator_check":
            run_jvm(classes, base, work)
            print(open(out).read())
            return 0
        if kind == "pipeline":
            import relay as relay_mod
            relay = relay_mod.FakeSmtpRelay().start()
            run_jvm(classes, base + ["--smtp-port", str(relay.port)], work)
        else:
            import fixtures
            data = fixtures.write_tables(os.path.join(work, "data"), a.seed)
            queries = QUERY_SETS[a.workload]
            base[1] = "registry"
            run_jvm(classes, base + ["--data", data, "--queries",
                                     ",".join(queries)], work)
        cpu_after = cpu_jiffies()
        steal = (cpu_after[0] - cpu_before[0]) / max(1, cpu_after[1] - cpu_before[1])
        r = json.load(open(out))
        spans = None
        if a.trace:
            with open(out + ".spans.jsonl") as f:
                spans = [json.loads(line) for line in f if line.strip()]
            keep = os.path.join(ROOT, ".bench_out")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(out + ".spans.jsonl",
                        os.path.join(keep, f"{a.workload}-seed{a.seed}.spans.jsonl"))
        if kind == "pipeline":
            e2e, layer, attempted, failed, checks = pipeline_metrics(
                r, a.workload == "pipeline_live", relay.accepted, spans)
        else:
            e2e, layer, attempted, failed, checks = registry_metrics(
                r, spans, os.path.join(work, "data"), os.path.join(work, "dump"),
                queries)
    finally:
        if relay is not None:
            relay.stop()
        shutil.rmtree(work, ignore_errors=True)

    layer["host.steal_frac"] = steal
    correct = failed == 0 and all(c["ok"] for c in checks)
    for c in checks:
        status = "ok " if c["ok"] else "BAD"
        print(f"check {status} {c['name']}: expected {c['expected']}, "
              f"got {c['actual']}")
    print(f"host steal share during the run: {steal:.3f}")
    if a.trace:
        wanted = per_layer_units(a.workload)
        print("end-to-end under tracing: " + json.dumps(e2e))
    else:
        wanted = E2E
    metrics = {}
    for name, unit in wanted:
        v = e2e.get(name, layer.get(name, 0.0))
        metrics[name] = {"value": v, "unit": unit}
        print(f"metric {name} = {v} {unit}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
