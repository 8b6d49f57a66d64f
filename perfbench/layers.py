"""Metrics of one run, from the harness's raw JSON.

End-to-end metrics (tracing off) are what a user of the engine sees for
the workload's unit of work, the "op": one program run (batch_course),
one read (ann_mixed), or one trigger of the near-dedup accumulator
(stream_ingest). Per-layer metrics come from the traced
run: spans the harness records around its calls into each layer, and
Spark events attributed to the innermost open span by time. Layers a
workload does not exercise report 0.
"""
import json
import os

import checks
import gen
import metrics as m

MB = float(1 << 20)
FUNCTIONS = ["MinHashSignature", "SimHashSignature", "HashedNgrams", "NgramPack",
             "NfcNormalize", "UrlNormalize", "VectorMath", "BoundedTopK",
             "MisraGries", "BloomFns"]
PHASES = ["addBatch", "walCommit", "commitOffsets", "queryPlanning", "latestOffset",
          "getBatch"]
FOLD_EVERY = 8  # StreamNearDedup.MEM_FOLD_EVERY: trigger k folds when (k+1) % 8 == 0


def e2e_names():
    return ["setup_s", "pass_s", "op_p50_s", "live_heap_mb"]


def trace_names():
    names = ["spark.jobs", "spark.stages", "spark.tasks", "spark.task_s",
             "spark.busy_cores", "spark.idle_s", "spark.shuffle_write_mb",
             "spark.shuffle_read_mb", "spark.spill_mb", "spark.stage_skew",
             "spark.failed_tasks", "jvm.gc_s", "Tables.input_mb", "Tables.files_read",
             "Tables.listing_jobs"]
    names += [f"functions.{f}.rows_per_s" for f in FUNCTIONS]
    for p in gen.BATCH_PROGRAMS:
        names += [f"operators.{p}.s", f"operators.{p}.jobs"]
    names += ["Similarity.read.jobs", "Similarity.read_p50_s", "Similarity.read_tail_s",
              "Similarity.read_after_write_s", "Similarity.read_after_read_s",
              "Similarity.index.memo_hit_ratio", "Similarity.index.pending_deltas",
              "Similarity.index.upsert_jobs", "Similarity.index.delete_jobs",
              "Similarity.index.compact_jobs", "Similarity.index.upsert_p50_s",
              "Similarity.index.delete_p50_s", "Similarity.index.compact_p50_s",
              "Similarity.index.written_mb", "Similarity.index.rewritten_mb",
              "Similarity.index.store_mb"]
    names += [f"streaming.{ph}_ms" for ph in PHASES]
    names += ["streaming.jobs_per_trigger", "streaming.trigger_p50_s",
              "streaming.trigger_tail_s", "streaming.fold_trigger_s",
              "streaming.plain_trigger_s", "streaming.docs_per_s",
              "StreamNearDedup.state.mb", "StreamNearDedup.state.compact_s",
              "fail_ratio", "trace.pass_s"]
    return names


UNITS = {"_s": "s", ".s": "s", "_ms": "ms", "_mb": "MB", ".mb": "MB", "rows_per_s": "rows/s",
         "docs_per_s": "docs/s", "busy_cores": "cores", "ratio": "ratio", "skew": "ratio"}


def unit_of(name):
    for suffix, u in sorted(UNITS.items(), key=lambda kv: -len(kv[0])):
        if name.endswith(suffix):
            return u
    return "count"


def dur(x):
    return (x["end"] - x["start"]) / 1000.0


def triggers(raw, op):
    """Progress events of the data-carrying triggers a streaming op ran:
    those that started while the op ran."""
    return [p for p in raw["events"]["progress"]
            if op["start"] <= p["start"] <= op["end"] and p["rows"] > 0]


def op_latencies(raw, workload):
    if workload == "stream_ingest":
        return [p["durations"]["triggerExecution"] / 1000.0
                for o in raw["ops"] if o["kind"] == "stream" for p in triggers(raw, o)]
    kind = {"batch_course": "program", "ann_mixed": "read"}[workload]
    return [dur(o) for o in raw["ops"] if o["kind"] == kind and o["ok"]]


def report(raw, workload, inp, work, gen_s, gen_repeats, jvm_setup_s):
    failures = [(f["op"], f["why"]) for f in raw["failures"]]
    if workload == "batch_course":
        with open(os.path.join(work, "oracle_sql.json")) as f:
            failures += checks.oracle_failures(inp, os.path.join(work, "results"), json.load(f),
                                               os.path.join(work, "tmp"))
    threw = [o for o in raw["ops"] if not o["ok"]]
    failures += [(o["name"], f"pass {o['pass']} threw {o['err']}") for o in threw]
    attempted = len(raw["ops"])
    passes = [dur(p) for p in raw["passes"]]
    lat = op_latencies(raw, workload)
    e2e = {
        "setup_s": (gen_s + jvm_setup_s, "s",
                    f"(generation {gen_s:.3f} s, median of {gen_repeats}; "
                    f"JVM start to first timed op {jvm_setup_s:.3f} s)"),
        "pass_s": (m.median(passes), "s", f"(median of {len(passes)} passes)"),
        "op_p50_s": (m.median(lat), "s", f"(n={len(lat)})"),
        "live_heap_mb": (max(p["heap_bytes"] for p in raw["passes"]) / MB, "MB", ""),
    }
    assert list(e2e) == e2e_names()
    out = {"failures": failures, "attempted": attempted, "e2e": e2e}
    if raw["trace"]:
        out["trace"] = traced(raw, workload, len(failures) / max(1, attempted))
    return out


def traced(raw, workload, fail_ratio):
    spans = raw["spans"]
    ev = raw["events"]
    jobs, tasks = ev["jobs"], ev["tasks"]
    passes = raw["passes"]
    selft = m.self_times(spans)
    job_at = m.attribute(spans, jobs)
    vals = {}

    def per_pass(f):
        return m.median([f(p) for p in passes])

    def window(xs, p):
        return m.in_window(xs, p["start"], p["end"])

    def skew(p):
        by = {}
        for t in window(tasks, p):
            by.setdefault((t["stage"], t["attempt"]), []).append(t["run_ms"])
        r = [max(v) / m.median(v) for v in by.values() if len(v) > 1 and m.median(v) > 0]
        return max(r) if r else 0.0

    vals["spark.jobs"] = per_pass(lambda p: len(window(jobs, p)))
    vals["spark.stages"] = per_pass(lambda p: len({(t["stage"], t["attempt"])
                                                   for t in window(tasks, p)}))
    vals["spark.tasks"] = per_pass(lambda p: len(window(tasks, p)))
    vals["spark.task_s"] = per_pass(lambda p: sum(t["run_ms"] for t in window(tasks, p)) / 1000.0)
    vals["spark.busy_cores"] = per_pass(
        lambda p: sum(t["run_ms"] for t in window(tasks, p)) / max(1e-9, p["end"] - p["start"]))
    vals["spark.idle_s"] = per_pass(lambda p: (p["end"] - p["start"] - m.covered(
        [(max(t["start"], p["start"]), min(t["end"], p["end"])) for t in window(tasks, p)])) / 1000.0)
    vals["spark.shuffle_write_mb"] = per_pass(lambda p: sum(t["shuffle_w"] for t in window(tasks, p)) / MB)
    vals["spark.shuffle_read_mb"] = per_pass(lambda p: sum(t["shuffle_r"] for t in window(tasks, p)) / MB)
    vals["spark.spill_mb"] = per_pass(lambda p: sum(t["spill"] for t in window(tasks, p)) / MB)
    vals["spark.stage_skew"] = per_pass(skew)
    vals["spark.failed_tasks"] = per_pass(lambda p: sum(1 for t in window(tasks, p) if not t["ok"]))
    vals["jvm.gc_s"] = per_pass(lambda p: p["gc_ms"] / 1000.0)
    vals["Tables.input_mb"] = per_pass(lambda p: sum(t["input"] for t in window(tasks, p)) / MB)
    vals["Tables.files_read"] = per_pass(lambda p: sum(
        v for at, v in ev["files_read"] if p["start"] <= at <= p["end"]))
    listing = [j for j in jobs if j["desc"].startswith("Listing leaf files")]
    vals["Tables.listing_jobs"] = per_pass(lambda p: len(window(listing, p)))
    for f in FUNCTIONS:
        vals[f"functions.{f}.rows_per_s"] = float(raw["functions"].get(f, 0.0))

    def spans_named(name):
        return [s for s in spans if s["name"] == name]

    def jobs_in(s):
        return len(job_at.get(s["id"], []))

    for p in gen.BATCH_PROGRAMS:
        ss = spans_named(f"operators.{p}")
        vals[f"operators.{p}.s"] = m.median([selft[s["id"]] / 1000.0 for s in ss])
        vals[f"operators.{p}.jobs"] = m.median([jobs_in(s) for s in ss])

    reads = spans_named("Similarity.read")
    vals["Similarity.read.jobs"] = m.median([jobs_in(s) for s in reads])
    rlat = [dur(s) for s in reads]
    vals["Similarity.read_p50_s"] = m.median(rlat)
    vals["Similarity.read_tail_s"] = m.tail(rlat)[0]
    info = raw["extra"].get("reads", [])
    vals["Similarity.read_after_write_s"] = m.median(
        [dur(s) for s, i in zip(reads, info) if i["after_write"]])
    vals["Similarity.read_after_read_s"] = m.median(
        [dur(s) for s, i in zip(reads, info) if not i["after_write"]])
    listed = {j["id"] for j in listing}
    vals["Similarity.index.memo_hit_ratio"] = (
        sum(1 for s in reads if not any(j["id"] in listed for j in job_at.get(s["id"], [])))
        / len(reads)) if reads else 0.0
    vals["Similarity.index.pending_deltas"] = m.median([i["pending"] for i in info])
    for kind in ("upsert", "delete", "compact"):
        ss = spans_named(f"Similarity.index.{kind}")
        vals[f"Similarity.index.{kind}_jobs"] = m.median([jobs_in(s) for s in ss])
        vals[f"Similarity.index.{kind}_p50_s"] = m.median([dur(s) for s in ss])
    writes = raw["extra"].get("writes", [])
    vals["Similarity.index.written_mb"] = per_pass(lambda p: sum(
        w["bytes"] for w in writes if w["pass"] == p["pass"] and w["kind"] != "compact") / MB)
    vals["Similarity.index.rewritten_mb"] = per_pass(lambda p: sum(
        w["bytes"] for w in writes if w["pass"] == p["pass"] and w["kind"] == "compact") / MB)
    vals["Similarity.index.store_mb"] = m.median(
        [b / MB for b in raw["extra"].get("store_bytes", [])])

    stream_ops = [o for o in raw["ops"] if o["kind"] == "stream"]
    trig = [p for o in stream_ops for p in triggers(raw, o)]
    tsec = [p["durations"]["triggerExecution"] / 1000.0 for p in trig]
    for ph in PHASES:
        vals[f"streaming.{ph}_ms"] = m.median([p["durations"].get(ph, 0) for p in trig])

    def trigger_jobs(p):
        return len(m.in_window(jobs, p["start"], p["start"] + p["durations"]["triggerExecution"]))

    vals["streaming.jobs_per_trigger"] = m.median([trigger_jobs(p) for p in trig])
    vals["streaming.trigger_p50_s"] = m.median(tsec)
    vals["streaming.trigger_tail_s"] = m.tail(tsec)[0]
    fold = [t for p, t in zip(trig, tsec) if (p["batch"] + 1) % FOLD_EVERY == 0]
    plain = [t for p, t in zip(trig, tsec) if (p["batch"] + 1) % FOLD_EVERY != 0]
    vals["streaming.fold_trigger_s"] = m.median(fold)
    vals["streaming.plain_trigger_s"] = m.median(plain)
    docs = raw["extra"].get("docs", 0)
    vals["streaming.docs_per_s"] = m.median(
        [docs / max(1e-9, sum(dur(o) for o in stream_ops if o["pass"] == k))
         for k in {o["pass"] for o in stream_ops}])
    vals["StreamNearDedup.state.mb"] = m.median(
        [b / MB for b in raw["extra"].get("state_bytes", [])])
    vals["StreamNearDedup.state.compact_s"] = m.median(
        [selft[s["id"]] / 1000.0 for s in spans_named("StreamNearDedup.state.compact")])
    vals["fail_ratio"] = fail_ratio
    vals["trace.pass_s"] = per_pass(lambda p: (p["end"] - p["start"]) / 1000.0)

    notes = {
        "Similarity.read_tail_s": m.tail(rlat),
        "streaming.trigger_tail_s": m.tail(tsec),
    }
    out = {}
    for name in trace_names():
        note = ""
        if name in notes:
            _, pct, n = notes[name]
            note = f"(p{pct:.1f}, n={n})"
        out[name] = (float(vals[name]), unit_of(name), note)
    return out
