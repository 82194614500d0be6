"""Statistics and judgements of the graft benchmark, kept free of I/O so the
self-tests in perfbench/tests can check them without a JVM.

Raw samples come from the JVM side (perfbench/src) as one JSON document per
invocation; `end_to_end` and `per_layer` turn one workload's raw record into
the metric dictionaries the benchmark prints.
"""

import hashlib
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# Tail percentiles the report may use, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)

# Tail emission latency allowed at a rung that counts as sustained: a tick
# emits with the batch of the release two ticks after it ends, so the limit
# is those two seconds plus two seconds of processing and queueing.
LATENCY_LIMIT_MS = 4000.0


def valid_name(name):
    """A metric or workload name: a letter or digit first, then at most 63
    more letters, digits, '_', '.' or '-'."""
    return bool(NAME_RE.match(name))


def derive_seed(seed, workload):
    """The input seed a workload receives: a pure function of the run seed
    and the workload name, so workloads of one run draw unrelated inputs."""
    digest = hashlib.sha256(f"{int(seed)}:{workload}".encode()).digest()
    return int.from_bytes(digest[:8], "big") >> 2


def percentile(xs, p):
    """Nearest-rank percentile of a non-empty sample."""
    s = sorted(xs)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def median(xs):
    return statistics.median(xs)


def tail_percentile(n):
    """The highest percentile with at least ten samples beyond it, or None.
    p99 therefore needs 1,000 samples."""
    for p in TAIL_PERCENTILES:
        if n * (100.0 - p) / 100.0 >= 10.0 - 1e-9:
            return p
    return None


def summarize(xs):
    """Median, sample count and the highest supported tail percentile."""
    out = {"n": len(xs), "p50": median(xs) if xs else None}
    p = tail_percentile(len(xs))
    if p is not None:
        out["p%g" % p] = percentile(xs, p)
    return out


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover; children
    are clipped to the span, and overlapping children count once."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - union_length(clipped)


def attribute(intervals):
    """Split the union of overlapping intervals among them: at each instant
    the interval that started last owns the time. Returns one share per
    interval; the shares sum to the union length."""
    shares = [0.0] * len(intervals)
    points = sorted({p for i in intervals for p in i})
    for a, b in zip(points, points[1:]):
        active = [k for k, (s, e) in enumerate(intervals) if s <= a and e >= b and e > s]
        if active:
            owner = max(active, key=lambda k: (intervals[k][0], k))
            shares[owner] += b - a
    return shares


def backlog_grows(series, rate):
    """Whether a rung's backlog grew: the mean of the last third of the
    samples exceeds the mean of the first third by more than one second of
    input, the rate source's release step. `series` is [(t, rows)]."""
    if len(series) < 3:
        return True
    third = len(series) // 3
    first = statistics.fmean(b for _, b in series[:third])
    last = statistics.fmean(b for _, b in series[-third:])
    return last - first > rate


def sustained_eps(rungs, limit_ms=LATENCY_LIMIT_MS):
    """Highest rate among rungs whose backlog did not grow and whose tail
    latency met the limit; 0 when no rung qualifies. Each rung is a dict
    with `rate`, `grows` and `tail_ms` (None when no emission was seen)."""
    ok = [r["rate"] for r in rungs
          if not r["grows"] and r["tail_ms"] is not None and r["tail_ms"] <= limit_ms]
    return max(ok) if ok else 0


def backlog_series(rung):
    """(seconds since the source started, rows due minus rows committed)
    at the end of each committed batch."""
    created, rate = rung["created_ms"], rung["rate"]
    out, committed = [], 0
    for b in sorted(rung["batches"], key=lambda b: b["batch"]):
        committed += b["rows"]
        end = b["start_ms"] + b["durations"].get("triggerExecution", 0)
        due = rate * max(0.0, end - created) / 1000.0
        out.append(((end - created) / 1000.0, due - committed))
    return out


def delivered_rate(rung):
    """Rows in committed batches per second from the source's start to the
    end of the last committed batch. At a fixed offered rate this stays just
    under that rate while the engine keeps up, and falls as batches take
    longer or the backlog grows."""
    bs = sorted(rung["batches"], key=lambda b: b["batch"])
    if not bs:
        return 0.0
    end = bs[-1]["start_ms"] + bs[-1]["durations"].get("triggerExecution", 0)
    seconds = (end - rung["created_ms"]) / 1000.0
    return sum(b["rows"] for b in bs) / seconds if seconds > 0 else 0.0


def last_complete_tick(batches, rate, tick_ms):
    """The last tick a rung had to emit by its last committed batch, in
    ticks since the stream clock's origin, or None when no tick was due.

    With a watermark delay of 0, a batch runs with the watermark set to the
    largest event time of the batches before it. Row v of the rate source
    is due (v * 1000) div rate ms after the origin, and the batches take the
    rows in value order, so that largest event time is the one of row
    (rows before the last batch) - 1. Tick t is complete once the watermark
    reaches its end, (t + 1) * tick_ms."""
    ordered = sorted(batches, key=lambda b: b["batch"])
    before_last = sum(b["rows"] for b in ordered[:-1])
    if before_last == 0:
        return None
    watermark_ms = (before_last - 1) * 1000 // rate
    return watermark_ms // tick_ms - 1


def stream_verdict(rung):
    """Attempted and failed operations and recall of one rung. An operation
    is one (key, tick) that was emitted, or whose window holds data and whose
    tick the watermark completed. It fails when it was emitted twice, when
    its emission is bad (see the JVM's judge), or when it was due and never
    emitted. A rung with no such (key, tick) at all is one failed operation."""
    v = rung["verdict"]
    last = last_complete_tick(rung["batches"], rung["rate"], rung["tick_ms"])
    ops = [kt for kt in v["key_ticks"] if kt[1] or (last is not None and kt[0] <= last)]
    missed = [kt[0] for kt in ops if not kt[1]]
    notes = list(v["notes"])
    if missed:
        notes.append("%d due (key, tick) never emitted, ticks %d..%d"
                     % (len(missed), min(missed), max(missed)))
    if not ops:
        return {"attempted": 1, "failed": 1, "recall": 0.0,
                "notes": notes + ["no (key, tick) emitted or due"]}
    failed = v["dupes"] + sum(kt[2] for kt in ops) + len(missed)
    recall = sum(kt[3] for kt in ops if kt[1] and not kt[2]) / len(ops)
    return {"attempted": len(ops), "failed": failed, "recall": recall, "notes": notes}


def rung_summary(rung):
    series = backlog_series(rung)
    lat = summarize(rung["latency_ms"])
    tail = next((v for k, v in lat.items() if k.startswith("p") and k != "p50"), None)
    return {"rate": rung["rate"], "grows": backlog_grows(series, rung["rate"]),
            "tail_ms": tail if tail is not None else lat["p50"], "latency": lat,
            "backlog_max": max((b for _, b in series), default=0.0)}


# ---------------------------------------------------------------- metrics


def _batch_iterations(raw, traced):
    return [it for it in raw["measured"]["iterations"] if it["traced"] == traced]


def checked_rungs(measured):
    """Every stream rung whose answers were checked."""
    return measured["rungs"] + measured["traced_nominal"] + [measured["heap_rung"]]


def counts(raw):
    """(attempted, failed) over every checked operation of the run."""
    m = raw["measured"]
    if "rungs" in m:
        vs = [stream_verdict(r) for r in checked_rungs(m)]
        return sum(v["attempted"] for v in vs), sum(v["failed"] for v in vs)
    calls = [c for it in m["iterations"] for c in it["calls"]] + m["heap_checks"]
    return sum(c["attempted"] for c in calls), sum(c["failed"] for c in calls)


def end_to_end(raw):
    """Every end-to-end metric of one untraced workload record, as
    {name: (value, unit)}; metrics that do not apply are left out."""
    m = raw["measured"]
    attempted, failed = counts(raw)
    out = {"setup_s": (median(raw["setup_s"]), "s"),
           "live_heap_peak_mb": (raw["heap_peak_mb"], "MB"),
           "error_rate": (failed / attempted if attempted else 1.0, "ratio")}
    if "rungs" in m:
        nominal = m["rungs"][0]
        lat = summarize(nominal["latency_ms"])
        out["throughput_rows_per_s"] = (delivered_rate(nominal), "rows/s")
        out["result_latency_ms_p50"] = (lat["p50"], "ms")
        if "p99" in lat:
            out["result_latency_ms_p99"] = (lat["p99"], "ms")
        out["answer_recall"] = (stream_verdict(nominal)["recall"], "ratio")
        out["sustained_eps"] = (sustained_eps([rung_summary(r) for r in m["rungs"]]), "rows/s")
        return out
    its = _batch_iterations(raw, False)
    walls_ms = [it["wall_ns"] / 1e6 for it in its]
    job_ms = median(walls_ms)
    out["throughput_rows_per_s"] = (raw["input"]["rows"] / (job_ms / 1e3), "rows/s")
    out["result_latency_ms_p50"] = (job_ms, "ms")
    lat = summarize(walls_ms)
    if "p99" in lat:
        out["result_latency_ms_p99"] = (lat["p99"], "ms")
    recalls = [statistics.fmean(c["recall"] for c in it["calls"]) for it in its]
    out["answer_recall"] = (median(recalls), "ratio")
    if raw["name"] != "docs_minhash":
        errs = [c["rel_err"] for it in its for c in it["calls"]]
        out["count_rel_err_max"] = (max(errs), "ratio")
    return out


# The end-to-end metrics of BENCHMARK.json: every workload reports each.
END_TO_END = {"setup_s": "s", "throughput_rows_per_s": "rows/s",
              "result_latency_ms_p50": "ms", "live_heap_peak_mb": "MB", "answer_recall": "ratio"}

PER_LAYER = {
    "sources.gen_s": "s", "sources.input_rows": "count", "sources.input_mb": "MB",
    "sources.scan_ns_per_row": "ns",
    "core.add_ns": "ns", "core.add_heap_hit_ratio": "ratio", "core.merge_us": "us",
    "core.encode_us": "us", "core.decode_us": "us", "core.blob_bytes": "bytes",
    "core.sliding_add_ns": "ns", "core.tick_us": "us",
    "plans.agg_ns_per_row": "ns", "plans.items_agg_ns_per_row": "ns",
    "plans.parallel_efficiency": "ratio",
    "operators.stages": "count", "operators.tasks": "count", "operators.task_s": "s",
    "operators.cpu_s": "s", "operators.gc_s": "s", "operators.sched_wait_s": "s",
    "operators.fetch_wait_s": "s", "operators.shuffle_write_mb": "MB",
    "operators.shuffle_read_mb": "MB", "operators.spill_mb": "MB",
    "operators.task_skew": "ratio", "operators.failed_tasks": "count",
    "operators.driver_s": "s",
    "streaming.batches": "count", "streaming.batch_ms_p50": "ms",
    "streaming.add_batch_ms_p50": "ms", "streaming.query_planning_ms_p50": "ms",
    "streaming.wal_commit_ms_p50": "ms", "streaming.commit_offsets_ms_p50": "ms",
    "streaming.latest_offset_ms_p50": "ms", "streaming.unexplained_ms_p50": "ms",
    "streaming.state_rows_peak": "count", "streaming.state_mb_peak": "MB",
    "streaming.state_commit_ms_p50": "ms", "streaming.state_update_ms_p50": "ms",
    "streaming.late_rows_dropped": "count", "streaming.reduce_ratio": "ratio",
    "streaming.backlog_rows_max": "count", "streaming.state_codec_us": "us",
    "trace.overhead_pct": "%",
}

# Layer metrics of docs_minhash, a workload BENCHMARK.json does not list:
# printed in its report, never in the result line.
DEDUP_LAYER = {
    "plans.intersect_ns_per_pair": "ns", "operators.dedup_candidates": "count",
    "operators.dedup_verified": "count", "operators.dedup_useful_ratio": "ratio",
    "operators.dedup_candidate_s": "s", "operators.dedup_verify_s": "s",
}

# durationMs parts of a micro-batch, in the order the engine runs them.
BATCH_PARTS = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
               "commitOffsets")


def build_spans(raw):
    """Every span of a traced record: the benchmark's own workload and job
    spans, Spark jobs and stages from the listener (parented through the
    job group), and micro-batches with their duration parts. Times in s."""
    spans = [dict(s, start=s["start_ns"] / 1e9, end=s["end_ns"] / 1e9) for s in raw["spans"]]
    next_id = max((s["id"] for s in spans), default=0) + 1
    m = raw["measured"]
    group_parent = {str(s["id"]): s["id"] for s in spans}
    batch_spans = []
    for rung in m.get("rungs", []) + m.get("traced_nominal", []):
        if not rung.get("traced"):
            continue
        group_parent[rung["run_id"]] = rung["span_id"]
        for b in rung["batches"]:
            start = b["start_ms"] / 1e3
            total = b["durations"].get("triggerExecution", 0) / 1e3
            bid, next_id = next_id, next_id + 1
            batch = {"id": bid, "parent": rung["span_id"], "kind": "batch",
                     "name": "batch %d" % b["batch"], "start": start, "end": start + total}
            spans.append(batch)
            batch_spans.append(batch)
            t = start
            for part in BATCH_PARTS:
                d = b["durations"].get(part, 0) / 1e3
                if d > 0:
                    spans.append({"id": next_id, "parent": bid, "kind": "part", "name": part,
                                  "start": t, "end": t + d})
                    next_id += 1
                    t += d
    for job in raw["spark_jobs"]:
        parent = group_parent.get(job["group"])
        if parent is None or job["end_ms"] < 0:
            continue
        start, end = job["start_ms"] / 1e3, job["end_ms"] / 1e3
        for b in batch_spans:
            if b["parent"] == parent and b["start"] <= start <= b["end"]:
                parent = b["id"]
                break
        jid, next_id = next_id, next_id + 1
        spans.append({"id": jid, "parent": parent, "kind": "sparkjob",
                      "name": "job %d" % job["job_id"], "start": start, "end": end})
        for st in job["stages"]:
            spans.append({"id": next_id, "parent": jid, "kind": "stage",
                          "name": "stage %d %s" % (st["stage_id"], st["name"][:40]),
                          "start": st["start_ms"] / 1e3, "end": st["end_ms"] / 1e3})
            next_id += 1
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for s in spans:
        s["self"] = self_time((s["start"], s["end"]), children.get(s["id"], []))
    return spans


def job_breakdown(raw):
    """Per benchmark job span: its wall, the stages' exclusive shares of
    it, and the driver time no stage covers (wall minus the stage union)."""
    jobs_by_group = {}
    for j in raw["spark_jobs"]:
        jobs_by_group.setdefault(j["group"], []).append(j)
    out = []
    for s in raw["spans"]:
        if s["kind"] != "job" or str(s["id"]) not in jobs_by_group:
            continue
        start, end = s["start_ns"] / 1e9, s["end_ns"] / 1e9
        stages = [st for j in jobs_by_group[str(s["id"])] for st in j["stages"]]
        ivs = [(max(start, st["start_ms"] / 1e3), min(end, st["end_ms"] / 1e3)) for st in stages]
        shares = attribute(ivs)
        out.append({"name": s["name"], "wall_s": end - start, "stages": stages,
                    "stage_shares_s": shares, "driver_s": (end - start) - union_length(ivs)})
    return out


def _operators(breakdown):
    def per_job(f):
        vals = [f(b) for b in breakdown]
        return median(vals) if vals else 0.0

    def total(key, scale=1.0):
        return per_job(lambda b: sum(st[key] for st in b["stages"]) * scale)

    def skew(b):
        if not b["stages"]:
            return 0.0
        slow = max(b["stages"], key=lambda st: st["end_ms"] - st["start_ms"])
        return slow["task_ms_max"] / slow["task_ms_median"] if slow["task_ms_median"] else 1.0

    return {"operators.stages": per_job(lambda b: len(b["stages"])),
            "operators.tasks": total("tasks"), "operators.task_s": total("run_ms", 1e-3),
            "operators.cpu_s": total("cpu_ns", 1e-9), "operators.gc_s": total("gc_ms", 1e-3),
            "operators.sched_wait_s": total("sched_ms", 1e-3),
            "operators.fetch_wait_s": total("fetch_wait_ms", 1e-3),
            "operators.shuffle_write_mb": total("shuffle_write_b", 1 / 1048576),
            "operators.shuffle_read_mb": total("shuffle_read_b", 1 / 1048576),
            "operators.spill_mb": total("spill_b", 1 / 1048576),
            "operators.task_skew": per_job(skew),
            "operators.failed_tasks": float(sum(st["failed_tasks"] for b in breakdown
                                                for st in b["stages"])),
            "operators.driver_s": per_job(lambda b: b["driver_s"])}


def _streaming(rungs):
    rung = next((r for r in rungs if r.get("traced")), None)
    if rung is None:
        return {}
    bs = rung["batches"]

    def p50(f):
        vals = [f(b) for b in bs]
        return median(vals) if vals else 0.0

    def part(name):
        return p50(lambda b: b["durations"].get(name, 0))

    def unexplained(b):
        d = b["durations"]
        return d.get("triggerExecution", 0) - sum(d.get(p, 0) for p in BATCH_PARTS)

    ratio = rung["reduce_in"] / rung["reduce_out"] if rung["reduce_out"] else 0.0
    return {"streaming.batches": float(len(bs)),
            "streaming.batch_ms_p50": part("triggerExecution"),
            "streaming.add_batch_ms_p50": part("addBatch"),
            "streaming.query_planning_ms_p50": part("queryPlanning"),
            "streaming.wal_commit_ms_p50": part("walCommit"),
            "streaming.commit_offsets_ms_p50": part("commitOffsets"),
            "streaming.latest_offset_ms_p50": part("latestOffset"),
            "streaming.unexplained_ms_p50": p50(unexplained),
            "streaming.state_rows_peak": float(max((b["state_rows"] for b in bs), default=0)),
            "streaming.state_mb_peak": max((b["state_bytes"] for b in bs), default=0) / 1048576,
            "streaming.state_commit_ms_p50": p50(lambda b: b["state_commit_ms"]),
            "streaming.state_update_ms_p50": p50(lambda b: b["state_update_ms"]),
            "streaming.late_rows_dropped": float(sum(b["late_rows"] for b in bs)),
            "streaming.reduce_ratio": ratio,
            "streaming.backlog_rows_max": max(0.0, rung_summary(rung)["backlog_max"])}


def tracing_overhead_pct(raw):
    """Traced against untraced median wall, both measured in the traced run."""
    m = raw["measured"]
    if "rungs" in m:
        plain, traced = m["rungs"][0], (m.get("traced_nominal") or [None])[0]
        if traced is None or not plain["latency_ms"] or not traced["latency_ms"]:
            return 0.0
        return 100.0 * (median(traced["latency_ms"]) / median(plain["latency_ms"]) - 1.0)
    on = [it["wall_ns"] for it in _batch_iterations(raw, True)]
    off = [it["wall_ns"] for it in _batch_iterations(raw, False)]
    return 100.0 * (median(on) / median(off) - 1.0) if on and off else 0.0


def per_layer(raw, cpus):
    """Every per-layer metric of one traced workload record, as
    {name: (value, unit)}; a layer the workload does not run reads 0.
    The dedup metrics of docs_minhash come back under DEDUP_LAYER names."""
    units = dict(PER_LAYER, **DEDUP_LAYER)
    vals = {k: 0.0 for k in PER_LAYER}
    inp = raw["input"]
    vals["sources.gen_s"] = median([p["generate"] for p in raw["setup_parts"]])
    vals["sources.input_mb"] = inp["bytes"] / 1048576
    m = raw["measured"]
    if "rungs" in m:
        nominal = m["rungs"][0]
        vals["sources.input_rows"] = float(nominal["consumed_rows"])
        vals.update(_streaming(m.get("traced_nominal", []) + m["rungs"]))
    else:
        vals["sources.input_rows"] = float(inp["rows"])
        vals.update(_operators(job_breakdown(raw)))
        off = [it["wall_ns"] for it in _batch_iterations(raw, False)]
        # TokensTopKAgg runs core's add loop and nothing else per row, so
        # only there does the add cost bound the job's throughput
        if off and "plans.agg_ns_per_row" in raw["layers"]:
            rows_per_s = inp["rows"] / (median(off) / 1e9)
            vals["plans.parallel_efficiency"] = rows_per_s * raw["layers"]["core.add_ns"] / (1e9 * cpus)
    vals.update({k: float(v) for k, v in raw["layers"].items()})
    vals["trace.overhead_pct"] = tracing_overhead_pct(raw)
    unknown = set(vals) - set(units)
    assert not unknown, "unlisted per-layer metrics: %s" % sorted(unknown)
    return {k: (v, units[k]) for k, v in vals.items()}
