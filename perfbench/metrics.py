"""Turns a perfbench run record (written by perfbench.Main) into metrics.

Everything here is a pure function of the record, so the rules the
benchmark reports by — tail percentile, self time, job attribution,
ratio bases, output checks — are unit-tested in test_metrics.py.
"""
import math
import statistics

LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
PARALLELISM = 4
CONTAINER_SPANS = ("pass", "sweep")
FRONTIER_LAYERS = ("seen.first_wins", "seen.bloom_probe", "seen.exact_confirm",
                   "sched.robots", "sched.assign", "fetch", "extract")
READBACK_SPANS = ("snapshot.readback", "snapshot.readback.final_report",
                  "snapshot.readback.metrics_sql", "snapshot.readback.docs_extract")


# ---- statistics ----------------------------------------------------------

def nearest_rank(sorted_vals, pct):
    """Nearest-rank percentile of an ascending list."""
    k = max(1, math.ceil(pct / 100.0 * len(sorted_vals)))
    return sorted_vals[k - 1]


def tail_percentile(samples, min_beyond=10):
    """The highest percentile of LADDER with at least `min_beyond`
    samples strictly above its value, as (percentile, value, n).

    When no rung qualifies (fewer than 2 x min_beyond samples) the
    median is the highest reportable point: (50.0, median, n).
    """
    s = sorted(samples)
    n = len(s)
    if n == 0:
        return 50.0, 0.0, 0
    for p in LADDER:
        v = nearest_rank(s, p)
        if sum(1 for x in s if x > v) >= min_beyond:
            return p, v, n
    return 50.0, statistics.median(s), n


def ratio(num, den):
    """num / den, and 0.0 for an empty base."""
    return num / den if den else 0.0


# ---- spans ---------------------------------------------------------------

def union_length(intervals):
    """Total length covered by possibly overlapping (start, end) pairs."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Seconds of each span not covered by its children, by span id.

    Children may overlap each other; the part of the parent they cover
    is counted once.
    """
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        covered = union_length((max(c["start_ms"], lo), min(c["end_ms"], hi))
                               for c in kids.get(s["id"], []))
        out[s["id"]] = (hi - lo - covered) / 1e3
    return out


def attribute_jobs(spans, jobs, slack_ms=1.0):
    """Span id owning each job id.

    A job belongs to the span its job group names, when that span was
    open at the job's start; otherwise (a job submitted from a pooled
    thread whose group is stale or missing) to the innermost span open
    at its start. Jobs outside every span map to None.
    """
    by_id = {s["id"]: s for s in spans}

    def inside(s, t):
        return s["start_ms"] - slack_ms <= t <= s["end_ms"] + slack_ms

    out = {}
    for j in jobs:
        sp = by_id.get(j["span"])
        if sp is not None and inside(sp, j["start_ms"]):
            out[j["id"]] = sp["id"]
            continue
        open_ = [s for s in spans if inside(s, j["start_ms"])]
        out[j["id"]] = max(open_, key=lambda s: s["start_ms"])["id"] if open_ else None
    return out


def stages_by_span(trace):
    """Stage records grouped by the span that owns the job running them."""
    owner = attribute_jobs(trace["spans"], trace["jobs"])
    stage_job = {}
    for j in sorted(trace["jobs"], key=lambda j: j["id"]):
        for st in j["stages"]:
            stage_job.setdefault(st, j["id"])
    out = {}
    for st in trace["stages"]:
        sp = owner.get(stage_job.get(st["id"]))
        out.setdefault(sp, []).append(st)
    return out


def total(stages, key):
    return sum(s[key] for s in stages)


def task_skew(stages):
    """Slowest task / mean task of the stage with the most task time."""
    if not stages:
        return 0.0
    st = max(stages, key=lambda s: s["task_s_sum"])
    return ratio(st["task_s_max"], ratio(st["task_s_sum"], st["tasks"]))


def sql_child_spans(spans, sql, parent_name):
    """SQL executions that ran inside a `parent_name` span, as child spans."""
    out = []
    next_id = max((s["id"] for s in spans), default=-1) + 1
    parents = [s for s in spans if s["name"] == parent_name]
    for q in sorted(sql, key=lambda q: q["start_ms"]):
        if q["end_ms"] < 0:
            continue
        for p in parents:
            if p["start_ms"] - 1 <= q["start_ms"] and q["end_ms"] <= p["end_ms"] + 1:
                out.append({"id": next_id, "parent": p["id"], "name": "sql:" + q["desc"],
                            "start_ms": q["start_ms"], "end_ms": q["end_ms"], "counts": {}})
                next_id += 1
                break
    return out


# ---- output checks -------------------------------------------------------

def _checked_ops(record):
    """Timed operations, then the traced ones."""
    return list(record["ops"]) + [record[k] for k in ("traced", "traced_crawl") if record.get(k)]


def outcome(record, golden):
    """(attempted, failed, problems) over every unit of every operation.

    Units are the timed and the traced operations'. A unit fails if it
    raised or failed its own check, or if its digest
    differs from the reference: the golden for this seed when one was
    recorded, else the same unit's digest in this run's first
    operation. Units a golden does not cover (read-backs after a round
    the recording run did not stop at) are counted but have no reference.
    """
    ops = _checked_ops(record)
    attempted, failed, problems = 0, 0, []
    first = {}
    for i, op in enumerate(ops):
        for u in op["units"]:
            attempted += 1
            ref = golden.get(u["name"]) if golden is not None else first.get(u["name"])
            first.setdefault(u["name"], u["digest"])
            why = None
            if not u["ok"]:
                why = u["detail"] or "check failed"
            elif ref is not None and ref != u["digest"]:
                why = "digest %s != %s %s" % (
                    u["digest"], "golden" if golden is not None else "first operation's", ref)
            if why:
                failed += 1
                problems.append("operation %d, %s: %s" % (i, u["name"], why))
    return attempted, failed, problems


def golden_units(record):
    """The digests a recorded run contributes to goldens.json: every
    unit of every operation (they must agree where names repeat).
    """
    return {u["name"]: u["digest"] for op in _checked_ops(record) for u in op["units"]}


# ---- end-to-end metrics --------------------------------------------------

def setup_seconds(record, extra_setup_s=0.0):
    s = record["setup"]
    return (s["jvm_s"] + s["session_s"] + s["warmup_s"]
            + statistics.median(s["inputs_s"]) + extra_setup_s)


def end_to_end(record, extra_setup_s=0.0):
    ops = record["ops"]
    return {
        "wall_s": statistics.median(op["wall_s"] for op in ops),
        "setup_s": setup_seconds(record, extra_setup_s),
        "urls_per_s": statistics.median(ratio(op["urls"], op["wall_s"]) for op in ops),
        "live_heap_peak_mb": record["live_heap_peak_mb"],
    }


# ---- per-layer metrics ---------------------------------------------------

def _spark(all_stages, wall_s):
    cpu = total(all_stages, "cpu_s")
    return {
        "spark.task_cpu_s": cpu,
        "spark.slot_util": ratio(cpu, wall_s * PARALLELISM),
        "spark.gc_s": total(all_stages, "gc_s"),
        "spark.stages": float(len(all_stages)),
        "spark.tasks": float(total(all_stages, "tasks")),
    }


def _frontier(spans, selfs, by_span):
    named = {s["name"]: s for s in spans}
    if any(n not in named for n in FRONTIER_LAYERS):
        return {}  # the traced pass failed; its unit says why

    def c(name, key):
        return float(named[name]["counts"].get(key, 0.0))

    def st(prefix):
        return [x for s in spans if s["name"].startswith(prefix)
                for x in by_span.get(s["id"], [])]

    maybe = c("seen.bloom_probe", "maybe")
    return {
        "seen.first_wins.s": selfs[named["seen.first_wins"]["id"]],
        "seen.first_wins.rows_in": c("seen.first_wins", "rows_in"),
        "seen.first_wins.rows_out": c("seen.first_wins", "rows_out"),
        "seen.bloom_probe.s": selfs[named["seen.bloom_probe"]["id"]],
        "seen.bloom_maybe_ratio": ratio(maybe, c("seen.bloom_probe", "probed")),
        "seen.exact_confirm.s": selfs[named["seen.exact_confirm"]["id"]],
        "seen.exact_hit_ratio": ratio(maybe - c("seen.exact_confirm", "confirmed_new"), maybe),
        "seen.shuffle_mb": total(st("seen."), "shuffle_write_mb"),
        "sched.robots.s": selfs[named["sched.robots"]["id"]],
        "sched.robots_denied": c("sched.robots", "denied"),
        "sched.assign.s": selfs[named["sched.assign"]["id"]],
        "sched.scheduled": c("sched.assign", "scheduled"),
        "sched.task_skew": task_skew(by_span.get(named["sched.assign"]["id"], [])),
        "sched.shuffle_mb": total(st("sched."), "shuffle_write_mb"),
        "sched.spill_mb": total(st("sched."), "spill_mb"),
        "fetch.s": selfs[named["fetch"]["id"]],
        "fetch.head_probes": c("fetch", "head_probes"),
        "fetch.valid_ratio": ratio(c("fetch", "docs"), c("fetch", "head_probes")),
        "fetch.docs": c("fetch", "docs"),
        "extract.s": selfs[named["extract"]["id"]],
        "extract.spans_in": c("fetch", "spans"),
        "extract.rows_out": c("extract", "rows_out"),
    }


def _crawl(spans, trace, by_span, extra):
    if any(n not in {s["name"] for s in spans} for n in READBACK_SPANS):
        return {}  # the traced crawl failed; its unit says why
    rounds = [s for s in spans if s["name"] == "crawl.round"]
    n = len(rounds)
    durs = [(s["end_ms"] - s["start_ms"]) / 1e3 for s in rounds]
    owner = attribute_jobs(spans, trace["jobs"])
    driver, jobs_n, tasks_n, collect_s, write_s = [], [], [], [], []
    for r in rounds:
        js = [j for j in trace["jobs"] if owner.get(j["id"]) == r["id"] and j["end_ms"] >= 0]
        busy = union_length((max(j["start_ms"], r["start_ms"]), min(j["end_ms"], r["end_ms"]))
                            for j in js)
        driver.append((r["end_ms"] - r["start_ms"] - busy) / 1e3)
        jobs_n.append(len(js))
        tasks_n.append(total(by_span.get(r["id"], []), "tasks"))
        kids = [q for q in sql_child_spans(spans, trace["sql"], "crawl.round")
                if q["parent"] == r["id"]]
        collect_s.append(union_length((q["start_ms"], q["end_ms"]) for q in kids
                                      if q["name"].startswith("sql:collect at CrawlJob")) / 1e3)
        write_s.append(union_length((q["start_ms"], q["end_ms"]) for q in kids
                                    if q["name"].startswith("sql:parquet at SnapshotLog")) / 1e3)
    pct, tail, _ = tail_percentile(durs)
    named = {s["name"]: s for s in spans}

    def dur(name):
        s = named[name]
        return (s["end_ms"] - s["start_ms"]) / 1e3

    def mean(xs):
        return ratio(sum(xs), len(xs))

    return {
        "crawl.rounds": float(n),
        "crawl.round_p50_s": statistics.median(durs) if durs else 0.0,
        "crawl.round_tail_s": tail,
        "crawl.round_tail_pct": pct,
        "crawl.driver_s_per_round": mean(driver),
        "crawl.jobs_per_round": mean(jobs_n),
        "crawl.tasks_per_round": mean(tasks_n),
        "crawl.collect_s_per_round": mean(collect_s),
        "crawl.write_s_per_round": mean(write_s),
        "snapshot.files_per_round": ratio(extra["data_files"], n),
        "snapshot.bytes_per_round": ratio(extra["data_bytes"], n),
        "snapshot.data_dirs": float(extra["data_dirs"]),
        "snapshot.readback.final_report_s": dur("snapshot.readback.final_report"),
        "snapshot.readback.metrics_sql_s": dur("snapshot.readback.metrics_sql"),
        "snapshot.readback.docs_extract_s": dur("snapshot.readback.docs_extract"),
        "readback_s": dur("snapshot.readback"),
    }


def _curate(spans, by_span, shuffle_queries):
    out = {}
    all_q = []
    for s in spans:
        if s["name"].startswith("query."):
            q = s["name"][len("query."):]
            sts = by_span.get(s["id"], [])
            all_q.extend(sts)
            out["query.%s.s" % q] = (s["end_ms"] - s["start_ms"]) / 1e3
            if q in shuffle_queries:
                out["query.%s.shuffle_mb" % q] = total(sts, "shuffle_write_mb")
    out.update({
        "ops.task_cpu_s": total(all_q, "cpu_s"),
        "ops.shuffle_mb": total(all_q, "shuffle_write_mb"),
        "ops.spill_mb": total(all_q, "spill_mb"),
        "ops.gc_s": total(all_q, "gc_s"),
        "ops.stages": float(len(all_q)),
    })
    return out


def per_layer(record, declared, shuffle_queries=()):
    """Every declared per-layer metric; layers this run does not trace
    read 0. spark.* and trace.* describe the workload's own traced
    operation; crawl.* and snapshot.* come from the traced crawl section
    of a frontier_1host run.
    """
    traced = record["traced"]
    trace = traced.get("trace", {"spans": [], "jobs": [], "stages": [], "sql": []})
    spans = trace["spans"]
    selfs = self_times(spans)
    by_span = stages_by_span(trace)
    all_stages = [st for sp, sts in by_span.items() if sp is not None for st in sts]
    m = {}
    if record["workload"] == "frontier_1host":
        m.update(_frontier(spans, selfs, by_span))
    else:
        m.update(_curate(spans, by_span, set(shuffle_queries)))
    crawl = record.get("traced_crawl")
    if crawl and crawl.get("trace"):
        m.update(_crawl(crawl["trace"]["spans"], crawl["trace"],
                        stages_by_span(crawl["trace"]), crawl["extra"]))
    m.update(_spark(all_stages, traced["wall_s"]))
    m["trace.overhead_s"] = traced["wall_s"] - statistics.median(
        op["wall_s"] for op in record["ops"])
    m["trace.unattributed_s"] = sum(selfs[s["id"]] for s in spans
                                    if s["name"] in CONTAINER_SPANS)
    return {name: float(m.get(name, 0.0)) for name in declared}
