"""Metric arithmetic for perfbench: end-to-end metrics from the timed ops of an
untraced run, per-layer metrics from the spans and listener counters of a
traced run. Pure functions of the harness's ``result.json``; covered by
``selftest.py``.

Attribution rules (documented with the metrics in ``README.md``):

* A job belongs to the span whose id its job group names (the harness sets
  ``pb-<span id>`` when it enters a span). A job whose group is not a span
  (engine code that sets its own group on a helper thread) belongs to the
  innermost span open when the job started.
* A stage belongs to the lowest-numbered job that lists it.
* Lazy ``transform`` outputs are billed to the span whose action runs them.
* Layer metrics are totals over the traced run. The traced run does the
  same work as an untraced one with tracing on: the batch workload's one
  timed pass; ``index_serve``'s set-up ensure calls, its whole request
  sequence and the compaction.
"""

import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]*$")

# Hot layers report HOT_FIELDS, thin layers THIN_FIELDS.
HOT_FIELDS = ("wall_s", "self_s", "jobs", "task_cpu_s", "shuffle_bytes",
              "spill_bytes", "driver_gap_s", "core_util")
THIN_FIELDS = ("wall_s", "self_s", "jobs")
HOT_LAYERS = ("plans", "operators.joins", "encoders", "operators.report",
              "operators.dedup", "operators.recipe",
              "api.standing.probe_text", "api.standing.probe_ann",
              "api.standing.probe_dedup", "api.standing.append")
THIN_LAYERS = ("operators.cleaner", "sparkml", "operators.retrieval",
               "api.standing.ensure", "api.standing.compact")
# Counters the harness measures itself, reported as they are.
EXTRA_METRICS = ("operators.dedup.pairs_out", "operators.dedup.planted_recall",
                 "api.standing.ensure_reuse_ratio",
                 "sources.index_bytes_per_user_byte", "sources.write_amp",
                 "sources.files_per_bucket")
DERIVED_METRICS = ("api.standing.rows_examined_per_result",
                   "spark.jobs", "spark.stages", "spark.tasks",
                   "spark.task_failures", "spark.gc_s", "spark.core_util",
                   "jvm.retained_heap_mb", "jvm.gc_pause_s", "trace.overhead")

def per_layer_names():
    names = [f"{l}.{f}" for l in HOT_LAYERS for f in HOT_FIELDS]
    names += [f"{l}.{f}" for l in THIN_LAYERS for f in THIN_FIELDS]
    return names + list(EXTRA_METRICS) + list(DERIVED_METRICS)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def quantile(xs, q):
    """Linear-interpolation quantile (numpy's default), q in [0, 1]."""
    s = sorted(xs)
    if not s:
        return float("nan")
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def reportable_percentile(n, candidates=(50, 90, 99, 99.9)):
    """The highest percentile with at least ten samples beyond it, or None."""
    best = None
    for p in candidates:
        if n * (1.0 - p / 100.0) >= 10.0 - 1e-9:
            best = p
    return best


def _union_length(intervals, lo=None, hi=None):
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(clipped):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_seconds(span, children):
    """A span's duration minus the part of it its child spans cover."""
    return (span["end"] - span["start"]) - _union_length(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


def attribute_jobs(spans, jobs):
    """Map job id -> span id (or None when no span was open)."""
    by_id = {s["id"]: s for s in spans}
    out = {}
    for j in jobs:
        g = j.get("group", "")
        sid = None
        if g.startswith("pb-"):
            try:
                sid = int(g[3:])
            except ValueError:
                sid = None
        if sid not in by_id:
            open_ = [s for s in spans if s["start"] <= j["start"] <= s["end"]]
            sid = max(open_, key=lambda s: s["start"])["id"] if open_ else None
        out[j["id"]] = sid
    return out


def stage_owner(jobs):
    """Map stage id -> the lowest-numbered job listing it."""
    owner = {}
    for j in sorted(jobs, key=lambda j: j["id"]):
        for st in j["stages"]:
            owner.setdefault(st, j["id"])
    return owner


def layer_metrics(rec, cores):
    """Per-layer values for every hot and thin layer (0 for layers the run
    never entered), totals over the traced run."""
    spans, jobs, stages = rec["spans"], rec["jobs"], rec["stages"]
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    job_span = attribute_jobs(spans, jobs)
    owner = stage_owner(jobs)
    stage_by_job = {}
    for st in stages:
        stage_by_job.setdefault(owner.get(st["id"]), []).append(st)
    jobs_by_span = {}
    for j in jobs:
        jobs_by_span.setdefault(job_span[j["id"]], []).append(j)
    by_id = {s["id"]: s for s in spans}

    def outermost(s):
        p = s["parent"]
        while p in by_id:
            if by_id[p]["name"] == s["name"]:
                return False
            p = by_id[p]["parent"]
        return True

    out = {}
    for layer in HOT_LAYERS + THIN_LAYERS:
        mine = [s for s in spans if s["name"] == layer]
        wall = sum(s["end"] - s["start"] for s in mine if outermost(s))
        self_s = sum(self_seconds(s, children.get(s["id"], [])) for s in mine)
        own_jobs = [j for s in mine for j in jobs_by_span.get(s["id"], [])]
        v = {"wall_s": wall, "self_s": self_s, "jobs": len(own_jobs)}
        if layer in HOT_LAYERS:
            sts = [st for j in own_jobs for st in stage_by_job.get(j["id"], [])]
            run_s = sum(st["run_s"] for st in sts)
            gap = 0.0
            for s in mine:
                busy = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
                busy += [(j["start"], j["end"]) for j in jobs_by_span.get(s["id"], [])]
                gap += (s["end"] - s["start"]) - _union_length(busy, s["start"], s["end"])
            v.update({
                "task_cpu_s": sum(st["cpu_s"] for st in sts),
                "shuffle_bytes": sum(st["shuffle_bytes"] for st in sts),
                "spill_bytes": sum(st["spill_bytes"] for st in sts),
                "driver_gap_s": gap,
                "core_util": run_s / (wall * cores) if wall > 0 else 0.0})
        for f, x in v.items():
            out[f"{layer}.{f}"] = x
    return out, job_span, stage_by_job


def _timed_ops(result):
    """The successful timed ops: the samples of the end-to-end metrics."""
    return [o for o in result["recorder"]["ops"] if o["ok"]]


# The op kinds whose wall time makes a workload's `work_s`. The tabular
# learner ops of the index_serve traced run are not among them.
WORK_KINDS = {"curate_corpus": ("curate",), "index_serve": ("query", "ingest")}


def work_seconds(workload, result):
    """Wall time of the run's fixed timed work: the curation pass, or the
    whole request sequence; NaN when none of it succeeded."""
    xs = [o["seconds"] for o in _timed_ops(result)
          if o["kind"] in WORK_KINDS[workload]]
    return sum(xs) if xs else float("nan")


def unstolen(seconds, steal_share):
    """Wall time less the share the hypervisor stole: the wall time the same
    work would take on an unshared host."""
    return seconds * (1.0 - steal_share)


def end_to_end(workload, result):
    """The gated end-to-end metrics of an untraced run: wall times less the
    host's steal over the same interval (`steal` in the result)."""
    steal = result["steal"]
    return {
        "setup_s": (unstolen(result["setup_s"], steal["setup"]), "s"),
        "work_s": (unstolen(work_seconds(workload, result), steal["timed"]), "s"),
    }


def fail_counts(result):
    """(attempted ops, failed ops + failed output checks)."""
    ops = result["recorder"]["ops"]
    failed = sum(1 for o in ops if not o["ok"])
    failed += sum(1 for c in result["checks"] if not c["ok"])
    return len(ops), failed


def workload_report(workload, result):
    """The per-workload metrics, printed by name above the result line:
    (name, value, unit, better, sample count)."""
    ops = _timed_ops(result)

    def of(kind):
        return [o for o in ops if o["kind"] == kind]

    def rate(kind):
        xs = of(kind)
        return median([o["rows"] / o["seconds"] for o in xs]), len(xs)

    attempted, failed = fail_counts(result)
    work = [o for o in ops if o["kind"] in WORK_KINDS[workload]]
    rep = [("setup_wall_s", result["setup_s"], "s", "lower", 1),
           ("work_wall_s", work_seconds(workload, result), "s", "lower", len(work)),
           ("steal_share", result["steal"]["timed"], "ratio", "lower", 1),
           ("fail_share", failed / max(1, attempted), "ratio", "lower", attempted),
           ("work_cpu_s", sum(o["cpu_s"] for o in work), "s", "lower", len(work))]
    if workload == "curate_corpus":
        v, n = rate("curate")
        rep.append(("curate_docs_per_s", v, "docs/s", "higher", n))
    else:
        q = [o["seconds"] * 1000.0 for o in of("query")]
        rep.append(("query_p50_ms", median(q), "ms", "lower", len(q)))
        p = reportable_percentile(len(q), (90,))
        rep.append(("query_p90_ms", quantile(q, 0.9) if p else None, "ms",
                    "lower", len(q)))
        ing = [o["seconds"] * 1000.0 for o in of("ingest")]
        rep.append(("ingest_p50_ms", median(ing), "ms", "lower", len(ing)))
        if of("fit"):  # the traced run's tabular learner pass
            for kind in ("fit", "predict"):
                v, n = rate(kind)
                rep.append((f"{kind}_rows_per_s", v, "rows/s", "higher", n))
            xs = [o["seconds"] for o in of("inspect")]
            rep.append(("inspect_s", median(xs), "s", "lower", len(xs)))
    return rep


def per_layer(workload, result):
    """Every per-layer metric of a traced run (0 where a layer is idle)."""
    rec = result["recorder"]
    cores = result["cores"]
    out, job_span, stage_by_job = layer_metrics(rec, cores)
    extras = result["extras"]
    for k in EXTRA_METRICS:
        out[k] = extras.get(k, 0.0)

    spans = {s["id"]: s for s in rec["spans"]}
    probe_jobs = [j for j in rec["jobs"] if spans.get(job_span[j["id"]], {}).get("name")
                  in ("api.standing.probe_text", "api.standing.probe_ann")]
    examined = sum(st["records_read"] for j in probe_jobs
                   for st in stage_by_job.get(j["id"], []))
    results = extras.get("api.standing.probe_result_rows", 0.0)
    out["api.standing.rows_examined_per_result"] = examined / results if results else 0.0

    stages = rec["stages"]
    traced = [o for o in rec["ops"] if o["traced"]]
    top_spans = [s for s in rec["spans"] if s["op"] < 0 and s["parent"] < 0]
    work = sum(o["seconds"] for o in traced)
    wall = work + sum(s["end"] - s["start"] for s in top_spans)
    out["spark.jobs"] = len(rec["jobs"])
    out["spark.stages"] = sum(1 for st in stages if st["tasks"] > 0)
    out["spark.tasks"] = sum(st["tasks"] for st in stages)
    out["spark.task_failures"] = sum(st["failed_tasks"] for st in stages)
    out["spark.gc_s"] = sum(st["gc_s"] for st in stages)
    out["spark.core_util"] = (sum(st["run_s"] for st in stages) / (wall * cores)
                              if wall > 0 else 0.0)
    out["jvm.retained_heap_mb"] = result["jvm"]["retained_heap_mb"]
    out["jvm.gc_pause_s"] = result["jvm"]["gc_pause_s"]
    # the tracer's own client-thread time (span bookkeeping, bus drains) on
    # top of the traced work: traced wall over the estimated untraced wall
    out["trace.overhead"] = 1.0 + result["trace_cost_s"] / work if work > 0 else 0.0
    return out
