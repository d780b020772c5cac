"""Pure helpers of the benchmark: order statistics, the tail-percentile rule,
family sums, fail ratios and the reduction of one run's raw JSON to metrics.
No I/O here, so everything is unit-tested (tests/test_benchlib.py)."""

import statistics

MIB = 1048576.0

# the analytics workload's queries by family (the q_*_s sums)
FAMILIES = {
    "q_extract_s": ["extract_text"],
    "q_text_s": ["lang_id", "quality_score", "token_count"],
    "q_dedup_s": ["dedup_exact", "dedup_ngram", "dedup_clusters"],
    "q_vector_s": ["ann_cosine", "emb_lsh_recall"],
    "q_relational_s": ["tpch_skew_revenue", "events_sessions", "media_features"],
}


def median(xs):
    if not xs:
        raise ValueError("median of no values")
    return statistics.median(xs)


def quartiles(xs):
    """(q1, q2, q3) as statistics.quantiles(xs, n=4) gives them."""
    if len(xs) < 2:
        x = xs[0]
        return (x, x, x)
    return tuple(statistics.quantiles(xs, n=4))


def spread(xs):
    """Interquartile range as a share of the median."""
    q1, _, q3 = quartiles(xs)
    m = median(xs)
    return (q3 - q1) / m if m else 0.0


def tail_percentile(xs, candidates=(99.9, 99.0, 95.0, 90.0, 75.0, 50.0), beyond=10):
    """(p, value) for the highest candidate percentile that still has at least
    `beyond` samples above its rank, so a tail is never one lone outlier.
    Nearest-rank definition; falls back to the median."""
    s = sorted(xs)
    n = len(s)
    for p in candidates:
        rank = max(1, -(-p * n // 100))  # ceil(p*n/100), 1-based nearest rank
        rank = int(rank)
        if n - rank >= beyond:
            return p, s[rank - 1]
    return 50.0, median(s)


def family_sums(per_query_medians, families=FAMILIES):
    """Sum of per-query medians for each family; a query missing from the
    input is an error, never a silent zero."""
    out = {}
    for fam, names in families.items():
        missing = [q for q in names if q not in per_query_medians]
        if missing:
            raise KeyError("no timing for %s" % ", ".join(missing))
        out[fam] = sum(per_query_medians[q] for q in names)
    return out


def fail_ratio(failed, attempted):
    if attempted <= 0:
        raise ValueError("nothing attempted")
    return failed / attempted


def _m(value, unit):
    return {"value": value, "unit": unit}


def pass_seconds(parts, key="plain_s"):
    """One pass = one of each measured part: the sum of the parts' medians."""
    return sum(median(p[key]) for p in parts)


def setup_seconds(raw, suffix="_s"):
    """Session start + median of the repeated input builds + warm-up."""
    return (raw["session" + suffix] + median(raw["setup_reps" + suffix])
            + raw["warm" + suffix])


def end_to_end(raw):
    """The end-to-end metrics of one untraced run. Times are CPU seconds,
    which other tenants of a shared host cannot inflate the way they inflate
    wall time: set-up in CPU of the whole JVM, JIT compilation included; the
    pass in CPU of the Java threads, which leaves out the JIT compiler's
    threads (more than half of a pass's JVM CPU in a young JVM, and much of
    its spread). The wall-clock and whole-JVM twins go on the detail line."""
    return {
        "setup_s": _m(setup_seconds(raw, "_cpu_s"), "s"),
        "pass_cpu_s": _m(pass_seconds(raw["parts"], "plain_thread_cpu_s"), "s"),
        "live_heap_sampled_mb": _m(max(raw["live_heap_mb"]), "MB"),
    }


def _stage_metrics(prefix, parts):
    """Spark-stage metrics of one pass (one traced sample of each part)."""
    def per_pass(key, scale=1.0):
        return sum(p["stages"][key] / scale / max(len(p["traced_s"]), 1) for p in parts)
    tasks = [ms for p in parts for ms in p["stages"]["task_ms"]]
    return {
        prefix + "jobs": _m(per_pass("jobs"), "count"),
        prefix + "stages": _m(per_pass("stages"), "count"),
        prefix + "tasks": _m(per_pass("tasks"), "count"),
        prefix + "executor_run_ms": _m(per_pass("executor_run_ms"), "ms"),
        prefix + "executor_cpu_ms": _m(per_pass("executor_cpu_ms"), "ms"),
        prefix + "jvm_gc_ms": _m(per_pass("jvm_gc_ms"), "ms"),
        prefix + "shuffle_read_mb": _m(per_pass("shuffle_read_bytes", MIB), "MB"),
        prefix + "shuffle_write_mb": _m(per_pass("shuffle_write_bytes", MIB), "MB"),
        prefix + "output_mb": _m(per_pass("output_bytes", MIB), "MB"),
        prefix + "task_ms_p50": _m(float(median(tasks)) if tasks else 0.0, "ms"),
        prefix + "task_ms_max": _m(float(max(tasks)) if tasks else 0.0, "ms"),
    }


def stage_imbalance(stages):
    """Largest max/median task-time ratio over the stages with >= 2 tasks."""
    by_stage = {}
    for st in stages:
        for ms, sid in zip(st["task_ms"], st["task_stage"]):
            by_stage.setdefault(sid, []).append(ms)
    ratios = [max(v) / max(median(v), 1.0) for v in by_stage.values() if len(v) >= 2]
    return max(ratios) if ratios else 1.0


def kernel_phase_metrics(k):
    """µs/doc and KB/doc per phase: per-sweep totals, median over sweeps."""
    docs = k["docs_per_sweep"]
    out = {}
    ns = list(zip(*k["ns"]))      # phase -> per-sweep ns
    by = list(zip(*k["bytes"]))
    for i, ph in enumerate(k["phases"]):
        out[ph + ".us_per_doc"] = _m(median(ns[i]) / 1e3 / docs, "us")
        out[ph + ".kb_per_doc"] = _m(median(by[i]) / 1024.0 / docs, "KB")
    out["kernel.us_per_doc"] = _m(median([sum(s) for s in k["ns"]]) / 1e3 / docs, "us")
    out["kernel.kb_per_doc"] = _m(median([sum(s) for s in k["bytes"]]) / 1024.0 / docs, "KB")
    arb = k["arbitrated"]
    out["fallback.override_ratio"] = _m(k["overridden"] / arb if arb else 0.0, "ratio")
    return out


def per_layer(raw):
    """The per-layer metrics of one traced run (same names on every workload)."""
    t = raw["trace"]
    out = {}
    out.update(kernel_phase_metrics(t["kernel"]))
    us = t["row"]["kernel_us"]
    _, tail = tail_percentile(us)
    out["row.kernel_us_p50"] = _m(float(median(us)), "us")
    out["row.kernel_us_tail"] = _m(float(tail), "us")
    out["row.kernel_us_max"] = _m(float(max(us)), "us")
    # executor time the kernel accounts for, in the stage that ran it
    run_ms = t["row"]["stage"]["executor_run_ms"]
    out["row.kernel_share"] = _m(sum(us) / 1e3 / max(run_ms, 1), "ratio")
    parts = raw["parts"]
    out.update(_stage_metrics("spark.", parts))
    out["skew.task_ms_max_over_p50"] = _m(stage_imbalance([p["stages"] for p in parts]), "ratio")
    # parts with an untraced reference of the same warmth
    ref = [p for p in parts if p["overhead_ref_s"]]
    out["trace.pass_ratio"] = _m(pass_seconds(ref, "traced_s") /
                                 pass_seconds(ref, "overhead_ref_s"), "ratio")
    return out


def detail(raw):
    """Workload-specific figures printed before the result line: the names of
    the benchmark doc that exist on one workload only (docs/s, resume,
    commit-log and per-query layers)."""
    w = raw["workload"]
    d = raw["detail"]
    # pass_wall_s spread up to 0.50 between seeds on a contended host, too
    # wide for a bound, so it is reported here rather than end to end
    out = {"setup_wall_s": setup_seconds(raw), "pass_wall_s": pass_seconds(raw["parts"]),
           "pass_jvm_cpu_s": pass_seconds(raw["parts"], "plain_cpu_s"),
           "kernel_wall_s": median(raw["kernel_s"]), "kernel_cpu_s": median(raw["kernel_cpu_s"])}
    if w == "extract-commit":
        out["extract_docs_per_s"] = d["pages"] / median(d["extract_s"])
        out["commit_docs_per_s"] = d["docs"] / median(d["fresh_s"])
        out["resume_s"] = median(d["resume_s"])
        out["doc_fail_ratio"] = fail_ratio(raw["failed"], raw["attempted"])
    elif w == "analytics":
        med = {q: median(v) for q, v in d["queries"].items() if v}
        fams = family_sums(med)
        out["query_total_s"] = sum(med.values())
        out["query_fail_ratio"] = fail_ratio(raw["failed"], raw["attempted"])
        out.update(fams)
        for q, v in sorted(med.items()):
            out["q.%s.s" % q] = v
    t = raw.get("trace")
    if t:
        # which percentile row.kernel_us_tail is, for this many rows
        out["row.kernel_us_tail_pct"] = tail_percentile(t["row"]["kernel_us"])[0]
    if t and "queries" in t:
        for q, st in sorted(t["queries"].items()):
            out["q.%s.executor_ms" % q] = st["executor_run_ms"] / max(len(st["traced_s"]), 1)
            out["q.%s.shuffle_mb" % q] = st["shuffle_write_bytes"] / MIB / max(len(st["traced_s"]), 1)
    if t and "commit" in t:
        c = t["commit"]
        walls = c["bucket_wall_ms"]
        out["commit.stage_s"] = c["stage_s"]
        out["commit.bucket_ms_p50"] = median(walls)
        out["commit.bucket_ms_max"] = max(walls)
        out["commit.jobs_per_bucket"] = c["jobs_per_bucket"]
        out["commit.files_written"] = c["files_written"]
        out["commit.bytes_per_doc"] = c["bytes_per_doc"]
        out["skew.heavy_docs"] = c["heavy_docs"]
    return out
