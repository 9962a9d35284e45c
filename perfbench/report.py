"""Metric computation and the printed summary.

End-to-end metrics come from the untraced run's own timers and CPU
readings (see ``end_to_end``). Per-layer
metrics come from the traced run's spans: ``<layer>.s`` is the median
duration of one call over the whole run, ``<layer>.calls`` is calls per
timed cycle, and counts are exact. A layer the workload never reaches
reports 0.
"""

from __future__ import annotations

import statistics

from perfbench.tracer import KERNEL_ENTRIES, TARGETS, median

SERVE_SHAPES = [
    "ranked", "ranked_rare", "lookup", "group_page", "multifield", "facets",
    "filtered", "typo", "prefix", "drop_tokens", "split_join",
]
BATCH_KINDS = ["plain", "filtered"]
# facade helpers reported as .calls / .s
HELPERS = [
    f"{m}.{f}" for m, f in TARGETS
    if m.startswith(("search.typo", "search.prefix", "search.infix", "search.splitjoin",
                     "search.phrase", "search.highlight", "search.fallback"))
    or f == "grouped_search"
]
BUILDS = {"index.builder.assign_doc_ids", "index.segments.build_segments",
          "index.segments.build_multifield_segments"}


def _m(value, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def _read_cpu_ms(rec) -> float:
    """Mean CPU time of one read op: a serve cycle mixes unlike shapes,
    one call each, so a median would pick whichever shape lands in the
    middle."""
    reads_cpu = rec.cpu_times("read")
    return sum(reads_cpu) / max(1, len(reads_cpu)) * 1000.0


def end_to_end(rec, setup_cpu_s: float, cycles_cpu: list[float], index_ratio: float) -> dict:
    """The timings are CPU time of the whole program (driver, JVM and
    Python workers): wall time on a shared host moves with the load
    other guests put on it, CPU time hardly does."""
    return {
        "setup_s": _m(setup_cpu_s, "s"),
        "read_cpu_ms": _m(_read_cpu_ms(rec), "ms"),
        "cycle_cpu_s": _m(median(cycles_cpu), "s"),
        "index_bytes_per_text_byte": _m(index_ratio, "ratio"),
    }


def _q(xs: list[float], p: float) -> float:
    xs = sorted(xs)
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[int(p * 100) - 1]


def print_summary(wl, rec, e2e: dict, setup_wall_s: float, cycles, failed: int,
                  attempted: int, peak_rss_mb: float, dig: str) -> None:
    """Human-readable lines before the JSON result: every end-to-end
    figure (CPU time), the same in wall time, the workload's headline
    figures (wall) with sample counts, the correctness verdict and the
    result digest."""
    lines = [f"workload: {wl.name}  cycles={len(cycles)}  ops={attempted}"]
    n_reads = len(rec.cpu_times("read"))
    for k, v in e2e.items():
        n = {"read_cpu_ms": f" (mean, n={n_reads})",
             "cycle_cpu_s": f" (median, n={len(cycles)})"}.get(k, "")
        lines.append(f"  {k} = {v['value']:.6g} {v['unit']}{n}")
    reads = rec.durations("read")
    lines.append(f"  setup_wall_s = {setup_wall_s:.6g} s")
    lines.append(f"  cycle_s = {median(cycles):.6g} s (wall, median, n={len(cycles)})")
    if wl.name == "serve":
        lines.append(f"  search_p50_ms = {median(reads) * 1000:.6g} ms (n={len(reads)})")
        lines.append(f"  search_p90_ms = {_q(reads, 0.9) * 1000:.6g} ms (n={len(reads)}; "
                     "fewer than 10 samples lie beyond p90)")
    else:
        batches = rec.durations("batch")
        ups = rec.durations("write", "upsert")
        compact = rec.durations("maintain", "compact")
        lines += [
            f"  build_turns_per_s = {wl.n_docs / wl.facts['build_s']:.6g} turns/s (n=1, set-up)",
            f"  batch_queries_per_s = {wl.batch_queries_run / sum(batches) if batches else 0:.6g} q/s "
            f"(n={len(batches)} batches)",
            f"  upsert_p50_s = {median(ups):.6g} s (n={len(ups)})",
            f"  churn_search_p50_ms = {median(reads) * 1000:.6g} ms (n={len(reads)})",
            "  compact_s = " + (f"{compact[0]:.6g} s (n=1)" if compact else "traced runs only"),
        ]
    lines.append(f"  peak_rss_mb = {peak_rss_mb:.6g} MB (sum of VmHWM: driver JVM + live Python workers)")
    lines.append(f"  failed_op_share = {failed / max(1, attempted):.6g} ({failed}/{attempted})")
    lines.append(f"  correct = {failed == 0}  digest = {dig}")
    print("\n".join(lines), flush=True)


def per_layer(tracer, wl, rec, cycles, window, get_spark_s: float,
              empty_job_ms: float, peak_rss_mb: float) -> dict:
    t0, t1 = window
    n_cyc = max(1, len(cycles))
    kids = tracer.children()
    by_id = {s.id: s for s in tracer.spans}

    def durs(name, lo=float("-inf"), hi=float("inf")):
        return [s.dur for s in tracer.named(name, lo, hi)]

    def jobs(sp) -> list[int]:
        return tracer.subtree_jobs(sp, kids)

    def mean(xs) -> float:
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    def nested_in(sp, names) -> bool:
        p = sp.parent
        while p is not None:
            if by_id[p].name in names:
                return True
            p = by_id[p].parent
        return False

    m: dict[str, dict] = {}
    m["session.get_spark.s"] = _m(get_spark_s, "s")
    m["spark.empty_python_job_ms"] = _m(empty_job_ms, "ms")
    m["spark.peak_rss_mb"] = _m(peak_rss_mb, "MB")

    searches = tracer.named("search.api.search", t0, t1)
    upserts = tracer.named("index.incremental.upsert_docs", t0, t1)
    builds = [s for s in tracer.spans
              if s.name in BUILDS and s.end <= t0 and not nested_in(s, BUILDS)]
    batch_ops = [s for s in tracer.spans
                 if s.name.startswith("search.wand.wand_topk_batch.")
                 and t0 <= s.start and s.end <= t1]
    m["spark.jobs_per_search"] = _m(mean(len(jobs(s)) for s in searches), "count")
    m["spark.jobs_per_upsert"] = _m(mean(len(jobs(s)) for s in upserts), "count")
    m["spark.jobs_per_build"] = _m(sum(len(jobs(s)) for s in builds), "count")
    m["spark.tasks_per_batch"] = _m(
        mean(sum(tracer.job_tasks.get(j, (0, 0))[0] for j in jobs(s)) for s in batch_ops),
        "count",
    )
    m["spark.failed_tasks"] = _m(sum(f for _, f in tracer.job_tasks.values()), "count")

    setup_build_s = sum(
        s.dur for s in builds
        if s.name in ("index.builder.assign_doc_ids", "index.segments.build_segments")
    )
    m["index.builder.assign_doc_ids.s"] = _m(median(durs("index.builder.assign_doc_ids", hi=t0)), "s")
    m["index.segments.build_segments.s"] = _m(median(durs("index.segments.build_segments", hi=t0)), "s")
    m["index.segments.build_multifield_segments.s"] = _m(
        median(durs("index.segments.build_multifield_segments", hi=t0)), "s")
    m["index.segments.bytes_on_disk"] = _m(wl.facts.get("bytes_on_disk", 0), "B")
    m["index.segments.parts"] = _m(wl.facts.get("parts", 0), "count")
    m["index.segments.build_turns_per_s"] = _m(
        wl.n_docs / setup_build_s if setup_build_s else 0.0, "turns/s")
    # the facade's index accessors build on the first call and hit a
    # cache after: report their set-up total, not the per-call median
    for f in ("documents_segment_index", "documents_multifield_index"):
        m[f"operators.fulltext_extra.{f}.s"] = _m(sum(durs(f"operators.fulltext_extra.{f}", hi=t0)), "s")

    m["search.wand.load_index.s"] = _m(median(durs("search.wand.load_index")), "s")
    for kind in BATCH_KINDS:
        m[f"search.wand.wand_topk_batch.{kind}.s"] = _m(median(rec.durations("batch", kind)), "s")
    batches = rec.durations("batch")
    m["search.wand.batch_queries_per_s"] = _m(
        wl.batch_queries_run / sum(batches) if batches else 0.0, "1/s")
    kernel_names = {f"search.wand.{f}" for f in KERNEL_ENTRIES}

    def kernel_passes(sp) -> int:
        return sum(1 for c in kids.get(sp.id, [])
                   if c.name in kernel_names) + sum(
            kernel_passes(c) for c in kids.get(sp.id, []) if c.name not in kernel_names)

    m["search.wand.kernel_passes_per_search"] = _m(mean(kernel_passes(s) for s in searches), "count")
    for name in sorted(kernel_names) + HELPERS:
        m[f"{name}.calls"] = _m(len(tracer.named(name, t0, t1)) / n_cyc, "count")
        m[f"{name}.s"] = _m(median(durs(name)), "s")

    m["search.api.search.self_s"] = _m(median(tracer.self_time(s, kids) for s in searches), "s")
    m["search.api.search.p90_ms"] = _m(_q([s.dur for s in searches], 0.9) * 1000.0, "ms")
    op_spans: dict[str, list] = {}
    for s in tracer.spans:
        if s.name.startswith("op.read.") and t0 <= s.start and s.end <= t1:
            op_spans.setdefault(s.name[len("op.read."):], []).append(s)
    for shape in SERVE_SHAPES:
        spans = op_spans.get(shape, [])
        m[f"search.api.{shape}.p50_ms"] = _m(median(s.dur for s in spans) * 1000.0, "ms")
        m[f"spark.jobs.{shape}"] = _m(mean(len(jobs(s)) for s in spans), "count")

    for f in ("upsert_docs", "delete_docs", "load_tombstones", "compact"):
        m[f"index.incremental.{f}.s"] = _m(median(durs(f"index.incremental.{f}")), "s")
    m["index.incremental.tombstoned_docs"] = _m(wl.facts.get("tombstoned_docs", 0), "count")
    m["index.incremental.delta_parts"] = _m(wl.facts.get("delta_parts", 0), "count")

    m["trace.span_cover"] = _m(tracer.cover(t0, t1, "op."), "ratio")
    m["trace.read_p50_ms"] = _m(median(rec.durations("read")) * 1000.0, "ms")
    # wall time under tracing; the end-to-end figures are CPU time
    m["trace.cycle_s"] = _m(median(cycles), "s")
    m["trace.read_cpu_ms"] = _m(_read_cpu_ms(rec), "ms")
    return m
