"""Spans recorded from outside the program.

The tracer wraps public functions of the package's modules and records
one span per call: name, start, end, parent span and op (the root span
of the workload operation that caused it). Each span runs its Spark
jobs under its own job group, so after the run the status tracker maps
every job, its tasks and failed tasks back to the innermost span that
submitted it. Spans stay in memory and are written out once, at the
end of the run.

With tracing off nothing is wrapped and ``span`` is a no-op, so the
end-to-end run measures the unmodified program.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import statistics
import sys
import time

PKG = "pyf_aggregator_spark"

# (module, function) pairs wrapped in traced runs: every public entry
# point the two workloads reach, directly or through the facade
TARGETS = [
    ("session", "get_spark"),
    ("index.builder", "assign_doc_ids"),
    ("index.segments", "build_segments"),
    ("index.segments", "build_multifield_segments"),
    ("operators.fulltext_extra", "documents_segment_index"),
    ("operators.fulltext_extra", "documents_multifield_index"),
    ("operators.fulltext_extra", "grouped_search"),
    ("index.incremental", "upsert_docs"),
    ("index.incremental", "delete_docs"),
    ("index.incremental", "load_tombstones"),
    ("index.incremental", "compact"),
    ("search.api", "search"),
    ("search.wand", "load_index"),
    ("search.wand", "load_multifield_index"),
    ("search.typo", "correct_terms"),
    ("search.prefix", "expand_many"),
    ("search.infix", "expand_infix"),
    ("search.splitjoin", "split_join_rewrite"),
    ("search.phrase", "phrase_topk"),
    ("search.highlight", "with_highlights"),
    ("search.fallback", "drop_tokens_with_found"),
    ("search.fallback", "drop_tokens_mf_with_found"),
]
# the WAND kernel entry points: each call is one kernel pass
KERNEL_ENTRIES = [
    "wand_topk",
    "wand_topk_with_found",
    "wand_topk_slots",
    "wand_topk_slots_with_found",
    "wand_match_ids",
    "wand_score_matches",
    "wand_topk_multifield",
    "wand_topk_multifield_with_found",
    "wand_match_ids_multifield",
    "wand_score_matches_multifield",
    "wand_topk_batch",
]
TARGETS += [("search.wand", f) for f in KERNEL_ENTRIES]


class Span:
    __slots__ = ("id", "name", "parent", "op", "start", "end", "jobs")

    def __init__(self, sid: int, name: str, parent: Span | None):
        self.id = sid
        self.name = name
        self.parent = parent.id if parent else None
        self.op = parent.op if parent else sid
        self.start = self.end = 0.0
        self.jobs: list[int] = []

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None  # set once the session exists
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.job_tasks: dict[int, tuple[int, int]] = {}

    def _group(self, sp: Span | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(
                "spark.jobGroup.id", f"pb-{sp.id}" if sp else None
            )

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sp = Span(len(self.spans), name, self._stack[-1] if self._stack else None)
        self.spans.append(sp)
        self._stack.append(sp)
        self._group(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._group(self._stack[-1] if self._stack else None)

    def install(self) -> None:
        """Wrap every target, including the copies that importing
        modules bound at import time (``from x import f``)."""
        if not self.enabled:
            return
        for mod_name, attr in TARGETS:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            orig = getattr(mod, attr)
            wrapped = self._wrap(orig, f"{mod_name}.{attr}")
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith(PKG):
                    for k, v in list(vars(m).items()):
                        if v is orig:
                            setattr(m, k, wrapped)

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def attribute_jobs(self) -> None:
        """Map Spark jobs (and their tasks) to spans via job groups.
        A stage shared by two jobs is counted once, under the job that
        ran it first."""
        if not self.enabled or self.sc is None:
            return
        tracker = self.sc.statusTracker()
        seen_stages: set[int] = set()
        for sp in self.spans:
            sp.jobs = sorted(tracker.getJobIdsForGroup(f"pb-{sp.id}"))
            for j in sp.jobs:
                info = tracker.getJobInfo(j)
                tasks = failed = 0
                for s in sorted(info.stageIds) if info else []:
                    st = tracker.getStageInfo(s)
                    if st is None or s in seen_stages:
                        continue
                    seen_stages.add(s)
                    tasks += st.numCompletedTasks
                    failed += st.numFailedTasks
                self.job_tasks[j] = (tasks, failed)

    # ------------------------------------------------------------ queries
    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                out.setdefault(sp.parent, []).append(sp)
        return out

    def subtree_jobs(self, sp: Span, kids: dict[int, list[Span]]) -> list[int]:
        jobs = list(sp.jobs)
        for c in kids.get(sp.id, []):
            jobs += self.subtree_jobs(c, kids)
        return jobs

    def self_time(self, sp: Span, kids: dict[int, list[Span]]) -> float:
        return sp.dur - _cover([(c.start, c.end) for c in kids.get(sp.id, [])])

    def named(self, name: str, t0: float = float("-inf"), t1: float = float("inf")):
        return [s for s in self.spans if s.name == name and t0 <= s.start and s.end <= t1]

    def cover(self, t0: float, t1: float, exclude_prefix: str) -> float:
        """Share of [t0, t1] inside top-level module spans (spans whose
        name does not start with ``exclude_prefix`` and whose ancestors
        are all benchmark-level)."""
        by_id = {s.id: s for s in self.spans}

        def module_top(s: Span) -> bool:
            if s.name.startswith(exclude_prefix):
                return False
            p = s.parent
            while p is not None:
                if not by_id[p].name.startswith(exclude_prefix):
                    return False
                p = by_id[p].parent
            return True

        iv = [
            (max(s.start, t0), min(s.end, t1))
            for s in self.spans
            if module_top(s) and s.end > t0 and s.start < t1
        ]
        return _cover(iv) / (t1 - t0) if t1 > t0 else 0.0

    def dump(self) -> list[dict]:
        t0 = min((s.start for s in self.spans), default=0.0)
        return [
            {
                "id": s.id, "name": s.name, "parent": s.parent, "op": s.op,
                "start": s.start - t0, "end": s.end - t0, "jobs": s.jobs,
            }
            for s in self.spans
        ]


def _cover(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0
