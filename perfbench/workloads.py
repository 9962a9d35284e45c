"""The two workloads: ``serve`` (the Typesense-shaped facade, read-only
after set-up) and ``churn`` (from-scratch build, batched WAND sets and
incremental maintenance with reads after every commit).

Each runs as a closed loop with one client: the next call starts when
the previous one has returned. A workload's loop repeats whole cycles
(the full parameter mix, or one churn round) until the run's seconds
are spent, so every run sees the same op mix in the same order.
Program functions are always reached through their module, so that a
traced run sees the wrapped versions.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from perfbench import inputs
from perfbench.oracle import hits_of

SIZES = {
    # docs served / turns indexed; queries per plain batch and per
    # filtered batch (its allow-sets cost O(allowed docs) each);
    # upserts and deletes per churn round; batch queries the oracle
    # re-checks
    "full": {"docs": 2_000, "batch": 100, "filtered": 5, "upsert": 100, "delete": 40,
             "sample": 5},
    "tiny": {"docs": 1_500, "batch": 20, "filtered": 5, "upsert": 20, "delete": 8,
             "sample": 3},
}
# churn runs its probe set this many times after each commit, so that
# its read figures cover repeated calls of each probe query
PROBE_REPEATS = 3


@dataclass
class Op:
    kind: str
    name: str
    dur: float
    ok: bool
    cpu: float = 0.0


@dataclass
class Context:
    spark: object
    tracer: object
    seed: int
    size: dict
    cache_dir: str
    run_dir: str


@dataclass
class Recorder:
    """Times workload ops, in wall time and in CPU time of the whole
    program (``cpu`` reads it in seconds); an op that raises counts as
    failed and the loop goes on (the traceback goes to stderr)."""

    tracer: object
    cpu: object
    ops: list[Op] = field(default_factory=list)
    wrong: list[str] = field(default_factory=list)

    def run(self, kind: str, name: str, fn, span: str | None = None):
        """``span`` names the op's span when the op is one layer's work
        end to end (a lazy call plus the collect that runs it)."""
        c0 = self.cpu()
        t0 = time.perf_counter()
        out, ok = None, True
        with self.tracer.span(span or f"op.{kind}.{name}"):
            try:
                out = fn()
            except Exception:
                traceback.print_exc(file=sys.stderr)
                ok = False
        dur = time.perf_counter() - t0
        self.ops.append(Op(kind, name, dur, ok, self.cpu() - c0))
        return out

    def durations(self, kind: str, name: str | None = None) -> list[float]:
        return [o.dur for o in self.ops if o.kind == kind and name in (None, o.name)]

    def cpu_times(self, kind: str) -> list[float]:
        return [o.cpu for o in self.ops if o.kind == kind]


def du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def n_parts(index_dir: str) -> int:
    """Segment parts listed in an index's meta table."""
    import pyarrow.parquet as pq

    meta = pq.read_table(os.path.join(index_dir, "meta"), columns=["part_id"])
    return len(set(meta.column("part_id").to_pylist()))


def _mod(name: str):
    import importlib

    return importlib.import_module(f"pyf_aggregator_spark.{name}")


def _summary(resp: dict) -> dict:
    """The parts of a facade response that define its result."""
    out = {"found": resp.get("found")}
    if "grouped_hits" in resp:
        out["groups"] = [
            (g["group_key"], g["found"], [h["document"]["doc_id"] for h in g["hits"]])
            for g in resp["grouped_hits"]
        ]
    else:
        out["hits"] = [
            (h["document"]["doc_id"], h["text_match"]) for h in resp.get("hits", [])
        ]
    out["facets"] = [
        (f["field_name"], [(c["value"], c["count"]) for c in f["counts"]])
        for f in resp.get("facet_counts", [])
    ]
    return out


class Workload:
    """Inputs are made in ``__init__`` (untimed); ``setup`` is measured
    as ``setup_s``; ``cycle`` is one pass through the op mix; ``finish``
    and ``check`` run after the timed loop. ``first`` keeps the first
    cycle's results for the digest; ``facts`` holds index facts."""

    name = ""

    def __init__(self, ctx: Context, texts: pd.Series):
        self.ctx = ctx
        self.n_docs = len(texts)
        self.text_bytes = int(texts.str.encode("utf-8").str.len().sum())
        self.batch_queries_run = 0
        self.first: list = []
        self.facts: dict = {}

    def finish(self, rec: Recorder, traced: bool) -> None:
        pass

    def index_bytes_per_text_byte(self) -> float:
        return self.facts["bytes_on_disk"] / self.text_bytes


class Serve(Workload):
    name = "serve"

    def __init__(self, ctx: Context):
        self.sf_dir, self.docs = inputs.documents(ctx.cache_dir, ctx.seed, ctx.size["docs"])
        super().__init__(ctx, self.docs["text"])
        vocab = inputs.Vocab(self.docs["text"])
        self.params = inputs.serve_params(vocab, self.docs, ctx.seed)
        # a ranked query with a misspelled term: it warms the ranked
        # path, and the typo layer builds its deletion table on first
        # use, a one-time build that belongs to set-up
        self.warm_up = dict(inputs.serve_params(vocab, self.docs, ctx.seed + 7919))["typo"]

    def setup(self) -> None:
        spark, fx, api = self.ctx.spark, _mod("operators.fulltext_extra"), _mod("search.api")
        fx.documents_segment_index(spark, self.sf_dir)["segments"].count()
        fx.documents_multifield_index(spark, self.sf_dir)["segments"].count()
        api.search(spark, self.sf_dir, self.warm_up)
        seg_root = os.environ["PYFAGG_SEG_CACHE"]
        self.facts["bytes_on_disk"] = du(seg_root)
        self.facts["parts"] = n_parts(os.path.join(seg_root, os.path.basename(self.sf_dir)))

    def cycle(self, rec: Recorder, n: int) -> None:
        spark, api = self.ctx.spark, _mod("search.api")
        for shape, params in self.params:
            resp = rec.run("read", shape, lambda p=params: api.search(spark, self.sf_dir, p))
            if n == 0:
                self.first.append((shape, _summary(resp) if resp else None))

    def check(self, rec: Recorder, oracle) -> None:
        """The plain ranked shapes (or-mode, every term in the vocabulary,
        so typo correction is a no-op) against the BM25 oracle; the
        lookup and the group page against the documents table."""
        oracle.load(self.docs["doc_id"], self.docs["text"])
        first, params = dict(self.first), dict(self.params)
        for shape in ("ranked", "ranked_rare"):
            got = first.get(shape)
            if got is None:
                continue  # the call failed and is already counted
            q = params[shape]["q"]
            got_hits = [(int(d), round(float(s), 4)) for d, s in got["hits"]]
            if got_hits != oracle.topk(q, 10, "or") or got["found"] != oracle.found(q, "or"):
                rec.wrong.append(f"serve {shape} q={q!r}")
        docs = self.docs
        got, p = first.get("lookup"), params["lookup"]
        if got is not None:
            rel = docs[docs["source"] == p["q"]].sort_values(
                ["upload_timestamp", "doc_id"], ascending=[False, True])
            if ([int(d) for d, _ in got["hits"]] != rel["doc_id"].head(100).tolist()
                    or got["found"] != len(rel)):
                rec.wrong.append(f"serve lookup q={p['q']!r}")
        got, p = first.get("group_page"), params["group_page"]
        if got is not None:
            # groups in order of their first doc id, one hit each
            g = docs.groupby("source")["doc_id"].agg(["min", "size"]).sort_values("min")
            page = g.iloc[(p["page"] - 1) * 10: p["page"] * 10]
            want = [([k], int(n), [int(d)]) for k, d, n in
                    zip(page.index, page["min"], page["size"])]
            if [([*k], f, [int(d) for d in h]) for k, f, h in got["groups"]] != want:
                rec.wrong.append(f"serve group_page page={p['page']}")


class Churn(Workload):
    name = "churn"

    def __init__(self, ctx: Context):
        size = ctx.size
        self.path, tr = inputs.transcripts(ctx.cache_dir, ctx.seed, size["docs"])
        super().__init__(ctx, tr["text"])
        self.attrs = pd.DataFrame({
            "doc_id": np.arange(len(tr), dtype=np.int64),
            "role": tr["role"], "tool": tr["tool"],
        })
        vocab = inputs.Vocab(tr["text"])
        self.batches = inputs.batch_sets(vocab, ctx.seed, size["batch"], size["filtered"])
        self.probes = inputs.probe_set(vocab, ctx.seed)
        self.live = dict(enumerate(tr["text"]))
        self.initial = dict(self.live)
        # deleted docs keep counting in BM25 stats until compaction
        # (delete_docs' documented Lucene semantics)
        self.ghosts: dict[int, str] = {}
        self.next_id = len(tr)
        self.index_dir = os.path.join(ctx.run_dir, "churn_index")
        self.last_probes: list = []
        self.final_probes: list = []

    def setup(self) -> None:
        spark, builder, segments, wand = (
            self.ctx.spark, _mod("index.builder"), _mod("index.segments"), _mod("search.wand"),
        )
        t0 = time.perf_counter()
        docs = builder.assign_doc_ids(spark.read.parquet(self.path))
        segments.build_segments(docs, self.index_dir, lineage="perfbench")
        self.facts["build_s"] = time.perf_counter() - t0
        docs.unpersist()  # the caller owns the persisted frame it was handed
        self.facts["bytes_on_disk"] = du(self.index_dir)
        self.facts["parts"] = n_parts(self.index_dir)
        self.attrs_df = spark.createDataFrame(self.attrs)
        self.idx = wand.load_index(spark, self.index_dir)
        warm = [dict(q, query_id=f"w{i}") for i, q in enumerate(self.batches["plain"][-20:])]
        wand.wand_topk_batch(self.idx, warm).collect()

    def _batch(self, kind: str):
        from pyspark.sql import functions as F

        queries = self.batches[kind]
        if kind == "filtered":
            queries = [
                dict(
                    {k: v for k, v in q.items() if k != "filter"},
                    allowed=self.attrs_df.filter(F.col(q["filter"][0]).isin(q["filter"][1]))
                    .select("doc_id"),
                )
                for q in queries
            ]
        wand = _mod("search.wand")
        self.batch_queries_run += len(queries)
        return wand.wand_topk_batch(self.idx, queries).collect()

    def cycle(self, rec: Recorder, n: int) -> None:
        spark, inc, wand = self.ctx.spark, _mod("index.incremental"), _mod("search.wand")
        for kind in ("plain", "filtered"):
            rows = rec.run("batch", kind, lambda k=kind: self._batch(k),
                           span=f"search.wand.wand_topk_batch.{kind}")
            if n == 0:
                self.first.append((kind, _batch_rows(rows)))
        up, dels = inputs.churn_round(
            self.live, self.next_id, self.ctx.seed, n, self.ctx.size["upsert"],
            self.ctx.size["delete"],
        )
        up_df = spark.createDataFrame(pd.DataFrame(up, columns=["doc_id", "text"]))
        rec.run("write", "upsert", lambda: inc.upsert_docs(spark, self.index_dir, up_df))
        self.live.update(up)
        self.next_id = max(self.next_id, max(d for d, _ in up) + 1)
        rec.run("write", "delete", lambda: inc.delete_docs(spark, self.index_dir, dels))
        for d in dels:
            self.ghosts[d] = self.live.pop(d)
        self.idx = rec.run("load", "load_index", lambda: wand.load_index(spark, self.index_dir))
        self.last_probes = self._probe(rec, "read", PROBE_REPEATS)
        if n == 0:
            self.first.append(("probes", self.last_probes[:len(self.probes)]))

    def _probe(self, rec: Recorder, kind: str, repeats: int = 1) -> list:
        wand = _mod("search.wand")
        out = []
        for _ in range(repeats):
            for name, q in self.probes:
                res = rec.run(kind, name,
                              lambda q=q: wand.wand_topk_with_found(self.idx, q, 10, "or"))
                out.append((q, hits_of(res[0]), res[1]) if res else (q, None, None))
        return out

    def finish(self, rec: Recorder, traced: bool) -> None:
        """Traced runs end with state counts, one ``compact`` and a final
        probe set; untimed, so the end-to-end figures never include it."""
        if not traced:
            return
        spark, inc, wand = self.ctx.spark, _mod("index.incremental"), _mod("search.wand")
        tomb = inc.load_tombstones(spark, self.index_dir)
        self.facts["tombstoned_docs"] = tomb.count() if tomb is not None else 0
        self.facts["delta_parts"] = n_parts(self.index_dir) - self.facts["parts"]
        rec.run("maintain", "compact", lambda: inc.compact(spark, self.index_dir))
        self.idx = rec.run("load", "load_index", lambda: wand.load_index(spark, self.index_dir))
        self.final_probes = self._probe(rec, "final")

    def check(self, rec: Recorder, oracle) -> None:
        """A seeded sample of the first round's plain batch against the
        oracle over the initial corpus; the last probe set (and the
        post-compact one) against the oracle over the mutated corpus the
        benchmark tracked itself."""
        oracle.load(self.initial.keys(), self.initial.values())
        plain = dict(self.first).get("plain")
        if plain is not None:
            rng = np.random.default_rng([self.ctx.seed, 6])
            qs = self.batches["plain"]
            for i in rng.choice(len(qs), min(self.ctx.size["sample"], len(qs)), replace=False):
                q = qs[int(i)]
                if plain.get(q["query_id"], []) != oracle.topk(q["query"], q["k"], q["mode"]):
                    rec.wrong.append(f"churn batch {q['query_id']} q={q['query']!r}")
        self._check_probes(rec, oracle, self.last_probes, self.ghosts)
        if self.final_probes:
            self._check_probes(rec, oracle, self.final_probes, {})

    def _check_probes(self, rec: Recorder, oracle, probes, ghosts: dict) -> None:
        """Scores use stats over live + ghost docs; hits and found
        cover live docs only."""
        stats = {**self.live, **ghosts}
        oracle.load(stats.keys(), stats.values())
        want = {q: [h for h in oracle.topk(q, 10 + len(ghosts), "or") if h[0] not in ghosts][:10]
                for q, _, _ in probes}
        oracle.load(self.live.keys(), self.live.values())
        want_found = {q: oracle.found(q, "or") for q in want}
        for q, got, found in probes:
            if got != want[q] or found != want_found[q]:
                rec.wrong.append(f"churn probe q={q!r}")

def _batch_rows(rows) -> dict | None:
    if rows is None:
        return None
    out: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(r["query_id"], []).append((int(r["doc_id"]), round(float(r["score"]), 4)))
    return out


WORKLOADS = {"serve": Serve, "churn": Churn}
