"""Seeded benchmark inputs.

Everything a workload feeds the program is derived from ``--seed``:
the transcript corpus (the package's own fixture generator), the
documents table the facade serves, the facade parameter mix, the batch
query sets and the churn write batches. Generation runs before any
timer starts; the parquet files are cached per (seed, size), so a
repeated seed skips the ~0.3 ms/turn generator.

The program only ever receives the files written here (parquet) and
plain Python values (query strings, parameter dicts, doc-id lists).
"""

from __future__ import annotations

import collections
import os
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_TOKEN_SEP = re.compile(r"[\s.\-_@/]+")

LANGS = ["en", "zh", "es", "de", "fr", "ja", "pt", "ru"]
LANG_P = [0.46, 0.16, 0.12, 0.09, 0.07, 0.05, 0.03, 0.02]
# seconds; the reference stores a missing upload time as 0
T0, T_SPAN, T_MISSING = 1_400_000_000, 300_000_000, 0.02
FIELDS_5 = "name,title,first_chapter,main_content,changelog"
WEIGHTS_5 = "10,10,5,3,1"


def tokens(text: str) -> list[str]:
    """The engine's tokenizer contract: lowercase, split on whitespace
    and . - _ @ /, drop empties."""
    return [t for t in _TOKEN_SEP.split(text.lower()) if t]


def _write_parquet(pdf: pd.DataFrame, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False), tmp,
        coerce_timestamps="us", allow_truncated_timestamps=True,
    )
    os.replace(tmp, path)


def transcripts(cache_dir: str, seed: int, n_turns: int) -> tuple[str, pd.DataFrame]:
    """→ (parquet path, frame sorted by (conv_id, turn_idx)). Row i of
    the frame is the document ``assign_doc_ids`` must number i."""
    from pyf_aggregator_spark.fixtures.transcripts import generate_transcripts

    path = os.path.join(cache_dir, f"transcripts-s{seed}-n{n_turns}.parquet")
    if not os.path.exists(path):
        _write_parquet(generate_transcripts(n_turns, seed), path)
    pdf = pd.read_parquet(path)
    pdf = pdf.sort_values(["conv_id", "turn_idx"], kind="stable")
    return path, pdf.reset_index(drop=True)


def documents(cache_dir: str, seed: int, n_docs: int) -> tuple[str, pd.DataFrame]:
    """The facade's ``documents`` table (doc_id, text, lang, source,
    n_chars, upload_timestamp) derived from the seeded transcripts.
    A document is one release of a package: ``source`` is the package
    name (the facade's multifield artifact indexes it as the ``name``
    field), with about n_docs/4 names and Zipf-skewed releases per name;
    ``lang`` is low-cardinality and skewed. Returns the directory the
    facade reads (``<dir>/documents.parquet``)."""
    sf_dir = os.path.join(cache_dir, f"docs-s{seed}-n{n_docs}")
    path = os.path.join(sf_dir, "documents.parquet")
    if not os.path.exists(path):
        _, tr = transcripts(cache_dir, seed, n_docs)
        rng = np.random.default_rng([seed, 1])
        n_names = max(10, len(tr) // 4)
        p = 1.0 / np.arange(1, n_names + 1)
        name = rng.choice(n_names, len(tr), p=p / p.sum())
        ts = T0 + rng.integers(0, T_SPAN, len(tr))
        ts[rng.random(len(tr)) < T_MISSING] = 0
        os.makedirs(sf_dir, exist_ok=True)
        _write_parquet(
            pd.DataFrame({
                "doc_id": np.arange(len(tr), dtype=np.int64),
                "text": tr["text"],
                "lang": np.array(LANGS)[rng.choice(len(LANGS), len(tr), p=LANG_P)],
                "source": [f"pkg{int(k):04d}" for k in name],
                "n_chars": tr["text"].str.len().astype(np.int64),
                "upload_timestamp": ts.astype(np.int64),
            }),
            path,
        )
    return sf_dir, pd.read_parquet(path)


class Vocab:
    """Corpus vocabulary ranked by document frequency; terms are drawn
    Zipf over that rank, so hot terms dominate as in real traffic."""

    def __init__(self, texts):
        df = collections.Counter()
        for t in texts:
            df.update(set(tokens(t)))
        # plain fixture words only (w + 5 digits): compound halves like
        # "w87" are vocabulary too, but no caller would type them
        ranked = sorted(
            (t for t in df if len(t) == 6 and t[0] == "w"),
            key=lambda t: (-df[t], t),
        )
        self.terms = ranked
        self.df = df
        p = np.arange(1, len(ranked) + 1, dtype=np.float64) ** -1.07
        self.p = p / p.sum()

    def zipf(self, rng: np.random.Generator, n: int = 1, lo: int = 0,
             hi: int | None = None) -> list[str]:
        """n distinct terms drawn Zipf over df ranks [lo, hi)."""
        p = self.p[lo:hi] / self.p[lo:hi].sum()
        idx = rng.choice(len(p), size=n, replace=False, p=p)
        return [self.terms[lo + int(i)] for i in idx]

    # query terms come from two narrow strata of df rank so that every
    # seed's queries do comparable work: head (ranks 5-39, in roughly
    # 15-65% of docs) and body (ranks 100-999)
    def head(self, rng: np.random.Generator, n: int = 1) -> list[str]:
        return self.zipf(rng, n, 5, 40)

    def body(self, rng: np.random.Generator) -> str:
        return self.zipf(rng, 1, 100, 1000)[0]

    def band(self, rng: np.random.Generator, lo: int, hi: int) -> str:
        """A term whose document frequency lies in [lo, hi]."""
        cand = [t for t in self.terms if lo <= self.df[t] <= hi]
        return cand[int(rng.integers(len(cand)))]


def misspell(term: str, rng: np.random.Generator) -> str:
    """One substitution of a digit by a letter: within the facade's typo
    budget for a 6-letter word, and never a vocabulary word itself
    (fixture words are "w" plus digits), so correction always runs."""
    i = int(rng.integers(1, len(term)))
    return term[:i] + "qxz"[int(rng.integers(3))] + term[i + 1:]


def serve_params(v: Vocab, docs: pd.DataFrame, seed: int) -> list[tuple[str, dict]]:
    """One cycle of the facade parameter mix: (shape, params) pairs, one
    call per shape.

    ``lookup`` and ``group_page`` are the reference's two call sites:
    cli_utils.py:147-155, a point lookup of one package's releases
    (q and filter_by on the name, newest first, 100 per page), and
    db.py:266-290, the walk over unique package names (q='*', group_by
    name, group_limit 1, paged by groups). The other shapes exercise
    the Typesense defaults every ranked reference query runs under
    (num_typos=2, drop_tokens_threshold=1, split_join_tokens=fallback)
    and the facade's other features: the 5-field query_by with weights
    10,10,5,3,1, filter_by, facet_by and prefix. The reference's call
    frequencies are unknown, so the equal weights are not derived from
    traffic."""
    rng = np.random.default_rng([seed, 2])
    lang = LANGS[2]  # the third most common language, ~12% of docs
    mid = v.band(rng, 50, 400)
    a, b = v.band(rng, 2, 6), v.band(rng, 2, 6)
    releases = docs["source"].value_counts()
    pkg = str(rng.choice(sorted(releases[(releases >= 3) & (releases <= 30)].index)))
    n_pages = max(1, len(releases) // 10)
    return [
        ("ranked", {"q": f"{v.head(rng)[0]} {v.body(rng)}", "per_page": 10}),
        ("ranked_rare", {"q": v.band(rng, 2, 8), "per_page": 10}),
        ("lookup", {"q": pkg, "query_by": "name", "filter_by": f"source:={pkg}",
                    "sort_by": "upload_timestamp:desc", "per_page": 100}),
        ("group_page", {"q": "*", "group_by": "source", "group_limit": 1,
                        "page": int(rng.integers(1, n_pages + 1))}),
        ("multifield", {"q": f"{v.head(rng)[0]} {v.body(rng)}", "query_by": FIELDS_5,
                        "query_by_weights": WEIGHTS_5, "per_page": 10}),
        ("facets", {"q": v.head(rng)[0], "facet_by": "lang,source", "per_page": 10}),
        ("filtered", {"q": f"{v.head(rng)[0]} {v.body(rng)}", "filter_by": f"lang:={lang}",
                      "per_page": 10}),
        ("typo", {"q": f"{v.head(rng)[0]} {misspell(mid, rng)}", "per_page": 10}),
        # a 5-letter prefix has at most 10 completions (w + 5 digits)
        ("prefix", {"q": f"{v.head(rng)[0]} {v.body(rng)[:5]}", "prefix": True,
                    "per_page": 10}),
        ("drop_tokens", {"q": f"{a} {b} zq{int(rng.integers(1000))}xv",
                         "mode": "and", "drop_tokens_threshold": 1,
                         "num_typos": 0, "per_page": 10}),
        ("split_join", {"q": f"{a}{b}", "split_join_tokens": "fallback",
                        "num_typos": 0, "per_page": 10}),
    ]


# per-query filters for the filtered batch kind, as (column, values)
# over the transcript attributes: ~0.75%, ~2%, ~15%, ~42% and ~57% of
# the corpus
FILTERS = [
    ("tool", ["tool_{:02d}"]),
    ("tool", ["tool_{:02d}", "tool_{:02d}", "tool_{:02d}"]),
    ("role", ["tool"]),
    ("role", ["user"]),
    ("role", ["user", "tool"]),
]


def batch_sets(v: Vocab, seed: int, n_queries: int, n_filtered: int) -> dict[str, list[dict]]:
    """The WAND batch kinds: plain, and filtered (each query restricted
    to the docs matching a role/tool filter, 1% to 60% of the corpus).
    A filtered query carries ``filter`` = (column, values); the
    workload turns it into the ``allowed`` doc-id DataFrame."""
    rng = np.random.default_rng([seed, 3])
    plain = []
    for i in range(n_queries):
        plain.append({
            "query_id": f"p{i:04d}",
            "query": " ".join(v.zipf(rng, int(rng.integers(1, 4)))),
            "mode": "and" if rng.random() < 0.4 else "or",
            "k": 10,
        })
    filtered = []
    for i, q in enumerate(plain[:n_filtered]):
        col, vals = FILTERS[i % len(FILTERS)]
        vals = [x.format(int(rng.integers(20))) for x in vals]
        filtered.append(dict(q, query_id=f"f{i:04d}", filter=(col, vals)))
    return {"plain": plain, "filtered": filtered}


def probe_set(v: Vocab, seed: int) -> list[tuple[str, str]]:
    """Fixed churn probe queries: (kind, query) — rare, hot and mixed."""
    rng = np.random.default_rng([seed, 4])
    return [
        ("rare", v.band(rng, 2, 8)),
        ("hot", v.head(rng)[0]),
        ("hot", " ".join(v.head(rng, 2))),
        ("mixed", f"{v.head(rng)[0]} {v.band(rng, 2, 30)}"),
    ]


def churn_round(
    live: dict[int, str], next_id: int, seed: int, rnd: int,
    n_upsert: int, n_delete: int,
) -> tuple[list[tuple[int, str]], list[int]]:
    """One write batch: n_upsert (doc_id, text) rows — half updates of
    live ids, half inserts of fresh ids starting at ``next_id`` — and
    n_delete live ids that the batch does not touch. New texts are
    token shuffles of existing live texts, so they stay in-vocabulary."""
    rng = np.random.default_rng([seed, 5, rnd])
    ids = np.array(sorted(live), dtype=np.int64)
    pick = rng.choice(len(ids), n_upsert // 2 + n_delete, replace=False)
    upd = ids[pick[: n_upsert // 2]]
    dele = ids[pick[n_upsert // 2:]]
    new = np.arange(next_id, next_id + n_upsert - len(upd), dtype=np.int64)

    def _text() -> str:
        toks = live[int(ids[int(rng.integers(len(ids)))])].split()
        rng.shuffle(toks)
        return " ".join(toks)

    rows = [(int(d), _text()) for d in np.concatenate([upd, new])]
    return rows, sorted(int(d) for d in dele)
