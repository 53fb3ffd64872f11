"""Spans recorded from outside the engine, and the driver-side replay of a
pass's batches through the kernel's public functions.

Executor-side Python cannot be wrapped from here, so the per-title text and
tfidf numbers come from replaying the pass's input in the driver.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager

import numpy as np


class Tracer:
    """In-memory spans with name, start, end and parent span id."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span per call;
        ``on_result(rec, result)`` may add attributes to the span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                result = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, result)
                return result

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def totals(self, name: str, since: int = 0) -> tuple[int, float]:
        """(calls, seconds) of the spans called ``name`` recorded after
        span id ``since``."""
        spans = [s for s in self.spans[since:] if s["name"] == name]
        return len(spans), sum(s["end"] - s["start"] for s in spans)


REPLAY_UNITS = {
    "text.tokenize_and_stem_us": "us",
    "text.stem_cache_hit_ratio": "ratio",
    "tfidf.vectorize_query_us": "us",
    "tfidf.score_us": "us",
    "text.tokens_per_title": "count",
    "tfidf.postings_per_title": "count",
    "tfidf.candidates_per_title": "count",
    "tfidf.no_match_ratio": "ratio",
    "standardize.distinct_titles": "count",
    "standardize.candidate_pairs": "count",
}


def replay(sample: list, distinct: list, index) -> dict:
    """Time the text and tfidf layers on the distinct titles of ``sample``
    (the first rows of the pass, NULLs removed) and count their work on
    ``distinct`` (every distinct non-NULL title of the pass).  Runs before
    the pass's kernel baseline, so the stem cache is as warm as earlier
    passes left it."""
    from duckdb_title_mapper_spark.functions import text, tfidf

    uniq = list(dict.fromkeys(sample))
    n = max(1, len(uniq))
    info0 = text._stem_cached.cache_info()
    t0 = time.perf_counter()
    for t in uniq:
        text.tokenize_and_stem(t)
    t1 = time.perf_counter()
    info1 = text._stem_cached.cache_info()
    for t in uniq:
        tfidf.vectorize_query(index, t)
    t2 = time.perf_counter()
    tfidf.best_match_indices(index, uniq)
    t3 = time.perf_counter()
    lookups = (info1.hits - info0.hits) + (info1.misses - info0.misses)

    tokens = postings = candidates = no_match = 0
    lengths = np.diff(index.term_ptr)
    for t in distinct:
        tokens += len(text.tokenize_and_stem(t))
        tidxs, _, qnorm = tfidf.vectorize_query(index, t)
        if qnorm <= 0.0:
            no_match += 1
            continue
        postings += int(lengths[tidxs].sum())
        candidates += len(np.unique(np.concatenate(
            [index.post_doc[index.term_ptr[i]:index.term_ptr[i + 1]] for i in tidxs])))
    d = max(1, len(distinct))
    return {
        "text.tokenize_and_stem_us": (t1 - t0) / n * 1e6,
        "text.stem_cache_hit_ratio": (info1.hits - info0.hits) / max(1, lookups),
        "tfidf.vectorize_query_us": (t2 - t1) / n * 1e6,
        "tfidf.score_us": ((t3 - t2) - (t2 - t1)) / n * 1e6,
        "text.tokens_per_title": tokens / d,
        "tfidf.postings_per_title": postings / d,
        "tfidf.candidates_per_title": candidates / d,
        "tfidf.no_match_ratio": no_match / d,
        "standardize.distinct_titles": len(distinct),
        "standardize.candidate_pairs": postings,
    }
