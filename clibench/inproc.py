"""In-process passes over the benchmark's pages, outside Spark.

Each pass runs in a pool of fresh processes, one chunk of pages per task:

- untraced: the expected rows for the correctness check, plus per-page
  extract and match times (the kernel core-seconds);
- traced: the same calls with every layer boundary wrapped (see
  ``Tracer``); spans stay in memory, are written to one file per chunk
  when the chunk ends, and come back aggregated per layer.
"""

from __future__ import annotations

import json
import os
import time
import types
from functools import lru_cache
from typing import Dict, List, Tuple

perf = time.perf_counter

#: Kernel calls the tracer wraps, as (span name, module, attribute).  Each
#: is patched at the module attribute its caller resolves, so the program
#: itself is not changed.
KERNEL_SITES = (
    ("kernels.scan", "fuzzy_search_spark.kernels.skipgrams",
     "GramScanner.scan_arrays"),
    ("kernels.snap", "fuzzy_search_spark.matcher", "snap_span"),
    ("kernels.score", "fuzzy_search_spark.kernels.strings",
     "cached_match_scores"),
    ("kernels.tokenize", "fuzzy_search_spark.token_matcher",
     "wordpunct_spans"),
    ("kernels.indel", "fuzzy_search_spark.kernels.strings",
     "indel_similarity"),
)


@lru_cache(maxsize=None)
def _model(mode: str, phrases_json: str, config_json: str):
    phrases, config = json.loads(phrases_json), json.loads(config_json)
    if mode == "token":
        from fuzzy_search_spark.token_matcher import compile_token_model
        return compile_token_model(phrases, config)
    from fuzzy_search_spark.model import compile_model
    return compile_model(phrases, config)


def _matcher(mode: str):
    if mode == "token":
        from fuzzy_search_spark import token_matcher
        return token_matcher.find_token_matches
    from fuzzy_search_spark import matcher
    return matcher.find_matches


def row_of(url: str, m, ignorecase: bool) -> tuple:
    """One output row as the job writes it (MATCH_SCHEMA column order)."""
    label = m.label
    if label is not None:
        label = (label,) if isinstance(label, str) else tuple(label)
    return (url, m.phrase, m.variant, m.string, m.offset, m.end, label,
            ignorecase, m.char_match, m.ngram_match, m.levenshtein_similarity)


class Tracer:
    """Records spans (name, start, end, parent, page) at layer boundaries.

    ``install`` replaces each KERNEL_SITES attribute by a wrapper that
    records a span around the original call; ``uninstall`` restores it.
    Generators are drained inside the span so their work is counted."""

    def __init__(self):
        self.names: List[str] = []
        self.t0: List[float] = []
        self.t1: List[float] = []
        self.parent: List[int] = []
        self.page: List[int] = []
        self._stack: List[int] = []
        self._page = -1
        self._saved: List[Tuple[object, str, object]] = []
        self._originals: Dict[str, object] = {}
        self._cache_before = (0, 0)

    def span(self, name: str, fn, *args, **kwargs):
        idx = len(self.names)
        self.names.append(name)
        self.parent.append(self._stack[-1] if self._stack else -1)
        self.page.append(self._page)
        self.t1.append(0.0)
        self._stack.append(idx)
        self.t0.append(perf())
        try:
            out = fn(*args, **kwargs)
            if isinstance(out, types.GeneratorType):
                out = iter(list(out))
        finally:
            self.t1[idx] = perf()
            self._stack.pop()
        return out

    def set_page(self, page: int) -> None:
        self._page = page

    def install(self) -> None:
        import importlib

        for name, module, attr in KERNEL_SITES:
            owner = importlib.import_module(module)
            if "." in attr:
                cls_name, attr = attr.split(".")
                owner = getattr(owner, cls_name)
            original = owner.__dict__[attr] if isinstance(owner, type) \
                else getattr(owner, attr)
            self._saved.append((owner, attr, original))
            self._originals[name] = original
            setattr(owner, attr, self._wrap(name, original))
        self._cache_before = self._score_cache()

    def _wrap(self, name: str, original):
        tracer = self

        def traced(*args, **kwargs):
            return tracer.span(name, original, *args, **kwargs)

        return traced

    def _score_cache(self) -> Tuple[int, int]:
        info = getattr(self._originals["kernels.score"], "cache_info", None)
        return tuple(info()[:2]) if info else (0, 0)

    def score_cache_delta(self) -> Tuple[int, int]:
        """(hits, misses) of the score cache since ``install``."""
        hits, misses = self._score_cache()
        return hits - self._cache_before[0], misses - self._cache_before[1]

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._saved):
            setattr(owner, attr, original)
        self._saved.clear()

    def aggregate(self) -> Dict[str, list]:
        """{name: [inclusive_s, self_s, calls]} over all recorded spans."""
        n = len(self.names)
        child = [0.0] * n
        for i in range(n):
            p = self.parent[i]
            if p >= 0:
                child[p] += self.t1[i] - self.t0[i]
        out: Dict[str, list] = {}
        for i in range(n):
            dur = self.t1[i] - self.t0[i]
            agg = out.setdefault(self.names[i], [0.0, 0.0, 0])
            agg[0] += dur
            agg[1] += dur - child[i]
            agg[2] += 1
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for i in range(len(self.names)):
                fh.write(f"{i}\t{self.names[i]}\t{self.t0[i]:.9f}\t"
                         f"{self.t1[i]:.9f}\t{self.parent[i]}\t"
                         f"{self.page[i]}\n")


def match_chunk(task: dict) -> dict:
    """Match one chunk of pages in this process.

    ``task``: mode, phrases_json, config_json, ignorecase, pages (list of
    (page_id, url, html, text-or-None)), and for a traced pass
    ``spans_path``.  Returns rows per url, per-page timings
    (page_id, chars, extract_s, match_s, rows) and, when traced, the span
    aggregate and the score-cache delta."""
    from fuzzy_search_spark import extract

    mode = task["mode"]
    model = _model(mode, task["phrases_json"], task["config_json"])
    find = _matcher(mode)
    ignorecase = task["ignorecase"]
    spans_path = task.get("spans_path")
    tracer = Tracer() if spans_path else None
    rows: Dict[str, list] = {}
    pages = []
    if tracer:
        tracer.install()
    try:
        for page_id, url, html, text in task["pages"]:
            if tracer:
                tracer.set_page(page_id)
            t0 = perf()
            if text is None:
                text = tracer.span("extract", extract.extract_html, html) \
                    if tracer else extract.extract_html(html)
            t1 = perf()
            found = tracer.span(mode_span(mode), find, text, model) \
                if tracer else find(text, model)
            t2 = perf()
            rows[url] = [row_of(url, m, ignorecase) for m in found]
            pages.append((page_id, len(text), t1 - t0, t2 - t1, len(found)))
    finally:
        if tracer:
            tracer.uninstall()
    out = {"rows": rows, "pages": pages, "pid": os.getpid()}
    if tracer:
        out["spans"] = tracer.aggregate()
        out["score_cache"] = tracer.score_cache_delta()
        tracer.write(spans_path)
    return out


def mode_span(mode: str) -> str:
    return "token_matcher" if mode == "token" else "matcher"
