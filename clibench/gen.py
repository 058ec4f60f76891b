"""Seeded inputs for the CLI benchmark: web pages and phrase models.

Imports nothing from ``fuzzy_search_spark``, so a change to the program
cannot change what the benchmark feeds it.

- Page lengths come from a fixed log-normal quantile grid: every seed gets
  the same multiset of lengths; the seed only shuffles their order and
  draws the words.
- Each page's html wraps its text in a template whose boilerplate the
  program's extractor strips, so ``extract_html(html) == text`` byte for
  byte (checked by ``test_gen.py``).
- The phrase models and the warm-up pages use ``FIXED_SEED``; only the
  timed pages follow the run's ``--seed``.
"""

from __future__ import annotations

import math
import random
import re
from statistics import NormalDist
from typing import Dict, List, NamedTuple

FIXED_SEED = 1725

#: The README domain model and its config: the 5-phrase phrase-mode model.
README_PHRASES: List[dict] = [
    {"phrase": "PRAESIDE"},
    {"phrase": "PRAESENTIBUS"},
    {"phrase": "Veneris"},
    {"phrase": "Mercurii"},
    {"phrase": "den .. Januarii 1725"},
]
README_CONFIG: Dict[str, object] = {
    "char_match_threshold": 0.6,
    "ngram_threshold": 0.5,
    "levenshtein_threshold": 0.6,
    "ignorecase": False,
    "max_length_variance": 3,
    "ngram_size": 2,
    "skip_size": 2,
}

FILLER_WORDS = (
    "de het een van den der in op met voor aan door wordt zijn als ende "
    "heeren provincie vergadering missive rapport resolutie advies commissie "
    "the of and to a in that is was for it with as his on be at by had lorem "
    "ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod tempor"
).split()

_CONFUSIONS = [("s", "f"), ("u", "n"), ("e", "c"), ("i", "l"), ("a", "&"),
               ("r", "t"), ("o", "0")]

_PAGE_TEMPLATE = (
    "<html><head><title>Page {i}</title>"
    "<style>body {{ margin: 0; }}</style>"
    "<script>var tracked = {i};</script></head>"
    "<body><nav><ul><li>Home</li><li>Archief</li></ul></nav>"
    "<header><h1>Resolutie {i}</h1></header>"
    "<main>{body}</main>"
    "<footer>&copy; 1725 Staten-Generaal</footer></body></html>"
)

_BLANKS_RE = re.compile(r"[ \t\r\f\v]+")


class PageSpec(NamedTuple):
    """Length distribution of one workload's pages."""

    median_chars: int
    sigma: float
    max_chars: int
    giants_per_100: int = 0
    giant_chars: int = 200_000


class Page(NamedTuple):
    url: str
    html: bytes
    text: str


def length_grid(n: int, spec: PageSpec) -> List[int]:
    """Page lengths for ``n`` pages: the same list for every seed."""
    n_giants = n * spec.giants_per_100 // 100
    m = n - n_giants
    dist = NormalDist(math.log(spec.median_chars), spec.sigma)
    lengths = [min(spec.max_chars, max(200, int(math.exp(
        dist.inv_cdf((i + 0.5) / m))))) for i in range(m)]
    return lengths + [spec.giant_chars] * n_giants


def _ocr_corrupt(s: str, rng: random.Random) -> str:
    out = []
    for ch in s:
        r = rng.random()
        if r < 0.05:
            for a, b in _CONFUSIONS:
                if ch == a:
                    ch = b
                    break
                if ch == b:
                    ch = a
                    break
        if r > 0.98:
            continue
        out.append(ch)
        if rng.random() < 0.02:
            out.append(rng.choice("abcdefg .,"))
    return "".join(out)


def _normalize(raw: str) -> str:
    """The extractor's whitespace normalization; generated text is a fixed
    point of it."""
    lines = (_BLANKS_RE.sub(" ", line).strip() for line in raw.split("\n"))
    return "\n".join(line for line in lines if line)


def page_text(rng: random.Random, target_chars: int,
              phrases: List[str], phrase_rate: float = 0.02) -> str:
    parts: List[str] = []
    size = 0
    while size < target_chars:
        # words are drawn 64 at a time: one draw per word is the slow part
        for word, r_phrase, r_newline in zip(
                rng.choices(FILLER_WORDS, k=64),
                [rng.random() for _ in range(64)],
                [rng.random() for _ in range(64)]):
            if r_phrase < phrase_rate:
                phrase = rng.choice(phrases)
                word = _ocr_corrupt(phrase, rng) if rng.random() < 0.7 \
                    else phrase
            parts.append(word)
            size += len(word) + 1
            if r_newline < 0.07:
                parts.append("\n")
            if size >= target_chars:
                break
    return _normalize(" ".join(parts))


def _escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def page_html(i: int, text: str) -> bytes:
    body = "".join(f"<p>{_escape(line)}</p>" for line in text.split("\n"))
    return _PAGE_TEMPLATE.format(i=i, body=body).encode("utf-8")


def make_pages(seed: int, n: int, spec: PageSpec, tag: str,
               phrases: List[str]) -> List[Page]:
    """``n`` pages whose lengths are ``length_grid(n, spec)`` in a
    seed-shuffled order; urls are unique per (tag, seed)."""
    rng = random.Random(f"{tag}/{seed}")
    lengths = length_grid(n, spec)
    rng.shuffle(lengths)
    pages = []
    for i, chars in enumerate(lengths):
        text = page_text(random.Random(f"{tag}/{seed}/{i}"), chars, phrases)
        pages.append(Page(f"https://bench.example/{tag}/{seed}/{i:06d}",
                          page_html(i, text), text))
    return pages


def token_phrases(n: int, spec: PageSpec, phrases: List[str]) -> List[str]:
    """``n`` distinct 2-3 word windows sampled from fixed-seed pages, so
    the token model's probes hit the corpus densely."""
    rng = random.Random(f"token-model/{FIXED_SEED}")
    pages = make_pages(FIXED_SEED, 64, spec, "token-model", phrases)
    words_per_page = [re.findall(r"[A-Za-z]{3,}", p.text) for p in pages]
    out: List[str] = []
    seen = set()
    while len(out) < n:
        words = words_per_page[rng.randrange(len(words_per_page))]
        if len(words) < 4:
            continue
        start = rng.randrange(len(words) - 3)
        phrase = " ".join(words[start:start + rng.choice((2, 3))])
        if phrase.lower() not in seen:
            seen.add(phrase.lower())
            out.append(phrase)
    return out
