"""Frozen `find_matches` output for inputs that take the scanner's list
path: `ngram_size` 1 and 4 (string gram keys) on any text, and
`ngram_size` 2 and 3 on texts under 64 chars.  No other suite builds such
models, so these pins are the reference-free guard for that path.  The
models carry variants, distractors and labels, and the texts plant exact
phrase strings so the exact-match known-word suppression fires.

Each case pins the row count, a sha256 over every row and the first rows
in full.  The pins were taken from the engine before the phrase-local
sweep became the only sweep."""

import hashlib
import random

import pytest

from fuzzy_search_spark.fixtures import ocr_corrupt
from fuzzy_search_spark.matcher import find_matches
from fuzzy_search_spark.model import compile_model

PHRASES = [
    {"phrase": "PRAESIDE", "variants": ["PRESIDE"],
     "distractors": ["PRAESENT"]},
    {"phrase": "PRAESENTIBUS", "label": "attendance"},
    {"phrase": "Veneris", "variants": ["Veneri", "Venus"],
     "distractors": ["Venetis"]},
    {"phrase": "Mercurii", "label": ["day", "weekday"]},
    {"phrase": "den .. Januarii 1725"},
    {"phrase": "test case", "variants": ["test cases"],
     "distractors": ["best case"]},
    # short enough (<= 4 chars) that ngram_size 1 grams count as late
    {"phrase": "Anno", "variants": ["Ano"], "distractors": ["Anna"]},
]

_BASE = {
    "char_match_threshold": 0.5,
    "ngram_threshold": 0.3,
    "levenshtein_threshold": 0.5,
    "max_length_variance": 3,
    "include_variants": True,
    "filter_distractors": True,
}

# name -> (config overrides, number of texts, max text length)
CASES = {
    "ngram1": ({"ngram_size": 1, "skip_size": 0}, 60, 200),
    "ngram4": ({"ngram_size": 4, "skip_size": 1}, 60, 240),
    "ngram4_ignorecase": ({"ngram_size": 4, "skip_size": 2,
                           "ignorecase": True}, 40, 240),
    "ngram2_short": ({"ngram_size": 2, "skip_size": 2}, 150, 63),
    "ngram3_short": ({"ngram_size": 3, "skip_size": 1,
                      "use_word_boundaries": False}, 100, 63),
}

_FILLER = ("de het een van den heeren provincie rapport test case best "
           "Jan 1725 the of and").split()


def _texts(seed: int, count: int, max_len: int):
    rng = random.Random(seed)
    pieces = [p["phrase"] for p in PHRASES]
    pieces += [v for p in PHRASES for v in p.get("variants", [])]
    pieces += [d for p in PHRASES for d in p.get("distractors", [])]
    out = []
    for _ in range(count):
        words = []
        while sum(len(w) + 1 for w in words) < max_len:
            r = rng.random()
            if r < 0.25:
                words.append(rng.choice(pieces))  # exact: known-word path
            elif r < 0.6:
                words.append(ocr_corrupt(rng.choice(pieces), rng,
                                         char_p=0.15, indel_p=0.08))
            else:
                words.append(rng.choice(_FILLER))
        out.append(" ".join(words)[:max_len])
    return out


def case_rows(name: str):
    overrides, count, max_len = CASES[name]
    model = compile_model(PHRASES, dict(_BASE, **overrides))
    rows = []
    for ti, text in enumerate(_texts(len(name) * 7919 + count, count,
                                     max_len)):
        for m in find_matches(text, model):
            rows.append((ti, m.phrase, m.variant, m.string, m.offset, m.end,
                         m.label, m.char_match, m.ngram_match,
                         m.levenshtein_similarity, m.exact))
    return rows


def rows_digest(rows) -> str:
    return hashlib.sha256(repr(rows).encode("utf-8")).hexdigest()


# name -> (row count, sha256 of repr(rows), first rows)
PINS = {
    "ngram1": (
        383,
        "b32f3190a85c2daada7897bc9718da3f87ea8cfef34ed7ac0d967f610667ab5a",
        [
            (0, "PRAESIDE", "PRESIDE", "PRESIDE", 8, 15, None, 1.0, 1.0,
             1.0, True),
            (0, "den .. Januarii 1725", "den .. Januarii 1725",
             "den .. Januarii 1725", 16, 36, None, 1.0, 1.0, 1.0, True),
            (0, "PRAESIDE", "PRESIDE", "PRESIDE", 42, 49, None, 1.0, 1.0,
             1.0, True),
        ]),
    "ngram2_short": (
        630,
        "f2618aeee91e528e7f49d36122d2f7914eb5adb4d44495d3074164edcd2097ed",
        [
            (0, "test case", "test cases", "tcst caecs", 0, 10, None, 0.8,
             0.5454545454545454, 0.8, False),
            (0, "test case", "test case", "test casef", 11, 21, None, 1.0,
             0.9, 0.9473684210526315, False),
            (0, "test case", "test case", "est eafe", 24, 32, None,
             0.6666666666666666, 0.4, 0.7058823529411765, False),
        ]),
    "ngram3_short": (
        501,
        "87ead766cfa3f9a347e2528b1816da929974a0d10b75089689b82d74a39f984b",
        [
            (0, "den .. Januarii 1725", "den .. Januarii 1725",
             "den .. Januarii 1725", 0, 20, None, 1.0, 1.0, 1.0, True),
            (0, "Veneris", "Veneri", "Veneri", 21, 27, None, 1.0, 1.0,
             1.0, True),
            (0, "test case", "test case", "tcst casde", 28, 38, None,
             0.8888888888888888, 0.4444444444444444, 0.8421052631578947,
             False),
        ]),
    "ngram4": (
        727,
        "85ff9afe270befd03b15726852255db06c72f5a0889256273d25fd2a732adc7c",
        [
            (0, "PRAESENTIBUS", "PRAESENTIBUS", "PRAESET", 0, 7,
             "attendance", 0.5833333333333334, 0.36363636363636365,
             0.7368421052631579, False),
            (0, "PRAESIDE", "PRESIDE", "PRESIDE", 8, 15, None, 1.0, 1.0,
             1.0, True),
            (0, "den .. Januarii 1725", "den .. Januarii 1725",
             "den .. Januarii 1725", 16, 36, None, 1.0, 1.0, 1.0, True),
        ]),
    "ngram4_ignorecase": (
        494,
        "f0a70b1317084364f259d04810568c9ed396bbb77047448ecd4ff2a7237c6c40",
        [
            (0, "Veneris", "Veneri", "Veneri", 8, 14, None, 1.0, 1.0, 1.0,
             True),
            (0, "Veneris", "Veneris", "Veneris", 15, 22, None, 1.0, 1.0,
             1.0, True),
            (0, "Mercurii", "Mercurii", "Mercurii", 47, 55,
             ["day", "weekday"], 1.0, 1.0, 1.0, True),
        ]),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_list_path_rows_pinned(name):
    rows = case_rows(name)
    count, digest, head = PINS[name]
    assert rows[:len(head)] == head
    assert len(rows) == count
    assert rows_digest(rows) == digest
