"""Tests of the benchmark's page and model generator.

    python3 -m pytest clibench/test_gen.py -q
"""

from __future__ import annotations

import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import run  # noqa: E402

README = [p["phrase"] for p in gen.README_PHRASES]


def test_generator_imports_nothing_from_the_program():
    code = ("import sys; sys.path.insert(0, %r); import gen; "
            "print(any(m.startswith('fuzzy_search_spark') "
            "for m in sys.modules))" % HERE)
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, check=True, timeout=60).stdout
    assert out.strip() == "False"


def test_extracted_html_equals_text_byte_for_byte():
    from fuzzy_search_spark.extract import extract_html

    for name, wl in run.WORKLOADS.items():
        for seed in (0, 7):
            for page in gen.make_pages(seed, 100, wl.spec, name, README):
                assert extract_html(page.html) == page.text, page.url


def test_every_seed_gets_the_same_length_grid():
    spec = run.WORKLOADS["crawl_phrase"].spec
    grid = gen.length_grid(200, spec)
    assert grid.count(spec.giant_chars) == 2
    sizes = {}
    for seed in (1, 2):
        pages = gen.make_pages(seed, 200, spec, "t", README)
        sizes[seed] = [len(p.text) for p in pages]
        # a page overshoots its target by at most one word
        assert sorted(abs(len(p.text) - n) for p, n in zip(
            sorted(pages, key=lambda p: len(p.text)), sorted(grid)))[-1] < 40
    assert sizes[1] != sizes[2]


def test_pages_are_deterministic_per_seed_and_unique_per_tag():
    spec = run.WORKLOADS["cli_default"].spec
    a = gen.make_pages(3, 20, spec, "x", README)
    assert a == gen.make_pages(3, 20, spec, "x", README)
    b = gen.make_pages(3, 20, spec, "y", README)
    assert not {p.url for p in a} & {p.url for p in b}
    assert [p.text for p in a] != [p.text for p in b]


def test_token_phrases_are_fixed_distinct_two_or_three_words():
    spec = run.WORKLOADS["dict_token"].spec
    phrases = gen.token_phrases(run.TOKEN_PHRASES, spec, README)
    assert phrases == gen.token_phrases(run.TOKEN_PHRASES, spec, README)
    assert len({p.lower() for p in phrases}) == run.TOKEN_PHRASES
    assert all(len(p.split()) in (2, 3) for p in phrases)
