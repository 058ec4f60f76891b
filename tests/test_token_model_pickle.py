"""A token model is broadcast pickled, so executors may unpickle a model
compiled by older code.  Its chain fan-out rows are read by position; a
fan-out that is missing or laid out in an older row width must be rebuilt,
not indexed."""

import pickle

import pytest

from fuzzy_search_spark.token_matcher import (compile_token_model,
                                              find_token_matches)

PHRASES = ["Zijne Hoogheid", "de Mogende Heeren", "Staten Generaal",
           "resolutie van de Heeren"]
TEXT = ("Zijne Hooghied en de Mogende Heeren der Staten Generaal namen "
        "de resolutie van den Heeren Staten over; de Mogende Heren ook")


def _rows(tm):
    return [(m.phrase, m.variant, m.string, m.offset, m.end,
             m.levenshtein_similarity) for m in find_token_matches(TEXT, tm)]


@pytest.mark.parametrize("layout", ["none", "six_wide"])
def test_stale_pickled_fanout_is_rebuilt(layout):
    fresh = compile_token_model(PHRASES, {})
    expected = _rows(fresh)
    assert expected
    stale = pickle.loads(pickle.dumps(fresh))
    if layout == "none":
        stale.chain_fanout = None
    else:
        # the row layout of older code: (phrase_id, phrase, start_ok,
        # name_len, missing_after, phrase_name)
        stale.chain_fanout = {tok: tuple(row[:6] for row in rows)
                              for tok, rows in fresh.chain_fanout.items()}
    stale = pickle.loads(pickle.dumps(stale))
    assert _rows(stale) == expected
    assert all(len(row) == len(next(iter(fresh.chain_fanout.values()))[0])
               for rows in stale.chain_fanout.values() for row in rows)
