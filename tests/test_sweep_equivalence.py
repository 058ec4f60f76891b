"""The product candidate sweep (`matcher._sweep_candidates_local`, an
inlined two-pointer window over phrase-local gram ids) must be exactly
equivalent to the reference-shaped `_Partial` state machine kept here as
the readable specification, including the incremental skip-count overlap.

The spec reads plain dict/set gram tables rebuilt from the phrase's gram
occurrences (reference phrase/phrase.py:80-99), not the compiled local-id
tables, so a fault in either the sweep or the table compiler shows."""

import random
from collections import Counter
from typing import Dict, List, Optional, Tuple

from fuzzy_search_spark.matcher import _Candidate, _sweep_candidates_local
from fuzzy_search_spark.model import compile_model


class _SpecPhrase:
    """A compiled phrase's gram tables as the reference keeps them."""

    def __init__(self, cp, cfg):
        self.cp = cp
        self.name = cp.name
        self.num_grams = len(cp.grams)
        self.gram_set = {k for k, _, _ in cp.grams}
        self.gram_freq = Counter(k for k, _, _ in cp.grams)
        self.gram_first_offset: Dict = {}
        for key, start, _ in cp.grams:
            self.gram_first_offset.setdefault(key, start)
        self.early = {k for k, s, _ in cp.grams if s < cfg.early_threshold}
        self.late_threshold = (len(cp.name) - cfg.late_threshold
                               - cfg.ngram_size)
        self.late = {k for k, s, ln in cp.grams
                     if s + ln > self.late_threshold}


class _Partial:
    """Growing span hypothesis for one phrase (reference CandidatePartial,
    match/candidate_match.py:92-329)."""

    __slots__ = ("cp", "glist", "gset", "gcount", "start", "end", "max_len",
                 "mlv")

    def __init__(self, cp: _SpecPhrase, mlv: int):
        self.cp = cp
        self.glist: List[Tuple] = []       # (key, start, length)
        self.gset = set()
        self.gcount: Dict = {}
        self.start: Optional[int] = -1
        self.end = -1
        self.mlv = mlv
        self.max_len = len(cp.name) + mlv

    def span_len(self) -> int:
        if self.start is None:
            return 0
        return self.end - self.start

    def _compute_start(self) -> Optional[int]:
        if not self.glist:
            return None
        key, gstart, _ = self.glist[0]
        off = gstart - self.cp.gram_first_offset[key]
        return 0 if off < 0 else off

    def _pop_first(self) -> None:
        key, _, _ = self.glist.pop(0)
        self.gcount[key] -= 1
        if self.gcount[key] == 0:
            self.gset.discard(key)

    def add(self, gram: Tuple) -> None:
        key, gstart, glen = gram
        if not self.glist and key not in self.cp.early:
            return  # a candidate can only open on an early gram
        self.gset.add(key)
        self.glist.append(gram)
        if self.start is None or self.start < 0:
            self.start = self._compute_start()
        if gstart + glen > self.end:
            self.end = gstart + glen
        self.gcount[key] = self.gcount.get(key, 0) + 1
        # evict from the front while the span is too long for the phrase
        while self.glist and self.span_len() > self.max_len:
            self._pop_first()
            self.start = self._compute_start()
        # ... and while the front gram can no longer start a match
        while self.glist and self.glist[0][0] not in self.cp.early:
            self._pop_first()
            self.start = self._compute_start()

    def is_match(self, skipgram_threshold: float) -> bool:
        if not self.glist:
            return False
        if self.glist[0][0] not in self.cp.early:
            return False
        span = self.span_len()
        if span > len(self.cp.name) + self.mlv:
            return False
        if span < self.cp.late_threshold - self.mlv:
            return False
        if self.glist[-1][0] not in self.cp.late:
            return False
        return len(self.gset) / len(self.cp.gram_set) >= skipgram_threshold

    def count_overlap(self) -> float:
        """Skip-count score: (total matched - freq deviation) / phrase grams."""
        diff = 0
        total = 0
        freq = self.cp.gram_freq
        for key, count in self.gcount.items():
            diff += abs(count - freq.get(key, 0))
            total += count
        return (total - diff) / self.cp.num_grams

    def shift_start(self) -> bool:
        """If the span is longer than the phrase, try to re-anchor the start
        on a later gram whose phrase offset is no worse; returns whether the
        start moved (a shifted second candidate is then emitted)."""
        if self.span_len() <= len(self.cp.name):
            return False
        first = self.cp.gram_first_offset
        start_gram = self.glist[0]
        best_phrase_off = first[start_gram[0]]
        best_idx = 0
        best_start = start_gram[1]
        slack = self.span_len() - len(self.cp.name)
        for si, gram in enumerate(self.glist):
            key, gstart, _ = gram
            if gstart - start_gram[1] > slack:
                break  # shifting further would leave the match too short
            phrase_off = first[key]
            if gstart > best_start and phrase_off <= best_phrase_off:
                best_idx = si
                best_start = gstart
                best_phrase_off = phrase_off
            if key not in self.cp.early:
                break
        for _ in range(best_idx):
            self._pop_first()
        self.start = self._compute_start()
        return best_idx > 0


def _spec_sweep(sp, grams, text, thr, mlv, gap_limit):
    """Straight transcription of the reference sweep over _Partial."""
    candidates = []
    partial = _Partial(sp, mlv)
    last = len(grams) - 1

    def emit():
        if partial.start == partial.end:
            return
        string = text[partial.start:partial.end]
        if not candidates or not (candidates[-1].start == partial.start
                                  and candidates[-1].end == partial.end):
            candidates.append(_Candidate(sp.cp, partial.start, partial.end,
                                         string, partial.count_overlap()))
        if partial.shift_start():
            if partial.start != partial.end:
                candidates.append(
                    _Candidate(sp.cp, partial.start, partial.end,
                               text[partial.start:partial.end],
                               partial.count_overlap()))

    for ci, gram in enumerate(grams):
        partial.add(gram)
        if partial.is_match(thr):
            emit()
        next_start = grams[ci + 1][1] if ci < last else None
        if next_start and next_start - gram[1] > gap_limit:
            partial = _Partial(sp, mlv)
    if partial.is_match(thr):
        emit()
    return candidates


# (ngram_size, skip_size): n <= 3 packs gram keys into ints, n >= 4 keeps
# them as strings; both reach the one product sweep.
_KEY_CONFIGS = {"int_keys": (2, 2), "str_keys": (4, 1)}

_VOCAB = ["den", "Jan", "Januarii", "1725", "den .. Januarii 1725",
          "dn Januarii  1725", "JanJanJan", "den den den", "17251725",
          "PRAESIDE", "PRSIDE", "tst case", "case test", "xx"]


def _model(ngram_size, skip_size):
    return compile_model(
        ["den .. Januarii 1725", "PRAESIDE", "test case"],
        {"char_match_threshold": 0.5, "levenshtein_threshold": 0.5,
         "max_length_variance": 3, "ngram_size": ngram_size,
         "skip_size": skip_size},
    )


def _check_local_sweep_equals_spec(ngram_size, skip_size, seed):
    """Sweep 400 random texts with the product sweep and the spec; return
    how many candidates were compared."""
    model = _model(ngram_size, skip_size)
    cfg = model.config
    gap_limit = cfg.ngram_size + cfg.skip_size + 1
    key_type = int if ngram_size <= 3 else str
    specs = [_SpecPhrase(cp, cfg) for cp in model.phrases.values()]
    rng = random.Random(seed)
    checked = 0
    for _ in range(400):
        text = " ".join(rng.choice(_VOCAB)
                        for _ in range(rng.randint(2, 40)))
        hits = model.scanner.scan(text)
        for sp in specs:
            cp = sp.cp
            grams = [g for g in hits if g[0] in cp.local_id]
            if not grams:
                continue
            assert all(type(g[0]) is key_type for g in grams)
            spec = _spec_sweep(sp, grams, text, 0.2, 3, gap_limit)
            local = _sweep_candidates_local(
                cp, [cp.local_id[g[0]] for g in grams],
                [g[1] for g in grams], [g[2] for g in grams],
                text, 0.2, 3, gap_limit)
            assert [(c.start, c.end, c.string, c.skip_count_overlap)
                    for c in local] == \
                   [(c.start, c.end, c.string, c.skip_count_overlap)
                    for c in spec], text
            checked += len(spec)
    return checked


def test_inlined_sweep_equals_spec():
    """The product sweep equals the _Partial spec, candidate for
    candidate, for int and string gram keys."""
    for name, (ngram_size, skip_size) in _KEY_CONFIGS.items():
        assert _check_local_sweep_equals_spec(ngram_size, skip_size,
                                              seed=99) > 100, name


def test_local_id_sweep_equals_generic():
    """The compiled phrase-local tables hold exactly the generic dict/set
    gram tables (keyed by gram, as the reference keeps them), and the
    sweep over local ids agrees with the dict/set spec on a second set of
    random texts."""
    for name, (ngram_size, skip_size) in _KEY_CONFIGS.items():
        model = _model(ngram_size, skip_size)
        for cp in model.phrases.values():
            sp = _SpecPhrase(cp, model.config)
            assert set(cp.local_id) == sp.gram_set, (name, cp.name)
            assert sorted(cp.local_id.values()) == \
                list(range(len(sp.gram_set)))
            for key, lid in cp.local_id.items():
                assert cp.loc_freq[lid] == sp.gram_freq[key]
                assert cp.loc_first[lid] == sp.gram_first_offset[key]
                assert cp.loc_early[lid] == (key in sp.early)
                assert cp.loc_late[lid] == (key in sp.late)
            if ngram_size <= 3:
                # the vectorized accumulator maps hits to local ids by
                # position in the sorted key array
                assert [cp.local_id[k] for k in
                        cp.sorted_keys_np.tolist()] == \
                    list(range(len(cp.local_id)))
        assert _check_local_sweep_equals_spec(ngram_size, skip_size,
                                              seed=1234) > 100, name
