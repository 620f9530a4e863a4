"""Property-based tests (hypothesis) over the pure text/hash primitives.

The reference has no property tests (SURVEY.md §5); these harden the
invariants the distributed stages rely on: splitter reassembly, normalizer
idempotence, scrub stability, minhash's Jaccard estimate, edit-distance
metric laws, and the score stage's parity with the serial oracle.
"""

from __future__ import annotations

import functools

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from pycorrector_spark.config import DEFAULT_CONFIG, PipelineConfig
from pycorrector_spark.dicts import SIMILAR_CHARS
from pycorrector_spark.refimpl.proper import levenshtein
from pycorrector_spark.textops import (
    longest_match_rewrite,
    s2t,
    scrub_text,
    split_sentences_by_symbol,
    string_b2q,
    string_q2b,
    t2s,
    uniform,
)

# mixed alphabet: ASCII, fullwidth, CJK (incl. traditional), whitespace, punct
TEXT = st.text(
    alphabet=st.sampled_from(
        list("abcXYZ019 \t\n.,!?@:/-_#&+")
        + list("，。！？；：")
        + list("的了是我你他在有不人一上大东风马学习汉汗")
        + list("東風馬學習漢")
        + [chr(c) for c in range(0xFF01, 0xFF10)]
    ),
    max_size=80,
)


@given(TEXT)
@settings(max_examples=200, deadline=None)
def test_split_reassembles(text):
    frags = split_sentences_by_symbol(text, include_symbol=True)
    assert "".join(f for f, _ in frags) == text
    for frag, idx in frags:
        assert text[idx: idx + len(frag)] == frag


@given(TEXT)
@settings(max_examples=200, deadline=None)
def test_uniform_idempotent_and_length_preserving(text):
    once = uniform(text)
    assert uniform(once) == once
    assert len(once) == len(text)


@given(TEXT)
@settings(max_examples=200, deadline=None)
def test_q2b_b2q_partial_inverse(text):
    # Q2B then B2Q maps every ASCII-printable to fullwidth; Q2B again
    # returns to the halfwidth normal form — i.e. Q2B∘B2Q∘Q2B == Q2B
    assert string_q2b(string_b2q(string_q2b(text))) == string_q2b(text)


@given(TEXT)
@settings(max_examples=200, deadline=None)
def test_t2s_length_preserving_and_idempotent(text):
    out = t2s(text)
    assert len(out) == len(text)
    assert t2s(out) == out  # simplified output contains no mapped trad chars


@given(TEXT)
@settings(max_examples=200, deadline=None)
def test_s2t_t2s_fixpoint(text):
    # t2s(s2t(x)) == t2s(x): converting to traditional and back lands on
    # the same simplified normal form
    assert t2s(s2t(t2s(text))) == t2s(text)


@given(TEXT)
@settings(max_examples=200, deadline=None)
def test_scrub_idempotent(text):
    once = scrub_text(text)
    assert scrub_text(once) == once


@given(TEXT, st.dictionaries(st.text(min_size=1, max_size=3), st.text(max_size=3), max_size=5))
@settings(max_examples=100, deadline=None)
def test_longest_match_rewrite_total(text, table):
    # never crashes, and with an empty table is the identity
    longest_match_rewrite(text, table)
    assert longest_match_rewrite(text, {}) == text


SHORT = st.text(alphabet=st.sampled_from("abcde"), max_size=8)


@given(SHORT, SHORT, SHORT)
@settings(max_examples=200, deadline=None)
def test_levenshtein_metric_laws(a, b, c):
    assert levenshtein(a, b) == levenshtein(b, a)
    assert (levenshtein(a, b) == 0) == (a == b)
    assert levenshtein(a, c) <= levenshtein(a, b) + levenshtein(b, c)


@given(st.integers(0, 2 ** 31), st.integers(1, 200), st.integers(1, 200))
@settings(max_examples=50, deadline=None)
def test_minhash_jaccard_estimate(seed, n_a, n_overlap):
    from pycorrector_spark.operators.dedup import _minhash_batch, _minhash_params

    rng = np.random.default_rng(seed)
    a_only = rng.integers(0, 2 ** 63, size=n_a, dtype=np.uint64)
    shared = rng.integers(0, 2 ** 63, size=n_overlap, dtype=np.uint64)
    set_a = np.unique(np.concatenate([a_only, shared]))
    set_b = np.unique(shared)
    inter = len(np.intersect1d(set_a, set_b))
    union = len(np.union1d(set_a, set_b))
    true_j = inter / union
    pa, pb = _minhash_params(256)
    sigs = _minhash_batch([set_a, set_b], pa, pb)
    est = (sigs[0] == sigs[1]).mean()
    # 256 permutations: std err ~ sqrt(j(1-j)/256) <= 0.031; 6 sigma
    assert abs(est - true_j) < 0.2


@given(st.lists(st.integers(0, 2 ** 62), min_size=0, max_size=50))
@settings(max_examples=100, deadline=None)
def test_minhash_identical_sets_identical_sigs(vals):
    from pycorrector_spark.operators.dedup import _minhash_batch, _minhash_params

    arr = np.unique(np.array(vals, dtype=np.uint64))
    pa, pb = _minhash_params(64)
    sigs = _minhash_batch([arr, arr.copy()], pa, pb)
    assert (sigs[0] == sigs[1]).all()


# ---------------------------------------------------------------------------
# round-2 machinery: DAG segmentation, longest-match rewrite, ARPA, md5_64
# ---------------------------------------------------------------------------

ZH_TEXT = st.text(
    alphabet=st.sampled_from("我们的人工智能学习数据系统分析能力很不错一二三 ab12"),
    max_size=40,
)
WORDS = st.dictionaries(
    st.text(alphabet="我们的人工智能学习", min_size=1, max_size=4),
    st.integers(min_value=0, max_value=10_000),
    max_size=30,
)


@given(ZH_TEXT, WORDS)
@settings(max_examples=200, deadline=None)
def test_dag_tokens_partition_the_sentence(sentence, wf):
    from pycorrector_spark.textops import dag_max_prob_tokens

    toks = dag_max_prob_tokens(sentence, wf)
    # spans are contiguous, start at 0, end at len, and re-join to the input
    pos = 0
    for t, b, e in toks:
        assert b == pos and e > b and sentence[b:e] == t
        pos = e
    assert pos == len(sentence)
    # every multi-char token is a positive-frequency dict word
    for t, b, e in toks:
        if e - b > 1:
            assert wf.get(t)


@given(ZH_TEXT, WORDS)
@settings(max_examples=100, deadline=None)
def test_search_mode_superset_of_base_tokens(sentence, wf):
    from pycorrector_spark.textops import dag_max_prob_tokens, search_mode_tokens

    base = dag_max_prob_tokens(sentence, wf)
    search = search_mode_tokens(sentence, wf)
    assert set(base) <= set(search)
    # sub-words are all in-dict with positive freq and lie inside a base span
    extra = set(search) - set(base)
    for t, b, e in extra:
        assert wf.get(t)
        assert any(bb <= b and e <= ee for _, bb, ee in base)


@given(ZH_TEXT, st.dictionaries(
    st.text(alphabet="一二三四五", min_size=1, max_size=3),
    st.text(alphabet="六七八", min_size=1, max_size=3),
    max_size=10,
))
@settings(max_examples=200, deadline=None)
def test_longest_match_rewrite_fixed_point_outside_keys(sentence, table):
    from pycorrector_spark.textops import LongestMatchRewriter

    rw = LongestMatchRewriter(table)
    out = rw(sentence)
    # chars outside every key pass through; text with no key occurrence
    # is unchanged
    if not any(k in sentence for k in table):
        assert out == sentence
    # rewriting is deterministic
    assert rw(sentence) == out


@given(st.lists(st.text(alphabet="甲乙丙丁abc", min_size=1, max_size=12),
                min_size=1, max_size=20))
@settings(max_examples=30, deadline=None)
def test_arpa_round_trip_random_corpora(corpus):
    import numpy as np

    from pycorrector_spark.lm.model import load_arpa, to_arpa_lines, train_char_lm

    lm = train_char_lm(corpus)
    lm2 = load_arpa(to_arpa_lines(lm))
    texts = corpus[:5] + ["甲乙丙", ""]
    assert np.allclose(lm.ppl_batch(texts), lm2.ppl_batch(texts), rtol=1e-5)


@given(st.text(max_size=30))
@settings(max_examples=100, deadline=None)
def test_md5_64_matches_duckdb_expression(word):
    """The one hash with a SQL twin: verify the exact DuckDB expression the
    simhash oracle uses reproduces textops.md5_64."""
    import duckdb

    from pycorrector_spark.textops import md5_64

    got = duckdb.sql(
        "SELECT ('0x' || substr(md5(?), 1, 16))::UBIGINT", params=[word]
    ).fetchone()[0]
    assert got == md5_64(word)


# ---------------------------------------------------------------------------
# round-4 primitives
# ---------------------------------------------------------------------------


@given(
    st.dictionaries(
        st.sampled_from("abcdefgh"), st.integers(0, 10_000), min_size=1, max_size=8
    ),
    st.dictionaries(
        st.sampled_from("abcdefgh"),
        st.floats(0.01, 10, allow_nan=False),
        min_size=1,
        max_size=8,
    ),
)
@settings(max_examples=120, deadline=None)
def test_domain_mix_cuts_properties(counts, weights):
    from pycorrector_spark.operators.curation import _BUCKET_DENOM, domain_mix_cuts

    cuts = domain_mix_cuts(counts, weights)
    assert set(cuts) == set(counts)
    for d, cut in cuts.items():
        assert 0 <= cut <= _BUCKET_DENOM
        # unweighted or empty domains are dropped entirely
        if d not in weights or counts[d] == 0:
            assert cut == 0
    # the binding weighted-and-present domain keeps everything (weighted
    # domains with no docs are ignored, not allowed to zero the corpus)
    active = [d for d in cuts if d in weights and weights[d] > 0 and counts[d] > 0]
    if active:
        assert max(cuts[d] for d in active) >= _BUCKET_DENOM - 1
        # realized totals track target proportions: expected kept docs
        # n_d * cut_d/denom ~ T * w_d (within bucket quantization)
        t_est = [counts[d] * cuts[d] / _BUCKET_DENOM / weights[d] for d in active]
        quant_slack = max(1.0 / weights[d] for d in active)  # 1 bucket per domain
        assert max(t_est) - min(t_est) <= max(2.0, 0.01 * max(t_est)) + quant_slack


@given(st.text(alphabet=st.sampled_from(list("abc ABC\t\n.")), max_size=120),
       st.integers(2, 5))
@settings(max_examples=80, deadline=None)
def test_word_ngram_hash_count(text, n):
    """Serial replica of curation.word_ngram_hashes' COUNT contract:
    max(0, n_words - n + 1) hashes, words = lowercase whitespace split."""
    import hashlib

    words = [w for w in text.lower().split() if w]
    expect = max(0, len(words) - n + 1)
    grams = [
        int(hashlib.md5(" ".join(words[i:i + n]).encode()).hexdigest()[:15], 16)
        for i in range(expect)
    ]
    assert len(grams) == expect
    assert len(set(grams)) <= max(1, expect)


# ---------------------------------------------------------------------------
# batched MAD outlier test vs the one-row test
# ---------------------------------------------------------------------------


def _mad_outlier_indices_one(scores, ratio=0.6745, threshold=2.0):
    """Reference one-row MAD test (detector.py:330-355), two np.median
    calls per row; a None row (too short to score) has no outliers."""
    if scores is None:
        return []
    scores = np.asarray(scores, dtype=np.float64)
    median = np.median(scores)
    margin = np.abs(scores - median)
    mad = np.median(margin)
    if mad == 0:
        return []
    y = ratio * margin / mad
    idx = np.where((y > threshold) & (scores < median))[0]
    return [int(i) for i in idx]


# few distinct values, so ties and constant rows are common, plus
# LOG10_EPS and arbitrary finite floats
MAD_VALUE = st.one_of(
    st.sampled_from([-99.0, -5.0, -4.5, -4.0, -3.0, -2.5, 0.0]),
    st.floats(min_value=-100.0, max_value=100.0, allow_nan=False),
)
MAD_ROW = st.one_of(
    st.none(),
    st.lists(MAD_VALUE, max_size=2),
    st.lists(MAD_VALUE, max_size=40),
    st.builds(lambda v, n: [v] * n, MAD_VALUE, st.integers(0, 40)),
)


@given(st.lists(MAD_ROW, max_size=12))
@settings(max_examples=400, deadline=None)
def test_mad_outlier_indices_batch_matches_one_row(rows):
    import warnings

    from pycorrector_spark.lm.model import mad_outlier_indices_batch

    with warnings.catch_warnings():
        # np.median of an empty row warns and returns nan; a subnormal MAD
        # overflows y to inf (on both sides alike)
        warnings.simplefilter("ignore", RuntimeWarning)
        got = mad_outlier_indices_batch([None if r is None else np.array(r) for r in rows])
        want = [_mad_outlier_indices_one(r) for r in rows]
    assert got == want, rows


# ---------------------------------------------------------------------------
# batched LM window scorer vs the one-sentence scorer
# ---------------------------------------------------------------------------


def _window_avg_scores_one(lm, sentence):
    """Reference one-sentence window scorer (detector.py:441-461): its own
    probes, a 1-D edge pad + cumsum per n, and np.average over the n's."""
    def pad_and_average(scores, n, sent_len):
        padded = np.concatenate((
            np.repeat(scores[0], n - 1),
            scores,
            np.repeat(scores[-1], n - 1),
        ))
        csum = np.concatenate(([0.0], np.cumsum(padded)))
        return (csum[n:n + sent_len] - csum[:sent_len]) / float(n)

    ids = lm.encode(sentence)
    L = len(ids)
    per_n = []
    if L >= 2:
        u = lm.uni(ids)
        c2 = lm.cond2(ids[:-1], ids[1:])
        w2 = u[:-1] + c2
        per_n.append(pad_and_average(w2, 2, L))
    if L >= 3:
        c3 = lm.cond3(ids[:-2], ids[1:-1], ids[2:])
        w3 = u[:-2] + c2[:-1] + c3
        per_n.append(pad_and_average(w3, 3, L))
    if not per_n:
        return None
    return np.average(np.array(per_n), axis=0)


# in-vocabulary CJK, ASCII and punctuation, plus chars the LM has never
# seen (runes, an emoji, a rare CJK extension char)
WINDOW_CHARS = list("少先队员因该为老人让座一只小渔船浮在平静的河面上") + list("ab1 ，。") + [
    "ᚠ", "ᚢ", "😀", "𠀀",
]
FRAGMENT = st.one_of(
    st.text(alphabet=st.sampled_from(WINDOW_CHARS), max_size=3),
    st.text(alphabet=st.sampled_from(WINDOW_CHARS), max_size=40),
)


@given(st.lists(FRAGMENT, max_size=12))
@settings(max_examples=300, deadline=None)
def test_window_avg_scores_batch_bitwise_matches_one_sentence(frags):
    lm = _score_workers()[0].lm
    got = lm.window_avg_scores_batch(frags)
    assert len(got) == len(frags)
    for frag, g in zip(frags, got):
        want = _window_avg_scores_one(lm, frag)
        if want is None:
            assert g is None and len(frag) < 2
        else:
            assert g.dtype == want.dtype and g.shape == want.shape
            assert g.tobytes() == want.tobytes(), frag


# ---------------------------------------------------------------------------
# score stage: process_batch vs the serial oracle
# ---------------------------------------------------------------------------


@functools.lru_cache(maxsize=None)
def _score_workers():
    from pycorrector_spark.operators.score import build_artifacts, make_workers

    return make_workers(build_artifacts())


def _same(a, b):
    """Cell equality with NaN and None (and each other) treated as equal."""
    def missing(x):
        return x is None or (isinstance(x, float) and np.isnan(x))

    if missing(a) or missing(b):
        return missing(a) and missing(b)
    return a == b


def _assert_batch_matches_golden(texts, cfg):
    import pandas as pd

    from pycorrector_spark.operators.score import process_batch
    from pycorrector_spark.refimpl.golden import golden_row

    zh, en = _score_workers()
    out = process_batch(pd.DataFrame({"text": texts}), zh, en, cfg)
    assert len(out) == len(texts)
    for i, t in enumerate(texts):
        want = golden_row(t, zh, en, cfg)
        for col, v in want.items():
            got = out[col].iat[i]
            if isinstance(got, np.generic):
                got = got.item()
            assert _same(got, v), (t, col, got, v)


# SIMILAR_CHARS keys + ASCII + CJK punctuation: the corrector's home turf
SCORE_CHARS = (
    sorted(SIMILAR_CHARS)
    + list("abcdefghijklmnopqrstuvwxyzABC019.,!?-'")
    + list("，。！？；：、“”（）《》")
)
SCORE_TEXT = st.text(alphabet=st.sampled_from(SCORE_CHARS + [" ", "\n"]), max_size=60)
# stripped length 7, 8 or 9: either side of textops.MIN_LEN (8)
MIN_LEN_DOC = st.builds(
    lambda pad, body, tail: pad + body + tail,
    st.sampled_from(["", " ", "\n\t"]),
    st.text(alphabet=st.sampled_from(SCORE_CHARS), min_size=7, max_size=9),
    st.sampled_from(["", " ", "\r\n"]),
)
SCORE_DOC = st.one_of(st.text(max_size=60), st.just(""), SCORE_TEXT, MIN_LEN_DOC)


# DEFAULT_CONFIG.max_len (1e6 chars) is out of Hypothesis' reach; the small
# max_len config puts the upper length bound inside the drawn sizes
@given(
    st.lists(SCORE_DOC, min_size=1, max_size=6),
    st.sampled_from([DEFAULT_CONFIG, PipelineConfig(max_len=12)]),
)
@settings(max_examples=200, deadline=None)
def test_process_batch_matches_golden(texts, cfg):
    _assert_batch_matches_golden(texts, cfg)
