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
from pycorrector_spark.fixtures import (
    _CORRUPT_CONFUSION,
    _CORRUPT_SIMCHAR,
    CLEAN_EN,
    CLEAN_ZH,
    PROPER_SENTS,
    corrupt_en,
    word_freq_en,
)
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
# round-2 machinery: DAG segmentation, longest-match rewrite, ARPA
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
        # a null text: the signals of "" and a null scrubbed_text
        want = golden_row("" if t is None else t, zh, en, cfg)
        if t is None:
            want["scrubbed_text"] = None
        for col, v in want.items():
            got = out[col].iat[i]
            if isinstance(got, np.generic):
                got = got.item()
            assert _same(got, v), (t, col, got, v)
    return out


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
_DIGITS = st.text(alphabet="0123456789", min_size=1, max_size=6)
# every scrub trigger on both sides of its gate, every signals char class
# and its boundary codepoints: PII (emails, urls, dotted quads, 7-18-digit
# runs with separators), fullwidth digits (unscrubbed under re.ASCII),
# tabs and double spaces mid-text, str.split() whitespace outside
# WS_CHARS, a non-BMP char, and PII glued to CJK
PII_PIECE = st.one_of(
    st.sampled_from(["john.doe@example.com", "a@b.io", "x@y", "@"]),
    st.sampled_from(["http://x.example/p?q=1", "https://a.b", "www.site.org", "www.",
                     "://", "http:/", "ftp://h"]),
    st.sampled_from(["１２３４５６７８９０１２３４５", "１９２．１６８．１．１", "+86 ", "(010) ",
                     "0.0.0.0", "999-9999"]),
    st.builds(lambda a, b, c, d: f"{a}.{b}.{c}.{d}", *[st.integers(0, 999)] * 4),
    st.builds(
        lambda groups, sep: sep.join(groups),
        st.lists(_DIGITS, min_size=1, max_size=4),
        st.sampled_from(["-", ".", " ", ""]),
    ),
    st.text(alphabet="0123456789", min_size=7, max_size=18),
)
WS_PIECE = st.sampled_from(["\t", "  ", " ", "\n", "\r\n", "\x0b", "\xa0", "　", "\x1c", "\x85"])
TEXT_PIECE = st.sampled_from(["𠀀", "电话", "邮箱", "的", "abc", "X"])
PII_DOC = st.lists(st.one_of(PII_PIECE, WS_PIECE, TEXT_PIECE), max_size=8).map("".join)
# each signals char class and the codepoints just outside it: 一/龥 close
# the CJK range, ䷿/龦 flank it; @[`{/: flank the ASCII letters and digits
CLASS_EDGE_DOC = st.text(
    alphabet=st.sampled_from(list("一龥䷿龦AZaz09@[`{/: \t\n\r\x0b\xa0\x1c　𠀀")),
    max_size=30,
)
# English: fixture vocabulary, corrupt_en's misspelt fixture sentences and
# the confusion-dict hit; the pools are small, so one batch often holds
# the same misspelling in several docs
EN_VOCAB = sorted(word_freq_en())
EN_MISSPELT = sorted({corrupt_en(s, np.random.default_rng(k))[0] for s in CLEAN_EN for k in range(4)})
EN_DOC = st.builds(
    lambda parts, sep: sep.join(parts),
    st.lists(
        st.one_of(st.sampled_from(EN_VOCAB), st.sampled_from(EN_MISSPELT), st.just("crossplatform")),
        min_size=1, max_size=8,
    ),
    st.sampled_from([" ", ". ", "\n"]),
)
SCORE_DOC = st.one_of(
    st.text(max_size=60), st.just(""), SCORE_TEXT, MIN_LEN_DOC, PII_DOC, CLASS_EDGE_DOC, EN_DOC,
)


# lone surrogates: Arrow cannot carry them, but the codepoint buffer
# must still count one per char, as len() and the regexes do
SURROGATE_DOC = st.text(alphabet=st.sampled_from(["\ud800", "\udfff", "a", " "]), max_size=6)


@given(st.lists(st.one_of(PII_DOC, CLASS_EDGE_DOC, SURROGATE_DOC, st.none()), max_size=8))
@settings(max_examples=500, deadline=None)
def test_text_layers_match_scalar(texts):
    """signals_frame and scrub_series row by row against the regex
    oracles, many more examples than the score-stage property affords;
    a null text gets the signals of "" and a null scrub."""
    import pandas as pd

    from pycorrector_spark.textops import lang_id, quality_signals, scrub_series, signals_frame

    s = pd.Series(texts, dtype=object)
    sig = signals_frame(s).to_dict("records")
    for t, got, row in zip(texts, scrub_series(s), sig):
        if t is None:
            assert got is None
            t = ""
        else:
            assert got == scrub_text(t), t
        q = quality_signals(t)
        assert {k: row[k] for k in q} == q, t
        assert (row["lang_id"], row["lang_conf"]) == lang_id(t), t


# DEFAULT_CONFIG.max_len (1e6 chars) is out of Hypothesis' reach; the small
# max_len config puts the upper length bound inside the drawn sizes
@given(
    st.lists(SCORE_DOC, min_size=1, max_size=6),
    st.sampled_from([DEFAULT_CONFIG, PipelineConfig(max_len=12)]),
)
@settings(max_examples=200, deadline=None)
def test_process_batch_matches_golden(texts, cfg):
    _assert_batch_matches_golden(texts, cfg)


def test_process_batch_null_rows():
    """A null text gets the signals of "" and a null scrubbed_text; the
    batch's other rows are untouched by it."""
    pii = "邮箱john@example.com 电话 010-5555-1234\t网址 www.site.org  １２３"
    out = _assert_batch_matches_golden([None, "", " \t", pii], DEFAULT_CONFIG)
    assert out["scrubbed_text"].iat[0] is None
    assert out["scrubbed_text"].iat[3] == "邮箱<EMAIL> 电话 <PHONE> 网址 <URL> １２３"


# ---------------------------------------------------------------------------
# English spell: correct_batch vs correct
# ---------------------------------------------------------------------------

# words the fixture dict keeps, misspellings it corrects (also in mixed
# case), apostrophes, one-letter words (most are corrected to "a"), a
# word glued to a digit, CJK or +#& (no longer a whole fragment), non-ASCII
# letters (not fragment chars, so they split a word), and separators:
# whitespace, "\0", punctuation and "" (which glues two pieces together)
EN_SPELL_PIECE = st.one_of(
    st.sampled_from(["the", "data", "spelling", "order", "crossplatform", "speling",
                     "Speling", "SPELING", "sPeling", "ordr", "chek", "big", "agg",
                     "lerning", "don't", "it's", "'speling'", "a", "z", "q", "I", "x"]),
    st.sampled_from(["speling1", "1speling", "speling中", "中ordr", "c++", "ordr#", "&chek",
                     "a+b", "spélíng", "ｆspeling", "spelingé", "ordr_"]),
    st.sampled_from([" ", "  ", "\n", "\t", "\0", "", ".", "-", ",", "\u3000", "é"]),
)
EN_SPELL_DOC = st.lists(EN_SPELL_PIECE, max_size=12).map("".join)


@functools.lru_cache(maxsize=None)
def _en_spellers():
    """The score stage's corrector, and one whose confusion dict also maps
    a word to itself and a misspelling to a phrase."""
    from pycorrector_spark.refimpl.core import EnSpellCorrector

    en = _score_workers()[1]
    extra = dict(en.confusion, speling="speling", ordr="in order")
    return en, EnSpellCorrector(en.word_freq, extra, index=en.index)


@given(
    st.lists(EN_SPELL_DOC, max_size=6).map(lambda docs: docs + docs[:2]),
    st.sampled_from([0, 1]),
)
@settings(max_examples=300, deadline=None)
def test_en_correct_batch_matches_correct(texts, which):
    en = _en_spellers()[which]
    assert en.correct_batch(texts) == [en.correct(t) for t in texts], texts


# ---------------------------------------------------------------------------
# segmentation over the log-prob table vs the per-hit-log DP
# ---------------------------------------------------------------------------


def _dag_max_prob_tokens_ref(sentence, word_freq, total=None, max_word_len=16):
    """Reference max-prob DAG route (jieba cut(HMM=False)): a DAG of
    freq > 0 dict words per position, then a right-to-left DP taking
    math.log of every hit, max() over (score, end) tuples."""
    import math as _math

    n = len(sentence)
    if n == 0:
        return []
    if total is None:
        total = sum(word_freq.values())
    log_total = _math.log(total or 1)
    dag = []
    for i in range(n):
        ends = [i]
        upper = min(n, i + max_word_len)
        for j in range(i + 2, upper + 1):
            if word_freq.get(sentence[i:j]):
                ends.append(j - 1)
        dag.append(ends)
    route = [(0.0, 0)] * (n + 1)
    for i in range(n - 1, -1, -1):
        route[i] = max(
            (
                _math.log(word_freq.get(sentence[i: j + 1]) or 1) - log_total
                + route[j + 1][0],
                j,
            )
            for j in dag[i]
        )
    out = []
    i = 0
    while i < n:
        j = route[i][1] + 1
        out.append((sentence[i:j], i, j))
        i = j
    return out


SEG_ALPHABET = "甲乙丙丁戊"


@st.composite
def _seg_dict(draw):
    """Words up to 7 chars over a 5-char alphabet with few distinct
    frequencies (equal-score routes are common), some of them 0, plus
    zero-freq prefix entries of drawn words (jieba's prefix markers)."""
    freq = st.one_of(st.sampled_from([0, 1, 2, 4, 8]), st.integers(0, 10_000),
                     st.sampled_from([0.5, 2.5]))
    wf = draw(st.dictionaries(st.text(alphabet=SEG_ALPHABET, min_size=1, max_size=7),
                              freq, max_size=25))
    if draw(st.booleans()):
        for w in list(wf):
            for k in range(1, len(w)):
                wf.setdefault(w[:k], 0)
    return wf


@given(st.text(alphabet=SEG_ALPHABET + "的a1，", max_size=40), _seg_dict(),
       st.integers(1, 9), st.one_of(st.none(), st.integers(0, 10 ** 6)))
@settings(max_examples=500, deadline=None)
def test_dag_table_dp_matches_per_hit_log_dp(sentence, wf, max_word_len, total):
    from pycorrector_spark.textops import dag_max_prob_tokens, log_prob_table

    want = _dag_max_prob_tokens_ref(sentence, wf, total, max_word_len)
    assert dag_max_prob_tokens(sentence, wf, total, max_word_len) == want
    table = log_prob_table(wf, total)
    assert dag_max_prob_tokens(sentence, wf, max_word_len=max_word_len,
                               logp_table=table) == want


# ---------------------------------------------------------------------------
# batch detect/correct kernel vs the one-document oracle path
# ---------------------------------------------------------------------------

# length-changing confusion entries, so a fragment's later errors splice
# against shifted text: "让坐" maps to 3 chars instead of 2, "心工作" to 2
# instead of 3
KERNEL_CONFUSION = {"让坐": "让座位", "心工作": "新工"}


@functools.lru_cache(maxsize=None)
def _kernel_corrector():
    from pycorrector_spark.operators.score import build_artifacts
    from pycorrector_spark.refimpl.core import Corrector

    art = build_artifacts()
    return Corrector(
        lm=art.lm, word_freq=art.word_freq,
        confusion_dict={**art.confusion, **KERNEL_CONFUSION},
        stopwords=art.stopwords, similar_chars=art.similar,
        ppl_threshold=art.cfg.ppl_rerank_threshold,
    )


@st.composite
def _kernel_sentence(draw):
    """A fixture sentence with injected errors: corruption rules, then
    similar-char swaps (several per fragment, so re-rank runs several
    rounds), then an optional full-width form and a Latin insert
    (uniform() changes those fragments)."""
    s = draw(st.sampled_from(CLEAN_ZH + PROPER_SENTS))
    for a, b in draw(st.lists(st.sampled_from(_CORRUPT_CONFUSION + _CORRUPT_SIMCHAR), max_size=3)):
        s = s.replace(a, b, 1)
    chars = list(s)
    swappable = [i for i, c in enumerate(chars) if c in SIMILAR_CHARS]
    if swappable:
        for i in draw(st.lists(st.sampled_from(swappable), max_size=4)):
            chars[i] = draw(st.sampled_from(sorted(SIMILAR_CHARS[chars[i]])))
    s = "".join(chars)
    s = draw(st.sampled_from([s, string_b2q(s)]))
    latin = draw(st.sampled_from(["", "USB", "Gpu", "ＡＢ１", "İ", "abc"]))
    k = draw(st.integers(0, len(s)))
    return s[:k] + latin + s[k:]


KERNEL_DOC = st.one_of(
    st.builds("".join, st.lists(_kernel_sentence(), max_size=4)),
    st.sampled_from(["", " ", " \t\n ", "，。！？"]),
)


@given(st.lists(KERNEL_DOC, max_size=6), st.booleans())
@settings(max_examples=200, deadline=None)
def test_detect_and_correct_batch_matches_oracle(texts, repeat):
    zh = _kernel_corrector()
    if repeat and texts:
        texts = texts + [texts[0]]  # the same doc twice in one batch
    assert zh.detect_and_correct_batch(texts) == [(zh.detect(t), zh.correct(t)) for t in texts]


def test_detect_and_correct_batch_cases():
    """The cases the property above must reach, pinned as one batch."""
    zh = _kernel_corrector()
    # one fragment: a length-changing confusion splice, then 4 errors
    # re-ranked in later rounds at the original offsets
    many = "老人让坐数据处理系统需要高笑绿得氛析能力"
    texts = [
        many,
        "我听说，你找到心工作，我很高兴。",       # 3 chars -> 2
        string_b2q("少先队员因该为老人让坐") + "USB",  # full-width + uppercase
        "", " \t\n ",
        many,
    ]
    want = [(zh.detect(t), zh.correct(t)) for t in texts]
    assert zh.detect_and_correct_batch(texts) == want
    assert len(want[0][0]) >= 4 and len(want[0][1]["errors"]) >= 3
    assert len(want[1][1]["target"]) != len(texts[1])
    assert uniform(texts[2]) != texts[2] and want[2][0]
    clean = [t for t in CLEAN_ZH if not zh.detect(t) and not zh.correct(t)["errors"]]
    assert clean
    assert zh.detect_and_correct_batch(clean) == [
        ([], {"source": t, "target": t, "errors": []}) for t in clean
    ]
