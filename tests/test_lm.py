"""LM contract tests — the KenLM-equivalent semantics the detector relies on
(reference detector.py:268-284, tests/kenlm_test.py).
"""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pycorrector_spark.fixtures import lm_corpus
from pycorrector_spark.lm.model import mad_outlier_indices, train_char_lm


@pytest.fixture(scope="module")
def lm():
    return train_char_lm(lm_corpus())


def test_training_deterministic():
    a = train_char_lm(lm_corpus())
    b = train_char_lm(lm_corpus())
    assert a.vocab == b.vocab
    np.testing.assert_array_equal(a.p1, b.p1)
    np.testing.assert_array_equal(a.bow1, b.bow1)
    assert a.order == b.order
    assert set(a.keys) == set(b.keys) == set(range(2, a.order + 1))
    assert set(a.ctx_bow) == set(b.ctx_bow)
    for n in range(2, a.order + 1):
        np.testing.assert_array_equal(a.keys[n], b.keys[n])
        np.testing.assert_array_equal(a.p[n], b.p[n])
    for n in a.ctx_bow:
        np.testing.assert_array_equal(a.ctx_bow[n], b.ctx_bow[n])


def test_score_is_sum_of_log10_probs(lm):
    # probabilities, so scores are negative and longer strings score lower
    s = "少先队员应该为老人让座"
    sc = lm.score_chars(s)
    assert sc < 0.0
    assert lm.score_chars(s + s) < sc


def test_score_empty(lm):
    assert lm.score_chars("") == 0.0


def test_ppl_plus_one_token_convention(lm):
    # ppl = 10^(-score(bos,eos)/(n+1)) — kenlm's </s> counts as a token
    # (reference tests/kenlm_test.py:46-49: full_scores yields len+1 entries)
    s = "我的家乡是有名的鱼米之乡"
    total = lm.score_chars(s, bos=True, eos=True)
    expect = 10.0 ** (-total / (len(s) + 1))
    assert lm.perplexity_chars(s) == pytest.approx(expect, rel=1e-12)


def test_ppl_batch_bitwise_matches_scalar(lm):
    texts = ["少先队员应该为老人让座", "中国人工智能布局很不错", "abc", "一"]
    batch = lm.ppl_batch(texts)
    for t, b in zip(texts, batch):
        assert float(b) == lm.perplexity_chars(t)


def _ppl_batch_per_text(lm, texts):
    """ppl_batch as it was built before the one-encode builder: one
    encode, concatenate and arange per text. Kept as the bitwise oracle."""
    if len(texts) == 0:
        return np.empty(0, dtype=np.float64)
    encs = [lm.encode(t) for t in texts]
    lens = np.array([len(e) for e in encs], dtype=np.int64)
    parts = []
    for e in encs:
        parts.append(np.concatenate(([lm.bos_id], e, [lm.eos_id])))
    flat = np.concatenate(parts)
    seq_lens = lens + 2
    starts = np.concatenate(([0], np.cumsum(seq_lens)[:-1]))
    total_pos = int(np.sum(seq_lens - 1))
    pos = np.empty(total_pos, dtype=np.int64)
    row = np.empty(total_pos, dtype=np.int64)
    o = 0
    for r, (s, L) in enumerate(zip(starts, seq_lens)):
        k = L - 1
        pos[o: o + k] = np.arange(s + 1, s + L)
        row[o: o + k] = r
        o += k
    w = flat[pos]
    local = pos - starts[row]
    avail = np.minimum(local, lm.order - 1)
    out = np.empty(total_pos, dtype=np.float64)
    for m in range(0, lm.order):
        mask = avail == m
        if not mask.any():
            continue
        pm = pos[mask]
        ctx = [flat[pm - (m - j)] for j in range(m)]
        out[mask] = lm.cond(ctx, w[mask])
    row_starts = np.concatenate(([0], np.cumsum(seq_lens - 1)[:-1]))
    sums = np.add.reduceat(out, row_starts)
    return 10.0 ** (-sums / (lens + 1))


# in-vocabulary CJK and ASCII, chars the LM has never seen (runes, an
# emoji, a non-BMP CJK char); texts of 0-3 chars sit below the LM order
_PPL_CHARS = list("少先队员应该为老人让座我的家乡ab1 ，。") + ["ᚠ", "ᚢ", "😀", "𠀀"]
_PPL_TEXT = st.one_of(
    st.just(""),
    st.text(alphabet=st.sampled_from(_PPL_CHARS), max_size=3),
    st.text(alphabet=st.sampled_from(_PPL_CHARS), max_size=40),
)


@given(st.one_of(st.lists(_PPL_TEXT, max_size=10), st.lists(st.just(""), min_size=1, max_size=4)))
@settings(max_examples=300, deadline=None)
def test_ppl_batch_rows_bitwise_stable_across_batchings(lm, texts):
    got = lm.ppl_batch(texts)
    want = _ppl_batch_per_text(lm, texts)
    assert got.dtype == np.float64 and got.tobytes() == want.tobytes(), texts
    for i, t in enumerate(texts):
        assert got[i:i + 1].tobytes() == lm.ppl_batch([t]).tobytes(), t


@pytest.fixture(scope="module")
def sharing_lms(lm):
    """The fixture LM, an order-2 model, an ARPA-loaded copy whose <s>
    and </s> ids are two real chars' ids (KenLM numbers them by their
    place in the ARPA unigram list, so nothing may key on ids 1 and 2),
    and a copy with its keys re-packed in a base so large that packed
    5-grams need not fit an int64, which scores every slot on its own."""
    import copy

    from pycorrector_spark.lm.model import _pack_cols, _unpack, load_arpa, to_arpa_lines

    arpa = load_arpa(to_arpa_lines(lm))
    arpa.bos_id, arpa.eos_id = np.int64(arpa.base - 1), np.int64(3)
    wide = copy.copy(lm)
    wide.base = 1 << 13
    wide.keys, wide.p, wide.ctx_bow = {}, {}, {}
    for n, keys in lm.keys.items():
        ids = np.array([_unpack(k, n, lm.base) for k in keys], dtype=np.int64)
        order = np.argsort(_pack_cols(list(ids.T), wide.base))
        wide.keys[n] = _pack_cols(list(ids.T), wide.base)[order]
        wide.p[n] = lm.p[n][order]
        if n in lm.ctx_bow:
            wide.ctx_bow[n] = lm.ctx_bow[n][order]
    return [lm, train_char_lm(lm_corpus(), order=2), arpa, wide]


_SHARED_PIECE = st.sampled_from(["少先队员应该为老人让座", "老人让座", "我的家乡", "ab1 ", "😀", "，"])
# many texts that repeat and overlap, so most grams recur across rows
_SHARED_BATCH = st.lists(st.lists(_SHARED_PIECE, max_size=4).map("".join), max_size=12)
# the zh re-rank's shape: one sentence with a different char at each position
_RERANK_BATCH = st.builds(
    lambda s, chars: [s[:i] + c + s[i + 1:] for i, c in enumerate(chars[: len(s)])],
    st.text(alphabet=st.sampled_from(_PPL_CHARS), min_size=1, max_size=20),
    st.lists(st.sampled_from(_PPL_CHARS), min_size=20, max_size=20),
)


@given(st.one_of(_SHARED_BATCH, _RERANK_BATCH), st.sampled_from([0, 1, 2, 3]))
@settings(max_examples=200, deadline=None)
def test_ppl_batch_shared_grams_bitwise(sharing_lms, texts, which):
    """ppl_batch scores each distinct gram once and scatters it back; the
    rows stay bitwise those of the per-position builder and of one-text
    calls."""
    lm = sharing_lms[which]
    got = lm.ppl_batch(texts)
    assert got.tobytes() == _ppl_batch_per_text(lm, texts).tobytes(), texts
    for i, t in enumerate(texts):
        assert got[i:i + 1].tobytes() == lm.ppl_batch([t]).tobytes(), t


def test_clean_scores_lower_ppl_than_corrupted(lm):
    # reference detector_test.py:78-89 asserts exactly this ordering
    clean = "少先队员应该为老人让座"
    corrupt = "少先队员因该为老人让坐"
    assert lm.perplexity_chars(clean) < lm.perplexity_chars(corrupt)


def test_oov_hits_unk_not_crash(lm):
    p = lm.perplexity_chars("ᚠᚢᚦ")  # runes: all OOV
    assert np.isfinite(p) and p > 0


def test_window_avg_scores_shape_and_identity(lm):
    s = "我的家乡是有名的鱼米之乡"
    scores = lm.window_avg_scores(s)
    assert scores is not None and len(scores) == len(s)
    # identity check: window scores derive from the same conditionals as
    # score_chars over each n-gram
    ids = lm.encode(s)
    w2_direct = np.array(
        [lm.score_chars(s[i:i + 2]) for i in range(len(s) - 1)]
    )
    w2_vec = lm.uni(ids[:-1]) + lm.cond2(ids[:-1], ids[1:])
    np.testing.assert_allclose(w2_vec, w2_direct, rtol=1e-12)


def test_window_avg_too_short_returns_none(lm):
    assert lm.window_avg_scores("一") is None
    assert lm.window_avg_scores("") is None


def test_corrupted_char_scores_below_neighbors(lm):
    clean = "一只小渔船浮在平静的河面上"
    corrupt = clean.replace("静", "净")
    sc = lm.window_avg_scores(corrupt)
    i = corrupt.index("净")
    flagged = mad_outlier_indices(sc)
    assert i in flagged


def test_mad_outlier_rule():
    # flags only low-side outliers beyond 2 MADs (detector.py:330-355)
    scores = np.array([-1.0, -1.1, -0.9, -1.05, -9.0])
    assert mad_outlier_indices(scores) == [4]
    # high-side outlier is NOT flagged
    scores_hi = np.array([-1.0, -1.1, -0.9, -1.05, 5.0])
    assert mad_outlier_indices(scores_hi) == []
    # zero MAD -> no flags
    assert mad_outlier_indices(np.array([1.0, 1.0, 1.0])) == []


def test_train_char_lm_rejects_min_count():
    import pytest

    from pycorrector_spark.lm.model import train_char_lm

    with pytest.raises(ValueError):
        train_char_lm(["abc"], min_count=2)


# ---------------------------------------------------------------------------
# ARPA interchange (S10: KenLM-compatible model source)
# ---------------------------------------------------------------------------


def test_load_arpa_hand_computed_backoff():
    """Tiny hand-written ARPA: probe hits and backoff paths against
    hand-computed log10 sums (ARPA backoff: unseen n-gram ->
    bow(context) + p(shorter context))."""
    from pycorrector_spark.lm.model import load_arpa

    arpa = """\\data\\
ngram 1=5
ngram 2=3
ngram 3=1

\\1-grams:
-1.0\t<unk>
-0.9\t<s>\t-0.30103
-0.8\t</s>
-0.5\t甲\t-0.2
-0.7\t乙\t-0.1

\\2-grams:
-0.4\t<s> 甲\t-0.05
-0.3\t甲 乙
-0.6\t乙 </s>

\\3-grams:
-0.2\t<s> 甲 乙

\\end\\
""".splitlines()
    lm = load_arpa(arpa)
    # direct bigram hit
    assert abs(lm.score_chars("甲乙") - (-0.5 + -0.3)) < 1e-12
    # backoff: (乙,甲) unseen -> bow1(乙) + p1(甲) = -0.1 + -0.5
    assert abs(lm.score_chars("乙甲") - (-0.7 + (-0.1 + -0.5))) < 1e-12
    # trigram hit with bos: p(甲|<s>) + p(乙|<s>甲) ; eos: p(</s>|甲 乙)
    # (甲,乙,</s>) unseen -> bow2(甲乙)=0 + p(</s>|乙) = -0.6
    expect = -0.4 + -0.2 + -0.6
    assert abs(lm.score_chars("甲乙", bos=True, eos=True) - expect) < 1e-12
    # OOV char hits <unk>
    assert abs(lm.score_chars("丙") - (-1.0)) < 1e-12


def test_arpa_round_trip_matches_trained_lm():
    """train -> dump ARPA -> reload: same vocabulary and bit-for-bit the
    same scores, since to_arpa_lines writes every float by repr (the
    shortest string that round-trips the exact float64)."""
    from pycorrector_spark.fixtures import PPL_POOL
    from pycorrector_spark.lm.model import load_arpa, to_arpa_lines

    lm = train_char_lm(lm_corpus())
    lm2 = load_arpa(to_arpa_lines(lm))
    assert lm2.vocab == lm.vocab
    texts = [t for t in PPL_POOL if t.strip()]
    assert lm2.ppl_batch(texts).tolist() == lm.ppl_batch(texts).tolist()
    # the detector's window scorer runs the cond2/cond3 backoff
    for s in ["少先队员应该为老人让座", "天下大乱形势大好", "abc一二三"]:
        assert lm2.window_avg_scores(s).tolist() == lm.window_avg_scores(s).tolist()
    # chars outside the vocab map to <unk> in both models
    assert lm2.score_chars("ΩΨ漢拏") == lm.score_chars("ΩΨ漢拏")


def test_load_arpa_rejects_high_order_and_multichar_tokens(lm):
    import pytest

    from pycorrector_spark.lm.model import load_arpa, to_arpa_lines

    # orders above max_order (default 5) rejected
    with pytest.raises(ValueError, match="order 6"):
        load_arpa(["\\data\\", "\\6-grams:", "-1.0\ta b c d e f", "\\end\\"])
    with pytest.raises(ValueError, match="order 4"):
        load_arpa(["\\data\\", "\\4-grams:", "-1.0\ta b c d", "\\end\\"],
                  max_order=3)
    with pytest.raises(ValueError, match="single character"):
        load_arpa(["\\data\\", "\\1-grams:", "-1.0\tword", "\\end\\"])
    # a truncated export: order 4 is cut short, order 5 and \end\ are gone
    lines = to_arpa_lines(lm)
    with pytest.raises(ValueError, match="order 4: .* declares 878 .* has 529"):
        load_arpa(lines[: 2 * len(lines) // 3])
    # a row with fewer tokens than its section's order
    with pytest.raises(ValueError, match="order 2: row"):
        load_arpa(["\\data\\", "\\1-grams:", "-1.0\ta", "-1.0\tb", "",
                   "\\2-grams:", "-0.3\ta b", "-0.3\tb", "\\end\\"])
    # every section complete, only the \end\ line missing
    with pytest.raises(ValueError, match=r"no \\end\\ line"):
        load_arpa(lines[:-1])
    # a space-separated bigram row whose backoff weight lands in the gram
    with pytest.raises(ValueError, match="order 2: token '-0.1' is not in"):
        load_arpa(["\\data\\", "\\1-grams:", "-1.0 a", "-1.0 b", "",
                   "\\2-grams:", "-0.3 b -0.1", "\\end\\"])
    # a gram listed twice, at order 2 and at order 1
    with pytest.raises(ValueError, match="order 2: gram 'a b' is listed twice"):
        load_arpa(["\\data\\", "ngram 1=2", "ngram 2=2", "\\1-grams:",
                   "-1.0\ta", "-1.0\tb", "\\2-grams:", "-0.3\ta b",
                   "-0.9\ta b", "\\end\\"])
    with pytest.raises(ValueError, match="order 1: token 'a' is listed 2 times"):
        load_arpa(["\\data\\", "ngram 1=3", "\\1-grams:", "-1.0\ta",
                   "-1.0\ta", "-1.0\tb", "\\end\\"])


def test_order1_model_batch_matches_score():
    """Regression: ppl_batch's order-grouped loop must score the m=0
    (no-context) group — a unigram-only ARPA model previously summed
    uninitialized memory while score_ids computed the right value."""
    from pycorrector_spark.lm.model import load_arpa

    arpa = ["\\data\\", "ngram 1=4", "", "\\1-grams:",
            "-1.0\t<unk>", "-0.9\t<s>", "-0.8\t</s>", "-0.5\t甲",
            "", "\\end\\"]
    lm = load_arpa(arpa)
    assert lm.order == 1
    ppl = float(lm.ppl_batch(["甲甲"])[0])
    want = 10 ** (-lm.score_chars("甲甲", bos=True, eos=True) / 3)
    assert abs(ppl - want) < 1e-12
