"""Unit tests for the pure text primitives (textops.py).

Differential strategy follows the reference's tests/test_util.py: exact
asserts on the scalar functions, plus scalar-vs-vectorized agreement so the
Arrow-batched stages provably compute the same values.
"""

import pandas as pd
import pytest

from pycorrector_spark.textops import (
    is_cjk_char,
    is_cjk_string,
    is_filter_token,
    lang_id,
    max_match_tokens,
    quality_signals,
    scrub_series,
    scrub_text,
    split_sentences_by_length,
    split_sentences_by_symbol,
    string_b2q,
    string_q2b,
    uniform,
    uniform_series,
    MultiPatternScanner,
)


# -- width folding (reference text_utils.py:50-81) --

def test_q2b_folds_fullwidth_ascii():
    assert string_q2b("ＡＢＣ１２３") == "ABC123"
    assert string_q2b("　") == " "          # ideographic space
    assert string_q2b("中文不变") == "中文不变"


def test_b2q_roundtrip():
    s = "Hello, World! 123"
    assert string_q2b(string_b2q(s)) == s


def test_uniform_is_q2b_then_lower():
    assert uniform("ＡＢＣ ＸyＺ") == "abc xyz"
    assert uniform("中文ＡＢＣ！") == "中文abc!"


def test_uniform_series_matches_scalar():
    texts = ["ＡＢＣ１２３", "中文Ｍixed！", "", "plain ascii", "　！"]
    got = uniform_series(pd.Series(texts)).tolist()
    assert got == [uniform(t) for t in texts]


# -- char classes (reference text_utils.py:15-47, detector.py:374-394) --

def test_char_classes():
    assert is_cjk_char("中") and not is_cjk_char("a")
    assert is_cjk_string("中文") and not is_cjk_string("中a")
    assert not is_cjk_string("")


@pytest.mark.parametrize("token,expected", [
    ("", True), ("  ", True), ("123", True), ("abc", True), ("ABC", True),
    ("中文", False), ("中a", True), ("中", False),
])
def test_is_filter_token(token, expected):
    assert is_filter_token(token) is expected


# -- sentence splitting (reference tokenizer.py:18-55) --

def test_split_by_symbol_reassembles():
    text = "你好！我是张爱文。abc 123，下一句"
    frags = split_sentences_by_symbol(text, include_symbol=True)
    assert "".join(f for f, _ in frags) == text
    # start indices are global offsets
    for frag, idx in frags:
        assert text[idx: idx + len(frag)] == frag


def test_split_by_symbol_content_only():
    frags = split_sentences_by_symbol("你好！abc，123", include_symbol=False)
    assert [f for f, _ in frags] == ["你好", "abc", "123"]
    assert [i for _, i in frags] == [0, 3, 7]


def test_split_keeps_plus_hash_amp():
    frags = split_sentences_by_symbol("C++和C#还有A&B", include_symbol=False)
    assert [f for f, _ in frags] == ["C++和C#还有A&B"]


def test_split_by_length_positions():
    # reference test_util.py asserts fixed-width chunks with offsets
    frags = split_sentences_by_length("abcdefghij", 4)
    assert frags == [("abcd", 0), ("efgh", 4), ("ij", 8)]


# -- max-match segmentation --

def test_max_match_prefers_longest():
    words = {"少先队员", "应该", "老人", "让座", "少先"}
    toks = max_match_tokens("少先队员应该为老人让座", words)
    assert [t for t, _, _ in toks] == ["少先队员", "应该", "为", "老人", "让座"]
    # spans tile the sentence
    assert toks[0][1] == 0 and toks[-1][2] == len("少先队员应该为老人让座")


def test_max_match_keeps_latin_runs_whole():
    toks = max_match_tokens("abc123中def", {"中"})
    assert [t for t, _, _ in toks] == ["abc123", "中", "def"]


# -- multi-pattern scanner (behavioral stand-in for ahocorasick .iter) --

def test_scanner_finds_all_overlapping():
    sc = MultiPatternScanner(["ab", "abc", "bc"])
    hits = sc.iter_matches("xabcx")
    assert set(hits) == {(2, "ab"), (3, "abc"), (3, "bc")}
    # end-index order
    assert [h[0] for h in hits] == sorted(h[0] for h in hits)


def test_scanner_empty():
    assert MultiPatternScanner([]).iter_matches("abc") == []


# -- scrub (frozen PII rules) --

def test_scrub_email_url_ip_phone():
    assert scrub_text("mail john.doe@example.com ok") == "mail <EMAIL> ok"
    assert scrub_text("go https://x.example/p?q=1 now") == "go <URL> now"
    assert scrub_text("ip 192.168.10.25 up") == "ip <IP> up"
    assert scrub_text("call 555-0123-4567 now") == "call <PHONE> now"


def test_scrub_collapses_ws_and_strips():
    assert scrub_text("  a\t\tb  ") == "a b"


def test_scrub_series_matches_scalar(docs_pdf):
    got = scrub_series(docs_pdf["text"]).tolist()
    assert got == [scrub_text(t) for t in docs_pdf["text"]]


# -- quality signals + langid (frozen rules) --

def test_quality_signals_basic():
    q = quality_signals("hello world hello")
    assert q["n_chars"] == 17 and q["n_words"] == 3
    assert q["rep_ratio"] == pytest.approx(1 - 2 / 3)
    assert q["len_ok"]


def test_quality_signals_degenerate():
    q = quality_signals("")
    assert q["symbol_ratio"] == 1.0 and q["rep_ratio"] == 1.0 and not q["len_ok"]
    q2 = quality_signals(" _ ,")   # reference detector_test.py:65 degenerate row
    assert not q2["len_ok"]


def test_lang_id_rule():
    assert lang_id("这是一个中文句子")[0] == "zh"
    assert lang_id("this is an english sentence")[0] == "en"
    assert lang_id("12345 67890")[0] == "und"
    assert lang_id("")[0] == "und"


def test_class_table_holds_every_split_whitespace():
    """signals_frame switches a text to the WORD_SPLIT_RE split when it
    holds str.split() whitespace outside WS_CHARS; every such codepoint
    must be in the class table, which ends at U+3000 for that class."""
    from pycorrector_spark.textops import _CLASS_TABLE, _CLS_SPLIT_WS, WS_CHARS

    odd = [c for c in range(0x110000) if chr(c).isspace() and chr(c) not in WS_CHARS]
    assert max(odd) < len(_CLASS_TABLE) - 1
    assert (_CLASS_TABLE[odd] == _CLS_SPLIT_WS).all()
    assert (_CLASS_TABLE == _CLS_SPLIT_WS).sum() == len(odd)


def test_word_ngrams_modes():
    from pycorrector_spark.textops import word_ngrams

    assert word_ngrams(["a", "b", "c"], "1") == ["a", "b", "c"]
    assert word_ngrams(["a", "b", "c"], "2") == ["a_b", "b_c"]
    assert word_ngrams(["a", "b", "c"], "12") == ["a", "b", "c", "a_b", "b_c"]
    assert word_ngrams(["a", "b", "c", "d"], "1234")[-1] == "a_b_c_d"
    assert word_ngrams([], "123") == []
    assert word_ngrams(["a"], "2") == []


def test_skip_grams():
    from pycorrector_spark.textops import skip_grams

    assert skip_grams(["a", "b", "c", "d"], 1) == ["a_c", "b_d"]
    assert skip_grams(["a", "b", "c", "d"], 2) == ["a_c", "b_d", "a_d"]
    assert skip_grams(["a", "b"], 2) == []
    assert skip_grams([], 1) == []


def test_long_sentence_split_packs_and_reassembles():
    from pycorrector_spark.textops import long_sentence_split

    text = "第一句。第二句！第三句，带逗号的很长一段，再来一点。尾巴"
    parts = long_sentence_split(text, max_length=10)
    assert "".join(parts) == text
    assert all(len(p) <= 10 or ("，" not in p and "。" not in p[:-1]) for p in parts)
    # short text stays whole
    assert long_sentence_split("短句。", max_length=128) == ["短句。"]
    assert long_sentence_split("", max_length=16) == []


def test_scrub_ascii_semantics():
    from pycorrector_spark.textops import scrub_text

    # \b is ASCII: PII adjacent to CJK text is caught
    assert scrub_text("ip地址1.2.3.4 end") == "ip地址<IP> end"
    # the whole grouped number matches the phone pattern as ONE token
    assert scrub_text("电话010-1234 5678") == "电话<PHONE>"
    # \d is ASCII: fullwidth digits are NOT treated as digits
    assert "１２３４５６７８９０１２３４５" in scrub_text("id １２３４５６７８９０１２３４５")


# ---------------------------------------------------------------------------
# jieba-algorithm segmentation (T4/T5: dag_max_prob_tokens / search mode)
# ---------------------------------------------------------------------------


def test_dag_max_prob_prefers_high_frequency_route():
    from pycorrector_spark.textops import dag_max_prob_tokens

    wf = {"研究": 1000, "生命": 1000, "科学": 1000, "研究生": 10, "命": 5}
    toks = dag_max_prob_tokens("研究生命科学", wf)
    # max-prob route picks 研究/生命/科学 (the famous greedy-trap sentence:
    # forward max-match would take 研究生 and be forced into 命/科/学)
    assert [t for t, _, _ in toks] == ["研究", "生命", "科学"]
    # spans are contiguous and cover the sentence
    assert [(b, e) for _, b, e in toks] == [(0, 2), (2, 4), (4, 6)]


def test_dag_max_prob_tie_breaks_to_longer_word():
    from pycorrector_spark.textops import dag_max_prob_tokens

    # equal-frequency dict: jieba's (score, end) tuple max favors the
    # longer word on exact score ties via the larger end index
    wf = {"中国": 100, "中": 100, "国": 100, "人": 100, "中国人": 100}
    toks = dag_max_prob_tokens("中国人", wf)
    assert [t for t, _, _ in toks] == ["中国人"]


def test_dag_max_prob_unknown_chars_fall_back_to_singletons():
    from pycorrector_spark.textops import dag_max_prob_tokens

    toks = dag_max_prob_tokens("未知词汇", {"的": 1})
    assert [t for t, _, _ in toks] == ["未", "知", "词", "汇"]


def test_search_mode_emits_subwords_before_parent():
    from pycorrector_spark.textops import search_mode_tokens

    wf = {"中国人民": 50, "中国": 100, "人民": 100, "国人": 20}
    toks = search_mode_tokens("中国人民", wf)
    # jieba cut_for_search order: in-dict 2-grams left-to-right, then the
    # parent token
    assert toks == [
        ("中国", 0, 2), ("国人", 1, 3), ("人民", 2, 4), ("中国人民", 0, 4)
    ]


def test_dp_vs_max_match_divergence_quantified():
    """Divergence #2 is now algorithm-exact vs jieba given the same dict;
    this quantifies how far the round-1 greedy stand-in was from the DP
    route on the CJK pool (documented, not hidden)."""
    from pycorrector_spark.fixtures import ZH_POOL
    from pycorrector_spark.operators.score import build_artifacts
    from pycorrector_spark.textops import dag_max_prob_tokens, max_match_tokens

    wf = build_artifacts().word_freq
    words = set(wf)
    total = sum(wf.values())
    agree = 0
    n = 0
    for s in ZH_POOL:
        dp = dag_max_prob_tokens(s, wf, total)
        mm = max_match_tokens(s, words)
        inter = len(set(dp) & set(mm))
        union = len(set(dp) | set(mm)) or 1
        agree += inter / union
        n += 1
    rate = agree / n
    # the two agree on most tokens over this dict; assert a floor so a
    # regression in either tokenizer is caught
    assert rate > 0.75, rate


def test_scanner_same_end_longest_first_prevents_double_splice():
    """Regression: at the same end index the scanner must report the
    LONGEST pattern first (pyahocorasick suffix-link order) — the
    containment dedup only suppresses a shorter error if the longer one
    arrived earlier, and shorter-first order made Corrector.correct()
    splice the same span twice."""
    from pycorrector_spark.textops import MultiPatternScanner

    sc = MultiPatternScanner(["曰镜", "镜"])
    assert sc.iter_matches("曰镜") == [(1, "曰镜"), (1, "镜")]


def test_overlapping_confusion_patterns():
    """Two distinct overlap semantics, both reference-faithful:

    - ConfusionCorrector (C4, confusion_corrector.py:58-71) splices EVERY
      match in report order — later (shorter, suffix-link) matches
      overwrite earlier ones, so 曰镜->眼镜 then 镜->境 yields 眼境.
    - Detector/Corrector (detector.py:303-328) run matches through the
      containment dedup, where the longest-first report order suppresses
      the contained match — only 曰镜 is detected and corrected once.
    """
    from pycorrector_spark.operators.score import build_artifacts
    from pycorrector_spark.refimpl.core import ConfusionCorrector, Corrector

    cc = ConfusionCorrector({"曰镜": "眼镜", "镜": "境"})
    assert cc.correct("戴上曰镜")["target"] == "戴上眼境"

    art = build_artifacts()
    zh = Corrector(
        lm=art.lm,
        word_freq=art.word_freq,
        confusion_dict={"曰镜": "眼镜", "镜": "境"},
        stopwords=art.stopwords,
        similar_chars={},
        enable_char_error=False,
        enable_word_error=False,
    )
    res = zh.correct("曰镜")
    assert res["target"] == "眼镜"                      # spliced exactly once
    assert [w for w, _, _ in res["errors"]] == ["曰镜"]  # contained 镜 suppressed


def test_pos_of_token_flags():
    from pycorrector_spark.textops import pos_of_token

    wf = {"工作": 100}
    person, place = {"张爱文"}, {"北京"}
    assert pos_of_token("张爱文", wf, person, place) == "nr"
    assert pos_of_token("北京", wf, person, place) == "ns"
    assert pos_of_token("123", wf) == "m"
    assert pos_of_token("3.5%", wf) == "m"
    assert pos_of_token("三十五", wf) == "m"
    assert pos_of_token("hello", wf) == "eng"
    assert pos_of_token("，", wf) == "x"
    assert pos_of_token("！？", wf) == "x"
    # round 5: POS_TAGS_ZH carries trained-style tags for common words
    assert pos_of_token("工作", wf) == "vn"
    assert pos_of_token("知道", wf) == "v"
    assert pos_of_token("犇", wf) == "n"  # CJK OOV -> majority tag
    assert pos_of_token("桌子", wf) == "n"  # common noun: heuristic default
    assert pos_of_token("", wf) == "x"


def test_segment_pos_word_and_char_modes():
    from pycorrector_spark.textops import segment_pos

    wf = {"少先队员": 50, "应该": 40, "老人": 30, "让座": 20, "为": 10}
    s = "少先队员应该为老人让座"
    out = segment_pos(s, wf)
    assert "".join(t for t, _b, _e, _f in out) == s
    flags = {t: f for t, _b, _e, f in out}
    assert flags["少先队员"] == "n" and flags["让座"] == "v"
    # spans are contiguous and tags align positionally
    pos = 0
    for t, b, e, _f in out:
        assert (b, e) == (pos, pos + len(t))
        pos = e
    # char mode: one (char, tag) per character, reference
    # tokenizer.py:115-121 behavior
    chars = segment_pos("为12a，", wf, cut_type="char")
    assert [t for t, *_ in chars] == ["为", "1", "2", "a", "，"]
    assert [f for *_, f in chars] == ["p", "m", "m", "eng", "x"]
