"""pinyin_dim: canonical char->toneless-reading table derived from public
glibc collation data (reference behavior: pypinyin lazy_pinyin in
corrector.py:154-161 and proper_corrector.py:159-183 — ONE canonical
reading per char, equality-gated candidate filters)."""

import os

import pytest

from pycorrector_spark import pinyin_dim
from pycorrector_spark.dictio import data_dir

GLIBC_PRESENT = os.path.exists(pinyin_dim.GLIBC_PINYIN_COLLATION)

pytestmark = pytest.mark.skipif(
    not GLIBC_PRESENT, reason="glibc pinyin collation file absent"
)

# held-out readings (none of these chars appear in SYLLABLE_ANCHORS for
# their syllable) — spot-check the interval+gap derivation end to end
HELD_OUT = {
    "伟": "wei", "传": "chuan", "例": "li", "倒": "dao", "假": "jia",
    "元": "yuan", "先": "xian", "光": "guang", "党": "dang", "兰": "lan",
    "军": "jun", "农": "nong", "冬": "dong", "刘": "liu", "判": "pan",
    "医": "yi", "午": "wu", "南": "nan", "原": "yuan", "双": "shuang",
    "变": "bian", "史": "shi", "周": "zhou", "唐": "tang", "商": "shang",
    "城": "cheng", "基": "ji", "声": "sheng", "夏": "xia", "奉": "feng",
    "官": "guan", "富": "fu", "局": "ju", "帝": "di", "延": "yan",
    "徐": "xu", "忠": "zhong", "慧": "hui", "扬": "yang", "振": "zhen",
    "政": "zheng", "旗": "qi", "普": "pu", "曼": "man", "朱": "zhu",
    "杰": "jie", "梁": "liang", "武": "wu", "段": "duan", "江": "jiang",
    "泽": "ze", "涛": "tao", "港": "gang", "源": "yuan", "潘": "pan",
    "燕": "yan", "爽": "shuang", "田": "tian", "申": "shen", "秦": "qin",
    "简": "jian", "精": "jing", "红": "hong", "群": "qun", "航": "hang",
    "苏": "su", "赵": "zhao", "越": "yue", "辉": "hui", "郭": "guo",
    "铭": "ming", "镇": "zhen", "震": "zhen", "香": "xiang", "魏": "wei",
}


def test_all_anchor_syllables_survive_conflict_resolution():
    r = pinyin_dim.validation_report()
    # every anchored syllable kept => zero anchor recall errors detected
    assert r["n_syllables_kept"] == r["n_syllables_total"] >= 390
    assert r["n_hanzi"] > 20000
    assert r["table_size"] > 15000


def test_held_out_readings():
    if data_dir() is None:
        pytest.skip("reference data dir absent")
    t = pinyin_dim.char_pinyin_table()
    wrong = {c: (exp, t.get(c)) for c, exp in HELD_OUT.items()
             if t.get(c) is not None and t.get(c) != exp}
    missing = [c for c in HELD_OUT if c not in t]
    assert not wrong, wrong
    assert len(missing) <= 2, missing


def test_common_char_coverage():
    """>=99% of the reference's 3.5k-char common set gets a reading (the
    SUPPLEMENT dict closes the gap chars the interval method leaves)."""
    from pycorrector_spark.dictio import _p, load_set_file

    common = load_set_file(_p("common_char_set.txt"))
    if not common:
        pytest.skip("reference data dir absent")
    t = pinyin_dim.char_pinyin_table()
    covered = sum(1 for c in common if c in t)
    assert covered / len(common) >= 0.99


def test_polyphone_canonical_collapse_matches_lazy_pinyin():
    """Cross-syllable polyphones collapse to the most-common reading —
    the same collapse pypinyin's lazy_pinyin makes (长->chang not zhang,
    重->zhong not chong, 会->hui not kuai)."""
    if data_dir() is None:
        pytest.skip("reference data dir absent")
    t = pinyin_dim.char_pinyin_table()
    for c, exp in [("长", "chang"), ("重", "zhong"), ("会", "hui"),
                   ("还", "hai"), ("乐", "le"), ("行", "xing")]:
        assert t.get(c) == exp, (c, t.get(c))


def test_canonical_tightens_reading_set_over_admission():
    """same_pinyin.txt lines mix FUZZY-similar readings (七's line lists
    溪 xi and 只 zhi): the reading-SET filter admits those as homophones
    of 七 qi; the canonical single-reading filter — like the reference's
    lazy_pinyin equality — rejects them while keeping true homophones."""
    from pycorrector_spark.dictio import pinyin_reading_map
    from pycorrector_spark.refimpl.core import Corrector
    from pycorrector_spark.lm.model import train_char_lm
    from pycorrector_spark.fixtures import lm_corpus

    readings = pinyin_reading_map()
    if not readings:
        pytest.skip("reference data dir absent")
    t = pinyin_dim.char_pinyin_table()
    lm = train_char_lm(lm_corpus())
    kw = dict(lm=lm, word_freq={}, confusion_dict={}, stopwords=set(),
              pinyin_readings=readings)
    loose = Corrector(**kw)
    tight = Corrector(**kw, pinyin_canonical=t)
    # 七 qi / 溪 xi co-listed on a same_pinyin line -> sets intersect
    assert loose._same_char_pinyin("七", "溪")
    assert not tight._same_char_pinyin("七", "溪")
    # true homophones stay admitted under the canonical filter
    assert tight._same_char_pinyin("七", "期")
    assert tight._same_char_pinyin("一", "衣")


def test_full_dims_carries_canonical_table():
    from pycorrector_spark.dictio import full_dims

    dims = full_dims()
    t = dims.get("pinyin_canonical")
    assert t is not None and len(t) > 15000
    assert t["中"] == "zhong"
