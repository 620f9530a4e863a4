"""SGKLM binary LM container + KenLM-probing-style hash scorer: a model
saved and loaded back (in memory or mmap'd) matches the sorted-array and
load_arpa scores bit-for-bit."""

import numpy as np
import pytest

from pycorrector_spark.fixtures import PPL_POOL, lm_corpus
from pycorrector_spark.lm.binary import (
    ProbingCharLM,
    gram_hash,
    load_binary,
    save_binary,
)
from pycorrector_spark.lm.model import load_arpa, to_arpa_lines, train_char_lm


@pytest.fixture(scope="module")
def lm():
    return train_char_lm(lm_corpus(), order=5)


@pytest.fixture(scope="module")
def bin_path(lm, tmp_path_factory):
    p = tmp_path_factory.mktemp("lm") / "model.sgklm"
    save_binary(lm, str(p))
    return str(p)


TEXTS = [t for t in PPL_POOL if t.strip()][:24]


def _scores(model):
    return model.ppl_batch(TEXTS)


def test_roundtrip_bitwise(lm, bin_path):
    loaded = load_binary(bin_path)
    assert isinstance(loaded, ProbingCharLM)
    assert loaded.order == lm.order
    assert loaded.vocab == lm.vocab
    a = _scores(lm)
    b = _scores(loaded)
    assert a.tolist() == b.tolist()  # bit-for-bit float64


def test_arpa_binary_arpa_chain_bitwise(lm, bin_path, tmp_path):
    # ARPA -> model -> binary -> model: every hop preserves exact scores
    via_arpa = load_arpa(to_arpa_lines(lm))
    p = tmp_path / "via_arpa.sgklm"
    save_binary(via_arpa, str(p))
    via_both = load_binary(str(p))
    assert _scores(via_arpa).tolist() == _scores(lm).tolist()
    assert _scores(via_both).tolist() == _scores(lm).tolist()


def test_mmap_load_matches(lm, bin_path):
    mapped = load_binary(bin_path, mmap=True)
    assert any(isinstance(t[0], np.memmap) for t in mapped.tables.values())
    assert _scores(mapped).tolist() == _scores(lm).tolist()


def test_probing_and_sorted_probe_hooks_agree(lm, bin_path):
    # window scorer (detector hot path) exercises cond2/cond3 backoff
    loaded = load_binary(bin_path)
    for s in ["少先队员应该为老人让座", "天下大乱形势大好", "abc一二三"]:
        a = lm.window_avg_scores(s)
        b = loaded.window_avg_scores(s)
        assert (a is None) == (b is None)
        if a is not None:
            assert a.tolist() == b.tolist()


def test_oov_and_unseen_grams_backoff(lm, bin_path):
    loaded = load_binary(bin_path)
    # chars absent from the vocab map to unk in BOTH models
    assert loaded.score_chars("ΩΨ漢拏") == lm.score_chars("ΩΨ漢拏")


def test_gram_hash_order_disjoint():
    a = np.array([5, 7], dtype=np.int64)
    # same ids as a 1-extension vs packed differently must not collide
    h2 = gram_hash([a[:1], a[1:]])
    h1 = gram_hash([a[:1]])
    assert h2[0] != h1[0]


def test_save_rejects_nothing_loads_garbage(tmp_path):
    p = tmp_path / "garbage.bin"
    p.write_bytes(b"not a model at all, definitely")
    with pytest.raises(ValueError):
        load_binary(str(p))
