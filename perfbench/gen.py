"""Seeded input generators. The same seed gives byte-identical frames.

The program under test receives only the rows made here; nothing is read
from outside the checkout.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd

from pycorrector_spark.dicts import SIMILAR_CHARS
from pycorrector_spark.fixtures import (
    CLEAN_EN,
    CLEAN_ZH,
    JUNK_TEXTS,
    PII_SNIPPETS,
    corrupt_en,
    corrupt_sentence,
    lm_corpus,
    zipf_hosts,
)

BASE_TS = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)

# The shape of the sf0.1 `documents` table: 5,000 docs, each 10-99 words
# drawn uniformly from this 30-word English vocabulary, ~1% carrying a
# `dup` token, language labels that do not match the text (the `zh`
# labels sit on English words, so langid routes every doc to `en`).
SF_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
SF_LANGS = ("en", "zh", "es", "fr", "de")
SF_LANG_P = (0.412, 0.15, 0.149, 0.148, 0.141)
SF_BASE_DOCS = 5_000

ZH_FINAL = "。！？"


def sf_documents(seed: int, n_base: int = SF_BASE_DOCS) -> pd.DataFrame:
    """``documents``-schema frame (doc_id, text, lang, source, n_chars)."""
    rng = np.random.default_rng([seed, 1])
    n_words = rng.integers(10, 100, size=n_base)
    words = rng.integers(0, len(SF_VOCAB), size=int(n_words.sum()))
    dup = rng.random(n_base) < 0.01
    texts, pos = [], 0
    for k, d in zip(n_words, dup):
        toks = [SF_VOCAB[w] for w in words[pos:pos + k]]
        pos += k
        if d:
            toks[int(rng.integers(0, k))] = "dup"
        texts.append(" ".join(toks))
    return pd.DataFrame({
        "doc_id": np.arange(n_base, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(SF_LANGS, size=n_base, p=SF_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_base)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def replicate_documents(base: pd.DataFrame, n_docs: int) -> pd.DataFrame:
    """``n_docs`` rows cycling over ``base`` with fresh doc_ids: every
    row past the first ``len(base)`` is an exact text duplicate."""
    reps = -(-n_docs // len(base))
    out = pd.concat([base] * reps, ignore_index=True).head(n_docs)
    out["doc_id"] = np.arange(n_docs, dtype=np.int64)
    return out


def as_webpages(docs: pd.DataFrame) -> pd.DataFrame:
    """The web-page schema (url, warc_ts, html, text, lang), mapped the
    way ``__spark_entry__._docs_as_webpages`` maps the documents table."""
    ids = docs["doc_id"].to_numpy()
    return pd.DataFrame({
        "url": ["doc://%d" % i for i in ids],
        "warc_ts": pd.Timestamp(BASE_TS) + pd.to_timedelta(ids * 17, unit="s"),
        "html": [t.encode("utf-8") for t in docs["text"]],
        "text": docs["text"].to_numpy(),
        "lang": docs["lang"].to_numpy(),
    })


def web_en(seed: int, n_docs: int) -> pd.DataFrame:
    return as_webpages(replicate_documents(sf_documents(seed), n_docs))


class BigramWalk:
    """Character-bigram walk over the zh part of ``fixtures.lm_corpus()``:
    sentences the fixture LM scores as in-domain, but which are almost all
    distinct (the 32-sentence ``CLEAN_ZH`` pool repeats within a few docs)."""

    # a random restart on 20% of steps breaks the corpus' deterministic
    # chains; without it only ~40% of fragments are distinct, with it ~86%
    JUMP = 0.2

    def __init__(self):
        zh = [s for s in dict.fromkeys(lm_corpus()) if s in CLEAN_ZH]
        succ: dict = {}
        for s in zh:
            for a, b in zip(s, s[1:]):
                succ.setdefault(a, []).append(b)
        self.succ = {a: tuple(bs) for a, bs in sorted(succ.items())}
        self.chars = tuple(a for a in self.succ if "一" <= a <= "龥")

    def sentence(self, rng: np.random.Generator, max_len: int = 40) -> str:
        n = int(rng.integers(8, max_len))
        ch = self.chars[int(rng.integers(0, len(self.chars)))]
        out = [ch]
        while len(out) < n:
            if ch in self.succ and rng.random() >= self.JUMP:
                nxt = self.succ[ch]
                ch = nxt[int(rng.integers(0, len(nxt)))]
            else:
                ch = self.chars[int(rng.integers(0, len(self.chars)))]
            if ch in ZH_FINAL:
                break
            out.append(ch)
        return "".join(out) + "。"


_SIMILAR = {c: tuple(sorted(v)) for c, v in sorted(SIMILAR_CHARS.items())}


def inject_error(sent: str, rng: np.random.Generator) -> str:
    """One error: a fixture corruption rule where one applies, else a
    ``SIMILAR_CHARS`` swap at a random covered position."""
    out, hit = corrupt_sentence(sent, rng)
    if hit:
        return out
    pos = [i for i, c in enumerate(sent) if c in _SIMILAR]
    if not pos:
        return sent
    i = pos[int(rng.integers(0, len(pos)))]
    alts = _SIMILAR[sent[i]]
    return sent[:i] + alts[int(rng.integers(0, len(alts)))] + sent[i + 1:]


def _exact(rng: np.random.Generator, n: int, share: float) -> np.ndarray:
    """Boolean mask with exactly round(share * n) True entries at seeded
    positions, so the costly row kinds do not vary in number from seed to
    seed."""
    mask = np.zeros(n, dtype=bool)
    mask[rng.permutation(n)[:round(share * n)]] = True
    return mask


def zh_crawl(seed: int, n_docs: int) -> pd.DataFrame:
    """zh-heavy crawl: 72% zh docs of 1-8 walked sentences, ~40% of
    sentences with one injected error; 23% en and 5% junk rows, and PII
    (6%), long (10%, >= 600 chars) and mislabelled (2%) rows, the shares
    of ``fixtures.make_docs`` (exact counts here)."""
    rng = np.random.default_rng([seed, 2])
    walk = BigramWalk()
    hosts = zipf_hosts(n_docs, rng)
    n_junk, n_en = round(0.05 * n_docs), round(0.23 * n_docs)
    kind = rng.permutation(np.repeat([0, 1, 2], [n_junk, n_en, n_docs - n_junk - n_en]))
    junk, en = kind == 0, kind == 1
    pii, long_, mislabel = (_exact(rng, n_docs, p) for p in (0.06, 0.10, 0.02))
    rows = []
    for i in range(n_docs):
        if junk[i]:
            text, lang = JUNK_TEXTS[int(rng.integers(0, len(JUNK_TEXTS)))], "zh"
        elif en[i]:
            k = int(rng.integers(1, 6))
            sents = [CLEAN_EN[int(rng.integers(0, len(CLEAN_EN)))] for _ in range(k)]
            if rng.random() < 0.4:
                j = int(rng.integers(0, k))
                sents[j], _ = corrupt_en(sents[j], rng)
            text, lang = ". ".join(sents), "en"
        else:
            sents = [walk.sentence(rng) for _ in range(int(rng.integers(1, 9)))]
            sents = [inject_error(s, rng) if rng.random() < 0.4 else s for s in sents]
            text, lang = "".join(sents), "zh"
        if pii[i] and text.strip():
            text = text + " " + PII_SNIPPETS[int(rng.integers(0, len(PII_SNIPPETS)))]
        if long_[i] and text.strip():
            if lang == "zh" and not junk[i]:
                # long zh docs grow by fresh sentences, not by repeating
                # (repeats would make most fragments duplicates)
                while len(text) < 600:
                    s = walk.sentence(rng)
                    text += inject_error(s, rng) if rng.random() < 0.4 else s
            else:
                text = text * int(np.ceil(600 / max(len(text), 1)))
        if mislabel[i]:
            lang = "es"
        rows.append((f"https://host{hosts[i]:02d}.example/{seed}/{i}",
                     BASE_TS + dt.timedelta(seconds=17 * i),
                     b"<html><body>" + text.encode("utf-8") + b"</body></html>",
                     text, lang))
    return pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])


def write_parquet(df: pd.DataFrame, path: str) -> None:
    """Spark reads microsecond timestamps only."""
    df.to_parquet(path, index=False, coerce_timestamps="us",
                  allow_truncated_timestamps=True)
