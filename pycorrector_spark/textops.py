"""Pure text primitives shared by the serial reference oracle and the
vectorized Spark stages.

Semantics re-expressed (not copied) from the reference toolkit
shibing624/pycorrector:

- width folding + lowercase ("uniform"): reference
  pycorrector/utils/text_utils.py:50-81 (B2Q/Q2B/stringQ2B/uniform)
- char-class predicates: pycorrector/utils/text_utils.py:15-47
- sentence split on non-[CJK/alnum/+#&] runs with running start index:
  pycorrector/utils/tokenizer.py:18-55
- n-gram generation: pycorrector/utils/ngram_util.py

Everything here is deterministic, dependency-free (stdlib + numpy/pandas),
and vectorization-friendly: scalar forms for the serial oracle, `*_series`
forms operating on pandas Series for Arrow-batched UDFs.
"""

from __future__ import annotations

import functools
import hashlib
import math
import re
from typing import NamedTuple

import numpy as np
import pandas as pd

# --------------------------------------------------------------------------
# Width folding (fullwidth -> halfwidth) + lowercase == reference `uniform`
# --------------------------------------------------------------------------

# Fullwidth forms U+FF01..U+FF5E map to ASCII 0x21..0x7E (offset 0xFEE0);
# ideographic space U+3000 maps to ASCII space. Anything else unchanged.
_Q2B_TABLE = {0x3000: 0x20}
_Q2B_TABLE.update({cp: cp - 0xFEE0 for cp in range(0xFF01, 0xFF5F)})

_B2Q_TABLE = {0x20: 0x3000}
_B2Q_TABLE.update({cp: cp + 0xFEE0 for cp in range(0x21, 0x7F)})


def string_q2b(s: str) -> str:
    """Fullwidth -> halfwidth for the whole string."""
    return s.translate(_Q2B_TABLE)


def string_b2q(s: str) -> str:
    """Halfwidth -> fullwidth for the whole string."""
    return s.translate(_B2Q_TABLE)


def uniform(s: str) -> str:
    """Normalize: fold fullwidth to halfwidth, then lowercase.

    Matches reference text_utils.uniform (Q2B then .lower()). Applied by
    detect() but deliberately NOT by correct() (reference asymmetry,
    detector.py:490 vs corrector.py:285).
    """
    return string_q2b(s).lower()


def uniform_series(s: pd.Series) -> pd.Series:
    """Vectorized `uniform` over a string Series."""
    return s.str.translate(_Q2B_TABLE).str.lower()


# --------------------------------------------------------------------------
# Char-class predicates
# --------------------------------------------------------------------------

_CJK_FULL_RE = re.compile(r"[一-龥]+\Z")


def is_cjk_char(ch: str) -> bool:
    return "一" <= ch <= "龥"


def is_cjk_string(s: str) -> bool:
    # C-speed regex fullmatch — called per token in the detector hot loop
    return bool(s) and _CJK_FULL_RE.match(s) is not None


def is_alpha_string(s: str) -> bool:
    # ascii+alpha == [A-Za-z]+ exactly, at C speed (vs per-char Python)
    return bool(s) and s.isascii() and s.isalpha()


def is_filter_token(token: str) -> bool:
    """True for tokens the detector skips: blank / digits / latin / non-CJK.

    Reference detector.py:374-394.
    """
    if not token.strip():
        return True
    if token.isdigit():
        return True
    if is_alpha_string(token.lower()):
        return True
    if not is_cjk_string(token):
        return True
    return False


# --------------------------------------------------------------------------
# Sentence splitting
# --------------------------------------------------------------------------

# Runs of CJK/latin/digit/+#& are "content" fragments; everything between
# (punctuation, whitespace) are "symbol" fragments. Reference tokenizer.py:18-42.
HAN_RUN_RE = re.compile(r"([一-龥a-zA-Z0-9+#&]+)", re.U)
HAN_RUN_PATTERN = r"[一-龥a-zA-Z0-9+#&]+"  # for Spark/DuckDB regexes


def split_sentences_by_symbol(text: str, include_symbol: bool = True):
    """Split into (fragment, start_index) pairs on symbol boundaries.

    With include_symbol=True the symbol runs are kept as their own
    fragments so that ``''.join(frag for frag, _ in result) == text``.
    """
    result = []
    start = 0
    for frag in HAN_RUN_RE.split(text):
        if not frag:
            continue
        if include_symbol or HAN_RUN_RE.match(frag):
            result.append((frag, start))
        start += len(frag)
    return result


def split_sentences_by_length(text: str, length: int = 512):
    """Fixed-width chunks with start offsets. Reference tokenizer.py:45-55."""
    return [(text[i: i + length], i) for i in range(0, len(text), length)]


# --------------------------------------------------------------------------
# Word segmentation: forward maximum matching against a dictionary.
#
# The reference uses jieba (unavailable here). Both the serial oracle and
# the Spark stage share THIS segmenter, so OOV-word detection agrees
# between them by construction. Deterministic given the same word set.
# --------------------------------------------------------------------------

def max_match_tokens(sentence: str, words: set, max_len: int = 8):
    """Forward-maximum-match segmentation with spans.

    Returns list of (token, begin, end). Unknown single chars come out as
    1-char tokens (the OOV-detection surface, reference detector.py:427-438).
    Latin/digit runs are kept whole.
    """
    out = []
    i, n = 0, len(sentence)
    while i < n:
        ch = sentence[i]
        # keep latin/digit runs whole
        if ch.isascii() and (ch.isalnum()):
            j = i + 1
            while j < n and sentence[j].isascii() and sentence[j].isalnum():
                j += 1
            out.append((sentence[i:j], i, j))
            i = j
            continue
        match_len = 1
        upper = min(max_len, n - i)
        for L in range(upper, 1, -1):
            if sentence[i: i + L] in words:
                match_len = L
                break
        out.append((sentence[i: i + match_len], i, i + match_len))
        i += match_len
    return out


# --------------------------------------------------------------------------
# N-grams
# --------------------------------------------------------------------------

class LogProbTable(NamedTuple):
    """The scores the segmentation DP reads, built once per word dict."""

    logp: dict      # word -> log(freq) - log(total), freq > 0 words only
    unk: float      # score of a char outside ``logp``: -log(total)
    longest: int    # longest word in ``logp``


def log_prob_table(word_freq: dict, total: int = None) -> LogProbTable:
    """O(dict): build it once and pass it to every segmentation call."""
    if total is None:
        total = sum(word_freq.values())
    log_total = math.log(total or 1)
    logp = {w: math.log(f) - log_total for w, f in word_freq.items() if f > 0}
    return LogProbTable(logp, -log_total, max(map(len, logp), default=0))


def dag_max_prob_tokens(sentence: str, word_freq: dict, total: int = None,
                        max_word_len: int = 16, logp_table: LogProbTable = None):
    """[(token, begin, end)] by the max-probability DAG route — the public
    jieba ``cut(HMM=False)`` dynamic program (reference utils/tokenizer.py
    delegates to jieba, absent in this sandbox): the dict words starting
    at each position are the DAG's edges, and the segmentation maximizing
    sum(log(freq/total)) is chosen right-to-left; ties break toward the
    LONGER word (jieba's max() over (score, end) tuples). Given the same
    frequency dict this reproduces jieba's no-HMM segmentation exactly —
    the residual divergence vs the reference is dict CONTENT (jieba's
    350k-entry dict.txt is not shipped), which tests quantify against the
    greedy max-match stand-in.

    ``logp_table`` is ``log_prob_table(word_freq, total)``; callers that
    segment in a loop pass it, since building it is O(dict)."""
    n = len(sentence)
    if n == 0:
        return []
    if logp_table is None:
        logp_table = log_prob_table(word_freq, total)
    logp, unk, longest = logp_table
    get = logp.get
    cap = min(max_word_len, longest)
    # score[i] / end[i]: best route of sentence[i:] and its first word's end
    score = [0.0] * (n + 1)
    end = [0] * n
    for i in range(n - 1, -1, -1):
        # a single char is always a candidate; longer ones are DAG edges
        # only for freq > 0 words (jieba's get_DAG: zero-frequency rows
        # are prefix markers, never segment candidates)
        best = (get(sentence[i], unk) + score[i + 1], i + 1)
        for j in range(i + 2, min(n, i + cap) + 1):
            lp = get(sentence[i:j])
            if lp is not None:
                cand = (lp + score[j], j)
                if cand > best:
                    best = cand
        score[i], end[i] = best
    out = []
    i = 0
    while i < n:
        j = end[i]
        out.append((sentence[i:j], i, j))
        i = j
    return out


# --------------------------------------------------------------------------
# HMM finalseg (jieba cut(HMM=True) parity): 4-state BMES Viterbi over
# out-of-vocabulary char runs. The ALGORITHM replicates jieba's public
# finalseg (viterbi over states B/M/E/S with the PrevStatus constraint
# B<-ES, M<-MB, S<-SE, E<-BM; reference utils/tokenizer.py:100-127 calls
# jieba.cut(HMM=True)). The probability TABLES are the documented
# divergence: jieba ships corpus-trained prob_start/trans/emit data files
# (absent in this sandbox), so ours are derived deterministically from
# the broadcast word-frequency dict — each dict word contributes its
# freq-weighted BMES labeling. Serial oracle and Spark stage derive the
# SAME tables from the SAME dict, so they agree exactly.
# --------------------------------------------------------------------------

MIN_FLOAT = -3.14e100  # jieba's log-prob floor for impossible events

# legal predecessor states (jieba finalseg.PrevStatus)
_PREV_STATUS = {"B": "ES", "M": "MB", "S": "SE", "E": "BM"}


def hmm_tables_from_freq(word_freq: dict):
    """(start, trans, emit) log-prob tables derived from a word-freq dict.

    Emissions: P(char | state) from freq-weighted positional counts
    (len-1 word -> S; longer -> B first char, E last, M middle).
    Within-word transitions (B->M/E, M->M/E) from word-length mass;
    across-word transitions (E/S -> B/S) and the start distribution from
    the single-vs-multi-char word mass ratio (the dict carries no word
    ORDER, so the cross-word bigram is approximated by the unigram
    start-state mass — divergence documented above)."""
    emit_counts = {s: {} for s in "BMES"}
    trans_counts = {"B": {"M": 0.0, "E": 0.0}, "M": {"M": 0.0, "E": 0.0}}
    single_mass = 0.0
    multi_mass = 0.0
    for w, f in word_freq.items():
        if not w:
            continue
        f = float(f) if f else 1.0
        if len(w) == 1:
            emit_counts["S"][w] = emit_counts["S"].get(w, 0.0) + f
            single_mass += f
            continue
        multi_mass += f
        emit_counts["B"][w[0]] = emit_counts["B"].get(w[0], 0.0) + f
        emit_counts["E"][w[-1]] = emit_counts["E"].get(w[-1], 0.0) + f
        for c in w[1:-1]:
            emit_counts["M"][c] = emit_counts["M"].get(c, 0.0) + f
        if len(w) == 2:
            trans_counts["B"]["E"] += f
        else:
            trans_counts["B"]["M"] += f
            trans_counts["M"]["M"] += (len(w) - 3) * f
            trans_counts["M"]["E"] += f

    total_mass = single_mass + multi_mass
    p_single = (single_mass / total_mass) if total_mass else 0.5
    p_single = min(max(p_single, 1e-12), 1.0 - 1e-12)
    lp_s, lp_b = math.log(p_single), math.log(1.0 - p_single)

    start = {"B": lp_b, "S": lp_s, "M": MIN_FLOAT, "E": MIN_FLOAT}
    trans = {
        "E": {"B": lp_b, "S": lp_s},
        "S": {"B": lp_b, "S": lp_s},
    }
    for s in ("B", "M"):
        tot = trans_counts[s]["M"] + trans_counts[s]["E"]
        trans[s] = {
            t: (math.log(c / tot) if tot and c else MIN_FLOAT)
            for t, c in trans_counts[s].items()
        }
    emit = {}
    for s, counts in emit_counts.items():
        tot = sum(counts.values())
        emit[s] = {
            c: math.log(n / tot) for c, n in counts.items() if n
        } if tot else {}
    return start, trans, emit


def viterbi_bmes(obs: str, start: dict, trans: dict, emit: dict):
    """(best_log_prob, state_string) for one char run — jieba finalseg's
    viterbi with the PrevStatus legality constraint and the final max
    restricted to E/S (a word cannot end mid-token)."""
    V = [{}]
    path = {}
    for s in "BMES":
        V[0][s] = start[s] + emit[s].get(obs[0], MIN_FLOAT)
        path[s] = s
    for t in range(1, len(obs)):
        V.append({})
        new_path = {}
        for s in "BMES":
            em = emit[s].get(obs[t], MIN_FLOAT)
            best_p, best_prev = None, None
            for p in _PREV_STATUS[s]:
                cand = V[t - 1][p] + trans[p].get(s, MIN_FLOAT) + em
                # deterministic tie-break: first legal predecessor wins
                # (the _PREV_STATUS order is fixed, as in jieba)
                if best_p is None or cand > best_p:
                    best_p, best_prev = cand, p
            V[t][s] = best_p
            new_path[s] = path[best_prev] + s
        path = new_path
    if V[-1]["E"] >= V[-1]["S"]:
        return V[-1]["E"], path["E"]
    return V[-1]["S"], path["S"]


_HAN_BLOCK_RE = re.compile(r"([一-龥]+)")
_SKIP_RUN_RE = re.compile(r"([a-zA-Z0-9]+(?:\.[0-9]+)?%?)")


def hmm_cut_spans(block: str, tables) -> list:
    """[(token, begin, end)] for one buffered OOV run: Han sub-runs go
    through the BMES viterbi (tokens cut at E/S states); non-Han runs are
    split into alnum runs (kept whole) and other single chars — the
    finalseg.cut block structure."""
    start, trans, emit = tables
    out = []
    pos = 0
    for frag in _HAN_BLOCK_RE.split(block):
        if not frag:
            continue
        if _HAN_BLOCK_RE.match(frag):
            _, states = viterbi_bmes(frag, start, trans, emit)
            b = 0
            for i, s in enumerate(states):
                if s in "ES":
                    out.append((frag[b: i + 1], pos + b, pos + i + 1))
                    b = i + 1
            if b < len(frag):  # trailing B/M (defensive; final max forbids it)
                out.append((frag[b:], pos + b, pos + len(frag)))
        else:
            off = pos
            for piece in _SKIP_RUN_RE.split(frag):
                if not piece:
                    continue
                if _SKIP_RUN_RE.fullmatch(piece):
                    out.append((piece, off, off + len(piece)))
                    off += len(piece)
                else:
                    for ch in piece:
                        out.append((ch, off, off + 1))
                        off += 1
        pos += len(frag)
    return out


def dag_hmm_tokens(sentence: str, word_freq: dict, total: int = None,
                   tables=None, logp_table: LogProbTable = None):
    """[(token, begin, end)] by jieba's ``cut(HMM=True)`` dataflow: the
    max-prob DAG route first, then consecutive single-char pieces are
    buffered and — when the buffer is not itself a dict word — re-cut by
    the BMES viterbi so out-of-vocabulary spans (unseen names, new words)
    join into multi-char tokens (jieba __cut_DAG; reference
    tokenizer.py:100-127). Tables default to hmm_tables_from_freq and
    log_prob_table over the same dict."""
    if tables is None:
        tables = hmm_tables_from_freq(word_freq)
    base = dag_max_prob_tokens(sentence, word_freq, total, logp_table=logp_table)
    out = []
    buf = []  # [(char, pos)] run of consecutive 1-char pieces

    def flush():
        if not buf:
            return
        if len(buf) == 1:
            c, p = buf[0]
            out.append((c, p, p + 1))
        else:
            word = "".join(c for c, _ in buf)
            b0 = buf[0][1]
            if not word_freq.get(word):
                for tok, rb, re_ in hmm_cut_spans(word, tables):
                    out.append((tok, b0 + rb, b0 + re_))
            else:
                for c, p in buf:
                    out.append((c, p, p + 1))
        buf.clear()

    for w, b, e in base:
        if e - b == 1:
            buf.append((w, b))
        else:
            flush()
            out.append((w, b, e))
    flush()
    return out


def search_mode_tokens(sentence: str, word_freq: dict, total: int = None,
                       logp_table: LogProbTable = None):
    """jieba search-mode token stream (``tokenize(..., 'search')``): the
    base max-prob segmentation plus every in-dict 2-gram / 3-gram sub-word
    of longer tokens, sub-words emitted before their parent token — the
    stream the reference's OOV scan iterates (detector.py:427-438)."""
    out = []
    for w, b, e in dag_max_prob_tokens(sentence, word_freq, total, logp_table=logp_table):
        if len(w) > 2:
            for k in range(len(w) - 1):
                g = w[k: k + 2]
                if word_freq.get(g):
                    out.append((g, b + k, b + k + 2))
        if len(w) > 3:
            for k in range(len(w) - 2):
                g = w[k: k + 3]
                if word_freq.get(g):
                    out.append((g, b + k, b + k + 3))
        out.append((w, b, e))
    return out


# ---------------------------------------------------------------------------
# POS-tagged segmentation (T4 pos mode — reference tokenizer.py:100-127
# `segment(sentence, cut_type, pos=True)` delegates to jieba.posseg)
# ---------------------------------------------------------------------------

_POS_NUM_RE = re.compile(r"^[0-9]+(\.[0-9]+)?%?$")
_POS_ENG_RE = re.compile(r"^[A-Za-z]+$")
_CJK_NUMERALS = set("一二三四五六七八九十百千万亿两零〇")


def pos_of_token(token: str, word_freq: dict,
                 person_names=None, place_names=None) -> str:
    """Coarse jieba-style POS flag for one token. DERIVED tag dim
    (documented divergence, same class as the HMM tables): jieba's
    dict.txt carries a trained per-word tag which is not shipped here, so
    tags come from the dims the repo DOES have — person/place name lists
    -> nr/ns, the hand-written POS_TAGS_ZH common-word tag dict (round 5,
    accuracy measured in tests/test_pos_agreement.py), numeric shapes ->
    m, latin -> eng, symbol-only -> x, everything else (dict words and
    CJK OOV) -> n, jieba's majority tag. Deterministic, which is what
    the oracle checks."""
    if not token:
        return "x"
    if person_names and token in person_names:
        return "nr"
    if place_names and token in place_names:
        return "ns"
    tag = POS_TAGS_ZH.get(token)
    if tag is not None:
        return tag
    if _POS_NUM_RE.match(token) or all(c in _CJK_NUMERALS for c in token):
        return "m"
    if _POS_ENG_RE.match(token):
        return "eng"
    if not any(is_cjk_char(c) or c.isalnum() for c in token):
        return "x"
    return "n"


def segment_pos(sentence: str, word_freq: dict, total: int = None,
                tables=None, person_names=None, place_names=None,
                cut_type: str = "word", logp_table: LogProbTable = None):
    """[(token, begin, end, flag)] — the reference's
    ``segment(sentence, cut_type, pos=True)`` dataflow
    (tokenizer.py:100-127): word mode runs the jieba-equivalent
    cut(HMM=True) route (dag_hmm_tokens) then tags each token; char mode
    tags each character (the reference calls posseg.lcut per char —
    equivalent to tagging the char itself)."""
    if cut_type == "char":
        toks = [(ch, i, i + 1) for i, ch in enumerate(sentence)]
    else:
        toks = dag_hmm_tokens(sentence, word_freq, total, tables=tables,
                              logp_table=logp_table)
    return [
        (t, b, e, pos_of_token(t, word_freq, person_names, place_names))
        for t, b, e in toks
    ]


# --------------------------------------------------------------------------
# Multi-pattern scanning (replaces pyahocorasick for small confusion sets).
# --------------------------------------------------------------------------

class MultiPatternScanner:
    """Find all (possibly overlapping) occurrences of a set of patterns.

    Matches the observable behavior of ``ahocorasick.Automaton.iter``:
    every occurrence of every pattern is reported, ordered by end index,
    and at the SAME end index longest-first (the automaton reports the
    deepest trie node before walking its suffix links). The order is
    load-bearing: the reference's containment dedup
    (detector.py:303-328) suppresses a shorter error only if a longer
    error containing it was added EARLIER, so shorter-first order would
    keep both and make Corrector.correct() splice the same span twice.
    """

    def __init__(self, patterns):
        self._patterns = sorted(set(p for p in patterns if p))
        # group by first char for cheap scanning of small dicts
        self._by_first = {}
        for p in self._patterns:
            self._by_first.setdefault(p[0], []).append(p)
        self._max_len = max((len(p) for p in self._patterns), default=0)

    def __len__(self):
        return len(self._patterns)

    def iter_matches(self, text: str):
        """Yield (end_index_inclusive, pattern) in end-index order."""
        hits = []
        n = len(text)
        for i in range(n):
            cands = self._by_first.get(text[i])
            if not cands:
                continue
            for p in cands:
                lp = len(p)
                if i + lp <= n and text[i: i + lp] == p:
                    hits.append((i + lp - 1, p))
        hits.sort(key=lambda t: (t[0], -len(t[1])))
        return hits


# --------------------------------------------------------------------------
# PII / junk scrubbing — the regex-normalization stage of the pipeline.
# One source of truth for the patterns: the serial oracle runs the whole
# re.sub chain per text; the Spark stage runs the same compiled rules, each
# only on the texts that hold its trigger (same Python `re` engine).
# --------------------------------------------------------------------------

# Patterns are written in the common subset of Python re and RE2 (no \s,
# no lookaround, no backrefs) so the SAME strings drive the pandas stage
# and the DuckDB oracle. Order matters (url before ip, ip before phone).
#
# Compiled with re.ASCII: RE2 treats \b/\d/\w as ASCII by
# default, while Python's are unicode-aware — without the flag, \b after
# a CJK char never matches (PII adjacent to Chinese text leaks through)
# and \d matches fullwidth digits (scrubbing strings the oracle keeps).
SCRUB_PATTERNS = [
    # (name, pattern string, replacement)
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+", "<EMAIL>"),
    ("url", r"https?://[^ \t\n\r<>\"]+|www\.[^ \t\n\r<>\"]+", "<URL>"),
    ("ip", r"\b(\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone", r"\b(\+?\d{1,3}[- .])?(\(\d{2,4}\)[- .])?\d{3,4}[- .]\d{3,4}([- .]\d{3,4})?\b", "<PHONE>"),
    ("idnum", r"\b\d{15}(\d{2}[0-9Xx])?\b", "<ID>"),
    ("ws_collapse", r"[ \t]+", " "),
]

SCRUB_RULES = [(n, re.compile(p, re.ASCII), r) for n, p, r in SCRUB_PATTERNS]

SCRUB_STRIP_CHARS = " \t\n\r"

# Trigger gates (scrub_series): a rule can only change a text that holds
# its trigger — email an "@", url "://" or "www.", ip/phone/idnum an ASCII
# digit, ws_collapse a tab or two adjacent spaces (a lone space is replaced
# by itself). The gates are read once, on the ORIGINAL text, which is sound
# because no rule can create a trigger for a later one: every replacement
# token is non-empty, holds no space and none of the trigger chars, so a
# trigger in a rewritten text lies wholly outside the tokens, made of
# original chars that were already adjacent.


def scrub_text(s: str) -> str:
    """Apply PII scrub rules then strip — frozen scrub semantics."""
    for _name, pat, repl in SCRUB_RULES:
        s = pat.sub(repl, s)
    return s.strip(SCRUB_STRIP_CHARS)


def _codepoints(texts: list) -> tuple:
    """(cps, starts, ends): the texts as one uint32 codepoint array and
    each text's [start, end) in it. ``surrogatepass`` keeps a lone
    surrogate as one codepoint, as ``len`` counts it."""
    lens = np.fromiter(map(len, texts), dtype=np.int64, count=len(texts))
    ends = np.cumsum(lens)
    cps = np.frombuffer("".join(texts).encode("utf-32-le", "surrogatepass"), dtype=np.uint32)
    return cps, ends - lens, ends


def _doc_any(mask: np.ndarray, starts: np.ndarray, ends: np.ndarray) -> np.ndarray:
    """Per text: does ``mask`` hold a True in [start, end)?"""
    hits = np.flatnonzero(mask)
    return np.searchsorted(hits, ends) > np.searchsorted(hits, starts)


def _seq_at(cps: np.ndarray, seq: str) -> np.ndarray:
    """True at every position where ``seq`` starts (a match may run into
    the next text: a false gate, never a missed one)."""
    k = len(cps) - len(seq) + 1
    out = np.zeros(len(cps), dtype=bool)
    if k > 0:
        hit = cps[:k] == ord(seq[0])
        for j, ch in enumerate(seq[1:], 1):
            hit &= cps[j: j + k] == ord(ch)
        out[:k] = hit
    return out


def scrub_series(s: pd.Series) -> pd.Series:
    """``scrub_text`` over a Series; nulls stay null.

    Each rule's ``pat.sub`` runs only on the texts that hold its trigger
    (see the gate note above SCRUB_RULES), read from one codepoint buffer
    of the batch; the final strip runs on every text. Agreement with
    ``scrub_text`` is checked by the property tests, not by construction.
    """
    vals = s.tolist()
    cps, starts, ends = _codepoints([v if isinstance(v, str) else "" for v in vals])
    digit = _doc_any((cps >= ord("0")) & (cps <= ord("9")), starts, ends)
    gates = {
        "email": _doc_any(cps == ord("@"), starts, ends),
        "url": _doc_any(_seq_at(cps, "://") | _seq_at(cps, "www."), starts, ends),
        "ip": digit,
        "phone": digit,
        "idnum": digit,
        "ws_collapse": _doc_any((cps == ord("\t")) | _seq_at(cps, "  "), starts, ends),
    }
    for name, pat, repl in SCRUB_RULES:
        for i in np.flatnonzero(gates[name]):
            vals[i] = pat.sub(repl, vals[i])
    out = [v.strip(SCRUB_STRIP_CHARS) if isinstance(v, str) else v for v in vals]
    return pd.Series(out, index=s.index, dtype=object)


# --------------------------------------------------------------------------
# Quality heuristics (length / symbol ratio / repetition), SQL-expressible
# so the DuckDB oracle can verify them. Definitions are frozen here.
# --------------------------------------------------------------------------

# Frozen, dialect-portable char classes: identical semantics in Python re,
# Java regex (Spark), and RE2 (DuckDB). Deliberately no `\s` / str.strip()
# (their unicode behavior differs across engines).
WS_CHARS = " \t\n\r"
WORD_SPLIT_PATTERN = r"[ \t\n\r]+"
NON_ALNUM_PATTERN = r"[^一-龥a-zA-Z0-9 \t\n\r]"
WS_PATTERN = r"[ \t\n\r]"
CJK_PATTERN = r"[一-龥]"
LATIN_PATTERN = r"[A-Za-z]"
WORD_SPLIT_RE = re.compile(WORD_SPLIT_PATTERN)
NON_ALNUM_RE = re.compile(NON_ALNUM_PATTERN)
WS_RE = re.compile(WS_PATTERN)
CJK_RE = re.compile(CJK_PATTERN)
LATIN_RE = re.compile(LATIN_PATTERN)

# default length bounds for len_ok; PipelineConfig.min_len/max_len default
# to these and the signal functions take them as parameters, so config is
# the ONE wired source of truth (the ratio thresholds live only in config)
MIN_LEN = 8           # chars; shorter docs are junk
MAX_LEN = 1_000_000   # chars


def quality_signals(text: str, min_len: int = MIN_LEN, max_len: int = MAX_LEN) -> dict:
    """Frozen heuristic quality signals for one document.

    Every definition here has an exact DuckDB-SQL equivalent (the
    __spark_entry__.py oracles); parity is test-enforced over the full
    fixture set.
    """
    n = len(text)
    stripped = text.strip(WS_CHARS)
    n_sym = len(NON_ALNUM_RE.findall(text))
    words = [w for w in WORD_SPLIT_RE.split(stripped) if w] if stripped else []
    n_words = len(words)
    n_distinct = len(set(words))
    symbol_ratio = (n_sym / n) if n else 1.0
    rep_ratio = (1.0 - n_distinct / n_words) if n_words else 1.0
    len_ok = min_len <= len(stripped) <= max_len
    return {
        "n_chars": n,
        "n_words": n_words,
        "symbol_ratio": symbol_ratio,
        "rep_ratio": rep_ratio,
        "len_ok": len_ok,
    }


# codepoint classes of the frozen patterns above; NON_ALNUM is OTHER plus
# SPLIT_WS, the str.split() whitespace outside WS_CHARS (\x0b, \xa0, U+3000,
# ...; none lies above U+3000). The table's last entry classes every
# codepoint above 龥.
_CLS_OTHER, _CLS_SPLIT_WS, _CLS_WS, _CLS_CJK, _CLS_LATIN, _CLS_DIGIT = range(6)
_CLASS_TABLE = np.full(ord("龥") + 2, _CLS_OTHER, dtype=np.int8)
_CLASS_TABLE[[c for c in range(0x3001) if chr(c).isspace()]] = _CLS_SPLIT_WS
_CLASS_TABLE[[ord(c) for c in WS_CHARS]] = _CLS_WS
_CLASS_TABLE[ord("一"): ord("龥") + 1] = _CLS_CJK
_CLASS_TABLE[ord("A"): ord("Z") + 1] = _CLS_LATIN
_CLASS_TABLE[ord("a"): ord("z") + 1] = _CLS_LATIN
_CLASS_TABLE[ord("0"): ord("9") + 1] = _CLS_DIGIT


def signals_frame(texts: pd.Series, min_len: int = MIN_LEN, max_len: int = MAX_LEN) -> pd.DataFrame:
    """Vectorized quality + langid signals for an Arrow batch; a null text
    gets the signals of "".

    The batch is decoded once into a codepoint buffer: the char-class
    counts, the stripped length and the word count come from class masks
    and prefix sums at the texts' offsets; only the distinct-word count
    splits each text. Agreement with quality_signals()/lang_id() is
    checked by the property tests, not by construction. The signals run
    here rather than as Spark regex column expressions because
    java.util.regex anti-scales under thread parallelism (BENCH/BASELINE.md).
    """
    docs = texts.fillna("").tolist()
    n = len(docs)
    cps, starts, ends = _codepoints(docs)
    n_chars = ends - starts
    row = np.repeat(np.arange(n), n_chars)
    cls = _CLASS_TABLE[np.minimum(cps, len(_CLASS_TABLE) - 1)]
    counts = np.bincount(row * 6 + cls, minlength=6 * n).reshape(n, 6)
    n_sym = counts[:, _CLS_OTHER] + counts[:, _CLS_SPLIT_WS]
    n_ws = counts[:, _CLS_WS]
    n_cjk = counts[:, _CLS_CJK]
    n_latin = counts[:, _CLS_LATIN]

    ws = cls == _CLS_WS
    # stripped length: first to last non-WS char of each text
    solid = np.flatnonzero(~ws)
    n_stripped = np.zeros(n, dtype=np.int64)
    has = n_chars > n_ws
    if has.any():
        first = solid[np.searchsorted(solid, starts[has])]
        last = solid[np.searchsorted(solid, ends[has]) - 1]
        n_stripped[has] = last - first + 1
    # words: non-WS chars at a text's start or after a WS char
    after_ws = np.ones(len(cps), dtype=bool)
    after_ws[1:] = ws[:-1]
    after_ws[starts[n_chars > 0]] = True
    n_words = np.bincount(row[~ws & after_ws], minlength=n)
    # str.split() agrees with WORD_SPLIT_RE unless a text holds SPLIT_WS
    n_distinct = np.array(
        [len({w for w in WORD_SPLIT_RE.split(d) if w}) if odd else len(set(d.split()))
         for d, odd in zip(docs, counts[:, _CLS_SPLIT_WS] > 0)],
        dtype=np.int64,
    )

    symbol_ratio = np.where(n_chars > 0, n_sym / np.maximum(n_chars, 1), 1.0)
    rep_ratio = np.where(n_words > 0, 1.0 - n_distinct / np.maximum(n_words, 1), 1.0)
    len_ok = (n_stripped >= min_len) & (n_stripped <= max_len)

    n_ns = n_chars - n_ws
    cjk_ratio = np.where(n_ns > 0, n_cjk / np.maximum(n_ns, 1), 0.0)
    latin_ratio = np.where(n_ns > 0, n_latin / np.maximum(n_ns, 1), 0.0)
    lang = np.where(
        n_ns <= 0, "und",
        np.where(cjk_ratio >= 0.3, "zh", np.where(latin_ratio >= 0.5, "en", "und")),
    )
    conf = np.where(
        n_ns <= 0, 0.0,
        np.where(
            cjk_ratio >= 0.3, cjk_ratio,
            np.where(latin_ratio >= 0.5, latin_ratio, np.maximum(cjk_ratio, latin_ratio)),
        ),
    )
    return pd.DataFrame(
        {
            "n_chars": n_chars,
            "n_words": n_words,
            "symbol_ratio": symbol_ratio,
            "rep_ratio": rep_ratio,
            "len_ok": len_ok,
            "lang_id": lang,
            "lang_conf": conf,
        },
        index=texts.index,
    )


def lang_id(text: str) -> tuple:
    """Heuristic language ID: (lang, confidence).

    Frozen rule over non-whitespace chars: 'zh' if cjk_ratio >= 0.3;
    'en' if latin_ratio >= 0.5; else 'und'. Confidence = winning ratio.
    SQL-expressible (regexp counts).
    """
    n = len(text) - len(WS_RE.findall(text))
    if n <= 0:
        return ("und", 0.0)
    cjk = len(CJK_RE.findall(text))
    latin = len(LATIN_RE.findall(text))
    cjk_ratio = cjk / n
    latin_ratio = latin / n
    if cjk_ratio >= 0.3:
        return ("zh", cjk_ratio)
    if latin_ratio >= 0.5:
        return ("en", latin_ratio)
    return ("und", max(cjk_ratio, latin_ratio))


# ---------------------------------------------------------------------------
# Traditional <-> simplified conversion (reference P7: utils/text_utils.py:
# 93-108 + langconv FSM over the zh_wiki table). Re-expressed as two tiers:
# a codepoint translate for the (default) single-char table — vectorized
# via pandas str.translate, SQL-expressible via translate() — and a generic
# longest-match dict rewrite for multi-char phrase tables.
# ---------------------------------------------------------------------------

from .dicts import T2S_CHARS, POS_TAGS_ZH  # noqa: E402

_T2S_TRANS = str.maketrans(T2S_CHARS)
# inverse map; where several traditional chars share one simplified form
# the first (curation-order) entry wins — same rule as the reference's
# zh_wiki s2t table, which also picks one canonical traditional form
_S2T_CHARS = {}
for _t, _s in T2S_CHARS.items():
    _S2T_CHARS.setdefault(_s, _t)
_S2T_TRANS = str.maketrans(_S2T_CHARS)


def t2s(text: str) -> str:
    """Traditional -> simplified over the embedded single-char table."""
    return text.translate(_T2S_TRANS)


def s2t(text: str) -> str:
    """Simplified -> traditional (inverse table, first mapping wins)."""
    return text.translate(_S2T_TRANS)


def t2s_series(s: pd.Series) -> pd.Series:
    """Vectorized traditional -> simplified for an Arrow batch."""
    return s.fillna("").str.translate(_T2S_TRANS)


class LongestMatchRewriter:
    """Prebuilt greedy longest-match dict rewriter (the langconv FSM
    semantics: at each position try the longest key first, emit mapped
    value, advance past the match; unmatched chars pass through).

    The first-char index is built ONCE — per executor after broadcast
    unpickle — instead of per call; `table` may mix 1-char and multi-char
    keys. O(n * max_key_len) per text."""

    def __init__(self, table: dict):
        self.table = dict(table)
        self.by_first = {}
        for k in self.table:
            self.by_first.setdefault(k[0], []).append(k)
        for ks in self.by_first.values():
            ks.sort(key=len, reverse=True)

    def __call__(self, text: str) -> str:
        if not self.table or not text:
            return text
        out = []
        i, n = 0, len(text)
        by_first = self.by_first
        table = self.table
        while i < n:
            keys = by_first.get(text[i])
            if keys:
                for k in keys:
                    if text.startswith(k, i):
                        out.append(table[k])
                        i += len(k)
                        break
                else:
                    out.append(text[i])
                    i += 1
            else:
                out.append(text[i])
                i += 1
        return "".join(out)


def longest_match_rewrite(text: str, table: dict, max_len: int = None) -> str:
    """One-shot convenience wrapper around LongestMatchRewriter (prefer the
    class when rewriting many texts — the index is built per call here).
    ``max_len`` restricts matching to keys of at most that length."""
    if max_len is not None:
        table = {k: v for k, v in table.items() if len(k) <= max_len}
    return LongestMatchRewriter(table)(text)


@functools.lru_cache(maxsize=None)
def t2s_full_chars() -> dict:
    """The char table for the FULL traditional->simplified
    single-char conversion: the embedded toy table merged with the public
    zh_wiki zh2Hans single-char rows (~2.7k chars; dictio.load_zh_wiki).
    Falls back to the embedded table alone when the file is absent."""
    from .dictio import load_zh_wiki

    table = dict(T2S_CHARS)
    table.update(load_zh_wiki()["t2s_chars"])
    return table


@functools.lru_cache(maxsize=None)
def t2s_full_rewriter() -> LongestMatchRewriter:
    """Full t2s rewriter: multi-char zh_wiki phrases (longest-match first,
    e.g. 印表機->打印机) layered over the full single-char table — the
    reference langconv FSM behavior (utils/langconv.py + zh_wiki.py)."""
    from .dictio import load_zh_wiki

    w = load_zh_wiki()
    table = dict(t2s_full_chars())
    table.update(w["t2s_phrases"])
    return LongestMatchRewriter(table)


def t2s_full(text: str) -> str:
    """Traditional -> simplified with phrase awareness (full tables)."""
    return t2s_full_rewriter()(text)


@functools.lru_cache(maxsize=None)
def s2t_full_chars() -> dict:
    """The char table for the FULL simplified->traditional
    single-char conversion: the embedded inverse toy table merged with the
    public zh_wiki zh2Hant single-char rows (~2.5k chars) — the reference's
    ``simplified2traditional`` direction (pycorrector/__init__.py exports +
    utils/text_utils.py:101-108). Falls back to the embedded inverse table
    alone when the file is absent."""
    from .dictio import load_zh_wiki

    table = dict(_S2T_CHARS)
    table.update(load_zh_wiki()["s2t_chars"])
    return table


@functools.lru_cache(maxsize=None)
def s2t_full_rewriter() -> "LongestMatchRewriter":
    """Full s2t rewriter: multi-char zh2Hant phrases (longest-match first,
    e.g. 打印机->印表機, 一只->一隻) layered over the full single-char
    table — the langconv FSM semantics in the reverse direction."""
    from .dictio import load_zh_wiki

    w = load_zh_wiki()
    table = dict(s2t_full_chars())
    table.update(w["s2t_phrases"])
    return LongestMatchRewriter(table)


def s2t_full(text: str) -> str:
    """Simplified -> traditional with phrase awareness (full tables)."""
    return s2t_full_rewriter()(text)


def word_ngrams(tokens, mode: str = "12"):
    """Composite word n-grams (reference NgramUtil.ngrams modes,
    utils/ngram_util.py:8-176): ``mode`` is a digit string — '1' unigrams,
    '2' bigrams, ... '1234' all of uni..four-grams — concatenated in that
    order. Tokens are joined with '_' as in the reference."""
    out = []
    toks = list(tokens)
    for d in mode:
        n = int(d)
        out.extend("_".join(toks[i: i + n]) for i in range(len(toks) - n + 1))
    return out


def skip_grams(tokens, k: int = 1):
    """Skip-bigrams: pairs (t[i], t[i+1+g]) for gap g in 1..k — the
    reference's skip-gram variants (ngram_util.py, the *_skip modes),
    joined with '_'. k=0 degenerates to plain bigrams' complement (empty)."""
    toks = list(tokens)
    out = []
    for g in range(1, k + 1):
        out.extend(
            f"{toks[i]}_{toks[i + 1 + g]}" for i in range(len(toks) - 1 - g)
        )
    return out


# --------------------------------------------------------------------------
# Long-sentence split + re-pack (reference utils/sentence_utils.py:19-70)
# --------------------------------------------------------------------------

_PERIOD_CHARS = set("。！？!?；;\n")
_COMMA_CHARS = set("，,")


def long_sentence_split(text: str, max_length: int = 128):
    """Split on sentence-final punctuation, re-splitting any still-long
    piece on commas, then greedily re-pack adjacent pieces up to
    ``max_length`` (reference long_sentence_split semantics: punctuation
    stays attached to its piece; concatenation of the result == input).
    """

    def split_keep(s, seps):
        out, cur = [], []
        for ch in s:
            cur.append(ch)
            if ch in seps:
                out.append("".join(cur))
                cur = []
        if cur:
            out.append("".join(cur))
        return out

    pieces = []
    for p in split_keep(text, _PERIOD_CHARS):
        if len(p) <= max_length:
            pieces.append(p)
        else:
            for q in split_keep(p, _COMMA_CHARS):
                if len(q) <= max_length:
                    pieces.append(q)
                else:
                    # comma-free over-long run: fixed-width fallback
                    # (reference same_split role) so no piece can exceed
                    # max_length
                    pieces.extend(
                        q[i: i + max_length] for i in range(0, len(q), max_length)
                    )
    packed = []
    for p in pieces:
        if packed and len(packed[-1]) + len(p) <= max_length:
            packed[-1] += p
        else:
            packed.append(p)
    return packed


def blake2b64(s: str) -> int:
    """Deterministic 64-bit content hash (blake2b digest_size=8, little-
    endian) — the ONE hashing primitive shared by the shingle index
    (operators/dedup.py) and the SymSpell deletes index (symspell.py);
    changing it changes both consistently."""
    return int.from_bytes(
        hashlib.blake2b(s.encode("utf-8"), digest_size=8).digest(), "little"
    )

