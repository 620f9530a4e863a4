"""Backoff character n-gram language model with a vectorized scorer.

Re-expresses the KenLM query semantics the reference relies on
(/root/reference/pycorrector/detector.py:268-284, tests/kenlm_test.py):

- ``score(tokens, bos, eos)`` = sum of log10 P(w_i | longest seen context)
  with ARPA backoff: unseen n-gram -> backoff_weight(context) + P(w | shorter).
- ``perplexity(tokens)`` = 10 ** (-score(tokens, bos=True, eos=True) /
  (len(tokens) + 1)) — the +1 counts </s> (kenlm full_scores yields len+1
  entries, reference tests/kenlm_test.py:46-49).
- the detector's windowed 2/3-gram scoring (detector.py:441-461) is computed
  here via the algebraic identity
      score(s[i:i+n], bos=False, eos=False)
        = uni(s[i]) + cond2(s[i+1]) [+ cond3(s[i+2])]
  which turns O(len * n) LM probes into three vectorized probe arrays.

The model is GENERAL-ORDER (default train order 5 — the north rule's
"batched 5-gram hash + perplexity scorer"; the reference's pretrained
zh_giga model is likewise order-5). The detector's window scorer still
probes the 2/3-gram tables (detector.py:441-461 scores 2/3-char windows,
which on any higher-order ARPA model only ever touches orders <= 3 —
same as querying kenlm with short strings), while document perplexity
uses the full order.

KenLM itself is unavailable in this environment, so the model is trained
from the deterministic fixture corpus with absolute-discount backoff
smoothing (Katz/ARPA style), or loaded from standard ARPA text
(load_arpa). Both the serial reference oracle and the Spark pandas-UDF
stages score with THIS class, so their floats are bitwise identical by
construction.

Storage: per-order flat sorted int64 key arrays (n-gram ids packed in
base = |vocab|+3) + float64 probability/backoff arrays, probed with
``np.searchsorted`` — no per-row Python in the hot path; broadcast-
friendly (a plain picklable object of numpy arrays).
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np

LOG10_EPS = -99.0  # ARPA convention for "effectively zero"
DISCOUNT = 0.5     # absolute discount mass moved to backoff


def _pack_cols(cols, base):
    """Pack per-position id columns [c_0 ... c_{m-1}] into one int64 key
    (horner fold, vectorized)."""
    out = np.asarray(cols[0], dtype=np.int64).copy()
    for c in cols[1:]:
        out *= base
        out += c
    return out


class CharNgramLM:
    """General-order backoff char LM over int-encoded characters.

    Special ids: unk=0, bos=1, eos=2; real chars start at 3.

    ``keys[n]`` / ``p[n]``: sorted packed n-gram keys and log10 probs for
    n = 2..order; ``ctx_bow[n]``: log10 backoff weights for n-gram
    CONTEXTS (aligned with keys[n]) for n = 2..order-1; unigram prob /
    backoff live in the dense ``p1`` / ``bow1`` arrays.
    """

    def __init__(self, vocab, p1, bow1, keys, p, ctx_bow, order):
        self.vocab = vocab                      # dict char -> id (>=3)
        self.base = len(vocab) + 3
        self.order = order
        # special-token ids; genuine-KenLM loads override these (KenLM
        # assigns <s>/</s> ids by ARPA order, only <unk>=0 is fixed)
        self.bos_id = np.int64(1)
        self.eos_id = np.int64(2)
        self.p1 = p1                            # float64 [base]
        self.bow1 = bow1                        # float64 [base]
        self.keys = keys                        # {n: sorted int64}
        self.p = p                              # {n: float64}
        self.ctx_bow = ctx_bow                  # {n: float64} n=2..order-1
        # fast char->id for vectorized encode
        max_cp = max((ord(c) for c in vocab), default=0)
        self._cp_map = np.zeros(max_cp + 2, dtype=np.int32)  # default unk=0
        for ch, i in vocab.items():
            self._cp_map[ord(ch)] = i

    # ---- backward-compatible views (order <= 3 ARPA tests, window math) ----

    @property
    def keys2(self):
        return self.keys.get(2, np.empty(0, dtype=np.int64))

    @property
    def p2(self):
        return self.p.get(2, np.empty(0, dtype=np.float64))

    @property
    def bow2(self):
        return self.ctx_bow.get(2, np.zeros(len(self.keys2), dtype=np.float64))

    @property
    def keys3(self):
        return self.keys.get(3, np.empty(0, dtype=np.int64))

    @property
    def p3(self):
        return self.p.get(3, np.empty(0, dtype=np.float64))

    # ---------------- encoding ----------------

    def encode(self, text: str) -> np.ndarray:
        """char ids (unk for OOV) as int64 array."""
        if not text:
            return np.empty(0, dtype=np.int64)
        cps = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
        ids = np.where(cps < len(self._cp_map), self._cp_map[np.minimum(cps, len(self._cp_map) - 1)], 0)
        return ids.astype(np.int64)

    # ---------------- probes (vectorized) ----------------

    def _probe(self, keys_sorted, values, query, default):
        """values[query] where present else default. Fully vectorized."""
        if len(keys_sorted) == 0:
            return np.full(len(query), default, dtype=np.float64)
        pos = np.searchsorted(keys_sorted, query)
        pos_c = np.minimum(pos, len(keys_sorted) - 1)
        hit = keys_sorted[pos_c] == query
        out = np.where(hit, values[pos_c], default)
        return out

    def uni(self, w: np.ndarray) -> np.ndarray:
        return self.p1[w]

    def cond(self, ctx_cols, w: np.ndarray) -> np.ndarray:
        """log10 P(w | context) with recursive ARPA backoff.

        ``ctx_cols``: list of m id arrays [c_{-m}, ..., c_{-1}] (oldest
        first), all the same length as ``w``; m may exceed order-1 (extra
        history is ignored).

        MISS-ONLY recursion: positions whose full-order n-gram is stored
        cost exactly one searchsorted probe; only the missing subset
        recurses to shorter contexts. On in-domain text most positions
        hit at the top order, so the effective probe count per position
        is ~1 regardless of model order (an always-evaluate chain would
        cost order(order-1)/2 probes per position)."""
        m = min(len(ctx_cols), self.order - 1)
        ctx_cols = ctx_cols[len(ctx_cols) - m:]
        if m == 0:
            return self.p1[w]
        n = m + 1
        pn = self._probe_ngram(n, list(ctx_cols) + [w])
        miss = np.isnan(pn)
        if miss.any():
            mc = [c[miss] for c in ctx_cols]
            # backoff weight of the length-m context (misses only)
            if m == 1:
                bow = self.bow1[mc[0]]
            else:
                bow = self._probe_bow(m, mc)
            pn[miss] = bow + self.cond(mc[1:], w[miss])
        return pn

    # -- probe hooks (overridden by the hash-probing binary model,
    #    lm/binary.ProbingCharLM — same recursion, different key scheme) --

    def _probe_ngram(self, n: int, cols) -> np.ndarray:
        """log10 prob of the n-grams formed by ``cols`` (n id arrays,
        oldest first); NaN where the gram is not stored."""
        if n not in self.keys:
            return np.full(len(cols[-1]), np.nan)
        q = _pack_cols(cols, self.base)
        return self._probe(self.keys[n], self.p[n], q, np.nan)

    def _probe_bow(self, m: int, cols) -> np.ndarray:
        """log10 backoff weight of the length-m contexts (0 when absent)."""
        if m in self.keys and m in self.ctx_bow:
            return self._probe(
                self.keys[m], self.ctx_bow[m], _pack_cols(cols, self.base), 0.0
            )
        return np.zeros(len(cols[-1]), dtype=np.float64)

    def cond2(self, v: np.ndarray, w: np.ndarray) -> np.ndarray:
        """log10 P(w | v) with backoff."""
        return self.cond([v], w)

    def cond3(self, u: np.ndarray, v: np.ndarray, w: np.ndarray) -> np.ndarray:
        """log10 P(w | u v) with recursive backoff."""
        return self.cond([u, v], w)

    # ---------------- kenlm-equivalent API ----------------

    def score_ids(self, ids: np.ndarray, bos: bool, eos: bool) -> float:
        """Sum of per-token conditional log10 probs (kenlm Model.score)."""
        seq = ids
        if bos:
            seq = np.concatenate(([self.bos_id], seq))
        if eos:
            seq = np.concatenate((seq, [self.eos_id]))
        start = 1 if bos else 0
        n = len(seq)
        if n - start <= 0:
            return 0.0
        pos = np.arange(start, n)
        out = np.empty(len(pos), dtype=np.float64)
        avail = np.minimum(pos, self.order - 1)
        for m in range(0, self.order):
            mask = avail == m
            if not mask.any():
                continue
            pm = pos[mask]
            ctx = [seq[pm - (m - j)] for j in range(m)]
            out[mask] = self.cond(ctx, seq[pm])
        return float(np.sum(out))

    def score_chars(self, chars, bos: bool = False, eos: bool = False) -> float:
        """Score a char-token sequence (list of single chars or a string)."""
        text = "".join(chars)
        return self.score_ids(self.encode(text), bos, eos)

    def perplexity_chars(self, chars) -> float:
        """kenlm Model.perplexity over char tokens.

        Routed through ``ppl_batch`` so scalar and batched calls produce
        bitwise-identical float64 results (same summation order).
        """
        return float(self.ppl_batch(["".join(chars)])[0])

    def ppl_batch(self, texts) -> np.ndarray:
        """Vectorized perplexity over many strings (one flat probe pass
        per context-length group and order level).

        Each row's float is bitwise the same in any batch (a row's
        per-position conditionals do not depend on its neighbours, and
        np.add.reduceat sums each row's segment alone), so
        ``perplexity_chars`` equals the batched value. It is NOT bitwise
        ``score_ids``/``score_chars``: their np.sum adds the same terms in
        another order, which differs in the last bits.
        """
        if len(texts) == 0:
            return np.empty(0, dtype=np.float64)
        lens = np.fromiter(map(len, texts), dtype=np.int64, count=len(texts))
        ids = self.encode("".join(texts))
        # flat sequence [bos] ids [eos] per sentence: char k of row r sits
        # at k + 2r + 1
        seq_lens = lens + 2
        starts = np.cumsum(seq_lens) - seq_lens
        row_of_char = np.repeat(np.arange(len(lens)), lens)
        flat = np.empty(int(seq_lens.sum()), dtype=np.int64)
        flat[starts] = self.bos_id
        flat[starts + seq_lens - 1] = self.eos_id
        flat[np.arange(len(ids)) + 2 * row_of_char + 1] = ids
        # positions to score: all except the bos at each start
        total_pos = len(flat) - len(lens)
        row = np.repeat(np.arange(len(lens)), seq_lens - 1)
        row_starts = np.cumsum(seq_lens - 1) - (seq_lens - 1)
        local = np.arange(total_pos) - row_starts[row] + 1  # context to the left
        pos = starts[row] + local
        w = flat[pos]
        avail = np.minimum(local, self.order - 1)
        out = np.empty(total_pos, dtype=np.float64)
        # m=0 included: for an order-1 model every position is context-free
        # (avail==0) and must still be scored via the unigram table — a loop
        # starting at 1 would leave `out` as uninitialized np.empty garbage
        for m in range(0, self.order):
            mask = avail == m
            if not mask.any():
                continue
            pm = pos[mask]
            ctx = [flat[pm - (m - j)] for j in range(m)]
            out[mask] = self.cond(ctx, w[mask])
        # reduce per row
        sums = np.add.reduceat(out, row_starts)
        return 10.0 ** (-sums / (lens + 1))

    # ---------------- detector window scoring ----------------

    def window_avg_scores(self, sentence: str):
        """Per-char averaged 2/3-gram scores — reference detector.py:441-461.

        Returns float64 array of len(sentence), or None when the sentence is
        too short for both n=2 and n=3 windows (len < 2).
        """
        return self.window_avg_scores_batch([sentence])[0]

    def window_avg_scores_batch(self, sentences):
        """``window_avg_scores`` of every sentence, from ONE flat probe pass.

        One cond2 and one cond3 probe cover the windows of all sentences
        at once over their concatenated ids; windows that would cross a
        sentence boundary are skipped. The probes are position-wise, so
        every kept window scores exactly as it does alone. The edge-pad +
        sliding mean then runs as one row-wise cumsum per group of
        similar-length sentences (same bit length; length 2, which has no
        3-gram window, apart): a row's prefix sums do not depend on the
        entries after it, so the first len(s) floats of each row are
        bitwise the one-sentence result.
        """
        out = [None] * len(sentences)
        # group key: bit length of len, with len 2 (no 3-gram window) apart
        groups = {}
        for i, s in enumerate(sentences):
            if len(s) >= 2:
                groups.setdefault(len(s).bit_length() if len(s) >= 3 else 0, []).append(i)
        if not groups:
            return out
        lens = np.array([len(s) for s in sentences], dtype=np.int64)
        ids = self.encode("".join(sentences))
        starts = np.cumsum(lens) - lens
        # chars from each position to the end of its sentence, itself included
        left = np.repeat(starts + lens, lens) - np.arange(len(ids))
        u = self.uni(ids)
        c2 = np.empty(len(ids))
        w2 = np.empty(len(ids))
        w3 = np.empty(len(ids))
        p2 = np.nonzero(left >= 2)[0]
        c2[p2] = self.cond2(ids[p2], ids[p2 + 1])     # P(s[i+1]|s[i])
        w2[p2] = u[p2] + c2[p2]                      # score of s[i:i+2]
        p3 = np.nonzero(left >= 3)[0]
        w3[p3] = u[p3] + c2[p3] + self.cond3(ids[p3], ids[p3 + 1], ids[p3 + 2])
        for key, rows in groups.items():
            avg = self._pad_and_average(w2, 2, starts[rows], lens[rows])
            if key:
                avg = (avg + self._pad_and_average(w3, 3, starts[rows], lens[rows])) / 2.0
            for k, i in enumerate(rows):
                out[i] = avg[k, : len(sentences[i])]
        return out

    @staticmethod
    def _pad_and_average(scores: np.ndarray, n: int, starts, lens) -> np.ndarray:
        """Edge-pad each sentence's n-gram scores by repeating its first/last
        score (n-1 times each side), then mean over sliding windows of size
        n — detector.py:452-456. Sentence k's scores are
        ``scores[starts[k]:starts[k]+lens[k]-n+1]``; row k of the result
        holds its lens[k] means first (the rest of the row is filler)."""
        n_win = lens - n + 1
        width = int(n_win.max()) + 2 * (n - 1)
        # edge padding = clamping each row's gather index into its windows
        j = np.arange(width) - (n - 1)
        take = starts[:, None] + np.clip(j[None, :], 0, (n_win - 1)[:, None])
        csum = np.zeros((len(starts), width + 1))
        np.cumsum(scores[take], axis=1, out=csum[:, 1:])
        L = int(lens.max())
        return (csum[:, n:n + L] - csum[:, :L]) / float(n)


def mad_outlier_indices(scores: np.ndarray, ratio: float = 0.6745, threshold: float = 2.0):
    """Median-absolute-deviation outlier test — reference detector.py:330-355.

    Flags i where ratio*|s_i - median|/MAD > threshold AND s_i < median.
    """
    return mad_outlier_indices_batch([scores], ratio, threshold)[0]


def _row_medians(sorted_rows: np.ndarray, n: np.ndarray) -> np.ndarray:
    """Median of the first n[k] entries of each ascending row k (n >= 1):
    the middle element for odd n, the mean of the two middle ones for even
    n — the elements and the arithmetic np.median uses, so bitwise equal."""
    rows = np.arange(len(n))
    lo = sorted_rows[rows, (n - 1) // 2]
    hi = sorted_rows[rows, n // 2]
    return np.where(n % 2 == 1, lo, (lo + hi) / 2.0)


def mad_outlier_indices_batch(rows, ratio: float = 0.6745, threshold: float = 2.0):
    """``mad_outlier_indices`` of every row of finite scores, in one pass.

    Rows are padded with +inf to a matrix and sorted once for the medians
    and once for the MAD; padding sorts last, so the middle elements of a
    row's first n entries are its own. A None or empty row has no
    outliers, as has a row whose MAD is 0.
    """
    out = [[] for _ in rows]
    live = [k for k, r in enumerate(rows) if r is not None and len(r)]
    if not live:
        return out
    n = np.array([len(rows[k]) for k in live], dtype=np.int64)
    scores = np.full((len(live), int(n.max())), np.inf)
    for j, k in enumerate(live):
        scores[j, : n[j]] = rows[k]
    median = _row_medians(np.sort(scores, axis=1), n)
    margin = np.abs(scores - median[:, None])
    mad = _row_medians(np.sort(margin, axis=1), n)
    ok = mad != 0
    y = ratio * margin / np.where(ok, mad, 1.0)[:, None]
    inside = np.arange(scores.shape[1])[None, :] < n[:, None]
    flag = (y > threshold) & (scores < median[:, None]) & inside & ok[:, None]
    rr, cc = np.nonzero(flag)
    for j, i in zip(rr.tolist(), cc.tolist()):
        out[live[j]].append(i)
    return out


def stddev_outlier_indices(scores: np.ndarray, n_sigma: float = 2.0):
    """Mean +- n*sigma outlier rule — reference detector.py:357-372 (the
    unused alternative to the MAD test; kept for config parity). Matches
    the reference exactly: sample std (ddof=1) and BOTH tails flagged."""
    scores = np.asarray(scores, dtype=np.float64)
    if len(scores) < 2:
        return []
    std = scores.std(ddof=1)
    if std == 0:
        return []
    mean = scores.mean()
    lo, hi = mean - n_sigma * std, mean + n_sigma * std
    return [int(i) for i in np.where((scores < lo) | (scores > hi))[0]]


def _id_to_token(lm: CharNgramLM):
    rev = {}
    for c, i in lm.vocab.items():
        if c == " ":
            rev[i] = "<sp>"  # space is the ARPA token separator
        elif c in ("\t", "\n", "\r"):
            # tab is the ARPA field separator and newline the record
            # separator — a vocab containing them cannot serialize to a
            # well-formed file; fail loudly instead of corrupting it
            raise ValueError(
                f"vocabulary char {c!r} is not representable in ARPA text; "
                "strip control whitespace from the training corpus first"
            )
        else:
            rev[i] = c
    rev[0] = "<unk>"
    rev[1] = "<s>"
    rev[2] = "</s>"
    return rev


def _unpack(key: int, n: int, base: int):
    ids = []
    for _ in range(n):
        key, r = divmod(int(key), base)
        ids.append(r)
    return list(reversed(ids))


def to_arpa_lines(lm: CharNgramLM):
    """Serialize a CharNgramLM to standard ARPA text lines (log10 probs,
    TAB-separated, \\data\\ header) — the interchange format KenLM's
    lmplz/build_binary consume and emit, so a model trained here can be
    inspected or shipped. Probabilities are emitted at full float64
    precision (repr — shortest string that round-trips the exact IEEE-754
    value), so load_arpa(to_arpa_lines(lm)) reproduces BIT-IDENTICAL
    scores (test-enforced). Emits every order up to lm.order."""
    rev = _id_to_token(lm)
    base = lm.base
    uni_ids = [0, 1, 2] + sorted(lm.vocab.values())
    lines = ["\\data\\", f"ngram 1={len(uni_ids)}"]
    for n in range(2, lm.order + 1):
        lines.append(f"ngram {n}={len(lm.keys.get(n, ()))}")
    lines += ["", "\\1-grams:"]
    for i in uni_ids:
        bow = float(lm.bow1[i])
        if bow != 0.0:
            lines.append(f"{float(lm.p1[i])!r}\t{rev[i]}\t{bow!r}")
        else:
            lines.append(f"{float(lm.p1[i])!r}\t{rev[i]}")
    for n in range(2, lm.order + 1):
        lines.append("")
        lines.append(f"\\{n}-grams:")
        bows = lm.ctx_bow.get(n)
        for j, (k, p) in enumerate(zip(lm.keys.get(n, ()), lm.p.get(n, ()))):
            gram = " ".join(rev[i] for i in _unpack(k, n, base))
            bow = float(bows[j]) if bows is not None else 0.0
            if bow != 0.0:
                lines.append(f"{float(p)!r}\t{gram}\t{bow!r}")
            else:
                lines.append(f"{float(p)!r}\t{gram}")
    lines.append("")
    lines.append("\\end\\")
    return lines


def load_arpa(source, max_order: int = 5) -> CharNgramLM:
    """Parse a standard ARPA text model into a CharNgramLM.

    ``source``: a path or an iterable of lines. Orders up to ``max_order``
    (default 5 — the reference's pretrained zh_giga class of model) are
    supported. Tokens must be single characters apart from
    <s>/</s>/<unk> and the <sp> escape for the literal space char —
    ARPA cannot carry a bare space token, since space is the n-gram
    separator (this is a CHAR LM, the reference's people_chars_lm.klm
    class of model). Backoff weights default to 0 when a line omits them,
    per the ARPA spec."""
    if isinstance(source, str):
        with open(source, "r", encoding="utf-8") as f:
            lines = f.read().splitlines()
    else:
        lines = list(source)

    sections = {}
    order = 0
    for line in lines:
        line = line.strip()
        if not line:
            continue
        if line.startswith("\\") and line.endswith("-grams:"):
            order = int(line[1:line.index("-")])
            if order > max_order:
                raise ValueError(f"ARPA order {order} unsupported (max {max_order})")
            sections[order] = []
            continue
        if line in ("\\data\\", "\\end\\") or line.startswith("ngram "):
            order = 0
            continue
        if order:
            parts = line.split("\t")
            if len(parts) == 1:  # some tools emit space-separated rows
                parts = line.split()
                parts = [parts[0], " ".join(parts[1:order + 1])] + parts[order + 1:]
            logp = float(parts[0])
            gram = parts[1].split(" ")
            bow = float(parts[2]) if len(parts) > 2 else 0.0
            sections[order].append((logp, gram, bow))

    if 1 not in sections:
        raise ValueError("ARPA file has no \\1-grams: section")
    model_order = max(sections)

    special = {"<s>": 1, "</s>": 2, "<unk>": 0}
    # un-escape the space token before vocabulary assembly
    for sec in sections.values():
        for _, gram, _ in sec:
            for j, tok in enumerate(gram):
                if tok == "<sp>":
                    gram[j] = " "
    chars = sorted(
        g[0] for _, g, _ in sections[1] if g[0] not in special
    )
    for c in chars:
        if len(c) != 1:
            raise ValueError(
                f"token {c!r} is not a single character — load_arpa expects "
                "a char-level model (train word models upstream instead)"
            )
    vocab = {c: i + 3 for i, c in enumerate(chars)}
    base = len(vocab) + 3
    if base ** model_order >= (1 << 62):
        raise ValueError(
            f"vocab size {len(vocab)} at order {model_order} overflows the "
            "int64 packed-key space; prune the vocabulary or the order"
        )

    def tid(tok):
        return special.get(tok, vocab.get(tok, 0))

    p1 = np.full(base, LOG10_EPS, dtype=np.float64)
    bow1 = np.zeros(base, dtype=np.float64)
    for logp, gram, bow in sections[1]:
        i = tid(gram[0])
        p1[i] = logp
        bow1[i] = bow

    keys, ps, ctx_bow = {}, {}, {}
    for n in range(2, model_order + 1):
        kk, pv, bv = [], [], []
        for logp, gram, bow in sections.get(n, []):
            key = 0
            for t in gram:
                key = key * base + tid(t)
            kk.append(key)
            pv.append(logp)
            bv.append(bow)
        arr = np.array(kk, dtype=np.int64)
        order_idx = np.argsort(arr, kind="stable")
        keys[n] = arr[order_idx]
        ps[n] = np.array(pv, dtype=np.float64)[order_idx]
        if n < model_order:
            ctx_bow[n] = np.array(bv, dtype=np.float64)[order_idx]

    return CharNgramLM(vocab, p1, bow1, keys, ps, ctx_bow, model_order)


def train_char_lm(corpus, min_count: int = 1, order: int = 5) -> CharNgramLM:
    """Train a general-order absolute-discount backoff char LM
    (default order 5, per the north rule's 5-gram scorer).

    ``corpus``: iterable of sentences (strings). Deterministic: vocabulary
    ids assigned in sorted char order; n-gram probabilities interpolate
    with the next-lower order (so every stored prob is nonzero) and each
    context's leftover discount mass becomes its backoff weight.

    Only ``min_count=1`` is supported: with a cutoff, sub-threshold chars
    would all map to the unk id, so distinct pruned n-grams collapse to
    one packed key — the count tables below would then need re-aggregation
    before probability estimation (duplicate keys otherwise corrupt the
    unigram/backoff arrays). Rejected explicitly rather than silently
    mis-trained; vocabulary pruning belongs in corpus preparation.
    """
    if min_count != 1:
        raise ValueError(
            "train_char_lm supports min_count=1 only; prune the corpus "
            "vocabulary upstream instead (see docstring)"
        )
    if order < 2:
        raise ValueError("order must be >= 2")
    counts = {n: Counter() for n in range(1, order + 1)}
    for sent in corpus:
        if not sent:
            continue
        toks = ["<s>"] + list(sent) + ["</s>"]
        for t in toks[1:]:
            counts[1][t] += 1
        for n in range(2, order + 1):
            for i in range(len(toks) - n + 1):
                counts[n][tuple(toks[i: i + n])] += 1

    uni = counts[1]
    chars = sorted(c for c in uni if c not in ("<s>", "</s>"))
    vocab = {c: i + 3 for i, c in enumerate(chars)}
    base = len(vocab) + 3
    if base ** order >= (1 << 62):
        raise ValueError(
            f"vocab size {len(vocab)} at order {order} overflows the int64 "
            "packed-key space; reduce the order"
        )

    def tid(tok):
        if tok == "<s>":
            return 1
        if tok == "</s>":
            return 2
        return vocab.get(tok, 0)

    total_uni = sum(uni.values())
    V = len(vocab) + 2  # + eos + unk share the smoothing mass
    p1 = np.full(base, LOG10_EPS, dtype=np.float64)
    # additive smoothing gives <unk> and every token nonzero mass
    delta = 0.5
    denom = total_uni + delta * (V + 1)
    p1[0] = math.log10(delta / denom)  # unk
    for tok, c in uni.items():
        p1[tid(tok)] = math.log10((c + delta) / denom)
    p1[1] = p1[0]  # <s> is never predicted; give it unk mass for safety

    # build orders 2..N bottom-up. cond_maps[m]: packed m-gram -> LINEAR
    # conditional prob (stored grams only); bow_maps[m]: packed length-m
    # context -> LINEAR backoff weight (default 1.0 for unseen contexts,
    # the ARPA convention). Keeping every lower order around makes the
    # training-time backoff recursion exact at any depth.
    bow1 = np.zeros(base, dtype=np.float64)
    keys, ps, ctx_bow = {}, {}, {}
    cond_maps = {1: None}
    bow_maps = {}

    def pack_ids(toks):
        key = 0
        for t in toks:
            key = key * base + tid(t)
        return key

    def cond_lower(tail):
        """Linear P(tail[-1] | tail[:-1]) from the already-built orders."""
        m = len(tail)
        if m == 1:
            return 10.0 ** p1[tid(tail[0])]
        hit = cond_maps[m].get(pack_ids(tail))
        if hit is not None:
            return hit
        b = bow_maps[m - 1].get(pack_ids(tail[:-1]), 1.0)
        return b * cond_lower(tail[1:])

    for n in range(2, order + 1):
        ctx_count = Counter()
        ctx_types = Counter()
        for gram, c in counts[n].items():
            ctx = gram[:-1]
            ctx_count[ctx] += c
            ctx_types[ctx] += 1

        kk, pv = [], []
        cond_cur = {}
        for gram, c in sorted(counts[n].items()):
            ctx = gram[:-1]
            lam = DISCOUNT * ctx_types[ctx] / ctx_count[ctx]
            pa = max(c - DISCOUNT, 0.0) / ctx_count[ctx]
            prob = pa + lam * cond_lower(gram[1:])
            key = pack_ids(gram)
            kk.append(key)
            pv.append(math.log10(prob))
            cond_cur[key] = prob

        arr = np.array(kk, dtype=np.int64)
        order_idx = np.argsort(arr, kind="stable")
        keys[n] = arr[order_idx]
        ps[n] = np.array(pv, dtype=np.float64)[order_idx]

        # backoff weights for length-(n-1) contexts
        bow_cur = {}
        for ctx, c in ctx_count.items():
            lam = DISCOUNT * ctx_types[ctx] / c
            bow_cur[pack_ids(ctx)] = lam
        if n == 2:
            for ctx in ctx_count:
                lam = bow_cur[pack_ids(ctx)]
                bow1[tid(ctx[0])] = math.log10(lam) if lam > 0 else LOG10_EPS
        else:
            m = n - 1
            bows = np.zeros(len(keys[m]), dtype=np.float64)
            k_sorted = keys[m]
            for key, lam in bow_cur.items():
                j = int(np.searchsorted(k_sorted, key))
                if j < len(k_sorted) and k_sorted[j] == key:
                    bows[j] = math.log10(lam) if lam > 0 else LOG10_EPS
            ctx_bow[m] = bows

        cond_maps[n] = cond_cur
        bow_maps[n - 1] = bow_cur

    return CharNgramLM(vocab, p1, bow1, keys, ps, ctx_bow, order)
