"""KenLM-style binary language-model format: mmap'd flat arrays with
open-addressing hash-probing tables.

The reference loads mmap'd KenLM binaries (detector.py:106-117 — the
pretrained zh_giga.klm / people_chars_lm.klm registry, detector.py:48-58);
this module closes that S10 gap with two layers:

1. ``save_binary`` / ``load_binary`` — the engine's own binary container
   (magic ``SGKLM001``): one header + raw little-endian arrays, loadable
   either fully in memory or zero-copy via ``numpy.memmap`` (the "mmap
   lm" property that makes KenLM binaries instant-load: executors map
   the file instead of parsing ARPA text). The probability payload is
   float64, so a save/load round-trip reproduces BIT-IDENTICAL scores
   (test-enforced) — unlike KenLM's float32 quantization.

2. ``ProbingCharLM`` — the PROBING-search query structure from KenLM's
   published design (Heafield 2011, "KenLM: Faster and Smaller Language
   Model Queries"): n-grams keyed by a chained MurmurHash64A over word
   ids into per-order open-addressing linear-probe hash tables, scored
   with the identical backoff recursion as the sorted-array model (it
   subclasses CharNgramLM and overrides only the two probe hooks). This
   is the north rule's "5-gram hash + perplexity scorer ... Arrow-batched
   trie/hash-table lookup" made literal: probes are vectorized numpy
   gathers, no per-row Python.

ARPA text (lm/model.py load_arpa/to_arpa_lines) remains the interchange
format with real KenLM.
"""

from __future__ import annotations

import struct

import numpy as np

from .model import CharNgramLM

_MAGIC = b"SGKLM001"
_U64 = np.uint64

# MurmurHash64A constants (Austin Appleby, public domain)
_MUR_M = _U64(0xC6A4A7935BD1E995)
_MUR_R = _U64(47)
_EMPTY = _U64(0)  # open-addressing empty-slot sentinel
_MULTIPLIER = 1.5  # buckets per entry (KenLM probing_multiplier default)


def _murmur64a_u64(k: np.ndarray, seed) -> np.ndarray:
    """Vectorized MurmurHash64A of one 8-byte little-endian block per
    element (the word-id block), with per-element seeds — the chain step
    for n-gram keys. numpy uint64 arithmetic wraps mod 2^64 like the
    reference C implementation."""
    with np.errstate(over="ignore"):
        k = np.asarray(k, dtype=np.uint64)
        h = (np.asarray(seed, dtype=np.uint64) ^ (_U64(8) * _MUR_M)) & _U64(0xFFFFFFFFFFFFFFFF)
        k = k * _MUR_M
        k = k ^ (k >> _MUR_R)
        k = k * _MUR_M
        h = (h ^ k) * _MUR_M
        h = h ^ (h >> _MUR_R)
        h = h * _MUR_M
        h = h ^ (h >> _MUR_R)
    return h


def gram_hash(cols) -> np.ndarray:
    """Chained murmur key for n-grams given per-position id arrays
    (oldest word first): h_0 = murmur(id_0, seed=n), h_i = murmur(id_i,
    seed=h_{i-1}). Seeding with n keeps different orders in disjoint key
    spaces even for shared prefixes."""
    h = np.full(len(cols[0]), len(cols), dtype=np.uint64)
    for c in cols:
        h = _murmur64a_u64(np.asarray(c).astype(np.uint64), h)
    return h


def _build_table(keys: np.ndarray, n_values: int):
    """(table_keys, slot_of) open-addressing linear-probe layout for the
    given 64-bit keys. Returns the bucket array (uint64, _EMPTY = free)
    and each input key's slot index. Raises on a 64-bit key collision or
    an _EMPTY-valued key (probability ~2^-64 per model; a collision would
    silently merge two n-grams' probabilities)."""
    n = len(keys)
    buckets = max(int(np.ceil(n * _MULTIPLIER)) + 1, 8)
    table = np.zeros(buckets, dtype=np.uint64)
    slot = np.empty(n, dtype=np.int64)
    if np.any(keys == _EMPTY):
        raise ValueError("n-gram hash equals the empty sentinel (0); rehash")
    if len(np.unique(keys)) != n:
        raise ValueError("64-bit n-gram hash collision; rehash or use ARPA")
    order = np.argsort(keys % np.uint64(buckets), kind="stable")
    for i in order:
        pos = int(keys[i] % np.uint64(buckets))
        while table[pos] != _EMPTY:
            pos = (pos + 1) % buckets
        table[pos] = keys[i]
        slot[i] = pos
    return table, slot


def _probe_table(table_keys: np.ndarray, query: np.ndarray) -> np.ndarray:
    """Vectorized open-addressing probe: slot index per query key, -1 on
    miss. Each round gathers the current slot for every unresolved query
    (one numpy gather per probe distance, not one per query)."""
    buckets = len(table_keys)
    pos = (query % np.uint64(buckets)).astype(np.int64)
    out = np.full(len(query), -1, dtype=np.int64)
    live = np.arange(len(query))
    while len(live):
        cur = table_keys[pos[live]]
        hit = cur == query[live]
        out[live[hit]] = pos[live[hit]]
        empty = cur == _EMPTY
        live = live[~(hit | empty)]
        pos[live] = (pos[live] + 1) % buckets
    return out


class ProbingCharLM(CharNgramLM):
    """CharNgramLM scored through KenLM-probing-style hash tables.

    Same vocabulary / unigram arrays / backoff recursion as the parent;
    orders >= 2 are keyed by gram_hash into linear-probe tables instead
    of binary search over packed sorted keys. ``tables[n]`` =
    (table_keys, probs, bows) aligned by slot; probs/bows are dense over
    the bucket array (unused slots hold NaN/0), so a probe is two numpy
    gathers with no indirection."""

    def __init__(self, vocab, p1, bow1, tables, order):
        # parent keys/p/ctx_bow stay empty — all >=2-order probes go
        # through the hash tables below
        super().__init__(vocab, p1, bow1, {}, {}, {}, order)
        self.tables = tables

    def _probe_ngram(self, n: int, cols) -> np.ndarray:
        t = self.tables.get(n)
        if t is None:
            return np.full(len(cols[-1]), np.nan)
        table_keys, probs, _ = t
        slot = _probe_table(table_keys, gram_hash(cols))
        out = np.full(len(slot), np.nan)
        hit = slot >= 0
        out[hit] = probs[slot[hit]]
        return out

    def _probe_bow(self, m: int, cols) -> np.ndarray:
        t = self.tables.get(m)
        if t is None or t[2] is None:
            return np.zeros(len(cols[-1]), dtype=np.float64)
        table_keys, _, bows = t
        slot = _probe_table(table_keys, gram_hash(cols))
        out = np.zeros(len(slot), dtype=np.float64)
        hit = slot >= 0
        out[hit] = bows[slot[hit]]
        return out


# ---------------------------------------------------------------------------
# container i/o
# ---------------------------------------------------------------------------


def _align8(f):
    pad = (-f.tell()) % 8
    if pad:
        f.write(b"\0" * pad)


def _write_arr(f, arr: np.ndarray):
    arr = np.ascontiguousarray(arr)
    code = {"<u8": b"U8", "<f8": b"F8"}[arr.dtype.newbyteorder("<").str]
    f.write(struct.pack("<2sxxxxxxQ", code, arr.size))
    _align8(f)
    f.write(arr.astype(arr.dtype.newbyteorder("<"), copy=False).tobytes())


def _read_arr(path, f, mmap: bool):
    hdr = f.read(16)
    code, size = struct.unpack("<2sxxxxxxQ", hdr)
    dtype = {b"U8": np.dtype("<u8"), b"F8": np.dtype("<f8")}[code]
    pad = (-f.tell()) % 8
    f.seek(pad, 1)
    off = f.tell()
    nbytes = size * dtype.itemsize
    if mmap:
        arr = np.memmap(path, dtype=dtype, mode="r", offset=off, shape=(size,))
        f.seek(nbytes, 1)
    else:
        arr = np.frombuffer(f.read(nbytes), dtype=dtype).copy()
    return arr


def save_binary(lm: CharNgramLM, path: str) -> None:
    """Serialize any CharNgramLM (sorted-array or probing) to the SGKLM
    container: header (order, counts, vocab) + unigram arrays + per-order
    probing tables built from gram_hash keys. Loading reproduces
    bit-identical float64 scores."""
    # build probing tables from the model's stored grams
    from .model import _unpack

    per_order = {}
    if isinstance(lm, ProbingCharLM):
        per_order = {
            n: (tk.copy(), pv.copy(), None if bv is None else bv.copy())
            for n, (tk, pv, bv) in lm.tables.items()
        }
    else:
        for n in range(2, lm.order + 1):
            kk = lm.keys.get(n)
            if kk is None or not len(kk):
                continue
            ids = np.array(
                [_unpack(int(k), n, lm.base) for k in kk], dtype=np.int64
            )
            hashes = gram_hash([ids[:, j] for j in range(n)])
            table_keys, slot = _build_table(hashes, len(kk))
            probs = np.full(len(table_keys), np.nan)
            probs[slot] = lm.p[n]
            bows = None
            if n in lm.ctx_bow:
                bows = np.zeros(len(table_keys), dtype=np.float64)
                bows[slot] = lm.ctx_bow[n]
            per_order[n] = (table_keys, probs, bows)

    chars = sorted(lm.vocab, key=lm.vocab.get)
    vocab_bytes = "".join(chars).encode("utf-8")
    with open(path, "wb") as f:
        f.write(_MAGIC)
        counts = [len(per_order[n][0]) if n in per_order else 0
                  for n in range(2, lm.order + 1)]
        f.write(struct.pack("<IIQQ", 1, lm.order, len(chars), len(vocab_bytes)))
        f.write(struct.pack(f"<{len(counts)}Q", *counts))
        # per-order flags: bit0 = has backoff array
        flags = [1 if (n in per_order and per_order[n][2] is not None) else 0
                 for n in range(2, lm.order + 1)]
        f.write(struct.pack(f"<{len(flags)}B", *flags))
        f.write(vocab_bytes)
        _align8(f)
        _write_arr(f, lm.p1)
        _write_arr(f, lm.bow1)
        for n in range(2, lm.order + 1):
            if n not in per_order:
                continue
            table_keys, probs, bows = per_order[n]
            _write_arr(f, table_keys)
            _write_arr(f, probs)
            if bows is not None:
                _write_arr(f, bows)


def load_binary(path: str, mmap: bool = False) -> ProbingCharLM:
    """Load an SGKLM container. ``mmap=True`` maps the arrays zero-copy
    (instant load; the OS pages them on demand — the KenLM deployment
    property for executors loading a model staged via --files)."""
    with open(path, "rb") as f:
        if f.read(8) != _MAGIC:
            raise ValueError(f"{path}: not an SGKLM binary")
        version, order, n_chars, vocab_len = struct.unpack("<IIQQ", f.read(24))
        if version != 1:
            raise ValueError(f"unsupported SGKLM version {version}")
        n_counts = order - 1
        counts = struct.unpack(f"<{n_counts}Q", f.read(8 * n_counts))
        flags = struct.unpack(f"<{n_counts}B", f.read(n_counts))
        chars = f.read(vocab_len).decode("utf-8")
        if len(chars) != n_chars:
            raise ValueError("vocab length mismatch (corrupt header)")
        pad = (-f.tell()) % 8
        f.seek(pad, 1)
        p1 = _read_arr(path, f, mmap)
        bow1 = _read_arr(path, f, mmap)
        tables = {}
        for i, n in enumerate(range(2, order + 1)):
            if counts[i] == 0:
                continue
            table_keys = _read_arr(path, f, mmap)
            probs = _read_arr(path, f, mmap)
            bows = _read_arr(path, f, mmap) if flags[i] else None
            tables[n] = (table_keys, probs, bows)
    vocab = {c: i + 3 for i, c in enumerate(chars)}
    return ProbingCharLM(vocab, np.asarray(p1, dtype=np.float64),
                         np.asarray(bow1, dtype=np.float64), tables, order)
