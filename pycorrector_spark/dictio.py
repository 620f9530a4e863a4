"""File-format loaders for the reference's dictionary dimensions (S3-S9).

Re-expresses the parsing semantics of the reference's loaders (cited per
function; behavior matched, code original):

- word-freq / confusion dicts:  /root/reference/pycorrector/detector.py:157-208
- set files + same-pinyin/stroke tables: corrector.py:48-109
- KV dict (stroke codes):       proper_corrector.py:38-60
- gzip-JSON English dict:       en_spell_corrector.py:44-56

All loaders are DRIVER-side: dictionaries load once, ship to executors as
broadcasts (SURVEY.md §2.7 — every reference "join" is a broadcast-dict
probe). At production scale the same functions read files staged via
``spark-submit --files`` or an object store mount.

``data_dir()`` resolves the reference-scale public data directory: the
``PYCORRECTOR_SPARK_DATA_DIR`` env var, else the read-only reference
checkout if present, else None — callers fall back to the embedded toy
dims in dicts.py so the package stays self-contained.
"""

from __future__ import annotations

import gzip
import json
import os
from functools import lru_cache

_REFERENCE_DATA = "/root/reference/pycorrector/data"


def data_dir() -> str | None:
    """Directory holding the reference-scale dictionary files, or None."""
    env = os.environ.get("PYCORRECTOR_SPARK_DATA_DIR")
    if env and os.path.isdir(env):
        return env
    if os.path.isdir(_REFERENCE_DATA):
        return _REFERENCE_DATA
    return None


def _lines(path: str):
    """Stripped lines with '#'-comment lines skipped (the convention shared
    by every reference dict format)."""
    with open(path, "r", encoding="utf-8") as f:
        for raw in f:
            line = raw.strip()
            if line.startswith("#"):
                continue
            yield line


def load_word_freq_dict(path: str) -> dict:
    """`word [freq]` per line, whitespace-split; missing freq defaults to 1
    (reference detector.py:157-181). Missing file -> empty dict."""
    out = {}
    if not path or not os.path.exists(path):
        return out
    for line in _lines(path):
        parts = line.split()
        if not parts:
            continue
        out[parts[0]] = int(parts[1]) if len(parts) > 1 else 1
    return out


def load_confusion_dict(path: str, word_freq: dict | None = None) -> dict:
    """`variant truth [freq]` -> {variant: truth}. Every accepted row ALSO
    registers the truth word into ``word_freq`` (freq column value, or 1
    when absent) — the reference's side effect (detector.py:183-208,
    custom confusions feed the OOV dict) applies unconditionally, not
    only when a freq column exists."""
    out = {}
    if not path or not os.path.exists(path):
        return out
    for line in _lines(path):
        parts = line.split()
        if len(parts) < 2:
            continue
        variant, truth = parts[0], parts[1]
        if word_freq is not None:
            word_freq[truth] = int(parts[2]) if len(parts) > 2 else 1
        out[variant] = truth
    return out


def load_set_file(path: str) -> set:
    """One word per line -> set (corrector.py:48-57, proper_corrector.py:25-35)."""
    out = set()
    if not path or not os.path.exists(path):
        return out
    for line in _lines(path):
        if line:
            out.add(line)
    return out


def load_same_pinyin(path: str, sep: str = "\t") -> dict:
    """`char <same-tone chars> <diff-tone chars>` (TAB-separated) ->
    {char: set(union of both columns)} (corrector.py:59-84). Rows with
    fewer than 3 columns are skipped, as in the reference."""
    out = {}
    if not path or not os.path.exists(path):
        return out
    for line in _lines(path):
        parts = line.split(sep)
        if len(parts) > 2:
            key = parts[0]
            value = set(parts[1]) | set(parts[2])
            if key and value:
                out[key] = value
    return out


def load_same_stroke(path: str, sep: str = "\t") -> dict:
    """TAB row of mutually-similar chars -> symmetric {char: set(others)}
    accumulated across rows (corrector.py:86-109)."""
    out = {}
    if not path or not os.path.exists(path):
        return out
    for line in _lines(path):
        parts = line.split(sep)
        if len(parts) > 1:
            for i, c in enumerate(parts):
                out.setdefault(c, set()).update(
                    x for j, x in enumerate(parts) if j != i
                )
    return out


def load_kv_dict(path: str) -> dict:
    """`key value` whitespace rows -> {key: value} (stroke codes;
    proper_corrector.py:38-60)."""
    out = {}
    if not path or not os.path.exists(path):
        return out
    for line in _lines(path):
        parts = line.split()
        if len(parts) >= 2:
            out[parts[0]] = parts[1]
    return out


def load_json_gz_freq(path: str, min_freq: int = 400) -> dict:
    """gzip JSON {word: freq} filtered to freq > min_freq — the English
    dictionary load (en_spell_corrector.py:44-56: "词频高于400")."""
    if not path or not os.path.exists(path):
        return {}
    with gzip.open(path, "rb") as f:
        all_freq = json.loads(f.read())
    return {w: c for w, c in all_freq.items() if c > min_freq}


# ---------------------------------------------------------------------------
# Bundled reference-scale dimensions (cached; None-safe fallbacks)
# ---------------------------------------------------------------------------


def _p(name: str) -> str | None:
    d = data_dir()
    return os.path.join(d, name) if d else None


_REFERENCE_ZH_WIKI = "/root/reference/pycorrector/utils/zh_wiki.py"


@lru_cache(maxsize=None)
def load_zh_wiki(path: str | None = None) -> dict:
    """Parse the public zh_wiki conversion tables (a Python source file of
    dict literals: zh2Hant / zh2Hans, ~8.3k lines) via ast.literal_eval —
    DATA extraction only, no code import/execution. Returns
    {t2s_chars, t2s_phrases, s2t_chars, s2t_phrases}; empty dicts when the
    file is absent (callers fall back to the embedded toy tables).

    zh2Hans maps traditional->simplified (both single chars and multi-char
    phrases, e.g. 印表機->打印机); the reference applies them via the
    langconv longest-match FSM (utils/langconv.py), re-expressed here as
    textops.longest_match_rewrite."""
    import ast

    path = path or os.environ.get("PYCORRECTOR_SPARK_ZH_WIKI") or _REFERENCE_ZH_WIKI
    out = {"t2s_chars": {}, "t2s_phrases": {}, "s2t_chars": {}, "s2t_phrases": {}}
    if not os.path.exists(path):
        return out
    with open(path, "r", encoding="utf-8") as f:
        tree = ast.parse(f.read())
    tables = {}
    for node in tree.body:
        if (
            isinstance(node, ast.Assign)
            and len(node.targets) == 1
            and isinstance(node.targets[0], ast.Name)
            and node.targets[0].id in ("zh2Hans", "zh2Hant")
        ):
            tables[node.targets[0].id] = ast.literal_eval(node.value)
    for src_name, chars_key, phrases_key in (
        ("zh2Hans", "t2s_chars", "t2s_phrases"),
        ("zh2Hant", "s2t_chars", "s2t_phrases"),
    ):
        for k, v in tables.get(src_name, {}).items():
            if k == v:
                continue  # identity rows carry no conversion
            if len(k) == 1 and len(v) == 1:
                out[chars_key][k] = v
            else:
                out[phrases_key][k] = v
    return out


def load_same_pinyin_lines(path: str, sep: str = "\t") -> list:
    """Raw same_pinyin rows as (head_char, same_tone_chars, diff_tone_chars)
    tuples, file order preserved — the line-level structure (one line = one
    reading group of the head char) that pinyin_reading_map and the
    zh_homophones_full query consume. Rows with fewer than 3 columns are
    skipped, as in the reference loader (corrector.py:59-84)."""
    out = []
    if not path or not os.path.exists(path):
        return out
    for line in _lines(path):
        parts = line.split(sep)
        if len(parts) > 2 and parts[0]:
            out.append((parts[0], parts[1], parts[2]))
    return out


@lru_cache(maxsize=None)
def pinyin_reading_map() -> dict:
    """char -> frozenset of reading-group ids, derived from the public
    same_pinyin.txt WITHOUT transitive closure: each line defines one
    toneless reading group ({head} ∪ same-tone ∪ diff-tone chars all share
    the head's toneless reading, corrector.py:59-84), and a char's reading
    set is the set of lines it appears on. Two chars 'share a pinyin' iff
    their reading sets intersect.

    This is the polyphone-correct stand-in for pypinyin's per-char
    readings (reference corrector.py:152-161): a polyphone keeps one
    entry PER reading instead of union-find-merging every co-listed
    char into one giant class (the round-2 union-find behavior,
    which over-admitted candidates through multi-hop chains like
    reading(A)~B, reading'(B)~C => A~C). Intersection over-admits only
    relative to lazy_pinyin's single most-common reading — strictly
    closer to the reference than either prior behavior. ~3.3k chars;
    empty when the data file is absent."""
    lines = load_same_pinyin_lines(_p("same_pinyin.txt"))
    readings: dict = {}
    for i, (head, same, diff) in enumerate(lines):
        for c in {head} | set(same) | set(diff):
            readings.setdefault(c, set()).add(i)
    return {c: frozenset(s) for c, s in readings.items()}


@lru_cache(maxsize=None)
def full_dims() -> dict:
    """Load every reference-scale dimension available in data_dir().

    Returns a dict of plain picklable containers (broadcast-ready):
      common_chars set[str]       (~3.5k; candidate-generation universe, C1)
      same_pinyin  dict[str,set]  (~3.5k rows)
      same_stroke  dict[str,set]  (~830 rows)
      stroke_codes dict[str,str]  (~12k; proper-noun stroke similarity)
      person_names / place_names dict[str,int]; proper_names set[str]
      en_word_freq dict[str,int]  (~30k words, freq>400)
      stopwords    set[str]
    Missing files load as empty containers, so callers merge with the
    embedded toys via `or`-style fallbacks."""
    return {
        "common_chars": load_set_file(_p("common_char_set.txt")),
        "same_pinyin": load_same_pinyin(_p("same_pinyin.txt")),
        "same_stroke": load_same_stroke(_p("same_stroke.txt")),
        "stroke_codes": load_kv_dict(_p("stroke.txt")),
        # name -> freq dicts: the reference merges BOTH into the word-freq
        # dict (tokenizer custom words + OOV whitelist, detector.py:133-140)
        # — they do NOT feed the ProperCorrector, which uses only the small
        # proper_name.txt (proper_corrector.py:63-70)
        "person_names": load_word_freq_dict(_p("person_name.txt")),
        "place_names": load_word_freq_dict(_p("place_name.txt")),
        "proper_names": load_set_file(_p("proper_name.txt")),
        "en_word_freq": load_json_gz_freq(_p("en.json.gz")),
        "stopwords": load_set_file(_p("stopwords.txt")),
        # canonical single toneless reading per char (lazy_pinyin role),
        # derived from public glibc collation data — see pinyin_dim.py;
        # {} when /usr/share/i18n/locales/iso14651_t1_pinyin is absent
        "pinyin_canonical": _pinyin_canonical(),
    }


def _pinyin_canonical() -> dict:
    from .pinyin_dim import char_pinyin_table

    return char_pinyin_table()
