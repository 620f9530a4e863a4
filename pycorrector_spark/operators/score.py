"""The expensive Arrow-batched stage: LM perplexity, error detection,
correction, PII scrub — one mapInPandas pass.

Executor pattern: the model + dictionaries are built ONCE on the driver
(deterministic), shipped as a broadcast, and materialized into a
per-Python-worker singleton before the first batch (the reference's lazy
``check_detector_initialized`` — detector.py:152-154 — re-expressed for
executors). The cheap layers read the batch as one codepoint buffer:
``signals_frame`` takes the char-class counts, stripped length and word
count from class masks and prefix sums, ``scrub_series`` runs each PII
rule only on the texts that hold its trigger, and ``ppl_batch`` encodes
the joined texts once and probes each distinct LM gram of the batch once.
The batch's zh documents are detected and corrected in one
``Corrector.detect_and_correct_batch`` call: one LM-window and MAD pass
per side (correct, then the fragments ``uniform()`` changes for detect)
over every fragment of the batch, and the candidate re-rank in rounds, one
flat LM probe per round. Its other gate-passing documents are
spell-corrected in one ``EnSpellCorrector.correct_batch`` call, which
resolves each distinct English word of the batch once. The serial oracle
(``golden.golden_row``) runs the one-document ``detect``/``correct``
paths instead; both agree bitwise. The keep/drop decision is one
vectorized ``np.select`` over the batch.

Task end: callers run the stage through ``stage.python_stage``, which
drops the worker's cached zipimporters when a task finishes, so the next
task's ``importlib.invalidate_caches()`` (pyspark worker setup) does not
re-read pyspark.zip and the spark-core jar once per cached finder.

Cheap-gate pushdown: rows that already failed the codegen'd heuristics
(len/symbol/repetition/lang) skip the LM + correction entirely — the
document is dropped by an earlier rule, so the expensive signals are null
(the serial oracle does exactly the same, so outputs stay identical).
"""

from __future__ import annotations

import warnings

import numpy as np
import pandas as pd

from ..config import DEFAULT_CONFIG, PipelineConfig, keep_decisions
# the scalar rule stays reachable as score.keep_decision: perfbench's
# traced run wraps this name in a span
from ..config import keep_decision  # noqa: F401
from ..dicts import CONFUSION_DICT, CONFUSION_EN, SIMILAR_CHARS, STOPWORDS_ZH
from ..fixtures import lm_corpus, word_freq_en, word_freq_zh
from ..lm.model import CharNgramLM, train_char_lm
from ..refimpl.core import Corrector, EnSpellCorrector
from ..textops import scrub_series, uniform

# ---------------------------------------------------------------------------
# Artifacts: everything the executors need, as one picklable broadcast value
# ---------------------------------------------------------------------------


class Artifacts:
    """Driver-built, broadcast-shipped model + dictionaries."""

    def __init__(self, lm: CharNgramLM, word_freq, confusion, similar, stopwords,
                 en_word_freq, en_confusion, cfg: PipelineConfig, en_index=None,
                 proper=None, pinyin_classes=None, char_universe=None,
                 pinyin_readings=None, pinyin_canonical=None):
        self.lm = lm
        self.word_freq = word_freq
        self.confusion = confusion
        self.similar = similar
        self.stopwords = stopwords
        self.en_word_freq = en_word_freq
        self.en_confusion = en_confusion
        self.cfg = cfg
        self.en_index = en_index
        self.proper = proper  # optional ProperCorrector (detection stage 2)
        self.pinyin_classes = pinyin_classes  # C1 same-pinyin class map (legacy)
        self.char_universe = char_universe    # C1 replacement-char pool
        self.pinyin_readings = pinyin_readings  # C1 polyphone-correct readings
        self.pinyin_canonical = pinyin_canonical  # char -> single toneless reading
        # stable identity for the worker cache: survives any pyspark
        # rename of Broadcast._path (the fallback key below)
        import uuid

        self.token = uuid.uuid4().hex


def build_artifacts(cfg: PipelineConfig = DEFAULT_CONFIG) -> Artifacts:
    """Deterministic: LM trained from the fixture corpus, dicts embedded.
    At production scale this loads ARPA/dict files staged via --files."""
    from ..symspell import DeletesIndex

    en_wf = word_freq_en()
    return Artifacts(
        lm=train_char_lm(lm_corpus()),
        word_freq=word_freq_zh(),
        confusion=dict(CONFUSION_DICT),
        similar={k: set(v) for k, v in SIMILAR_CHARS.items()},
        stopwords=set(STOPWORDS_ZH),
        en_word_freq=en_wf,
        en_confusion=dict(CONFUSION_EN),
        cfg=cfg,
        # deletes index built once here on the driver; ships as flat numpy
        # arrays inside the broadcast (memcpy unpickle per worker)
        en_index=DeletesIndex(sorted(en_wf)),
    )


def build_full_artifacts(cfg: PipelineConfig = DEFAULT_CONFIG) -> Artifacts:
    """Artifacts with REFERENCE-SCALE dimensions loaded from the public
    data files (dictio.py loaders, S3-S9): the char confusion set becomes
    the real same_pinyin (~3.3k rows) ∪ same_stroke (~2.5k rows) union —
    the exact composition the reference uses (corrector.py:124-140) — the
    English dict the real 30k-word en.json.gz, stopwords the real 1.4k
    list, and proper-noun correction runs against person+place+proper
    names (~58k) with the 12k-char stroke table. Files absent -> fallback
    to the embedded toy dims (the result equals build_artifacts() plus an
    empty proper corrector), announced by one UserWarning.

    Build cost is driver-side one-time (~7 s: SymSpell deletes index over
    30k words + 58k-name positional index); ships as one broadcast.
    """
    from ..dictio import data_dir, full_dims
    from ..refimpl.proper import ProperCorrector
    from ..symspell import DeletesIndex

    if data_dir() is None:
        warnings.warn(
            "reference dims not found: using the embedded toy dims; set "
            "PYCORRECTOR_SPARK_DATA_DIR to the reference data directory",
            UserWarning,
            stacklevel=2,
        )
    dims = full_dims()
    base = build_artifacts(cfg)

    similar = {k: set(v) for k, v in base.similar.items()}
    for table in (dims["same_pinyin"], dims["same_stroke"]):
        for ch, group in table.items():
            similar.setdefault(ch, set()).update(group)

    en_wf = dict(dims["en_word_freq"]) or dict(base.en_word_freq)
    # fixture vocabulary stays known so clean fixture docs are never
    # "corrected" into dictionary words
    for w, c in base.en_word_freq.items():
        en_wf.setdefault(w, c)

    # reference wiring (detector.py:133-150): person/place names and
    # stopwords merge into the WORD-FREQ dict (segmentation vocabulary +
    # OOV whitelist); the ProperCorrector gets ONLY proper_name.txt's
    # curated idiom/term list — feeding it the 58k name lists makes it
    # force-rewrite common words into person names the reference never
    # would (observed: 老人->老几, 高兴->妇好-class rewrites)
    word_freq = dict(base.word_freq)
    word_freq.update(dims["person_names"])
    word_freq.update(dims["place_names"])
    for w in dims["stopwords"]:
        word_freq.setdefault(w, 1)

    canonical = dims.get("pinyin_canonical") or None
    proper = ProperCorrector(
        dims["proper_names"], stroke_codes=dims["stroke_codes"] or None,
        pinyin_table=canonical,
    ) if dims["proper_names"] else None

    from ..dictio import pinyin_reading_map

    readings = pinyin_reading_map()

    return Artifacts(
        lm=base.lm,
        word_freq=word_freq,
        confusion=base.confusion,
        similar=similar,
        stopwords=set(base.stopwords) | dims["stopwords"],
        en_word_freq=en_wf,
        en_confusion=base.en_confusion,
        cfg=cfg,
        en_index=DeletesIndex(sorted(en_wf)),
        proper=proper,
        # C1 at reference structure: polyphone-correct per-char reading
        # SETS from the real same_pinyin table (no transitive merge —
        # dictio.pinyin_reading_map) + the 3,502-char common set as the
        # replacement universe (corrector.py:152-161); None fallbacks
        # keep the embedded-dim behavior when files are absent
        pinyin_readings=readings or None,
        # C1 at reference fidelity: the canonical single-reading table
        # (pinyin_dim.char_pinyin_table, lazy_pinyin role) gates the
        # same-pinyin filter by EQUALITY for covered chars; the reading
        # SETS above remain the fallback for uncovered chars
        pinyin_canonical=canonical,
        char_universe=sorted(dims["common_chars"]) or None,
    )


import functools


@functools.lru_cache(maxsize=None)
def default_artifacts(cfg: PipelineConfig = DEFAULT_CONFIG) -> Artifacts:
    """The PRODUCTION default artifact bundle: reference-scale dims
    (build_full_artifacts — graceful fallback to the embedded toys when
    the public data files are absent), built once per process per config
    (PipelineConfig is a frozen dataclass, so it is a valid cache key).

    run_quality_pipeline uses this when no broadcast is passed, so the
    production entrypoint corrects against the real ~58k-name word-freq
    dict and 30k-word English dict rather than the toy dims (round-2
    verdict item 1)."""
    return build_full_artifacts(cfg)


# per-Python-worker singleton (one Corrector per executor process, amortized
# over all Arrow batches — NOT per batch, NOT per row)
_WORKER_CACHE = {}
# two artifact flavors (base + full) may alternate within one application
# (driver-gate runs mix en_spell with en_spell_full etc.); keep one worker
# per flavor alive instead of thrashing the Corrector + warmed spell/sim
# caches on every flavor switch
_WORKER_CACHE_MAX = 2


def make_workers(art: Artifacts):
    """(zh Corrector, en EnSpellCorrector) from an Artifacts bundle — the
    ONE construction path, shared by the executor singleton below and by
    driver-side oracle precompute so both build identical correctors."""
    zh = Corrector(
        lm=art.lm,
        word_freq=art.word_freq,
        confusion_dict=art.confusion,
        stopwords=art.stopwords,
        similar_chars=art.similar,
        ppl_threshold=art.cfg.ppl_rerank_threshold,
        proper=art.proper,
        pinyin_classes=art.pinyin_classes,
        char_universe=art.char_universe,
        pinyin_readings=art.pinyin_readings,
        pinyin_canonical=art.pinyin_canonical,
    )
    en = EnSpellCorrector(art.en_word_freq, art.en_confusion, index=art.en_index)
    return zh, en


def _get_workers(bc):
    # key on the STABLE broadcast identity (its spill path on workers): the
    # Broadcast wrapper object is re-deserialized with every task closure,
    # so keying on python id() would rebuild the Corrector (and drop the
    # spell-cache) once per task. If a future pyspark renames _path, the
    # fallback is the Artifacts' own uuid token — that costs one Artifacts
    # unpickle per task (bc.value), but the expensive Corrector/spell-cache
    # build still amortizes across tasks instead of silently regressing.
    key = getattr(bc, "_path", None)
    if key is None:
        key = bc.value.token
    if key not in _WORKER_CACHE:
        art: Artifacts = bc.value
        zh, en = make_workers(art)
        # FIFO-evict beyond the flavor budget (dict preserves insertion
        # order) — bounds worker memory to _WORKER_CACHE_MAX generations
        # while letting base/full flavors coexist within one application
        while len(_WORKER_CACHE) >= _WORKER_CACHE_MAX:
            _WORKER_CACHE.pop(next(iter(_WORKER_CACHE)))
        _WORKER_CACHE[key] = (art, zh, en)
    return _WORKER_CACHE[key]


# ---------------------------------------------------------------------------
# Batch processing (shared by the Spark stage and unit tests)
# ---------------------------------------------------------------------------

# explicit (name, ddl) list — the one source of truth for computed output
# columns; the DDL strings and the input-collision exclusion are both
# derived from it (never re-parse a DDL string to recover names)
SIGNAL_COLS = [
    ("n_chars", "long"), ("n_words", "long"), ("symbol_ratio", "double"),
    ("rep_ratio", "double"), ("len_ok", "boolean"), ("lang_id", "string"),
    ("lang_conf", "double"),
]
SCORE_COLS = SIGNAL_COLS + [
    ("ppl", "double"), ("n_errors", "int"), ("error_density", "double"),
    ("errors", "array<struct<word:string,begin:int,end:int,type:string>>"),
    ("corrected_text", "string"),
    ("corrections", "array<struct<error_word:string,correct_word:string,pos:int>>"),
    ("scrubbed_text", "string"), ("keep", "boolean"), ("drop_reason", "string"),
]
COMPUTED_COLS = [name for name, _ in SCORE_COLS]

SIGNAL_SCHEMA = ", ".join(f"{n} {t}" for n, t in SIGNAL_COLS)
SCORE_SCHEMA_SUFFIX = ", ".join(f"{n} {t}" for n, t in SCORE_COLS)


def process_batch(pdf: pd.DataFrame, zh: Corrector, en: EnSpellCorrector,
                  cfg: PipelineConfig) -> pd.DataFrame:
    """Compute quality signals + expensive signals + decision for one Arrow
    batch. Expects a `text` column; everything else passes through.

    The cheap signals (length/symbol/repetition/langid) are computed here
    too, by ``signals_frame`` over the batch's codepoint buffer; the
    property tests hold them equal to the scalar oracle's regex counts.
    """
    from ..textops import signals_frame

    n = len(pdf)
    text = pdf["text"].astype(object)
    texts = text.tolist()
    sig = signals_frame(pdf["text"], cfg.min_len, cfg.max_len)
    # input tables may carry columns colliding with computed signal names
    # (e.g. an upstream n_chars); the computed values win — a duplicate
    # label would make pdf["n_chars"] a 2-column frame and break the
    # decision math below
    pdf = pd.concat([pdf.drop(columns=sig.columns, errors="ignore"), sig], axis=1)
    lang = pdf["lang_id"].to_numpy(dtype=object)

    cheap_pass = (
        pdf["len_ok"].to_numpy()
        & (pdf["symbol_ratio"].to_numpy() <= cfg.max_symbol_ratio)
        & (pdf["rep_ratio"].to_numpy() <= cfg.max_rep_ratio)
        & np.isin(lang, cfg.allowed_langs)
    )

    ppl = np.full(n, np.nan)
    n_errors = np.full(n, -1, dtype=np.int64)
    errors_col = [None] * n
    corrected_col = [None] * n
    corrections_col = [None] * n

    idx_pass = np.where(cheap_pass)[0]
    if len(idx_pass):
        # vectorized ppl over ALL passing docs in one flat probe pass
        uni_texts = [uniform(texts[i]) for i in idx_pass.tolist()]
        ppl[idx_pass] = zh.lm.ppl_batch(uni_texts)

    is_zh = lang[idx_pass] == "zh"
    zh_rows, en_rows = idx_pass[is_zh], idx_pass[~is_zh]
    outs = zh.detect_and_correct_batch([texts[i] for i in zh_rows.tolist()])
    for res in en.correct_batch([texts[i] for i in en_rows.tolist()]):
        outs.append(([[w, p, p + len(w), "en_spell"] for (w, c, p) in res["errors"]], res))

    for i, (dets, res) in zip(np.concatenate([zh_rows, en_rows]), outs):
        errors_col[i] = [
            {"word": w, "begin": int(b), "end": int(e), "type": ty}
            for (w, b, e, ty) in dets
        ]
        n_errors[i] = len(dets)
        corrected_col[i] = res["target"]
        corrections_col[i] = [
            {"error_word": w, "correct_word": c, "pos": int(p)}
            for (w, c, p) in res["errors"]
        ]

    n_chars = pdf["n_chars"].to_numpy()
    density = np.where(
        n_errors >= 0,
        n_errors / np.maximum(n_chars, 1),
        0.0,
    )

    keep, reasons = keep_decisions(
        pdf["len_ok"].to_numpy(), pdf["symbol_ratio"].to_numpy(),
        pdf["rep_ratio"].to_numpy(), lang, ppl, density, cfg,
    )

    out = pdf.copy()
    out["ppl"] = [None if np.isnan(p) else float(p) for p in ppl]
    out["n_errors"] = [None if v < 0 else int(v) for v in n_errors]
    out["error_density"] = density
    out["errors"] = errors_col
    out["corrected_text"] = corrected_col
    out["corrections"] = corrections_col
    out["scrubbed_text"] = scrub_series(text).astype(object)
    out["keep"] = keep
    out["drop_reason"] = reasons
    return out


def make_score_stage(bc, input_fields):
    """Build (python_stage function, output schema DDL) for the one-pass
    stage: signals + gate + LM + detect/correct + scrub + decision.

    ``input_fields``: list of (name, ddl_type) for the input columns, as
    ``pipeline.stage_for_scoring`` returns them: no input column is named
    like one of COMPUTED_COLS, which the stage computes and appends."""
    schema = ", ".join(f"{n} {t}" for n, t in input_fields) + ", " + SCORE_SCHEMA_SUFFIX

    def fn(iterator):
        art, zh, en = _get_workers(bc)
        for pdf in iterator:
            yield process_batch(pdf, zh, en, art.cfg)

    return fn, schema

