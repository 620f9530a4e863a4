"""Pipeline configuration + the FROZEN keep/drop rule.

All thresholds of the reference surface as config here
(reference extension points: detector.py:220-266, corrector.py:223).
The keep/drop rule is the document-level decision derived from the
reference machinery's signals (per BASELINE.json north_star): language id,
heuristic quality, LM perplexity, detected-error density.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from .textops import MAX_LEN as _TEXTOPS_MAX_LEN
from .textops import MIN_LEN as _TEXTOPS_MIN_LEN


@dataclass(frozen=True)
class PipelineConfig:
    # detector / corrector (reference defaults)
    mad_ratio: float = 0.6745          # detector.py:331
    mad_threshold: float = 2.0         # detector.py:331
    # The reference default is 57.0 (corrector.py:223,264), calibrated to
    # pretrained KenLM's ppl scale (hundreds-thousands, ~5-20% relative).
    # Our fixture LM is trained on the clean corpus itself, so ppls sit in
    # 1-10; 1.0 is the equivalent relative operating point (a 5.0 window
    # would be ~400% relative and swallow real corrections). The constant
    # is config, not code.
    ppl_rerank_threshold: float = 1.0
    enable_char_error: bool = True
    enable_word_error: bool = True

    # keep/drop thresholds; length bounds default to the textops
    # constants and flow from HERE into the scalar/vectorized signal
    # functions and the generated oracle SQL (one wired source of truth)
    min_len: int = _TEXTOPS_MIN_LEN
    max_len: int = _TEXTOPS_MAX_LEN
    max_symbol_ratio: float = 0.3
    max_rep_ratio: float = 0.6
    max_ppl: float = 80_000.0
    max_error_density: float = 0.05    # detected errors per char
    allowed_langs: tuple = ("zh", "en")

    # scale knobs
    shuffle_partitions: int = 32       # not read by the pipeline; perfbench's traced run uses it
    salt_hot_host_threshold: int = 0   # >0 enables salting when a host
                                       # exceeds this row count per partition


DEFAULT_CONFIG = PipelineConfig()

DROP_REASONS = [
    "len",          # too short / too long
    "symbol",       # symbol_ratio > max
    "repetition",   # rep_ratio > max
    "lang",         # lang_id not allowed
    "ppl",          # perplexity > max
    "errors",       # error density > max
]


def keep_decision(
    len_ok: bool,
    symbol_ratio: float,
    rep_ratio: float,
    lang_id: str,
    ppl: float,
    error_density: float,
    cfg: PipelineConfig = DEFAULT_CONFIG,
):
    """Frozen rule -> (keep: bool, drop_reason: str). First failing rule wins.

    Scalar form (the serial oracle, refimpl/golden.py); the score stage
    applies the same rule to whole columns with ``keep_decisions``.
    """
    if not len_ok:
        return False, "len"
    if symbol_ratio > cfg.max_symbol_ratio:
        return False, "symbol"
    if rep_ratio > cfg.max_rep_ratio:
        return False, "repetition"
    if lang_id not in cfg.allowed_langs:
        return False, "lang"
    if ppl > cfg.max_ppl:
        return False, "ppl"
    if error_density > cfg.max_error_density:
        return False, "errors"
    return True, ""


def keep_decisions(len_ok, symbol_ratio, rep_ratio, lang_id, ppl, error_density,
                   cfg: PipelineConfig = DEFAULT_CONFIG):
    """Column form of ``keep_decision``: numpy arrays in, (keep bool array,
    drop_reason list) out. One ``np.select`` over the same rules in the
    same first-failing order; a NaN ppl (no ppl computed) counts as 0.0."""
    ppl = np.asarray(ppl, dtype=np.float64)
    failing = [
        ~np.asarray(len_ok, dtype=bool),
        np.asarray(symbol_ratio) > cfg.max_symbol_ratio,
        np.asarray(rep_ratio) > cfg.max_rep_ratio,
        ~np.isin(np.asarray(lang_id, dtype=object), cfg.allowed_langs),
        np.where(np.isnan(ppl), 0.0, ppl) > cfg.max_ppl,
        np.asarray(error_density) > cfg.max_error_density,
    ]
    reasons = np.select(failing, DROP_REASONS, default="")
    return reasons == "", reasons.tolist()
