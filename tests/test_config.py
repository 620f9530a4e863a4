"""The keep/drop rule: the column form used by the score stage against the
scalar form used by the serial oracle."""

import itertools

import numpy as np
import pytest

from pycorrector_spark.config import (
    DEFAULT_CONFIG,
    PipelineConfig,
    keep_decision,
    keep_decisions,
)


def _around(x):
    """Values below, exactly at and just above a threshold."""
    return [x / 2, x, float(np.nextafter(x, np.inf))]


@pytest.mark.parametrize("cfg", [
    DEFAULT_CONFIG,
    PipelineConfig(max_symbol_ratio=0.1, max_rep_ratio=0.9, max_ppl=10.0,
                   max_error_density=0.0, allowed_langs=("zh",)),
])
def test_keep_decisions_matches_scalar_rule(cfg):
    grid = list(itertools.product(
        [True, False],
        _around(cfg.max_symbol_ratio),
        _around(cfg.max_rep_ratio),
        ["zh", "en", "fr", ""],
        _around(cfg.max_ppl) + [np.nan, 0.0],
        _around(cfg.max_error_density) if cfg.max_error_density else [0.0, 1e-9],
    ))
    cols = [np.array(c) for c in zip(*grid)]
    cols[3] = np.array(cols[3], dtype=object)
    keep, reasons = keep_decisions(*cols, cfg)
    assert keep.dtype == bool and len(keep) == len(reasons) == len(grid)
    for row, k, r in zip(grid, keep, reasons):
        len_ok, sym, rep, lang, ppl, dens = row
        want = keep_decision(len_ok, sym, rep, lang, 0.0 if np.isnan(ppl) else ppl, dens, cfg)
        assert (bool(k), r) == want, row
    # every rule fires somewhere in the grid, each in its own right
    assert set(reasons) == {"", "len", "symbol", "repetition", "lang", "ppl", "errors"}


def test_keep_decisions_empty():
    keep, reasons = keep_decisions(*(np.array([]) for _ in range(6)))
    assert len(keep) == 0 and reasons == []
