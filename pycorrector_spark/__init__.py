"""pycorrector_spark — a PySpark-native web-text quality-filter engine.

Re-expresses the scoring machinery of shibing624/pycorrector (char n-gram
LM perplexity, confusion-set + rule-based error detection, regex
normalization) as vectorized Arrow-batched stages over Common-Crawl-style
doc tables, plus the training-data-pipeline operators a 100 TB corpus
needs: dedup (exact/MinHash-LSH/Jaccard), language ID, quality scoring,
fingerprinting.
"""

__version__ = "0.1.0"

# Public API surface (mirrors the reference's pycorrector/__init__.py:8-28
# exports: Corrector/Detector/ConfusionCorrector/ProperCorrector/
# EnSpellCorrector, t2s/s2t, homophone + error helpers) — lazy imports so
# `import pycorrector_spark` stays cheap on executors.
__all__ = [
    "Corrector", "Detector", "ConfusionCorrector", "EnSpellCorrector",
    "ProperCorrector", "get_errors", "get_segment_errors",
    "traditional2simplified", "simplified2traditional",
    "traditional2simplified_full",
    "run_quality_pipeline", "run_with_resume", "eval_corrector",
]


def __getattr__(name):
    from importlib import import_module

    mapping = {
        "Corrector": ("pycorrector_spark.refimpl.core", "Corrector"),
        "Detector": ("pycorrector_spark.refimpl.core", "Detector"),
        "ConfusionCorrector": ("pycorrector_spark.refimpl.core", "ConfusionCorrector"),
        "EnSpellCorrector": ("pycorrector_spark.refimpl.core", "EnSpellCorrector"),
        "get_errors": ("pycorrector_spark.refimpl.core", "get_errors"),
        "get_segment_errors": ("pycorrector_spark.refimpl.core", "get_segment_errors"),
        "ProperCorrector": ("pycorrector_spark.refimpl.proper", "ProperCorrector"),
        "traditional2simplified": ("pycorrector_spark.textops", "t2s"),
        "simplified2traditional": ("pycorrector_spark.textops", "s2t"),
        "traditional2simplified_full": ("pycorrector_spark.textops", "t2s_full"),
        "run_quality_pipeline": ("pycorrector_spark.pipeline", "run_quality_pipeline"),
        "run_with_resume": ("pycorrector_spark.pipeline", "run_with_resume"),
        "eval_corrector": ("pycorrector_spark.evaluate", "eval_corrector"),
    }
    if name in mapping:
        mod, attr = mapping[name]
        return getattr(import_module(mod), attr)
    raise AttributeError(f"module 'pycorrector_spark' has no attribute {name!r}")
