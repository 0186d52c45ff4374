"""PySpark-native main-content extraction engine.

A brand-new, Spark-first rebuild of the capabilities of
Adm-Silvan/OCR-Processing-Pipeline (reference read-only at /root/reference):
HTML boilerplate stripping + PDF/layout parsing in vectorized Arrow UDF
stages, deterministic sentence/paragraph chunking, gazetteer/regex NER with
fuzzy entity linking, lineage/checkpoint resumability, plus the
training-data-pipeline operators (dedup families, similarity search,
text analysis, multimodal plumbing) a 100 TB corpus job needs.

Layout:
    extractor/   pure-Python deterministic semantics (the oracle) — no Spark
    pipeline/    Spark stages wiring the oracle into mapInArrow
    operators/   generic large-scale operators (dedup, ANN, as-of, top-k, ...)
    sources/     synthetic corpus generator
    functions/   scalar helpers (fuzzy ratios, text functions)
"""

__version__ = "0.1.0"
