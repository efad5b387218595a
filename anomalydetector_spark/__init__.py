"""anomalydetector_spark — a PySpark-native schema + constraint validation
engine over Common-Crawl-style web-page tables, whose distribution-drift
checks use the Spectral-Residual (SR) saliency algorithm of the reference
repo (microsoft/anomalydetector, Ren et al. KDD 2019).

Layout:
    kernel/     pure-numpy SR + boundary math (no Spark imports)
    operators/  constraint checks, uniqueness, referential, dedup,
                similarity, text analysis (DataFrame programs)
    sources/    table readers (parquet now, Iceberg when available)
    functions/  column-expression helpers
    plans/      check-suite compiler (single-scan stats planning)
    streaming/  incremental / windowed variants
    drift.py    stat series + SR drift scoring via applyInPandas
    engine.py   check-suite runner producing verdicts + violations
    manifest.py checkpoint/resume manifest
    datagen.py  deterministic synthetic pages table
"""

__version__ = "0.1.0"
