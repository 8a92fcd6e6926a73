"""photohive_spark — a from-scratch PySpark-native point-in-time
feature-engineering engine with the DSP capabilities of
Joseph-93/PhotoHive_DSP, recast for tokenized training sequences.

Modules:
- config:     hyperparameters (reference defaults) + Spark scale knobs
- kernels:    pure-numpy DSP feature kernels (Spark-free)
- tokenize:   deterministic tokenizer (documents -> tokens table)
- engine:     DataFrame feature-extraction pipeline (mapInArrow)
- pit:        point-in-time ops (as-of join, backfill, lag/lead, sessionize)
- skew:       salting / repartition helpers
- dedup:      exact + MinHash-LSH + SimHash + n-gram Jaccard dedup
- similarity: embedding cosine top-k (brute force + LSH-bucketed)
- text:       language-ID, quality scoring, token counting, fingerprinting
- multimodal: binary-column image/audio/video decode + feature reports
              (in-package PNG, JPEG, GIF, BMP and WAV codecs)
- lineage:    per-partition metrics + checkpoint/resume
- zipimport_cache: per-task import-cache fix for Spark Python workers,
              installed on import (no-op outside workers and on 3.13+)
"""

from . import zipimport_cache
from .config import DEFAULT_CONFIG, VOCAB_SIZE, EngineConfig  # noqa: F401

zipimport_cache.install()
