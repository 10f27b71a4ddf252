"""Column-level functions.

- ``temporal``   X1–X9: calendar + cyclical features (weekday trap handled).
- ``interact``   X10–X14: interaction, clipped-demand, epsilon-divide, log1p.
- ``text``       LLM-pipeline text analysis: tokenize, stats, lang-id,
                 quality score, fingerprints, winnowing.
- ``dedup``      exact/minhash/simhash/jaccard dedup + cluster resolution.
- ``similarity`` vector similarity: cosine top-k, SRP-LSH, IVF.
- ``multimodal`` opaque-binary media columns (mapInPandas plumbing).

The REFERENCE surface (SURVEY.md §2.12) uses zero Python UDFs — it is all
JVM-side Column expressions. The LLM-pipeline extensions add Arrow-batched
pandas variants ONLY where they beat interpreted higher-order functions
(winnowing, blocked cosine) or where bytes are intrinsically opaque
(multimodal) — each alongside, or pinned against, an expression form.
"""

from big_data_project_datapipeline_spark.functions.temporal import (
    add_temporal_features,
    add_cyclical_features,
)
from big_data_project_datapipeline_spark.functions.interact import (
    add_interaction_features,
    add_log_transforms,
)

__all__ = [
    "add_temporal_features",
    "add_cyclical_features",
    "add_interaction_features",
    "add_log_transforms",
]
