"""Public Column-expression library: the engine's reusable scalar functions.

Everything here is a pure ``pyspark.sql.Column`` expression (JVM-side,
whole-stage-codegen-friendly — no Python UDFs), reusable outside the packaged
operators: compose them in your own ``select``/``withColumn`` pipelines.

Grouped by domain:

- text:       ``tokens``, ``token_count``, ``subword_count``, ``shingles``,
              ``stopword_ratio``, ``punct_ratio``, ``quality_score``,
              ``lang_id``, ``fingerprint``
- tokenizer:  ``bpe_tokens``, ``bpe_token_count`` (trained-merge-table BPE
              as pure replace-chain expressions; small vocabs — the
              production apply is operators.text.doc_token_counts with
              operators.bpe.bpe_segmenter)
- similarity: ``dot``, ``norm``, ``cosine``
- sets:       ``jaccard``
- hashing:    ``minhash_signatures``, ``lsh_bucket``, ``simhash16``
- selection:  ``dsir_grams``, ``dsir_bucket``, ``dsir_gumbel`` (hashed
              n-gram featurization + content-stable resampling noise —
              operators.dsir), ``bloom_positions``, ``bloom_probe``
              (membership-filter bit positions and the pure-projection
              probe over a packed bitmap literal — operators.bloom)
- layout:     ``zorder_key`` (Morton interleave for multi-column skipping)

The reference engine exposes no user-function surface (its transforms are
fixed topology stages — SignalTopology.kt); this library is the Spark-native
generalization: the same expressions its pipelines use, importable à la
carte.
"""

from __future__ import annotations

from ..operators.dedup import (
    jaccard_expr as jaccard,
)
from ..operators.dedup import (
    lsh_bands_expr as minhash_lsh_bands,
)
from ..operators.dedup import (
    minhash_signature_exprs as minhash_signatures,
)
from ..operators.dedup import (
    simhash16_expr as simhash16,
)
from ..operators.text import (
    hashed_classifier_logit_expr as classifier_logit,
)
from ..operators.similarity import (
    cosine_expr as cosine,
)
from ..operators.similarity import (
    dot_expr as dot,
)
from ..operators.similarity import (
    lsh_bucket_expr as lsh_bucket,
)
from ..operators.similarity import (
    norm_expr as norm,
)
from ..operators.text import (
    fingerprint_expr as fingerprint,
)
from ..operators.text import (
    lang_id_expr as lang_id,
)
from ..operators.text import (
    punct_ratio_expr as punct_ratio,
)
from ..operators.text import (
    quality_score_expr as quality_score,
)
from ..operators.text import (
    shingles_expr as shingles,
)
from ..operators.text import (
    stopword_ratio_expr as stopword_ratio,
)
from ..operators.text import (
    subword_count_expr as subword_count,
)
from ..operators.text import (
    token_count_expr as token_count,
)
from ..operators.text import (
    tokens_expr as tokens,
)
from ..operators.bpe import (
    bpe_token_count_expr as bpe_token_count,
)
from ..operators.bpe import (
    bpe_tokens_expr as bpe_tokens,
)
from ..operators.bloom import (
    bloom_positions_expr as bloom_positions,
)
from ..operators.bloom import (
    bloom_probe_expr as bloom_probe,
)
from ..operators.dsir import (
    bucket_expr as dsir_bucket,
)
from ..operators.dsir import (
    grams_expr as dsir_grams,
)
from ..operators.dsir import (
    gumbel_expr as dsir_gumbel,
)
from ..sources.bucketing import (
    zorder_key_expr as zorder_key,
)

__all__ = [
    "bloom_positions",
    "bloom_probe",
    "bpe_token_count",
    "bpe_tokens",
    "dsir_bucket",
    "dsir_grams",
    "dsir_gumbel",
    "classifier_logit",
    "cosine",
    "dot",
    "fingerprint",
    "jaccard",
    "lang_id",
    "lsh_bucket",
    "minhash_lsh_bands",
    "minhash_signatures",
    "norm",
    "punct_ratio",
    "quality_score",
    "shingles",
    "simhash16",
    "stopword_ratio",
    "subword_count",
    "token_count",
    "tokens",
    "zorder_key",
]
