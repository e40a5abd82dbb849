"""Feature-hashed text embeddings (the hashing trick).

The similarity/ANN family (``operators/similarity.py``) consumes an
``array<float>`` column; real curation corpora start from TEXT. This
module closes the gap deterministically and without any model file:
the signed feature-hashing embedding of Weinberger et al. 2009 — each
token hashes to one of ``dim`` buckets with a ±1 sign, signed counts
accumulate, the vector L2-normalizes. Cosine between such vectors is
an unbiased estimator of token-multiset cosine, which is exactly the
signal embedding-near-dup and coarse ANN grouping need; at 100 TB it
costs one Arrow pass, no vocabulary, no shuffle, no model distribution
problem.

Hashing is the md5-portable scheme (NOTES.md), so the whole embedding
is replayable in ANSI SQL for value-level oracles
(``__spark_entry__._hashed_emb_sql``). One pandas UDF: hashlib + a
numpy accumulate per batch.

The reference has no embedding path (it ships texts to LLM APIs);
brief-mandated LLM-pipeline tooling like the ANN family itself.
"""
from __future__ import annotations

import pandas as pd  # module-top: pandas_udf hint resolution (NOTES.md)
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

#: token pattern shared with the SQL twin (RE2 ∩ Python re)
TOKEN_RE = "[a-z0-9]+"


def hashed_embedding(text: Column, dim: int = 64, seed: str = "emb") -> Column:
    """``array<double>`` L2-normalized signed-count embedding of a
    text column: each token's md5 halves give bucket = h1 mod dim and
    sign = +1/−1 from h2 parity. All-zero token-free texts (and NULL)
    embed to the zero vector (normalization guards the 0/0)."""
    import hashlib
    import re as _re

    import numpy as np

    pat = _re.compile(TOKEN_RE)
    sb = ("|" + seed).encode()

    def one(t: str | None) -> list[float]:
        v = np.zeros(dim, dtype=np.float64)
        if t:
            for tok in pat.findall(t.lower()):
                h = hashlib.md5(tok.encode() + sb).hexdigest()
                b = int(h[:15], 16) % dim
                s = 1.0 if int(h[16:31], 16) % 2 == 0 else -1.0
                v[b] += s
        n = float(np.sqrt((v * v).sum()))
        if n > 0:
            v /= n
        return [float(x) for x in v]

    @F.pandas_udf("array<double>")
    def _emb(s: pd.Series) -> pd.Series:
        return pd.Series([one(t) for t in s])

    return _emb(text)


def embed_documents(
    df: DataFrame,
    text_col: str = "text",
    key: str = "doc_id",
    dim: int = 64,
    seed: str = "emb",
    out_col: str = "vec",
) -> DataFrame:
    """(key, vec) frame ready for the similarity family
    (``cosine_near_dups``, ``brute_force_topk``, ``ann_topk_*``,
    ``quantize_embeddings``)."""
    return df.select(
        key, hashed_embedding(F.col(text_col), dim, seed).alias(out_col)
    )
