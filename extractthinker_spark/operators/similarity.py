"""Similarity search over embedding columns (array<float>).

Paths (driver brief):
  * brute-force cosine top-k — exact baseline. Queries are collected
    (small side), corpus streams through one numpy scoring pass. One
    shuffle for the per-query top-k.
  * LSH-bucketed ANN — random-hyperplane signatures (deterministic,
    planes derived from md5 of (plane, dim)), candidates share a
    bucket in at least one of several hash tables, exact cosine
    re-rank within candidates. The 100 TB path: corpus-side work is a
    narrow map + bucket-key shuffle; no cross join ever materializes.
  * IVF ANN — deterministic Lloyd cells (``ann_topk_ivf``) that the
    DuckDB oracle replays, training included; probe + exact re-rank.

Exact scores are :func:`cosine`; ranked outputs go through
:func:`_per_query_topk`.

Every selection step (bucket signatures, cell assignment, probes) is
one numpy pass per Arrow batch; the DuckDB oracle replays each with
index-order folds, which agree with numpy's summation order on every
decision because the decision margins (|projection| ~1e-6, distance
gaps ~1e-5) dwarf the reordering noise (~1e-16).
"""

from __future__ import annotations

import functools
import hashlib

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window


def _stack(vs) -> np.ndarray:
    """Rows of an Arrow vector batch as one float64 matrix (float32
    input widens exactly)."""
    return np.stack([np.asarray(v, dtype=np.float64) for v in vs])


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two vector columns, one Arrow batch per call.

    The dot product and both squared norms accumulate dimension by
    dimension in float64 (``acc = acc + x_d*y_d`` in index order,
    vectorized over the pair axis): the IEEE add sequence of the
    DuckDB ``list_reduce`` twins, so scores are bit-identical, not
    merely close (NOTES.md float protocol). ``array<float>`` input
    widens to double BEFORE multiplying, as the twins'
    ``embedding::DOUBLE[]`` casts do (a ``zip_with`` lambda over two
    float arrays multiplies in float32). NULL when either vector is
    NULL, the lengths differ, or a norm is zero.

    Declared nondeterministic only so that Catalyst keeps a filter on
    the score above its projection; pushed below it, the filter gets
    its own Python node and every surviving pair is scored twice."""

    @F.pandas_udf("double")
    def _cos(av: pd.Series, bv: pd.Series) -> pd.Series:
        out = np.full(len(av), np.nan)  # NaN leaves Arrow as NULL
        by_dim: dict[int, list[int]] = {}
        for i, (x, y) in enumerate(zip(av, bv)):
            if x is not None and y is not None and len(x) == len(y):
                by_dim.setdefault(len(x), []).append(i)
        for rows in by_dim.values():
            A = _stack(av.iloc[rows])
            B = _stack(bv.iloc[rows])
            d_acc = na = nb = np.zeros(len(rows))
            for d in range(A.shape[1]):
                ad, bd = A[:, d], B[:, d]
                d_acc = d_acc + ad * bd
                na = na + ad * ad
                nb = nb + bd * bd
            with np.errstate(divide="ignore", invalid="ignore"):
                out[rows] = d_acc / (np.sqrt(na) * np.sqrt(nb))
        return pd.Series(out)

    return _cos.asNondeterministic()(a, b)


def _per_query_topk(
    scored: DataFrame, k: int, score: str = "cos_sim", rank: str = "rank"
) -> DataFrame:
    """The ``k`` best rows per ``query_id``: ``rank`` is the 1-based
    row_number by (``score`` desc, ``neighbor_id`` asc) — the tie-break
    every DuckDB twin orders by. One shuffle on query_id."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc(score), F.asc("neighbor_id")
    )
    return scored.withColumn(rank, F.row_number().over(w)).filter(
        F.col(rank) <= k
    )


def _pairs_schema(
    queries: DataFrame, corpus: DataFrame, key: str, score: str
) -> str:
    """DDL of scored (query_id, neighbor_id, ``score``) rows, the key
    types taken from each side."""
    return (
        f"query_id {dict(queries.dtypes)[key]}, "
        f"neighbor_id {dict(corpus.dtypes)[key]}, {score} double"
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    key: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine: queries ship to every corpus partition,
    scores come back as small (query_id, neighbor_id, cos) rows.

    Output: (query_id, neighbor_id, cos_sim, rank), excluding self.

    Scale/impl notes: the query side is collected to the driver — the
    same smallness bound as the broadcast crossJoin it replaces (a
    broadcast builds its relation on the driver too). Scoring is one
    mapInPandas over the corpus (narrow, no pair materialization in
    the JVM): per Arrow batch, numpy accumulates the dot product and
    norms dimension-by-dimension — ``acc = acc + x_d*y_d`` in index
    order, the EXACT left-fold IEEE sequence of :func:`cosine` and of
    the DuckDB list_reduce oracle, so cos_sim is bit-identical. Only
    scalar scores leave Python; the corpus vectors cross into Arrow
    once and no payload is shuffled — the per-query top-k shuffles
    3-scalar rows only.
    """
    q_rows = queries.select(key, vec_col).collect()
    out_schema = _pairs_schema(queries, corpus, key, "cos_sim")
    if not q_rows:
        return corpus.sparkSession.createDataFrame([], out_schema + ", rank int")
    qids = [r[0] for r in q_rows]
    Q = _stack([r[1] for r in q_rows])
    dim = Q.shape[1]
    # query norms with the same left fold (scalar accumulation order
    # over dims is what matters; one value per query)
    qn = np.zeros(len(qids), dtype=np.float64)
    for d in range(dim):
        qn = qn + Q[:, d] * Q[:, d]
    qn = np.sqrt(qn)

    def score(batches):
        qids_arr = np.asarray(qids)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = _stack(pdf[vec_col])
            n = len(pdf)
            dots = np.zeros((n, len(qids)), dtype=np.float64)
            cn = np.zeros(n, dtype=np.float64)
            for d in range(dim):
                cd = C[:, d]
                dots = dots + cd[:, None] * Q[None, :, d]
                cn = cn + cd * cd
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dots / (qn[None, :] * np.sqrt(cn)[:, None])
            yield pd.DataFrame(
                {
                    "query_id": np.tile(qids_arr, n),
                    "neighbor_id": np.repeat(pdf[key].values, len(qids)),
                    "cos_sim": cos.ravel(),
                }
            )

    scored = (
        corpus.select(key, vec_col)
        .mapInPandas(score, schema=out_schema)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", F.round("cos_sim", 6).alias("cos_sim"))
    )
    return _per_query_topk(scored, k)


def cosine_near_dups(
    df: DataFrame,
    key: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    exact: bool = False,
    tables: int = 8,
    planes_per_table: int = 6,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cos >= threshold).

    exact=True materializes the a<b self-join — the correctness oracle
    path, viable only on small slices. The scale path (default) is the
    LSH-bucket candidate join: corpus-side work is a narrow map + one
    shuffle on (table, bucket); no O(n^2) cross product ever exists,
    so it holds at 10^9 vectors (recall < 1 by design — more tables =
    higher recall; near-dup pairs at cos>=0.95 collide with high
    probability under random-hyperplane LSH).
    """
    if exact:
        a = df.select(F.col(key).alias("a"), F.col(vec_col).alias("av"))
        b = df.select(F.col(key).alias("b"), F.col(vec_col).alias("bv"))
        cands = a.join(b, F.col("a") < F.col("b"))
    else:
        if dim is None:
            dim = _infer_dim(df, vec_col)
        lsh = (tables, planes_per_table, dim)
        cands = (
            _lsh_bucketed(df, key, vec_col, "a", "av", *lsh)
            .join(_lsh_bucketed(df, key, vec_col, "b", "bv", *lsh),
                  ["table", "bucket"])
            .filter(F.col("a") < F.col("b"))
            .select("a", "av", "b", "bv")
            .dropDuplicates(["a", "b"])
        )
    return (
        cands.select(
            "a", "b", F.round(cosine(F.col("av"), F.col("bv")), 6).alias("cos_sim")
        )
        .filter(F.col("cos_sim") >= threshold)
    )


@functools.lru_cache(maxsize=4096)
def _plane_constants(plane: int, dim: int) -> tuple[float, ...]:
    """Hyperplane components: pseudo-uniform in ~(-0.5, 0.5), derived
    from md5(plane_dim) — identical arithmetic in python, Spark md5,
    and DuckDB md5, so an ANSI-SQL oracle rebuilds the same planes.
    Computed ONCE on the driver and shipped as literals: the previous
    formulation derived them with per-row hash expressions, recomputing
    the same (plane, dim) constant for every vector (~10x slower)."""
    out = []
    for d in range(dim):
        h = int(hashlib.md5(f"{plane}_{d}".encode()).hexdigest()[:15], 16)
        out.append(((h % 10007) - 5003) / 10007.0)
    return tuple(out)


def lsh_buckets_arrow(
    vec_col: Column, tables: int, planes_per_table: int, dim: int
) -> Column:
    """All hash-table buckets in one vectorized matmul (Arrow batch):
    array<long> of length ``tables``; table t's bucket is the sign bits
    of planes t*planes_per_table .. +planes_per_table-1, first plane
    most significant. The SQL twin's index-order fold gives the same
    signs in practice — projections sit far above float64 reordering
    noise (min |proj| ~ 1e-6 on the test corpus vs ~1e-16 noise), and
    the DuckDB oracle pins it empirically every round. NULL vectors
    get NULL (no bucket)."""
    n_planes = tables * planes_per_table
    C = np.stack(
        [np.array(_plane_constants(p, dim)) for p in range(n_planes)]
    ).T  # dim x n_planes
    weights = np.array(
        [1 << (planes_per_table - 1 - p) for p in range(planes_per_table)],
        dtype=np.int64,
    )

    @F.pandas_udf("array<long>")
    def _buckets(vs: pd.Series) -> pd.Series:
        out = []
        ok = vs.notna()
        if ok.any():
            S = (_stack(vs[ok]) @ C) > 0
            B = S.reshape(len(S), tables, planes_per_table) @ weights
            it = iter(B)
        for is_ok in ok:
            out.append([int(x) for x in next(it)] if is_ok else None)
        return pd.Series(out)

    return _buckets(vec_col)


def _lsh_bucketed(
    df: DataFrame,
    key: str,
    vec_col: str,
    kname: str,
    vname: str,
    tables: int,
    planes_per_table: int,
    dim: int,
) -> DataFrame:
    """(kname, vname, table, bucket): one row per (vector, hash table)
    — the bucket-key side of every LSH candidate join."""
    bcol = lsh_buckets_arrow(F.col(vec_col), tables, planes_per_table, dim)
    return df.select(
        F.col(key).alias(kname),
        F.col(vec_col).alias(vname),
        F.posexplode(bcol).alias("table", "bucket"),
    )


def _sq_dists(M: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Squared Euclidean distance of every row of ``M`` to every
    centroid row of ``C`` (rows × centroids)."""
    return ((M[:, None, :] - C[None, :, :]) ** 2).sum(-1)


def _probe_arrow(vec_col: Column, cents: list[list[float]], n_probe: int) -> Column:
    """The n_probe nearest centroid ids per vector, (d2, list_id)-
    ordered, as array<int>: one numpy distance matrix per Arrow batch.
    The stable argsort keeps equal distances in list_id order, so
    ``n_probe=1`` is the first-minimum argmin — cell assignment.
    Selection only: distance reordering noise (~1e-15) sits far below
    assignment gaps (~1e-5), the LSH-signature precedent."""
    C = np.asarray(cents, dtype=np.float64)

    @F.pandas_udf("array<int>")
    def _probe(vs: pd.Series) -> pd.Series:
        ok = vs.notna()
        if ok.any():
            d2 = _sq_dists(_stack(vs[ok]), C)
            idx = np.argsort(d2, axis=1, kind="stable")[:, :n_probe]
            it = iter(idx)
        return pd.Series(
            [[int(x) for x in next(it)] if o else None for o in ok]
        )

    return _probe(vec_col)


def portable_sample_pred(key_col: Column, pct: int) -> Column:
    """Deterministic cross-engine sampling predicate: the md5-derived
    60-bit hash of the stringified key, mod 100 — identical in Spark
    and ANSI SQL (('0x' || substring(md5(k),1,15))::BIGINT % 100)."""
    h = F.conv(
        F.substring(F.md5(key_col.cast("string").cast("binary")), 1, 15), 16, 10
    ).cast("long")
    return (h % 100) < pct


def lloyd_centroids_portable(
    corpus: DataFrame,
    key: str,
    vec_col: str,
    n_lists: int,
    iters: int = 2,
    sample_pct: int | None = None,
    corpus_rows: int | None = None,
) -> list[list[float]]:
    """Deterministic, cross-engine-derivable IVF centroids.

    Init = the ``n_lists`` training vectors at key-ranks floor(i*n/k)
    (evenly spaced in key order), then ``iters`` Lloyd rounds:
    assignment by (d2, list_id)-tie-broken argmin, update by per-
    dimension mean, empty cells keep their previous centroid. Every
    step is plain arithmetic an ANSI-SQL oracle replays exactly (same
    fold order for d2; means differ only by float summation order,
    ~1e-16 — far below the ~1e-5 assignment-gap margin, the same
    argument as the LSH planes).

    Scale shape: training runs on the ``sample_pct`` portable sample.
    ``None`` (the default) DERIVES the smallest percentage keeping
    ~256×n_lists training rows (FAISS convention) — from the
    ``corpus_rows`` hint (table metadata) with NO job scheduled, or
    from a count job when no hint is given; pass an explicit
    percentage when an oracle must replay the sampling. The bounded
    sample is collected once (~256×n_lists vectors by construction);
    init and every Lloyd round then run on the driver
    (:func:`_lloyd_driver`), so training is a single job.
    """
    train = corpus.select(F.col(key).alias("_k"), F.col(vec_col).alias("v"))
    if sample_pct is None:
        target = 256 * n_lists
        if corpus_rows is not None:
            n0 = corpus_rows
        else:
            # documented fallback: a key-only count job at plan-build.
            # Pass corpus_rows (table metadata) to avoid it.
            n0 = train.count()
        sample_pct = min(100, max(1, -(-100 * target // max(1, n0))))
    if sample_pct < 100:
        train = train.filter(portable_sample_pred(F.col("_k"), sample_pct))
    return _lloyd_driver(train, n_lists, iters)


def _lloyd_driver(
    train: DataFrame, n_lists: int, iters: int
) -> list[list[float]]:
    """The portable Lloyd loop on the driver over the collected,
    bounded ``(key, vector)`` training sample: init ranks
    by the ceil-interval identity on key-ranked rows, first-min argmin
    assignment (the (d2, list_id) tie-break), per-cell means, empty
    cells keep their previous centroid."""
    pdf = train.toPandas()  # Arrow path — ~10x a row collect here
    pdf = pdf.sort_values(pdf.columns[0], kind="mergesort")
    n = len(pdf)
    if n < n_lists:
        raise ValueError(
            f"training set has {n} usable init rows < n_lists={n_lists}"
        )
    # rank r (1-based) is an init rank iff the interval [(r-1)k, rk)
    # contains a multiple of n, i.e. r = floor(i*n/k) + 1 for some i
    # (the SQL twin's init join)
    init_idx = [
        r - 1
        for r in range(1, n + 1)
        if ((r - 1) * n_lists + n - 1) // n < (r * n_lists + n - 1) // n
    ]
    M = _stack(pdf[pdf.columns[1]])
    cents = M[init_idx].copy()
    for _ in range(iters):
        # first min == the (d2, list_id) tie-break
        assign = _sq_dists(M, cents).argmin(axis=1)
        for c in range(n_lists):
            members = M[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return [list(map(float, c)) for c in cents]


def ann_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    key: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    iters: int = 2,
    sample_pct: int | None = None,
    corpus_rows: int | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: :func:`lloyd_centroids_portable` cuts
    the corpus into ``n_lists`` cells; each query probes its
    ``n_probe`` nearest cells ((d2, list_id)-ordered) and exact-cosine
    re-ranks within them only. Search touches n_probe/n_lists of the
    corpus — the FAISS recall/cost dial; recall < 1 by design. Same
    output schema as brute_force_topk.

    Training is deterministic and portable, so the whole operator
    (sampling, init, Lloyd, assignment, probe, re-rank) has a
    value-level DuckDB oracle. ``iters``, ``sample_pct`` and
    ``corpus_rows`` pass through to the trainer: with neither
    ``sample_pct`` nor the ``corpus_rows`` row-count hint, building the
    plan runs one key-only ``count()``. Assignment of the full corpus
    is a narrow map (:func:`_probe_arrow` with one probe)."""
    cents = lloyd_centroids_portable(
        corpus, key, vec_col, n_lists,
        iters=iters, sample_pct=sample_pct, corpus_rows=corpus_rows,
    )
    assigned = corpus.select(
        F.col(key).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        _probe_arrow(F.col(vec_col), cents, 1)[0].alias("list_id"),
    )
    q = queries.select(
        F.col(key).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(_probe_arrow(F.col(vec_col), cents, n_probe)).alias("list_id"),
    )
    scored = (
        q.join(assigned, "list_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim"),
        )
    )
    return _per_query_topk(scored, k)


def _infer_dim(df: DataFrame, vec_col: str) -> int:
    row = df.select(F.size(vec_col).alias("d")).first()
    if row is None or row["d"] is None:
        raise ValueError(f"cannot infer embedding dim from empty {vec_col}")
    return int(row["d"])


def ann_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    key: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    tables: int = 4,
    planes_per_table: int = 8,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidates = bucket collisions in any table,
    exact cosine re-rank within candidates. Same output schema as
    brute_force_topk (recall < 1 by design). ``dim`` (embedding width)
    is inferred from one corpus row when not given — pass it explicitly
    in production plans. Signatures are one numpy matmul per Arrow
    batch (:func:`lsh_buckets_arrow`)."""
    if dim is None:
        dim = _infer_dim(corpus, vec_col)
    lsh = (tables, planes_per_table, dim)
    qb = _lsh_bucketed(queries, key, vec_col, "query_id", "qv", *lsh)
    cb = _lsh_bucketed(corpus, key, vec_col, "neighbor_id", "cv", *lsh)
    cands = (
        qb.join(cb, ["table", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "qv", "neighbor_id", "cv")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cands.select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim"),
    )
    return _per_query_topk(scored, k)


# --------------------------------------------------------------------------
# int8 embedding quantization (memory lever for the ANN store)
# --------------------------------------------------------------------------
# A 10^12-doc embedding table at float32 is ~0.3 PB for dim=768; the
# standard first lever (FAISS SQ8, ScaNN int8) is per-vector symmetric
# int8: 4x smaller scans and shuffles. Search = quantized coarse
# scoring -> exact float re-rank on the shortlist, so recall loss is
# bounded by the shortlist width, not the codec.


def quantize_embeddings(
    df: DataFrame, vec_col: str = "vec", out_col: str = "qvec"
) -> DataFrame:
    """Per-vector symmetric int8 quantization: q_i = round(127 * x_i /
    max|x|), stored with the per-row ``scale`` = max|x| / 127 needed
    to dequantize (x ≈ q * scale). Pure Catalyst transform — the
    array shrinks 4x (tinyint vs float) in shuffles, caches and the
    state the IVF probe scans. All-zero vectors quantize to zeros
    with scale 0."""
    amax = F.aggregate(
        F.col(vec_col),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x)),
    )
    return df.withColumn("_amax", amax).select(
        "*",
        F.when(F.col("_amax") > 0, F.col("_amax") / 127.0)
        .otherwise(F.lit(0.0)).alias(out_col + "_scale"),
        F.transform(
            F.col(vec_col),
            lambda x: F.when(
                F.col("_amax") > 0,
                F.round(x * 127.0 / F.col("_amax"), 0).cast("tinyint"),
            ).otherwise(F.lit(0).cast("tinyint")),
        ).alias(out_col),
    ).drop("_amax")


def dequantize(qvec: Column, scale: Column) -> Column:
    """int8 codes + per-row scale → array<double> approximation."""
    return F.transform(qvec, lambda q: q.cast("double") * scale)


def ann_topk_quantized(
    df: DataFrame,
    queries: DataFrame,
    key: str = "doc_id",
    vec_col: str = "vec",
    k: int = 5,
    shortlist: int = 50,
) -> DataFrame:
    """Brute-force top-k with the int8 memory layout: coarse scores on
    the quantized vectors pick a ``shortlist`` per query (the scan
    reads 1/4 the bytes), then EXACT float cosine re-ranks the
    shortlist — the returned (query_id, neighbor_id, cos_sim, rnk)
    ordering is exact-over-shortlist, so recall vs full brute force
    is governed by ``shortlist``/``k`` (pinned by test), not by
    quantization noise."""
    qdf = quantize_embeddings(df, vec_col)
    qq = quantize_embeddings(
        queries.select(
            F.col(key).alias("query_id"), F.col(vec_col).alias("qv")
        ),
        "qv",
    )
    # Coarse scan, §8 shape: the quantized query codes are collected
    # (same smallness bound as the broadcast crossJoin they replace)
    # and the corpus streams through ONE mapInPandas emitting only
    # 3-scalar score rows — no per-pair JVM rows, no payload shuffle.
    # All coarse math is integer (int8 codes → int64 dot / squared
    # norm), so numpy matmul is EXACT regardless of summation order
    # (max |term| 127²·dim ≪ 2^63); the one double division
    # qdot/qnorm divides the same two operands as the DuckDB oracle's
    # folds, so qscore — and therefore shortlist membership and its
    # (qscore, neighbor_id) tie-breaks — is bit-identical to it. The
    # float vectors for the exact re-rank are re-attached to the tiny
    # shortlist by key join instead of riding through the coarse scan.
    q_rows = qq.select("query_id", "qvec").collect()
    if not q_rows:
        return df.sparkSession.createDataFrame(
            [], _pairs_schema(queries, df, key, "cos_sim") + ", rnk int"
        )
    qids = [r[0] for r in q_rows]
    Qi = np.stack([np.asarray(r[1], dtype=np.int64) for r in q_rows])
    coarse_schema = _pairs_schema(queries, df, key, "qscore")

    def coarse_score(batches):
        qids_arr = np.asarray(qids)
        m = len(qids)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Ci = np.stack(
                [np.asarray(v, dtype=np.int64) for v in pdf["qvec"]]
            )
            n = len(pdf)
            qdot = Ci @ Qi.T  # exact: integer
            qnorm = np.sqrt((Ci * Ci).sum(axis=1).astype(np.float64))
            with np.errstate(divide="ignore", invalid="ignore"):
                qscore = np.where(
                    qnorm[:, None] > 0,
                    qdot.astype(np.float64) / qnorm[:, None],
                    -np.inf,
                )
            yield pd.DataFrame(
                {
                    "query_id": np.tile(qids_arr, n),
                    "neighbor_id": np.repeat(pdf[key].values, m),
                    "qscore": qscore.ravel(),
                }
            )

    coarse = (
        qdf.select(F.col(key), F.col("qvec"))
        .mapInPandas(coarse_score, schema=coarse_schema)
        .filter(F.col("query_id") != F.col("neighbor_id"))  # family rule
    )
    short = _per_query_topk(coarse, shortlist, score="qscore", rank="_r")
    # exact float re-rank over the shortlist only: attach the float
    # vectors back by key (shortlist ≪ corpus — AQE broadcasts it)
    short = short.join(
        F.broadcast(
            qq.select("query_id", "qv").dropDuplicates(["query_id"])
        ),
        "query_id",
    ).join(
        df.select(F.col(key).alias("neighbor_id"), F.col(vec_col).alias("nv")),
        "neighbor_id",
    )
    exact = short.withColumn("cos_sim", F.round(cosine(F.col("qv"), F.col("nv")), 6))
    return _per_query_topk(exact, k, rank="rnk").select(
        "query_id", "neighbor_id", "cos_sim", "rnk"
    )
