"""Similarity search over embedding columns (array<float>).

Brute-force exact kNN (L2 and cosine) as the correctness baseline, with
two scale paths — random-hyperplane LSH banding and IVF (inverted-file
centroid cells) — plus embedding near-duplicate detection.

Numerics: distances are computed in DECIMAL, not double. Float32
inputs land on the DECIMAL(12,10) grid via the engine-stable floor
formula in functions/quant.py — NOT a bare cast: a binary fraction
CAN be an exact scale-10 decimal tie (e.g. -561/2048 =
-0.27392578125), and Spark (half-up) and DuckDB (half-even) casts
disagree there. Decimal subtract/multiply/sum are exact — so
distances, and therefore ranks, are bit-identical between Spark and
any SQL oracle. This is what makes ANN/kNN results hash-checkable.

Scale design:
- knn_bruteforce / knn_cosine: ONE corpus pass, no corpus shuffle — a
  vectorized numpy prefilter (one matmul per Arrow batch) bounds the
  candidates per query, then the exact decimal math re-ranks survivors.
- LSH: hyperplane-sign bands, exploded to (band_idx, band_val) rows so
  candidate generation is a hash equi-join (never a nested loop); band
  width is the recall/bucket-size dial (narrow for few-query top-k,
  16-bit for corpus self-joins).
- IVF: centroid cells trained with deterministic seeds + distributed
  Lloyd steps; queries probe n_probe cells; n_probe = #cells is exact.
"""

from __future__ import annotations


from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rocketmq_flink_spark.operators.lineage import cut


def _dec(col) -> Column:
    # float -> double -> decimal via the engine-stable floor formula:
    # a plain double->decimal CAST rounds exact scale-10 ties half-up
    # in Spark but half-to-even in DuckDB (functions/quant.py) — the
    # r4 fixture contains such a tie (-0.27392578125).
    from rocketmq_flink_spark.functions.quant import dec10_array

    return dec10_array(col)


def l2_sq(a: Column, b: Column) -> Column:
    """Exact squared L2 distance between two decimal vectors.

    The fold re-casts each partial sum to DECIMAL(30,20): same scale, so
    no rounding ever happens — the result is exact and engine-agnostic.
    (Spark requires the merge lambda's type to equal the zero's type.)"""
    acc_t = T.DecimalType(30, 20)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast(acc_t),
        lambda acc, x: (acc + x).cast(acc_t),
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity in double (display metric; ranking should use
    l2_sq for cross-engine determinism)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    na = F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, x: s + x)
    )
    nb = F.sqrt(
        F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda s, x: s + x)
    )
    return dot / (na * nb)


def _knn_exact_join(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """Exact kNN as a distributed join — the fallback when the query set
    is too large to collect/broadcast. Scores every (query, corpus) pair
    with the exact decimal L2 (same values/ranks as the broadcast path),
    so cost is O(|Q| * |C|) pair evaluations spread across the cluster,
    with NO driver materialization. For large |Q| where that product is
    prohibitive, use ann_topk_lsh / ivf_topk instead."""
    q = queries.select(
        F.col(id_col).alias("qid"), _dec(F.col(vec_col)).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("vec_id"), _dec(F.col(vec_col)).alias("cv")
    )
    scored = (
        c.crossJoin(q)
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", l2_sq(F.col("qv"), F.col("cv")).alias("d2"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("d2"), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "qid", "vec_id",
            F.round(F.col("d2"), 12).cast("double").alias("dist2"), "rank",
        )
    )


def knn_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    max_broadcast_queries: int = 10_000,
) -> DataFrame:
    """Exact top-k nearest neighbors (L2) of each query vector.

    Output: (qid, vec_id, dist2 double, rank), self-matches excluded,
    ties broken by vec_id — bit-identical to a decimal-exact SQL oracle.

    Two-phase: (1) a vectorized numpy prefilter computes double-precision
    distances to every query in one matmul per Arrow batch and applies
    MAP-SIDE top-k pruning — within each batch only rows with
    d2 <= (batch-local k-th smallest + MARGIN) survive, a provable
    superset of the global top-k (the global k-th is <= every local
    k-th), so the shuffle moves ~k rows per query per BATCH — each
    carrying its vector, bounded by k * batches * |Q|, never by |C| —
    instead of the whole corpus x query grid; (2) the exact decimal
    distance re-ranks ALL survivors directly (no intermediate global
    prune — survivors are already bounded, so one bounded fold each is
    cheaper than another pass). The double prefilter is a superset of
    the true top-k because each double distance is within ~1e-12 of its
    exact value (dims*|x| bounded), so a true top-k member can trail
    the observed k-th double distance by at most 2e-12 << MARGIN. The
    expensive interpreted decimal fold runs on O(|Q| * k * batches)
    rows instead of O(|Q| * |C|).

    The query set is collected driver-side ONLY while it is model-sized:
    above max_broadcast_queries rows the operator switches to the
    distributed exact-join path (identical output, no driver
    materialization) instead of OOMing the driver on a mis-sized input.
    """
    import numpy as np
    import pandas as pd

    margin = 1e-9
    probe = queries.select(F.col(id_col), F.col(vec_col))
    if probe.limit(max_broadcast_queries + 1).count() > max_broadcast_queries:
        return _knn_exact_join(queries, corpus, id_col, vec_col, k)
    q_rows = probe.collect()
    qids = [r[id_col] for r in q_rows]  # untyped: id_col stays generic
    qmat = np.array([list(r[vec_col]) for r in q_rows], dtype=np.float64)
    qn2 = (qmat * qmat).sum(axis=1)

    def local_topk(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy()
            cvs = pdf["cv"].to_numpy()
            mat = np.vstack(cvs).astype(np.float64)
            n2 = (mat * mat).sum(axis=1)
            d2 = n2[:, None] - 2.0 * (mat @ qmat.T) + qn2[None, :]
            out = []
            for j in range(len(qids)):
                col = d2[:, j]
                keep_idx = np.nonzero(ids != qids[j])[0]
                if len(keep_idx) == 0:
                    continue
                colk = col[keep_idx]
                kth = (
                    np.partition(colk, k - 1)[k - 1]
                    if len(colk) > k
                    else colk.max()
                )
                sel = keep_idx[colk <= kth + margin]
                out.append(
                    pd.DataFrame(
                        {
                            "qid": [qids[j]] * len(sel),
                            "vec_id": ids[sel],
                            "cv": list(cvs[sel]),
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    id_t = dict(corpus.dtypes)[id_col]
    slim = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv")
    ).mapInPandas(
        local_topk, f"qid {id_t}, vec_id {id_t}, cv array<float>"
    )

    # No intermediate global-prune pass: the map-side cut already
    # bounds survivors at ~k per query per batch, so re-ranking them
    # all costs one bounded decimal fold each and the only shuffle is
    # the final per-query rank window over those few rows.
    q = queries.select(F.col(id_col).alias("qid"), _dec(F.col(vec_col)).alias("qv"))
    exact = slim.join(F.broadcast(q), "qid").select(
        "qid", "vec_id", l2_sq(F.col("qv"), _dec(F.col("cv"))).alias("d2")
    )
    w2 = Window.partitionBy("qid").orderBy(F.col("d2"), F.col("vec_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select(
            "qid", "vec_id", F.round(F.col("d2"), 12).cast("double").alias("dist2"), "rank"
        )
    )


def _hyperplanes(dim: int, num_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (pure-python LCG so the
    operator has no numpy dependency and is reproducible everywhere)."""
    state = seed
    planes = []
    for _ in range(num_planes):
        row = []
        for _ in range(dim):
            # Park-Miller LCG -> uniform(-1, 1)
            state = (state * 48271) % 2147483647
            u = state / 2147483647
            row.append(2.0 * u - 1.0)
        planes.append(row)
    return planes


def lsh_bucketed(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    num_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Attach LSH band columns band_0..band_{bands-1} (each a long built
    from num_planes/bands hyperplane signs).

    The plane projections run as ONE Arrow-batched pandas_udf doing a
    (batch x dim) @ (dim x planes) numpy matmul — vectorized BLAS, no
    per-element Catalyst lambdas (the higher-order-function formulation
    costs ~dim*planes interpreted evals per row, which dominated the
    whole operator at 100k rows and would be hopeless at 100 TB).

    Parameter guidance: band width = num_planes/bands trades recall for
    bucket size. Cross-corpus top-k (few queries) wants narrow bands
    (high recall; candidate volume is bounded by |Q|); corpus self-join
    near-dup wants wide bands (16+ bits) so bucket sizes — and the
    O(sum bucket^2) pair count — stay small."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    planes = np.array(_hyperplanes(dim, num_planes, seed))  # (P, dim)
    per_band = num_planes // bands
    weights = 1 << np.arange(per_band - 1, -1, -1, dtype=np.int64)

    @pandas_udf("array<long>")
    def band_codes(v):
        mat = np.vstack(v.to_numpy())  # (n, dim) float
        bits = (mat @ planes.T) >= 0.0  # (n, P)
        codes = np.stack(
            [
                bits[:, b * per_band : (b + 1) * per_band].astype(np.int64) @ weights
                for b in range(bands)
            ],
            axis=1,
        )
        return pd.Series(list(codes))

    out = df.withColumn("_bands", band_codes(F.col(vec_col)))
    for b in range(bands):
        out = out.withColumn(f"band_{b}", F.col("_bands").getItem(b))
    return out.drop("_bands")


def _explode_bands(df: DataFrame, bands: int = 4) -> DataFrame:
    """(cols..., band_0..band_{n-1}) -> (cols..., band_idx, band_val).

    Banding as rows instead of an OR-of-bands join condition: an OR
    disjunction cannot hash-partition, so Catalyst would fall back to a
    nested-loop join — O(n^2) at scale. Exploded bands make candidate
    generation a plain equi-join on (band_idx, band_val): one hash
    shuffle, AQE-skew-splittable, the standard distributed-LSH shape."""
    pairs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band_idx"), F.col(f"band_{b}").alias("band_val")
                )
                for b in range(bands)
            ]
        )
    ).alias("bk")
    keep = [c for c in df.columns if not c.startswith("band_")]
    return df.select(*keep, pairs).select(*keep, "bk.band_idx", "bk.band_val")


def ann_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = 64,
    multiprobe: int = 0,
    band_bits: int = 4,
) -> DataFrame:
    """Approximate top-k: candidates share at least one LSH band with
    the query; exact decimal L2 ranks within candidates. Recall vs
    knn_bruteforce is measured in tests (not 100% by construction).

    multiprobe=1 additionally probes, for every query band, each value
    at Hamming distance 1 (band_bits extra buckets per band) — the
    classic multi-probe LSH recall lever (Lv et al. 2007): a near
    neighbor that lands one sign-bit away is still found, at the cost
    of (1 + band_bits)x candidate lookups on the QUERY side only — the
    corpus index is untouched, so at scale the extra probes are a few
    more rows in the tiny broadcast side, not a bigger index.

    Candidate generation is an equi-join on exploded (band_idx,
    band_val) — hash-joinable, corpus shuffled once."""
    qb = _explode_bands(
        lsh_bucketed(
            queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")),
            "qv", dim,
        )
    )
    if multiprobe:
        flips = [0] + [1 << j for j in range(band_bits)]
        qb = qb.select(
            "qid",
            "qv",
            "band_idx",
            F.explode(
                F.array(
                    *[F.col("band_val").bitwiseXOR(F.lit(f)) for f in flips]
                )
            ).alias("band_val"),
        )
    cb = _explode_bands(
        lsh_bucketed(
            corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv")),
            "cv", dim,
        )
    )
    cand = (
        cb.join(F.broadcast(qb), ["band_idx", "band_val"])
        .where(F.col("vec_id") != F.col("qid"))
        .dropDuplicates(["qid", "vec_id"])
        .select(
            "qid",
            "vec_id",
            l2_sq(_dec(F.col("qv")), _dec(F.col("cv"))).alias("d2"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("d2"), F.col("vec_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "vec_id", F.round(F.col("d2"), 12).cast("double").alias("dist2"), "rank")
    )


def embedding_near_dups(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_dist2: float = 0.01,
    dim: int = 64,
) -> DataFrame:
    """Near-duplicate vector pairs (exact decimal L2^2 <= max_dist2),
    candidates generated by shared LSH bands (id_a < id_b).

    Self-equi-join on exploded (band_idx, band_val) — hash-partitioned,
    never nested-loop; pairs dedup BEFORE the exact distance so each
    candidate pair pays for one decimal L2, not one per shared band.
    Bands are 16-bit (64 planes / 4 bands): near-identical vectors still
    collide with probability ~1, while random pairs land in ~65k buckets
    per band, keeping the O(sum bucket^2) candidate count linear-ish in
    corpus size.

    Hot-bucket hardening: EXACTLY-identical vectors (a media-caption
    template embedded m times) share every band, and a naive self-join
    squares m inside one bucket task. Vectors are collapsed to one
    representative per distinct raw vector BEFORE banding; member
    pairs come back from output-sized expansion joins (intra-group
    pairs are dist2 = 0 by identity; cross-group pairs inherit the rep
    distance exactly, because members equal their rep bit-for-bit)."""
    v = df.select(id_col, vec_col)
    # groups (distinct-vector shuffle of the full embedding payload)
    # feeds members AND reps; members feeds FOUR subtrees (ma, mb, both
    # intra sides); the banded reps (the Python hyperplane hash) feed
    # both self-join sides — without cuts each consumer re-ran the
    # whole upstream pipeline (40 parquet scans / 36 Exchanges in the
    # sf0.1 plan; optimization r09, guide §3.3)
    groups = cut(v.groupBy(vec_col).agg(F.min(id_col).alias("rep")),
                 big=True)
    members = cut(
        v.join(groups, vec_col).select("rep", F.col(id_col).alias("m")),
        big=True,
    )
    reps = groups.select(F.col("rep").alias(id_col), vec_col)
    b = cut(
        _explode_bands(lsh_bucketed(reps, vec_col, dim, num_planes=64)),
        big=True,
    )
    a1 = b.select(
        "band_idx", "band_val",
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
    )
    a2 = b.select(
        "band_idx", "band_val",
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
    )
    rep_pairs = (
        a1.join(a2, ["band_idx", "band_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .select(
            "id_a", "id_b",
            l2_sq(_dec(F.col("va")), _dec(F.col("vb"))).alias("d2"),
        )
        .where(F.col("d2") <= F.lit(max_dist2).cast(T.DecimalType(30, 20)))
        .select(
            "id_a", "id_b",
            F.round(F.col("d2"), 12).cast("double").alias("dist2"),
        )
    )
    ma = members.select(F.col("rep").alias("id_a"), F.col("m").alias("m_a"))
    mb = members.select(F.col("rep").alias("id_b"), F.col("m").alias("m_b"))
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("m_a", "m_b").alias("id_a"),
            F.greatest("m_a", "m_b").alias("id_b"),
            "dist2",
        )
    )
    intra = (
        members.alias("x")
        .join(
            members.alias("y"),
            (F.col("x.rep") == F.col("y.rep"))
            & (F.col("x.m") < F.col("y.m")),
        )
        .select(
            F.col("x.m").alias("id_a"),
            F.col("y.m").alias("id_b"),
            F.lit(0.0).alias("dist2"),
        )
    )
    return cross.unionAll(intra)


def dot_dec(a: Column, b: Column) -> Column:
    """Exact decimal dot product (same no-rounding argument as l2_sq)."""
    acc_t = T.DecimalType(30, 20)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast(acc_t),
        lambda acc, x: (acc + x).cast(acc_t),
    )


def _cos_expr() -> Column:
    """cos from exact decimal (qv.cv, qn2, cn2): round each exact value
    to 12 decimals, then IEEE-double sqrt/mul/div — bit-identical in any
    engine given identical exact inputs."""
    return (
        F.round(dot_dec(F.col("qv"), F.col("cv")), 12).cast("double")
        / (
            F.sqrt(F.round(F.col("qn2"), 12).cast("double"))
            * F.sqrt(F.round(F.col("cn2"), 12).cast("double"))
        )
    )


def _knn_cosine_join(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """Distributed exact-cosine fallback (no driver materialization);
    identical values/ranks to the broadcast path. O(|Q| * |C|)."""
    q = queries.select(
        F.col(id_col).alias("qid"), _dec(F.col(vec_col)).alias("qv")
    ).withColumn("qn2", dot_dec(F.col("qv"), F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("vec_id"), _dec(F.col(vec_col)).alias("cv")
    ).withColumn("cn2", dot_dec(F.col("cv"), F.col("cv")))
    scored = (
        c.crossJoin(q)
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", _cos_expr().alias("cos_sim"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "vec_id", "cos_sim", "rank")
    )


def knn_cosine(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    max_broadcast_queries: int = 10_000,
) -> DataFrame:
    """Exact top-k by cosine similarity.

    Deterministic across engines despite the sqrt: dot product and both
    squared norms are computed EXACTLY in decimal, then the final
    cos = dot / (sqrt(na2) * sqrt(nb2)) runs in IEEE double — sqrt,
    multiply and divide are correctly rounded, so identical exact inputs
    give bit-identical doubles in Spark and any SQL oracle. Same
    broadcast/no-corpus-shuffle shape as knn_bruteforce, with the same
    driver guard: query sets above max_broadcast_queries switch to the
    distributed exact-join path instead of collecting.
    """
    import numpy as np
    import pandas as pd

    # double-precision prefilter with MAP-SIDE top-k pruning (same
    # superset argument as knn_bruteforce, cosine-flavored: double
    # cosine is within ~1e-14 of exact, the batch-local k-th best is
    # <= the global k-th under descending order, so keeping everything
    # within margin of the batch-local k-th provably contains the true
    # top-k) — the shuffle moves ~k survivor rows per query per batch,
    # vector attached, never the corpus x query grid; exact decimal
    # arithmetic re-ranks only those survivors.
    margin = 1e-9
    probe = queries.select(F.col(id_col), F.col(vec_col))
    if probe.limit(max_broadcast_queries + 1).count() > max_broadcast_queries:
        return _knn_cosine_join(queries, corpus, id_col, vec_col, k)
    q_rows = probe.collect()
    qids = [r[id_col] for r in q_rows]  # untyped: id_col stays generic
    qmat = np.array([list(r[vec_col]) for r in q_rows], dtype=np.float64)
    qunit = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)

    def local_topk(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy()
            cvs = pdf["cvec"].to_numpy()
            mat = np.vstack(cvs).astype(np.float64)
            unit = mat / np.maximum(
                np.linalg.norm(mat, axis=1, keepdims=True), 1e-300
            )
            cs = unit @ qunit.T
            out = []
            for j in range(len(qids)):
                col = cs[:, j]
                keep_idx = np.nonzero(ids != qids[j])[0]
                if len(keep_idx) == 0:
                    continue
                colk = col[keep_idx]
                kth = (
                    -np.partition(-colk, k - 1)[k - 1]
                    if len(colk) > k
                    else colk.min()
                )
                sel = keep_idx[colk >= kth - margin]
                out.append(
                    pd.DataFrame(
                        {
                            "qid": [qids[j]] * len(sel),
                            "vec_id": ids[sel],
                            "cvec": list(cvs[sel]),
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    id_t = dict(corpus.dtypes)[id_col]
    kept = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cvec")
    ).mapInPandas(local_topk, f"qid {id_t}, vec_id {id_t}, cvec array<float>")

    q = queries.select(
        F.col(id_col).alias("qid"), _dec(F.col(vec_col)).alias("qv")
    ).withColumn("qn2", dot_dec(F.col("qv"), F.col("qv")))
    c = kept.select(
        "qid", "vec_id", _dec(F.col("cvec")).alias("cv")
    ).withColumn("cn2", dot_dec(F.col("cv"), F.col("cv")))
    # _cos_expr rounds in decimal space before the double cast (12
    # digits ≈ 40 bits of fraction) so both engines convert the
    # identical exact value — the same trick l2-based operators use for
    # hash parity.
    scored = c.join(F.broadcast(q), "qid").select(
        "qid", "vec_id", _cos_expr().alias("cos_sim")
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "vec_id", "cos_sim", "rank")
    )


def ivf_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 64,
    iters: int = 2,
) -> list[list[float]]:
    """Deterministic IVF centroid training (distributed Lloyd steps).

    Init: the n_centroids vectors with the smallest portable 60-bit md5
    hash of the id (functions/porthash.py) — a deterministic uniform
    sample computed with one top-k, no RNG state, and bit-reproducible
    by a DuckDB oracle (xxhash64 has no DuckDB twin; the portable hash
    is what lets ann_recall_report replay the ENTIRE IVF pipeline in
    SQL). Refinement: `iters` Lloyd iterations; assignment is a
    vectorized numpy argmin per Arrow batch, the mean-update is a
    groupBy over (centroid, dim) partial sums. Only the centroid table
    (n_centroids x dim floats — model parameters, not data) ever
    reaches the driver.
    """
    from rocketmq_flink_spark.functions.porthash import hash60

    seed_rows = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .withColumn("_h", hash60(F.col(id_col).cast("string")))
        .orderBy("_h", F.col(id_col))
        .limit(n_centroids)
        .collect()
    )
    centroids = [list(r[vec_col]) for r in seed_rows]

    for _ in range(iters):
        # spread=False: the training step's downstream is one tiny
        # (centroid, dim) groupBy — see ivf_assign's docstring
        assigned = ivf_assign(corpus, centroids, vec_col, spread=False)
        sums = (
            assigned.select(
                "_centroid", F.posexplode(F.col(vec_col)).alias("_d", "_x")
            )
            .groupBy("_centroid", "_d")
            .agg(F.sum("_x").alias("s"), F.count(F.lit(1)).alias("c"))
            .collect()
        )
        dim = len(centroids[0])
        acc = {}
        for r in sums:
            acc.setdefault(r._centroid, [[0.0] * dim, 0])
            acc[r._centroid][0][r._d] = r.s
            acc[r._centroid][1] = r.c
        centroids = [
            [v / max(cnt, 1) for v in vec] if cnt else centroids[ci]
            for ci, (vec, cnt) in (
                (i, acc.get(i, ([0.0] * dim, 0))) for i in range(len(centroids))
            )
        ]
    return centroids


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    spread: bool = True,
) -> DataFrame:
    """Attach `_centroid` = argmin L2 over the centroid table (one numpy
    matmul per Arrow batch; centroids broadcast in the udf closure).

    `spread=True` (default) guards the scan-parallelism of consumer
    paths: assignment output usually feeds heavy per-cell work (pair
    scoring in semantic_dedup, candidate ranking in ivf_topk), and a
    single-row-group parquet scan would stream every Arrow batch
    through one task. The Lloyd TRAINING loop (ivf_centroids) passes
    spread=False: its downstream is only a (centroid, dim) partial-sum
    groupBy, and A/B at sf0.1 showed the per-iteration round-robin of
    the vector column costs more than it saves there. Both are
    metadata no-ops at real corpus scale."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from rocketmq_flink_spark.session import spread_for_compute

    cents = np.array(centroids)  # (C, dim)
    c_norm2 = (cents * cents).sum(axis=1)

    @pandas_udf("int")
    def nearest(v):
        mat = np.vstack(v.to_numpy())
        # argmin ||x-c||^2 = argmin (||c||^2 - 2 x.c); ||x||^2 constant per row
        scores = c_norm2[None, :] - 2.0 * (mat @ cents.T)
        return pd.Series(np.argmin(scores, axis=1).astype(np.int32))

    base = spread_for_compute(df) if spread else df
    return base.withColumn("_centroid", nearest(F.col(vec_col)))


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 64,
    n_probe: int = 8,
) -> DataFrame:
    """IVF approximate top-k: corpus partitioned into centroid cells,
    each query probes its n_probe nearest cells, exact decimal L2 ranks
    within the probed candidates.

    Scale shape: the corpus is assigned once (one vectorized pass) and
    hash-joined on the cell id — candidates per query ~= n_probe/C of
    the corpus. Raising n_probe trades cost for recall; n_probe = C is
    exact search. Centroids are model parameters (C x dim), broadcast.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    centroids = ivf_centroids(corpus, id_col, vec_col, n_centroids)
    cents = np.array(centroids)
    c_norm2 = (cents * cents).sum(axis=1)

    @pandas_udf("array<int>")
    def probe_cells(v):
        mat = np.vstack(v.to_numpy())
        scores = c_norm2[None, :] - 2.0 * (mat @ cents.T)
        order = np.argsort(scores, axis=1)[:, :n_probe].astype(np.int32)
        return pd.Series(list(order))

    q = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
    ).withColumn("_centroid", F.explode(probe_cells(F.col("qv"))))
    c = ivf_assign(
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv")),
        centroids,
        "cv",
    )
    cand = (
        c.join(F.broadcast(q), "_centroid")
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", l2_sq(_dec(F.col("qv")), _dec(F.col("cv"))).alias("d2"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("d2"), F.col("vec_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "qid", "vec_id",
            F.round(F.col("d2"), 12).cast("double").alias("dist2"), "rank",
        )
    )


# --- Product Quantization (PQ) --------------------------------------------


def pq_train(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    n_centroids: int = 16,
    iters: int = 2,
    dim: int = 64,
) -> list[list[list[float]]]:
    """Train PQ codebooks: the vector space is split into m orthogonal
    subspaces (dim/m dims each) and a k-means codebook is trained per
    subspace with the SAME deterministic trainer as IVF (portable-hash
    seeded init + distributed Lloyd steps — identical seed ROWS in
    every subspace, since seeding orders by id hash). Returns m
    codebooks of n_centroids x (dim/m) floats — model parameters, the
    only thing that ever reaches the driver.

    PQ is the billion-scale ANN memory trick: a 64-dim float vector
    (256 B) compresses to m log2(k)-bit codes (m=8, k=16 -> 4 B), and
    distance evaluation against the full corpus becomes m table
    lookups per vector instead of dim multiplies."""
    d = dim // m
    books = []
    for s in range(m):
        sub = corpus.select(
            F.col(id_col),
            F.expr(f"slice({vec_col}, {s * d + 1}, {d})").alias(vec_col),
        )
        books.append(
            ivf_centroids(sub, id_col, vec_col, n_centroids, iters)
        )
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Attach `codes` = array<int> of per-subspace nearest-centroid
    ids (one vectorized Arrow pass; one numpy matmul per subspace per
    batch; ties break to the lowest centroid id, matching the
    oracle's ROW_NUMBER order)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cents = [np.array(cb) for cb in codebooks]
    d = cents[0].shape[1]

    @pandas_udf("array<int>")
    def codes(v):
        mat = np.vstack(v.to_numpy())
        cols = []
        for s, cb in enumerate(cents):
            seg = mat[:, s * d:(s + 1) * d]
            scores = (cb * cb).sum(axis=1)[None, :] - 2.0 * (seg @ cb.T)
            cols.append(np.argmin(scores, axis=1))
        arr = np.stack(cols, axis=1).astype(np.int32)
        return pd.Series(list(arr))

    return df.withColumn("codes", codes(F.col(vec_col)))


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = 8,
    n_centroids: int = 16,
    iters: int = 2,
    dim: int = 64,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """PQ approximate top-k by asymmetric distance computation (ADC):
    corpus vectors are scored through their codes against a per-query
    lookup table of exact DECIMAL subspace distances, so the ADC sum
    is exact and order-independent (hash-checkable) — the float never
    re-enters after encoding.

    Scale shape: the corpus is encoded once (Arrow pass) and exploded
    to (vec_id, subspace, code) int rows; the LUT is |queries| x m x
    n_centroids rows — broadcast — and scoring is one hash join + one
    map-side-combinable decimal sum per (query, vector). At real
    scale the same LUT rides a numpy kernel per executor; the join
    form is the declarative equivalent with identical results."""
    books = codebooks if codebooks is not None else pq_train(
        corpus, id_col, vec_col, m, n_centroids, iters, dim
    )
    d = dim // m
    enc = pq_encode(
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col)),
        books,
        vec_col,
    ).select("vec_id", F.posexplode("codes").alias("s", "cid"))
    cent_rows = [
        (s, cid, [float(x) for x in vec])
        for s, book in enumerate(books)
        for cid, vec in enumerate(book)
    ]
    spark = corpus.sparkSession
    cents = spark.createDataFrame(
        cent_rows, "s INT, cid INT, cv ARRAY<DOUBLE>"
    )
    q = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
    )
    lut = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "qid",
            "s",
            "cid",
            l2_sq(
                _dec(F.expr("slice(qv, s * " + str(d) + " + 1, " + str(d) + ")")),
                _dec(F.col("cv")),
            ).alias("dd"),
        )
    )
    dist = (
        enc.join(F.broadcast(lut), ["s", "cid"])
        .where(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg(F.sum("dd").alias("adc"))
    )
    w = Window.partitionBy("qid").orderBy("adc", "vec_id")
    return (
        dist.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "qid",
            "vec_id",
            F.round(F.col("adc"), 12).cast("double").alias("adc_d2"),
            "rank",
        )
    )


def pq_topk_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    shortlist: int = 50,
    m: int = 8,
    n_centroids: int = 16,
    iters: int = 2,
    dim: int = 64,
) -> DataFrame:
    """Production PQ retrieval: ADC shortlists `shortlist` candidates
    per query from the compressed codes, then ONLY those re-rank with
    the exact decimal distance on the full vectors — the standard
    two-stage shape (codes fit in memory at billion scale; the
    full-precision vectors are touched for shortlist rows only).
    Output matches knn_bruteforce's schema; ranks are hash-checkable
    because both stages are decimal-exact given the codes."""
    short = pq_topk(
        queries, corpus, id_col, vec_col, shortlist, m, n_centroids,
        iters, dim,
    ).select("qid", "vec_id")
    qv = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
    )
    cv = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv")
    )
    cand = (
        short.join(cv, "vec_id")
        .join(F.broadcast(qv), "qid")
        .select(
            "qid",
            "vec_id",
            F.round(l2_sq(_dec(F.col("qv")), _dec(F.col("cv"))), 12)
            .cast("double")
            .alias("dist2"),
        )
    )
    w = Window.partitionBy("qid").orderBy("dist2", "vec_id")
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "vec_id", "dist2", "rank")
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 32,
    iters: int = 2,
    threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): cluster the embedding corpus with the
    deterministic k-means trainer (ivf_centroids — portable-hash init,
    distributed Lloyd), then compare pairs ONLY within a cluster and
    drop every vector that has a LOWER-id neighbor above the cosine
    threshold (deterministic keep-lowest-id policy; SemDeDup keeps one
    arbitrary member per semantic group).

    Returns the DROPPED rows: (id, cid, kept_id, cos_sim) where kept_id
    is the smallest qualifying lower id and cos_sim that pair's
    similarity — struct-min selection, so the winner is deterministic.

    Scale design: the all-pairs comparison a naive semantic dedup needs
    is O(N^2); clustering first bounds it to sum over clusters of
    |cluster|^2 — the SemDeDup observation that semantic duplicates
    share a cluster at k ~ sqrt(N). The pair generator is a hash
    equi-join on cid (never a cartesian product), each vector's decimal
    norm^2 is computed once before the join, and only the C x dim
    centroid table ever reaches the driver. Cosine is exact-decimal
    dot/norms rounded to 12 decimals then IEEE double sqrt/div —
    bit-reproducible by the DuckDB oracle that retrains the same
    index in SQL (catalog: semantic_dedup_drops)."""
    cents = ivf_centroids(df, id_col, vec_col, n_centroids, iters)
    base = (
        ivf_assign(df.select(id_col, vec_col), cents, vec_col)
        .select(
            F.col(id_col).alias("vid"),
            F.col("_centroid").alias("cid"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .withColumn(
            "n2",
            F.round(dot_dec(_dec(F.col("v")), _dec(F.col("v"))), 12).cast(
                "double"
            ),
        )
    )
    lo = base.select(
        "cid",
        F.col("vid").alias("id_keep"),
        F.col("v").alias("va"),
        F.col("n2").alias("na2"),
    )
    hi = base.select(
        "cid",
        F.col("vid").alias("id_drop"),
        F.col("v").alias("vb"),
        F.col("n2").alias("nb2"),
    )
    # Two-tier scoring: a cheap DOUBLE cosine prunes the O(sum c^2)
    # pair stream with a 1e-9 safety margin (double dot error is
    # ~1e-14 here), then the exact-decimal cosine — the expensive
    # interpreted fold — runs only on near-threshold survivors and
    # makes the final call. Same margin-superset argument as the kNN
    # prefilter: no pair the decimal test would accept can be pruned.
    dcos = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ) / (F.sqrt(F.col("na2")) * F.sqrt(F.col("nb2")))
    cos = (
        F.round(dot_dec(_dec(F.col("va")), _dec(F.col("vb"))), 12).cast(
            "double"
        )
        / (F.sqrt(F.col("na2")) * F.sqrt(F.col("nb2")))
    )
    pairs = (
        lo.join(hi, "cid")
        .where(F.col("id_keep") < F.col("id_drop"))
        .where(dcos >= F.lit(threshold) - F.lit(1e-9))
        .withColumn("cos_sim", cos)
        .where(F.col("cos_sim") >= F.lit(threshold))
    )
    best = pairs.groupBy("id_drop", "cid").agg(
        F.min(F.struct("id_keep", "cos_sim")).alias("w")
    )
    return best.select(
        F.col("id_drop").alias(id_col),
        "cid",
        F.col("w.id_keep").alias("kept_id"),
        F.round(F.col("w.cos_sim"), 12).alias("cos_sim"),
    )


def sq8_quantize(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar 8-bit quantization (SQ8) of an embedding column, the
    standard 4x ANN memory trick (FAISS ScalarQuantizer shape): each
    vector stores int8 codes q_i = round(x_i * 127 / max|x|) plus ONE
    per-vector scale, and approximate distances are computed on the
    codes alone.

    Exactness trick (what makes SQ8 ranks hash-checkable here, unlike
    the usual float implementation): the float is first landed on the
    exact DECIMAL(12,10) grid, i.e. an integer number of 1e-10 ticks
    t_i, so the rounding divide becomes pure BIGINT arithmetic
    (|t|*254 + tmax) DIV (2*tmax) — round-half-away-from-zero with no
    floating point anywhere. The "scale" kept per vector is the integer
    tmax itself; de-quantized coordinates are q_i * tmax (BIGINT,
    <= 127e12), identical in any engine.

    Output: (id, q array<bigint> in [-127,127], tmax bigint). All-zero
    vectors get q = 0, tmax = 0 (exact).
    """
    # ticks via the engine-stable floor formula (functions/quant.py):
    # floor(x*1e10 + 0.5) IS the integer tick of the dec10 grid value.
    ticks = (
        f"transform(CAST({vec_col} AS ARRAY<DOUBLE>),"
        f" x -> floor(x * 1e10 + 0.5D))"
    )
    q = (
        "transform(_t, x -> CASE WHEN _tmax = 0 THEN CAST(0 AS BIGINT)"
        " ELSE (CASE WHEN x >= 0 THEN 1 ELSE -1 END)"
        " * ((abs(x) * 254 + _tmax) DIV (2 * _tmax)) END)"
    )
    return (
        df.selectExpr(id_col, f"{ticks} AS _t")
        .selectExpr(
            id_col, "_t",
            "array_max(transform(_t, x -> abs(x))) AS _tmax",
        )
        .selectExpr(id_col, f"{q} AS q", "_tmax AS tmax")
    )


def sq8_topk_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    shortlist: int = 50,
) -> DataFrame:
    """SQ8 ANN retrieval, production two-stage shape: approximate L2 on
    the int8 codes shortlists `shortlist` candidates per query, then
    ONLY those rows touch full-precision vectors for the exact decimal
    re-rank to top-k (same schema as knn_bruteforce / pq_topk_rerank).

    The approximate distance is computed entirely in exact integers:
    de-quantized coordinates are q_i * tmax (BIGINT), and the squared
    difference sum accumulates in DECIMAL(38,0) (per-term magnitude
    <= (2*127e12)^2 ~ 6.5e28, x 64 dims < 1e31 — exact, no float ever
    enters), so the shortlist membership and all ranks are
    bit-reproducible by a SQL oracle.

    Scale: codes+scale are 8 B + 64 B/vector here (a production layout
    packs q into 64 int8 = 64 B total, 4x smaller than float32); the
    query side broadcasts, the corpus is scanned once, and the window
    ranks |C| rows per query — at billion scale apply the same
    map-side local top-k cut knn_bruteforce uses. Only shortlist rows
    (50/query) ever read the full-precision vectors."""
    qq = sq8_quantize(queries, id_col, vec_col).selectExpr(
        f"{id_col} AS qid", "q AS quq", "tmax AS qtmax"
    )
    cq = sq8_quantize(corpus, id_col, vec_col).selectExpr(
        f"{id_col} AS vec_id", "q AS quc", "tmax AS ctmax"
    )
    approx = (
        cq.join(F.broadcast(qq), F.col("vec_id") != F.col("qid"))
        .selectExpr(
            "qid", "vec_id",
            "aggregate(zip_with(quc, quq,"
            " (x, y) -> CAST(x * ctmax - y * qtmax AS DECIMAL(19,0))),"
            " CAST(0 AS DECIMAL(38,0)),"
            " (acc, v) -> CAST(acc + v * v AS DECIMAL(38,0))) AS adist",
        )
    )
    ws = Window.partitionBy("qid").orderBy("adist", "vec_id")
    short = (
        approx.withColumn("srank", F.row_number().over(ws))
        .where(F.col("srank") <= shortlist)
        .select("qid", "vec_id")
    )
    qv = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
    cv = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv"))
    cand = (
        short.join(cv, "vec_id")
        .join(F.broadcast(qv), "qid")
        .select(
            "qid",
            "vec_id",
            F.round(l2_sq(_dec(F.col("qv")), _dec(F.col("cv"))), 12)
            .cast("double")
            .alias("dist2"),
        )
    )
    w = Window.partitionBy("qid").orderBy("dist2", "vec_id")
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "vec_id", "dist2", "rank")
    )


def hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
) -> DataFrame:
    """Hard-negative mining for contrastive/retrieval training: for
    each query vector, the k NEAREST corpus vectors with a DIFFERENT
    label — the negatives that sit closest to the decision boundary and
    therefore carry the most gradient signal (the standard mining step
    for embedding-model training data).

    Output: (qid, q_label, vec_id, neg_label, dist2, rank), distances
    exact-decimal L2 (ties broken by vec_id), so ranks are
    bit-identical to a SQL oracle. Scale: the query side is the tiny
    broadcast side of the scoring join; per-query ranking is a bounded
    window. At corpus scale, swap the exhaustive scorer for an ANN
    shortlist (ann_topk_lsh / ivf_topk with k' >> k) and apply the same
    label filter + exact re-rank on the shortlist — the composition is
    identical, only the candidate generator changes."""
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(label_col).alias("q_label"),
        _dec(F.col(vec_col)).alias("qv"),
    )
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(label_col).alias("neg_label"),
        _dec(F.col(vec_col)).alias("cv"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neg_label") != F.col("q_label"))
        .select(
            "qid",
            "q_label",
            "vec_id",
            "neg_label",
            l2_sq(F.col("qv"), F.col("cv")).alias("d2"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("d2"), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "qid",
            "q_label",
            "vec_id",
            "neg_label",
            F.round(F.col("d2"), 12).cast("double").alias("dist2"),
            "rank",
        )
    )


# Greedy farthest-point is inherently sequential: each center needs the
# previous one's argmax, so kcenter_coreset runs exactly one
# TakeOrdered(1).collect() driver round-trip PER CENTER (k-1 Spark jobs
# after the seed). That is the right shape for the small k a coreset
# wants, and catastrophic for a large one — cap it hard so a mis-sized
# call fails loudly instead of launching thousands of sequential jobs on
# a shared cluster.
_KCENTER_MAX_K = 256


def kcenter_coreset(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 6,
) -> DataFrame:
    """Greedy k-center (max-min / farthest-point) coreset selection —
    the diversity sampler a pipeline uses to pick an eval set or seed
    set that COVERS the embedding space (every point is within the
    final max-min radius of some chosen center; a 2-approximation of
    the optimal k-center cover).

    Deterministic: the seed is the vector with the smallest portable
    md5 hash of its id (same convention as the IVF seeding), each next
    center is the point FARTHEST from the chosen set, ties broken by
    id; distances are exact decimal L2^2 rounded to 12 dp only for the
    argmax ordering (the established cross-engine convention), so the
    selected set is bit-reproducible and SQL-replayable.

    Scale shape: the running min-distance column makes each iteration
    ONE map pass + one TakeOrdered(1) — never k x corpus distance
    recomputation. The (id, vec, dmin) state is lazily checkpointed per
    step, so iteration t+1 reads materialized state instead of
    re-deriving t folds of lineage; driver sync is one row per center
    (the vector is model-sized). Returns (rank, vec_id, dist2) where
    dist2 is the max-min radius at selection time (0 for the seed) —
    monotonically non-increasing, the coverage curve. Stops early
    (fewer than k rows) once the farthest remaining distance is 0:
    the chosen set already covers every distinct vector exactly, and
    continuing would re-select chosen ids. The SQL oracle replays a
    fixed k steps, so callers wanting hash-parity must use
    k <= #distinct vectors (the catalog query does).

    Driver-sync budget: 1 seed collect + (k-1) TakeOrdered(1) collects,
    sequential by nature of the greedy argmax — hard-capped at
    _KCENTER_MAX_K (raise the constant deliberately if a genuinely
    larger coreset is wanted; past that size prefer k-means/IVF
    seeding, which is one job per Lloyd ROUND, not per center)."""
    if k > _KCENTER_MAX_K:
        raise ValueError(
            f"kcenter_coreset k={k} exceeds the sequential driver-sync"
            f" cap of {_KCENTER_MAX_K} (one Spark job per center);"
            " use kmeans/IVF seeding for large k, or raise"
            " _KCENTER_MAX_K deliberately"
        )
    from rocketmq_flink_spark.functions.porthash import hash60

    c = corpus.select(
        F.col(id_col).alias("vid"), _dec(F.col(vec_col)).alias("v")
    )
    seed = (
        c.withColumn("_h", hash60(F.col("vid").cast("string")))
        .orderBy("_h", "vid")
        .limit(1)
        .collect()[0]
    )
    chosen = [(1, seed["vid"], 0.0)]

    def center_lit(vec) -> Column:
        return F.array(
            *[F.lit(str(x)).cast(T.DecimalType(12, 10)) for x in vec]
        )

    state = c.withColumn("dmin", l2_sq(F.col("v"), center_lit(seed["v"])))
    for rank in range(2, k + 1):
        state = cut(state, big=True)
        nxt = (
            state.orderBy(
                F.round(F.col("dmin"), 12).desc(), F.col("vid")
            )
            .limit(1)
            .collect()[0]
        )
        # HALF_UP quantize: Python round() is banker's, but Spark round
        # and DuckDB ROUND are half-up — keep all three identical
        from decimal import ROUND_HALF_UP, Decimal

        d12 = Decimal(nxt["dmin"]).quantize(
            Decimal("1e-12"), rounding=ROUND_HALF_UP
        )
        if d12 == 0:
            # every remaining point coincides with a chosen center
            # (k > #distinct vectors): the cover is already exact, and
            # continuing would re-select an already-chosen id forever.
            break
        chosen.append((rank, nxt["vid"], float(d12)))
        if rank < k:
            state = state.withColumn(
                "dmin",
                F.least(
                    F.col("dmin"), l2_sq(F.col("v"), center_lit(nxt["v"]))
                ),
            )
    spark = corpus.sparkSession
    return spark.createDataFrame(
        chosen, "rank INT, vec_id BIGINT, dist2 DOUBLE"
    )


def mmr_select(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    pool: int = 16,
) -> DataFrame:
    """Maximal Marginal Relevance (MMR) diversified top-k — the RAG
    reranking staple: from the `pool` nearest neighbors of a query
    vector, greedily pick k results trading RELEVANCE against
    REDUNDANCY. This is the distance form with lambda = 1/2 (dyadic,
    so the trade-off is a plain subtraction): each step selects
    argmax( min-L2^2-to-already-selected  -  L2^2-to-query ) over the
    not-yet-selected pool — high gain = far from what we already show
    AND close to the query. All distances are exact decimal L2^2;
    the argmax uses the established ROUND(.,12) + id tie-break, so
    the selection is bit-reproducible and SQL-replayable (the catalog
    oracle replays every step in staged CTEs).

    Deterministic query: the vector whose id has the smallest
    portable hash60('mmrq:'||id) — same seeding convention as
    kcenter/IVF. Scale shape: the ONLY corpus-scale work is the
    top-`pool` nearest-neighbor cut (one map pass + TakeOrdered);
    the greedy loop runs on the pool-sized remainder (k-1 argmax
    steps, one model-sized row collected per step — the kcenter
    discipline). Returns (rank, vec_id, rel_dist2, mmr_gain);
    rank 1 is the plain nearest neighbor (gain 0 by convention)."""
    from decimal import ROUND_HALF_UP, Decimal

    from rocketmq_flink_spark.functions.porthash import hash60

    c = corpus.select(
        F.col(id_col).alias("vid"), _dec(F.col(vec_col)).alias("v")
    )
    q = (
        c.withColumn(
            "_h",
            hash60(F.concat(F.lit("mmrq:"), F.col("vid").cast("string"))),
        )
        .orderBy("_h", "vid")
        .limit(1)
        .collect()[0]
    )

    def center_lit(vec) -> Column:
        return F.array(
            *[F.lit(str(x)).cast(T.DecimalType(12, 10)) for x in vec]
        )

    r = (
        c.where(F.col("vid") != q["vid"])
        .withColumn("rd", l2_sq(F.col("v"), center_lit(q["v"])))
    )
    state = (
        r.orderBy(F.round(F.col("rd"), 12).asc(), F.col("vid"))
        .limit(pool)
    )
    state = cut(state)
    first = (
        state.orderBy(F.round(F.col("rd"), 12).asc(), F.col("vid"))
        .limit(1)
        .collect()[0]
    )

    def d12(x) -> float:
        return float(
            Decimal(x).quantize(Decimal("1e-12"), rounding=ROUND_HALF_UP)
        )

    chosen = [(1, first["vid"], d12(first["rd"]), 0.0)]
    state = state.where(F.col("vid") != first["vid"]).withColumn(
        "dmin", l2_sq(F.col("v"), center_lit(first["v"]))
    )
    for rank in range(2, k + 1):
        state = cut(state)
        nxt = (
            state.withColumn("gain", F.col("dmin") - F.col("rd"))
            .orderBy(F.round(F.col("gain"), 12).desc(), F.col("vid"))
            .limit(1)
            .collect()[0]
        )
        chosen.append((rank, nxt["vid"], d12(nxt["rd"]), d12(nxt["gain"])))
        if rank < k:
            state = state.where(F.col("vid") != nxt["vid"]).withColumn(
                "dmin",
                F.least(
                    F.col("dmin"), l2_sq(F.col("v"), center_lit(nxt["v"]))
                ),
            )
    return corpus.sparkSession.createDataFrame(
        chosen,
        "rank INT, vec_id BIGINT, rel_dist2 DOUBLE, mmr_gain DOUBLE",
    )


def dot_dec(a: Column, b: Column) -> Column:
    """Exact decimal dot product (same no-rounding fold as l2_sq)."""
    acc_t = T.DecimalType(30, 20)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast(acc_t),
        lambda acc, x: (acc + x).cast(acc_t),
    )


def facility_location_select(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    pool: int = 12,
) -> DataFrame:
    """Greedy facility-location data selection — the SUBMODULAR
    coverage objective of the coreset-selection literature: pick k
    vectors maximizing sum over the WHOLE corpus of each point's best
    similarity to the selected set. Complements kcenter (max-min
    distance = outlier coverage) and MMR (query-relative diversity):
    facility location optimizes REPRESENTATION — every corpus point
    should have a similar selected exemplar — and the greedy algorithm
    carries the classic 1-1/e guarantee on this objective.

    Determinism/exactness: candidates are the `pool` vectors with the
    smallest hash60('fl:'||id) (hash-seeded panel — evaluating every
    corpus point as a candidate would be an n^2 product); similarities
    are EXACT decimal dot products clamped at 0; each step's marginal
    gain sum_v max(0, dot(v,c) - best_v) is an exact decimal sum,
    argmax tie-broken by ROUND(.,12) + id — fully SQL-replayable.

    Scale shape: per step ONE corpus x pool-remainder join (pool-
    bounded multiplier, never corpus x corpus), a pool-sized argmax,
    and a running best-similarity column update (the kcenter running-
    dmin discipline; one model-sized row collected per step). Returns
    (rank, vec_id, coverage_gain)."""
    from decimal import ROUND_HALF_UP, Decimal

    from rocketmq_flink_spark.functions.porthash import hash60

    acc_t = T.DecimalType(30, 20)
    c = corpus.select(
        F.col(id_col).alias("vid"), _dec(F.col(vec_col)).alias("v")
    )
    pool_df = (
        c.withColumn(
            "_h",
            hash60(F.concat(F.lit("fl:"), F.col("vid").cast("string"))),
        )
        .orderBy("_h", "vid")
        .limit(pool)
        .select(F.col("vid").alias("cand"), F.col("v").alias("cv"))
    )
    pool_df = cut(pool_df)

    def center_lit(vec) -> Column:
        return F.array(
            *[F.lit(str(x)).cast(T.DecimalType(12, 10)) for x in vec]
        )

    state = c.withColumn("best", F.lit(0).cast(acc_t))
    chosen: list[tuple[int, int, float]] = []
    picked_ids: list[int] = []

    def d12(x) -> float:
        return float(
            Decimal(x).quantize(Decimal("1e-12"), rounding=ROUND_HALF_UP)
        )

    for rank in range(1, k + 1):
        remaining = pool_df.where(~F.col("cand").isin(picked_ids))
        gains = (
            state.crossJoin(remaining)
            .select(
                "cand",
                F.greatest(
                    F.lit(0).cast(acc_t),
                    (dot_dec(F.col("v"), F.col("cv")) - F.col("best"))
                    .cast(acc_t),
                ).alias("g"),
            )
            .groupBy("cand")
            .agg(F.sum("g").alias("gain"))
        )
        nxt = (
            gains.orderBy(F.round(F.col("gain"), 12).desc(), F.col("cand"))
            .limit(1)
            .collect()[0]
        )
        picked_ids.append(nxt["cand"])
        chosen.append((rank, nxt["cand"], d12(nxt["gain"])))
        if rank < k:
            cv = (
                pool_df.where(F.col("cand") == nxt["cand"])
                .collect()[0]["cv"]
            )
            state = state.withColumn(
                "best",
                F.greatest(
                    F.col("best"),
                    dot_dec(F.col("v"), center_lit(cv)).cast(acc_t),
                ),
            )
            state = cut(state, big=True)
    return corpus.sparkSession.createDataFrame(
        chosen, "rank INT, vec_id BIGINT, coverage_gain DOUBLE"
    )
