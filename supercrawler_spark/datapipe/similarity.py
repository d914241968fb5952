"""Similarity search over embedding columns (array<float>).

- Brute-force cosine top-k: JVM-side higher-order functions (zip_with +
  aggregate) — the exact baseline, one shuffle (the ranking window), with
  an ANSI-SQL oracle twin (DuckDB list_cosine_similarity).
- LSH-bucketed ANN: deterministic random-hyperplane signatures via an
  Arrow-batched pandas UDF (numpy matmul per batch), candidates restricted
  to bucket collisions (hamming-adjacent buckets optional) — the scale path:
  at 10^10 rows the cross product is impossible; bucket joins shuffle only
  collisions.
- IVF-flat ANN: a deterministic sampled-centroid coarse quantizer, probed
  buckets re-ranked by exact cosine, with an ANSI-SQL oracle twin.
- embedding near-dup pairs: cosine >= threshold over bucketed candidates.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _dot(a, b) -> "F.Column":
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a) -> "F.Column":
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a, b) -> "F.Column":
    return _dot(a, b) / (_norm(a) * _norm(b))


def _rank_topk(cand: DataFrame, k: int, round_to: int) -> DataFrame:
    """Top-k neighbors per query from candidate (q_id, q_vec, n_id, n_vec)
    rows: cosine rounded to ``round_to`` places, ranked by (cos desc,
    n_id) — the tail every top-k search shares with its SQL twin's
    ``row_number() ... WHERE rank <= k``."""
    scored = cand.withColumn(
        "cos", F.round(cosine(F.col("q_vec"), F.col("n_vec")), round_to))
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select("q_id", "n_id", "cos", "rank"))


def brute_force_topk(df: DataFrame, queries: DataFrame, k: int = 5,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     round_to: int = 4) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (excluding self).
    queries is expected to be small → broadcast; ranking via window over
    query partition."""
    q = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
    c = df.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec"))
    cand = (F.broadcast(q).crossJoin(c)
            .filter(F.col("q_id") != F.col("n_id")))
    return _rank_topk(cand, k, round_to)


def cosine_dup_pairs(df: DataFrame, threshold: float = 0.99,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     round_to: int = 4, method: str = "lsh",
                     dim: int | None = None, n_planes: int = 8,
                     n_tables: int = 8) -> DataFrame:
    """Embedding near-duplicate pairs (cos >= threshold), id_a < id_b.

    method="lsh" (default, the scale path): candidate pairs come from
    hyperplane-LSH bucket collisions across ``n_tables`` independent tables
    and only collisions get the exact-cosine verify — no all-pairs join
    ever. Recall depends on the threshold (high-cos near-dups collide with
    probability (1-θ/π)^n_planes per table); pinned by a planted-near-dup
    recall test in tests/test_datapipe.py.

    method="exact": complete O(n²) verify, but planned as a
    shuffle-replicated nested loop (both sides stay partitioned — no
    BroadcastNestedLoopJoin shipping one whole side to every executor).
    Use for oracle checks / modest n only.
    """
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"))
    if method == "exact":
        pairs = a.hint("shuffle_replicate_nl").join(
            b, F.col("id_a") < F.col("id_b"))
    elif method == "lsh":
        if dim is None:
            first = df.select(vec_col).first()
            dim = len(first[0])
        sigs = [make_hyperplane_udf(dim, n_planes, seed=7 + 1000 * t)
                for t in range(n_tables)]

        def with_buckets(frame, id_alias, vec_alias):
            out = frame.select(F.col(id_col).alias(id_alias),
                               F.col(vec_col).alias(vec_alias))
            for t, udf in enumerate(sigs):
                out = out.withColumn(f"_b{t}", udf(F.col(vec_alias)))
            return out.select(
                id_alias, vec_alias,
                F.explode(F.array(*[
                    F.struct(F.lit(t).alias("t"), F.col(f"_b{t}").alias("b"))
                    for t in range(n_tables)])).alias("bucket"))

        aa = with_buckets(df, "id_a", "v_a")
        bb = with_buckets(df, "id_b", "v_b")
        pairs = (aa.join(bb, "bucket")
                   .filter(F.col("id_a") < F.col("id_b"))
                   .select("id_a", "v_a", "id_b", "v_b"))
    else:
        raise ValueError(f"unknown method {method!r}")
    out = (pairs
           .withColumn("cos", F.round(cosine(F.col("v_a"), F.col("v_b")),
                                      round_to))
           .filter(F.col("cos") >= threshold)
           .select("id_a", "id_b", "cos"))
    # LSH candidates repeat across tables: dedupe AFTER the threshold filter
    # (far fewer rows) instead of a distinct over vector-carrying candidates
    return out.distinct() if method == "lsh" else out


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — deterministic sampled-centroid quantizer
# ---------------------------------------------------------------------------

def _det_centroids(df: DataFrame, centroid_ids: tuple, id_col: str,
                   vec_col: str, quant_scale: float) -> np.ndarray:
    """Deterministic sampled-centroid matrix, integer-quantized with
    floor(|x|*scale+0.5) (ties away from zero == SQL round)."""
    cent_rows = (df.filter(F.col(id_col).isin(list(centroid_ids)))
                 .select(id_col, vec_col).orderBy(id_col).collect())
    cmat = np.vstack([np.asarray(r[vec_col], dtype=np.float64)
                      for r in cent_rows])
    return (np.sign(cmat) *
            np.floor(np.abs(cmat) * quant_scale + 0.5)).astype(np.int64)


def _det_bucket_udf(centers: np.ndarray, top_n: int, quant_scale: float):
    """Arrow-batched nearest-centroid assignment by exact integer L2,
    (d2, cid) tie-break — bit-identical to the SQL twin's ORDER BY."""
    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def buckets(vecs: pd.Series) -> pd.Series:
        mat = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        qm = (np.sign(mat) *
              np.floor(np.abs(mat) * quant_scale + 0.5)).astype(np.int64)
        d2 = ((qm[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        idx = np.argsort(d2, axis=1, kind="stable")[:, :top_n]
        return pd.Series([row.astype("int32").tolist() for row in idx])
    return buckets


def det_ivf_ann_topk(df: DataFrame, queries: DataFrame, k: int = 5,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     centroid_ids: tuple = tuple(range(16)), n_probe: int = 4,
                     round_to: int = 4, quant_scale: float = 1000.0) -> DataFrame:
    """IVF ANN with a DETERMINISTIC sampled-centroid coarse quantizer: the
    centroids are the embeddings of ``centroid_ids`` (a fixed-seed k-means
    init, skipping Lloyd iterations), quantized to integers
    (floor(|x|*scale+0.5), ties-away-from-zero — identical to SQL round),
    so bucket assignment is EXACT integer L2 arithmetic that an ANSI-SQL
    oracle replays bit-for-bit (det_ivf_oracle_sql). IVF-flat probe shape:
    corpus rows assign to their nearest centroid, queries probe their
    ``n_probe`` nearest, exact cosine re-ranks the probed buckets — the
    probed fraction is n_probe/len(centroid_ids) of the corpus, never an
    all-pairs join. Ties in the assignment distance break
    by centroid index (stable argsort == SQL ORDER BY d2, cid)."""
    centers = _det_centroids(df, centroid_ids, id_col, vec_col, quant_scale)
    assign1 = _det_bucket_udf(centers, 1, quant_scale)
    assignp = _det_bucket_udf(centers, n_probe, quant_scale)
    c = df.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec"),
                  F.explode(assign1(F.col(vec_col))).alias("bucket"))
    q = queries.select(F.col(id_col).alias("q_id"),
                       F.col(vec_col).alias("q_vec"),
                       F.explode(assignp(F.col(vec_col))).alias("bucket"))
    cand = (q.join(c, "bucket")
             .filter(F.col("q_id") != F.col("n_id"))
             .select("q_id", "q_vec", "n_id", "n_vec"))
    return _rank_topk(cand, k, round_to)


def det_ivf_oracle_sql(centroid_ids: tuple = tuple(range(16)),
                       n_probe: int = 4, k: int = 5,
                       query_pred: str = "vec_id < 20",
                       table: str = "embeddings") -> str:
    """ANSI-SQL twin of det_ivf_ann_topk: quantizes identically
    (round(x*1000) — integers stay exact in DOUBLE), ranks centroids by
    exact integer L2 with the same (d2, cid) tie-break, probes the same
    buckets, re-ranks by the same 4dp cosine."""
    ids = ", ".join(str(i) for i in centroid_ids)
    return f"""
        WITH emb AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 list_transform(embedding::DOUBLE[],
                                x -> round(x * 1000)::BIGINT) AS q
          FROM {table}
        ),
        cent AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, q AS cq
          FROM emb WHERE vec_id IN ({ids})
        ),
        ranked AS (
          SELECT e.vec_id, c.cid,
                 row_number() OVER (PARTITION BY e.vec_id ORDER BY
                   list_dot_product(e.q, e.q) + list_dot_product(c.cq, c.cq)
                   - 2 * list_dot_product(e.q, c.cq), c.cid) AS rk
          FROM emb e CROSS JOIN cent c
        ),
        corpus AS (SELECT vec_id AS n_id, cid AS bucket
                   FROM ranked WHERE rk = 1),
        probes AS (SELECT vec_id AS q_id, cid AS bucket
                   FROM ranked WHERE rk <= {n_probe} AND {query_pred}),
        cand AS (
          SELECT p.q_id, c.n_id FROM probes p JOIN corpus c USING (bucket)
          WHERE p.q_id != c.n_id
        ),
        scored AS (
          SELECT q_id, n_id,
                 round(list_dot_product(a.v, b.v) /
                       (sqrt(list_dot_product(a.v, a.v)) *
                        sqrt(list_dot_product(b.v, b.v))), 4) AS cos
          FROM cand
          JOIN emb a ON a.vec_id = cand.q_id
          JOIN emb b ON b.vec_id = cand.n_id
        )
        SELECT q_id, n_id, cos, rank FROM (
          SELECT *, row_number() OVER
                 (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
          FROM scored
        ) WHERE rank <= {k}
    """


# ---------------------------------------------------------------------------
# deterministic sign-projection LSH (oracle-replayable, all-JVM)
# ---------------------------------------------------------------------------

_LCG_A, _LCG_C, _LCG_M = 1103515245, 12345, 1 << 31


def det_plane_weights(dim: int, n_planes: int, table: int) -> list[list[int]]:
    """±1 hyperplane weights from a pure-integer LCG on (table, plane, j) —
    a random-sign projection is a valid cosine-LSH family, and because the
    weights are closed-form integers BOTH engines (Spark and an ANSI-SQL
    oracle) can regenerate them exactly; no numpy RNG anywhere."""
    out = []
    for p in range(n_planes):
        base = (table * n_planes + p) * dim
        out.append([
            1 if ((_LCG_A * (base + j) + _LCG_C) % _LCG_M) % 2 == 0 else -1
            for j in range(dim)])
    return out


def make_det_signatures_udf(dim: int, n_planes: int, n_tables: int):
    """ALL tables' sign-projection signatures from ONE Arrow-batched
    integer matmul (guide §4.2): the per-table weight matrices concatenate
    into a single (dim, n_tables*n_planes) matrix, so one batch pays one
    JVM↔Python round trip and one vectorized matmul instead of n_tables
    separate pandas-UDF evaluations (the per-UDF closure pickling and
    per-batch Python dispatch dominated at bench scale: 16 UDF instances
    for ann_lsh_topk's two sides). Bit-identical to n_tables calls of
    make_det_signature_udf: same det_plane_weights, same ties-away-from-
    zero quantization, same exact int64 dots — only the batching changed.
    Returns array<long>, element t = table t's packed signature."""
    W = np.concatenate(
        [np.array(det_plane_weights(dim, n_planes, t), dtype=np.int64).T
         for t in range(n_tables)], axis=1)          # (dim, n_tables*n_planes)
    pow2 = (1 << np.arange(n_planes)).astype(np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def signatures(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        mat = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        q = (np.sign(mat) * np.floor(np.abs(mat) * 1000.0 + 0.5)).astype(np.int64)
        bits = (q @ W) > 0                           # (n, n_tables*n_planes)
        sigs = bits.reshape(len(mat), W.shape[1] // len(pow2),
                            len(pow2)) @ pow2        # (n, n_tables)
        return pd.Series([row.tolist() for row in sigs.astype(np.int64)])

    # guide §4.4: posexplode over this column plants an implicit
    # (size(..) > 0 AND isnotnull(..)) filter that the optimizer pushes
    # BELOW the UDF, duplicating the evaluation (two ArrowEvalPython
    # nodes per side, observed in the r6 plan audit). The function is
    # pure — the marker only forbids the optimizer from re-evaluating it.
    return signatures.asNondeterministic()


def make_det_signature_udf(dim: int, n_planes: int, table: int):
    """Packed sign-projection signature as an Arrow-batched integer matmul.

    The vector quantizes to integers (np.round == round-half-to-even is NOT
    used — we replicate SQL's ties-away-from-zero via floor(|x|+0.5), which
    matches Spark's round() and DuckDB's round() exactly), each plane's dot
    product is exact int64 arithmetic (order-independent, so engines can't
    disagree by float summation order), bit p = (dot > 0). A JVM
    higher-order-function formulation of the same math planned as 32
    interpreted lambda aggregates per row and benched 4x slower than this
    one numpy matmul per Arrow batch — the vectorized UDF is the fast path
    here, and determinism comes from the integer math, not from where it
    runs."""
    W = np.array(det_plane_weights(dim, n_planes, table),
                 dtype=np.int64).T                      # (dim, n_planes)
    pow2 = (1 << np.arange(n_planes)).astype(np.int64)

    @F.pandas_udf(T.LongType())
    def signature(vecs: pd.Series) -> pd.Series:
        mat = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        q = (np.sign(mat) * np.floor(np.abs(mat) * 1000.0 + 0.5)).astype(np.int64)
        bits = (q @ W) > 0                              # (n, n_planes)
        return pd.Series((bits @ pow2).astype(np.int64))

    return signature


def det_lsh_ann_topk(df: DataFrame, queries: DataFrame, k: int = 5,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     dim: int = 64, n_planes: int = 4, n_tables: int = 8,
                     round_to: int = 4) -> DataFrame:
    """lsh_ann_topk with the deterministic sign-projection family: same
    bucket-collision plan (candidates = signature matches in any table,
    exact cosine re-rank on candidates only — never all pairs), with
    signatures computed by exact integer arithmetic an ANSI-SQL oracle
    replays bit-for-bit (see make_det_signature_udf). Recall vs brute
    force pinned in tests/test_datapipe.py."""
    sig_udf = make_det_signatures_udf(dim, n_planes, n_tables)

    def with_sigs(frame, idn):
        # one merged-matmul UDF evaluation per row instead of n_tables
        # separate pandas UDFs (see make_det_signatures_udf); posexplode's
        # index IS the table id, so the bucket struct is unchanged
        return (frame
                .select(F.col(id_col).alias(idn),
                        sig_udf(F.col(vec_col)).alias("_sigs"))
                .select(idn, F.posexplode("_sigs").alias("t", "s"))
                .select(idn, F.struct(F.col("t"), F.col("s")).alias("bucket")))

    # Collision join + distinct carry IDS ONLY — at dim=768 float a
    # vector-carrying distinct exchanges ~6 KB/row for what is a key-dedup.
    # Vectors rejoin afterwards: queries broadcast (small), then the bounded
    # candidate set broadcasts INTO the corpus scan, so the corpus is read
    # once and never exchanged.
    q = with_sigs(queries, "q_id")
    c = with_sigs(df, "n_id")
    cand_ids = (q.join(c, "bucket")
                 .filter(F.col("q_id") != F.col("n_id"))
                 .select("q_id", "n_id")
                 .distinct())
    qv = queries.select(F.col(id_col).alias("q_id"),
                        F.col(vec_col).alias("q_vec"))
    nv = df.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec"))
    cand = nv.join(F.broadcast(cand_ids.join(F.broadcast(qv), "q_id")), "n_id")
    return _rank_topk(cand, k, round_to)


def det_lsh_oracle_sql(dim: int = 64, n_planes: int = 4, n_tables: int = 8,
                       k: int = 5, query_pred: str = "vec_id < 20",
                       table: str = "embeddings") -> str:
    """The ANSI-SQL twin of det_lsh_ann_topk: regenerates the same LCG
    weights as literal arrays, quantizes identically, and restricts the
    join to bucket collisions before the cosine re-rank."""
    sig_exprs = []
    for t in range(n_tables):
        terms = []
        for p, w in enumerate(det_plane_weights(dim, n_planes, t)):
            warr = "[" + ",".join(str(x) for x in w) + "]"
            terms.append(
                f"(CASE WHEN list_dot_product(q, {warr}::BIGINT[]) > 0 "
                f"THEN {1 << p} ELSE 0 END)")
            # integer dots stay far below 2^53 → exact in DuckDB's DOUBLE
        sig_exprs.append("(" + " + ".join(terms) + f") AS s{t}")
    collide = " OR ".join(f"a.s{t} = b.s{t}" for t in range(n_tables))
    return f"""
        WITH emb AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 list_transform(embedding::DOUBLE[],
                                x -> round(x * 1000)::BIGINT) AS q
          FROM {table}
        ),
        sig AS (SELECT vec_id, v, {', '.join(sig_exprs)} FROM emb),
        cand AS (
          SELECT DISTINCT a.vec_id AS q_id, b.vec_id AS n_id,
                 a.v AS q_vec, b.v AS n_vec
          FROM sig a JOIN sig b
            ON a.vec_id != b.vec_id AND ({collide})
          WHERE a.{query_pred}
        ),
        scored AS (
          SELECT q_id, n_id,
                 round(list_dot_product(q_vec, n_vec) /
                       (sqrt(list_dot_product(q_vec, q_vec)) *
                        sqrt(list_dot_product(n_vec, n_vec))), 4) AS cos
          FROM cand
        )
        SELECT q_id, n_id, cos, rank FROM (
          SELECT *, row_number() OVER
                 (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
          FROM scored
        ) WHERE rank <= {k}
    """


# ---------------------------------------------------------------------------
# random-hyperplane LSH ANN
# ---------------------------------------------------------------------------

def make_hyperplane_udf(dim: int, n_planes: int = 16, seed: int = 42):
    """Signature UDF: sign pattern of the vector against n_planes seeded
    Gaussian hyperplanes, packed into an int. Deterministic across workers
    (planes derived from the seed inside each batch)."""

    @F.pandas_udf(T.IntegerType())
    def signature(vecs: pd.Series) -> pd.Series:
        rng = np.random.default_rng(seed)
        planes = rng.standard_normal((dim, n_planes))
        mat = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        bits = (mat @ planes) > 0
        weights = (1 << np.arange(n_planes)).astype(np.int64)
        return pd.Series((bits @ weights).astype(np.int32))

    return signature


def lsh_ann_topk(df: DataFrame, queries: DataFrame, k: int = 5,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 dim: int = 64, n_planes: int = 12, n_tables: int = 4,
                 round_to: int = 4) -> DataFrame:
    """Approximate top-k: candidates = bucket collisions in any of n_tables
    independent hyperplane tables; exact cosine re-rank on candidates only.
    Recall tested against brute_force_topk in tests/test_datapipe.py."""
    sigs = [make_hyperplane_udf(dim, n_planes, seed=42 + 1000 * t)
            for t in range(n_tables)]

    def with_buckets(frame, prefix):
        out = frame
        for t, udf in enumerate(sigs):
            out = out.withColumn(f"{prefix}b{t}", udf(F.col(vec_col)))
        return out

    q = with_buckets(queries, "q").select(
        F.col(id_col).alias("q_id"),
        F.explode(F.array(*[F.struct(F.lit(t).alias("t"),
                                     F.col(f"qb{t}").alias("b"))
                            for t in range(len(sigs))])).alias("bucket"))
    c = with_buckets(df, "c").select(
        F.col(id_col).alias("n_id"),
        F.explode(F.array(*[F.struct(F.lit(t).alias("t"),
                                     F.col(f"cb{t}").alias("b"))
                            for t in range(len(sigs))])).alias("bucket"))
    # ids-only distinct, vectors rejoined after (see det_lsh_ann_topk)
    cand_ids = (q.join(c, "bucket")
                 .filter(F.col("q_id") != F.col("n_id"))
                 .select("q_id", "n_id")
                 .distinct())
    qv = queries.select(F.col(id_col).alias("q_id"),
                        F.col(vec_col).alias("q_vec"))
    nv = df.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec"))
    cand = nv.join(F.broadcast(cand_ids.join(F.broadcast(qv), "q_id")), "n_id")
    return _rank_topk(cand, k, round_to)


# ---------------------------------------------------------------------------
# SemDeDup — semantic (embedding-space) corpus deduplication
# ---------------------------------------------------------------------------

def semantic_dedup(df: DataFrame, threshold: float = 0.95,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   centroid_ids: tuple = tuple(range(16)),
                   round_to: int = 4,
                   quant_scale: float = 1000.0) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the corpus
    with a coarse quantizer, then drop all-but-one of each within-cluster
    group of semantically identical documents (cosine >= threshold).

    Scale shape: the candidate join is WITHIN quantizer cells only — the
    O(n^2) pair space never materializes; with C balanced cells the pair
    work is n^2/C, and cells shuffle independently. The quantizer is the
    same deterministic sampled-centroid integer-L2 assignment as
    det_ivf_ann_topk, so an ANSI-SQL oracle replays the whole operator
    bit-for-bit (semantic_dedup_oracle_sql — verified in pytest against
    DuckDB). Groups come from the shared hash-min connected-components
    kernel (dedup.dup_clusters) over the verified pair set (O(duplicates),
    never O(corpus)).

    Returns (id_col, bucket, cluster_id, keep): every corpus row, its
    quantizer cell, its duplicate-group label (null when the row has no
    semantic duplicate), and keep = the canonical representative flag
    (min id of the group; rows without duplicates are always kept).
    """
    from . import dedup as _dd
    centers = _det_centroids(df, centroid_ids, id_col, vec_col, quant_scale)
    assign1 = _det_bucket_udf(centers, 1, quant_scale)
    # cache the quantizer assignment: it feeds both sides of the
    # within-cell self-join AND the final output join (3 corpus passes
    # through the Arrow UDF otherwise); persist — not localCheckpoint —
    # so at cluster scale it spills by partition instead of pinning the
    # corpus
    assigned = df.select(
        F.col(id_col), F.col(vec_col),
        F.explode(assign1(F.col(vec_col))).alias("bucket")).persist()
    a = assigned.select(F.col(id_col).alias("id_a"),
                        F.col(vec_col).alias("v_a"), "bucket")
    b = assigned.select(F.col(id_col).alias("id_b"),
                        F.col(vec_col).alias("v_b"), "bucket")
    pairs = (a.join(b, "bucket")
              .filter(F.col("id_a") < F.col("id_b"))
              .withColumn("cos", F.round(cosine(F.col("v_a"), F.col("v_b")),
                                         round_to))
              .filter(F.col("cos") >= threshold)
              .select("id_a", "id_b"))
    clusters = _dd.dup_clusters(pairs).withColumnRenamed("doc_id", id_col)
    out = assigned.select(id_col, "bucket").join(clusters, id_col, "left")
    return out.select(
        id_col, "bucket", "cluster_id",
        (F.col("cluster_id").isNull() |
         (F.col("cluster_id") == F.col(id_col))).alias("keep"))


def semantic_dedup_oracle_sql(threshold: float = 0.95,
                              centroid_ids: tuple = tuple(range(16)),
                              table: str = "embeddings") -> str:
    """ANSI-SQL twin of semantic_dedup: identical integer-L2 cell
    assignment (see det_ivf_oracle_sql), within-cell cosine pairs at the
    same 4dp rounding, connected components via recursive reachability
    (closure-based — viable at oracle scale only), keep = min of group."""
    ids = ", ".join(str(i) for i in centroid_ids)
    return f"""
        WITH RECURSIVE emb AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 list_transform(embedding::DOUBLE[],
                                x -> round(x * 1000)::BIGINT) AS q
          FROM {table}
        ),
        cent AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, q AS cq
          FROM emb WHERE vec_id IN ({ids})
        ),
        assigned AS (
          SELECT vec_id, cid AS bucket FROM (
            SELECT e.vec_id, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY
                     list_dot_product(e.q, e.q) + list_dot_product(c.cq, c.cq)
                     - 2 * list_dot_product(e.q, c.cq), c.cid) AS rk
            FROM emb e CROSS JOIN cent c
          ) WHERE rk = 1
        ),
        pairs AS (
          SELECT x.vec_id AS id_a, y.vec_id AS id_b
          FROM assigned x JOIN assigned y ON x.bucket = y.bucket
                                         AND x.vec_id < y.vec_id
          JOIN emb a ON a.vec_id = x.vec_id
          JOIN emb b ON b.vec_id = y.vec_id
          WHERE round(list_dot_product(a.v, b.v) /
                      (sqrt(list_dot_product(a.v, a.v)) *
                       sqrt(list_dot_product(b.v, b.v))), 4) >= {threshold}
        ),
        sym AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs
        ),
        reach(src, dst) AS (
          SELECT src, dst FROM sym
          UNION
          SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
        ),
        labels AS (
          SELECT src AS vec_id, least(src, min(dst)) AS cluster_id
          FROM reach GROUP BY src
        )
        SELECT a.vec_id, a.bucket, l.cluster_id,
               (l.cluster_id IS NULL OR l.cluster_id = a.vec_id) AS keep
        FROM assigned a LEFT JOIN labels l USING (vec_id)
        ORDER BY a.vec_id
    """
