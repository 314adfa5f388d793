"""Similarity search over embedding columns (array<float>).

Two paths, as the task list prescribes:

  * brute-force cosine top-k — correctness baseline. The dot product
    is a sequential array fold (F.aggregate over zip_with) in double
    precision, so the oracle reproduces it bit-for-bit. The query set
    is broadcast against the corpus: at 10^10 corpus rows this is one
    corpus scan per query batch, embarrassingly parallel, no shuffle
    until the per-query top-k combine.
  * sign-LSH bucketed ANN — the scale path: bucket = sign pattern of
    the first b dimensions (a fixed, deterministic random-hyperplane
    sketch). Candidates share a bucket; cosine is computed only inside
    buckets. Recall/latency trades with b.

No Python UDFs: array arithmetic stays in Catalyst codegen. (A Pandas
UDF with numpy matmul becomes worthwhile when k and dim are large;
plumbing for that lives in multimodal.py's batch-UDF pattern.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

ID_COL = "vec_id"
VEC_COL = "embedding"


def _dot(a: str, b: str):
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),"
        f" cast(0.0 as double), (acc, v) -> acc + v)"
    )


def _top_k(pairs: DataFrame, k: int, round_to: int) -> DataFrame:
    """Each query's ``k`` best candidates of ``pairs`` (q_id, q_vec,
    q_norm, n_id, n_vec, n_norm) by cosine rounded to ``round_to``, ties
    broken by neighbor id."""
    scored = pairs.withColumn(
        "cosine", F.round(_dot("q_vec", "n_vec") / (F.col("q_norm") * F.col("n_norm")), round_to)
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", F.col("n_id").alias("neighbor_id"), "cosine", "rk")
    )


def with_norm(df: DataFrame, vec_col: str = VEC_COL) -> DataFrame:
    return df.withColumn(
        "norm",
        F.sqrt(
            F.expr(
                f"aggregate(transform({vec_col}, x -> cast(x as double) * cast(x as double)),"
                f" cast(0.0 as double), (acc, v) -> acc + v)"
            )
        ),
    )


def cosine_topk_bruteforce(
    corpus: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 3,
    max_query_id: int | None = 30,
    round_to: int = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector (baseline ANN).

    Plan shape: broadcast(queries) x corpus -> fold dot product ->
    per-query top-k window. Ties broken by neighbor id."""
    c = with_norm(corpus).select(
        F.col(ID_COL).alias("n_id"), F.col(VEC_COL).alias("n_vec"), F.col("norm").alias("n_norm")
    )
    q = with_norm(corpus)
    if query_ids is not None:
        q = q.filter(F.col(ID_COL).isin(query_ids))
    elif max_query_id is not None:
        q = q.filter(F.col(ID_COL) < max_query_id)
    q = q.select(
        F.col(ID_COL).alias("q_id"), F.col(VEC_COL).alias("q_vec"), F.col("norm").alias("q_norm")
    )
    pairs = F.broadcast(q).join(c, F.col("q_id") != F.col("n_id"))
    return _top_k(pairs, k, round_to)


def sign_lsh_bucket(df: DataFrame, bits: int = 8, vec_col: str = VEC_COL):
    """Deterministic sign-pattern bucket over the first `bits` dims —
    a fixed random-hyperplane LSH (axis-aligned hyperplanes)."""
    return F.expr(
        f"concat_ws('', transform(slice({vec_col}, 1, {bits}),"
        f" x -> case when x >= 0 then '1' else '0' end))"
    )


def random_hyperplanes(bits: int = 8, dim: int = 64, seed: str = "proj") -> list[list[float]]:
    """Deterministic pseudo-random hyperplane weights derived from
    sha256 — w[p][d] = (first byte of sha256('{seed}{p}|{d}')) - 127.5,
    a zero-mean integer-plus-half lattice. Reproducible in any engine
    with sha256 (the DuckDB oracle re-derives the identical matrix), and
    exactly representable in binary floating point (halves), so the
    sign of the projection is bit-stable across engines."""
    import hashlib

    return [
        [
            int(hashlib.sha256(f"{seed}{p}|{d}".encode()).hexdigest()[:2], 16) - 127.5
            for d in range(dim)
        ]
        for p in range(bits)
    ]


def random_projection_bucket(
    bits: int = 8, dim: int = 64, seed: str = "proj", vec_col: str = VEC_COL
):
    """Sign-pattern bucket over `bits` REAL random projections (vs the
    axis-aligned demo in sign_lsh_bucket, whose recall depends on the
    data's first dimensions). The weight matrix is broadcast as plan
    literals — Catalyst constant-folds it, so per row the work is
    bits × dim fused multiply-adds in codegen, no shuffle, no UDF."""
    planes = random_hyperplanes(bits, dim, seed)
    bit_exprs = []
    for w in planes:
        arr = "array(" + ",".join(f"{x}D" for x in w) + ")"
        bit_exprs.append(
            f"case when aggregate(zip_with({vec_col}, {arr},"
            f" (x, y) -> cast(x as double) * y),"
            f" cast(0.0 as double), (acc, v) -> acc + v) >= 0 then '1' else '0' end"
        )
    return F.expr("concat(" + ", ".join(bit_exprs) + ")")


def cosine_topk_lsh(
    corpus: DataFrame,
    k: int = 1,
    bits: int = 8,
    max_query_id: int | None = 30,
    round_to: int = 6,
    bucket_expr=None,
) -> DataFrame:
    """ANN via sign-LSH blocking: cosine computed only within buckets.
    The bucket equi-join replaces the cross join — at 10^10 rows the
    per-bucket candidate sets are ~|corpus| / 2^bits. ``bucket_expr``
    overrides the default axis-aligned sketch (pass
    random_projection_bucket(...) for the production variant)."""
    if bucket_expr is None:
        bucket_expr = sign_lsh_bucket(corpus, bits)
    withb = with_norm(corpus).withColumn("bucket", bucket_expr)
    q = withb.filter(F.col(ID_COL) < max_query_id) if max_query_id is not None else withb
    q = q.select(
        F.col(ID_COL).alias("q_id"), F.col(VEC_COL).alias("q_vec"),
        F.col("norm").alias("q_norm"), "bucket",
    )
    c = withb.select(
        F.col(ID_COL).alias("n_id"), F.col(VEC_COL).alias("n_vec"),
        F.col("norm").alias("n_norm"), "bucket",
    )
    pairs = q.join(c, ["bucket"]).filter(F.col("q_id") != F.col("n_id"))
    return _top_k(pairs, k, round_to)


def _centroid_score_sql(
    c_id: int, vec: list[float], vec_col: str = VEC_COL, round_to: int = 6
) -> str:
    """SQL for the rounded cosine between ``vec_col`` and ONE codebook
    centroid inlined as plan literals (repr round-trips doubles exactly,
    so the oracle's table-sourced doubles match bit-for-bit). Shared by
    cell assignment and probe ranking — the two must never diverge."""
    arr = "array(" + ",".join(f"{float(x)!r}D" for x in vec) + ")"
    nrm = sum(float(x) * float(x) for x in vec) ** 0.5
    return (
        f"round(aggregate(zip_with({vec_col}, {arr},"
        f" (x, y) -> cast(x as double) * y),"
        f" cast(0.0 as double), (acc, v) -> acc + v) / (norm * {nrm!r}D), {round_to})"
    )


def ivf_assign_cells(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = VEC_COL,
    round_to: int = 6,
):
    """Column expr: nearest-centroid cell id for each vector, computed
    ENTIRELY in codegen against the codebook inlined as plan literals —
    the IVF coarse-quantizer step. Zero shuffle, zero UDF: per row it is
    |codebook| fused dot products + an argmax fold. Cosine is rounded
    to ``round_to`` with smaller centroid id winning ties, so any
    engine reproduces the same assignment bit-for-bit."""
    structs = [
        f"named_struct('c_id', {c_id}L, 'cs',"
        f" {_centroid_score_sql(c_id, vec, vec_col, round_to)})"
        for c_id, vec in centroids
    ]
    scores = "array(" + ", ".join(structs) + ")"
    # argmax fold: best (cs desc, c_id asc) — deterministic tie-break
    return F.expr(
        f"aggregate({scores}, named_struct('c_id', cast(-1 as long), 'cs', cast(-2.0 as double)),"
        f" (best, s) -> case when s.cs > best.cs or (s.cs = best.cs and s.c_id < best.c_id)"
        f" then s else best end).c_id"
    )


def ivf_probe_topk(
    corpus: DataFrame,
    n_centroids: int = 16,
    n_probe: int = 2,
    k: int = 3,
    max_query_id: int | None = 30,
    round_to: int = 6,
) -> DataFrame:
    """IVF-style ANN — the inverted-file scale path next to the LSH
    family: assign every vector to its nearest-centroid CELL, probe only
    the ``n_probe`` best cells per query, rank candidates by exact
    cosine inside the probed cells.

    Codebook: the vectors with ``vec_id < n_centroids`` (a fixed,
    deterministic seed codebook the SQL oracle re-derives; a production
    deployment trains it offline with k-means — the serving-time
    structure audited here is identical either way). The codebook is
    TINY by construction, so collecting it to inline as plan literals
    is the standard broadcast-codebook pattern, not a data collect.

    Scale shape at 10^10 rows: cell assignment is per-row codegen (no
    shuffle, no UDF); the probe equi-join on cell is the ONLY corpus
    shuffle, touching ~n_probe/n_centroids of the corpus per query
    batch; the final top-k is a per-query window over candidates."""
    normed = with_norm(corpus)
    cent_rows = (
        normed.filter(F.col(ID_COL) < n_centroids)
        .select(ID_COL, VEC_COL)
        .collect()  # bounded: n_centroids rows — the broadcast codebook
    )
    centroids = [(int(r[ID_COL]), list(r[VEC_COL])) for r in cent_rows]
    cell = ivf_assign_cells(normed, centroids, round_to=round_to)

    c = normed.withColumn("cell", cell).select(
        F.col(ID_COL).alias("n_id"), F.col(VEC_COL).alias("n_vec"),
        F.col("norm").alias("n_norm"), "cell",
    )
    # per-query probe list: rank ALL codebook scores, keep the best
    # n_probe cells (same shared scoring SQL as assignment, negated so
    # array_sort's (cs asc, c_id asc) struct order = best-first)
    structs = [
        f"named_struct('cs', -{_centroid_score_sql(c_id, vec, VEC_COL, round_to)},"
        f" 'c_id', {c_id}L)"
        for c_id, vec in centroids
    ]
    probes = (
        f"slice(array_sort(array({', '.join(structs)})), 1, {n_probe})"
    )
    q = normed
    if max_query_id is not None:
        q = q.filter(F.col(ID_COL) < max_query_id)
    q = q.select(
        F.col(ID_COL).alias("q_id"), F.col(VEC_COL).alias("q_vec"),
        F.col("norm").alias("q_norm"),
        F.explode(F.expr(f"transform({probes}, s -> s.c_id)")).alias("cell"),
    )
    pairs = F.broadcast(q).join(c, ["cell"]).filter(F.col("q_id") != F.col("n_id"))
    return _top_k(pairs, k, round_to)


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.99,
    bits: int = 8,
    dim: int = 64,
    seed: str = "proj",
    max_bucket_size: int | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-blocked: bucket by the
    seeded random-projection sign pattern, generate candidate pairs
    inside buckets (in-codegen pair explosion, no self-join), join the
    vectors back by id, keep cosine >= threshold. The bucket groupBy is
    the only corpus-wide shuffle; the vector join touches candidates
    only. Recall: a true near-dup pair collides unless the perturbation
    flips a projection sign — raise bands/lower bits per band for more
    recall, exactly like the MinHash banding trade."""
    from movex_cdc_spark.operators.dedup import pairs_within_groups

    withb = with_norm(corpus).withColumn(
        "bucket", random_projection_bucket(bits, dim, seed)
    )
    grouped = withb.groupBy("bucket").agg(
        F.sort_array(F.collect_list(ID_COL)).alias("ids")
    )
    if max_bucket_size is not None:
        grouped = grouped.filter(F.size("ids") <= max_bucket_size)
    pairs = pairs_within_groups(grouped.filter(F.size("ids") >= 2).select("ids"))
    a = withb.select(F.col(ID_COL).alias("id_a"), F.col(VEC_COL).alias("va"),
                     F.col("norm").alias("na"))
    b = withb.select(F.col(ID_COL).alias("id_b"), F.col(VEC_COL).alias("vb"),
                     F.col("norm").alias("nb"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("cosine", F.round(_dot("va", "vb") / (F.col("na") * F.col("nb")), round_to))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
