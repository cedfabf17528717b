"""Embedding similarity search over an ``array<float>`` column.

- ``cosine_topk``: brute-force exact top-k against one query vector.
  The query is a literal (broadcast by construction); the scan is one
  map-side pass + a top-k (TakeOrdered) — no shuffle of the corpus.
- ``knn_join_topk``: exact top-k for a *set* of query vectors via
  broadcast nested-loop + per-query window top-k. Right for small Q,
  any corpus size.
- ``ivf_topk``: the scale path — partition the corpus by a coarse
  quantizer (here: nearest of k seed centroids), search only the
  query's cell. Recall < 1.0 by construction; nprobe widens the search.
- ``save_ivf_index`` / ``ivf_index_topk``: the PERSISTED form — cells
  as hive partitions + stored centroids, so a probe's scan is
  partition-pruned to 1/n_cells of the corpus files.
- ``hyperplane_lsh_pairs``: the scale path for *all-pairs* near-dup
  detection — random-hyperplane (SimHash-for-vectors) sign-bit
  bucketing so candidate pairs only ever meet inside equal band
  buckets; never a cross join / broadcast NLJ over the corpus.

Dot products use ``zip_with`` + ``aggregate`` (JVM-side, codegen) in
double precision. The one Python stage is the hyperplane signature — an
Arrow-batched integer matmul (exact, engine-portable), never
row-at-a-time.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql import types as T

__all__ = [
    "dot_col",
    "norm_col",
    "cosine_col",
    "cosine_topk",
    "knn_join_topk",
    "ivf_topk",
    "cell_assignment",
    "save_ivf_index",
    "ivf_index_topk",
    "hyperplane_lsh_pairs",
    "pq_train",
    "pq_encode",
    "pq_topk",
    "save_ivfpq_index",
    "ivfpq_index_topk",
    "semantic_decontamination",
    "argmin_assign_cols",
    "semdedup_pair_cosines",
    "pca_top_direction",
    "opq_rotation_fit",
    "opq_fit_apply",
    "opq_apply",
]


def dot_col(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(dot_col(a, a))


def cosine_col(a: Column, b: Column) -> Column:
    return dot_col(a, b) / (norm_col(a) * norm_col(b))


def _as_literal_array(vec: list[float]) -> Column:
    return F.array(*[F.lit(float(v)) for v in vec])


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int | None = 6,
) -> DataFrame:
    """Exact brute-force top-k by cosine similarity to ``query_vec``.

    One narrow pass over the corpus; Spark turns orderBy+limit into
    TakeOrdered (per-partition top-k, then merge of k*partitions rows —
    no full sort, no full shuffle).
    """
    q = _as_literal_array(query_vec)
    cos = cosine_col(F.col(vec_col), q)
    if round_digits is not None:
        cos = F.round(cos, round_digits)
    return (
        df.select(F.col(id_col), cos.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.col(id_col))
        .limit(k)
    )


def knn_join_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
    round_digits: int | None = 6,
    exclude_self: bool = False,
) -> DataFrame:
    """Exact k-NN join: every query row against the whole corpus.

    ``queries`` must be small enough to broadcast; the corpus streams
    through a broadcast nested-loop join, then a per-query window keeps
    the top k. Returns (q_id, vec_id, rank, cos_sim).
    ``exclude_self`` drops corpus rows whose id equals the query id
    *before* ranking.
    """
    joined = corpus.crossJoin(F.broadcast(queries))
    if exclude_self:
        joined = joined.filter(F.col(id_col) != F.col(q_id_col))
    cos = cosine_col(F.col(vec_col), F.col(q_vec_col))
    if round_digits is not None:
        cos = F.round(cos, round_digits)
    w = Window.partitionBy(q_id_col).orderBy(F.desc("cos_sim"), F.col(id_col))
    return (
        joined.select(F.col(q_id_col), F.col(id_col), cos.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int | None = 6,
) -> DataFrame:
    """IVF-style ANN: assign every corpus vector to its nearest centroid
    (map-side; centroid list is a literal array), then search only the
    ``nprobe`` cells nearest the query. At scale the corpus is written
    partitioned by cell so a query touches ~1/n_cells of the data.
    """
    probe_cells = _probe_cells(query_vec, centroids, nprobe)

    q = _as_literal_array(query_vec)
    cos = cosine_col(F.col(vec_col), q)
    if round_digits is not None:
        cos = F.round(cos, round_digits)
    return (
        df.withColumn("__cell", cell_assignment(F.col(vec_col), centroids, vec_sql=f"`{vec_col}`"))
        .filter(F.col("__cell").isin(probe_cells))
        .select(F.col(id_col), cos.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.col(id_col))
        .limit(k)
    )


def _dot_sql(a: str, b: str) -> str:
    """SQL text parsing to the SAME fold as :func:`dot_col` (casts
    included) — the parsed-expression fast path (see _d2_fold_sql)."""
    return (
        f"aggregate(zip_with({a}, {b}, "
        f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def cell_assignment(
    vec_expr: Column,
    centroids: list[list[float]],
    vec_sql: str | None = None,
) -> Column:
    """Nearest-centroid cell id (argmax cosine, first max on ties).

    One array of cosine expressions + array_max/array_position — each
    cosine appears exactly once in the tree. The chained
    when(cos_i > best) form duplicated the running-best subtree per
    centroid (O(2^k) nodes — the same blow-up fixed in k-means).

    ``vec_sql`` (r16): when the vector is a plain named column, pass
    its SQL text and the whole assignment is built as ONE parsed
    expression — the same tree, ~0.1 s less driver py4j time per
    centroid (the _d2_fold_sql rationale). The Column path remains for
    arbitrary expressions."""
    if vec_sql is not None:
        coss = []
        for c in centroids:
            lit = "array(" + ", ".join(_lit_d(v) for v in c) + ")"
            coss.append(
                f"({_dot_sql(vec_sql, lit)} / "
                f"(sqrt({_dot_sql(vec_sql, vec_sql)}) "
                f"* sqrt({_dot_sql(lit, lit)})))"
            )
        arr = "array(" + ", ".join(coss) + ")"
        return F.expr(
            f"CAST(array_position({arr}, array_max({arr})) - 1 AS INT)"
        )
    coss = F.array(
        *[cosine_col(vec_expr, _as_literal_array(c)) for c in centroids]
    )
    return (F.array_position(coss, F.array_max(coss)) - F.lit(1)).cast("int")


def _probe_cells(query_vec, centroids, nprobe: int) -> list[int]:
    """Driver-side: the ``nprobe`` cells nearest the query vector
    (centroid list is metadata-sized)."""
    import math

    def cos_py(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb) if na and nb else -2.0

    return [
        int(i)
        for i in sorted(
            range(len(centroids)), key=lambda i: -cos_py(query_vec, centroids[i])
        )[: max(1, nprobe)]
    ]


def save_ivf_index(
    df: DataFrame,
    path: str,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Persist an IVF layout: vectors hive-partitioned by their nearest-
    centroid cell (one directory per cell) + the centroid list stored
    alongside. A probe then reads ONLY its cells' directories —
    partition pruning does the 1/n_cells read reduction that
    :func:`ivf_topk` simulates with a filter. Same self-describing
    contract as ext.dedup.save_lsh_index: queries use the STORED
    centroids, so index and probe can never disagree."""
    from ..sinks import write_partitioned

    assigned = df.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(vec_col),
    ).withColumn("cell", cell_assignment(F.col(vec_col), centroids, vec_sql=f"`{vec_col}`"))
    write_partitioned(assigned, path + "/cells", ["cell"], files_per_partition=1)
    rows = [(int(i), [float(x) for x in c]) for i, c in enumerate(centroids)]
    df.sparkSession.createDataFrame(
        rows, schema="cell int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").json(path + "/centroids")


def ivf_index_topk(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 6,
) -> DataFrame:
    """Top-k over a persisted IVF index: rank the STORED centroids
    against the query driver-side, scan only the matching cell
    directories (FileIndex partition pruning — verify with
    planaudit/explain: PartitionFilters on ``cell``), exact cosine +
    TakeOrdered inside them."""
    cents = {
        int(r["cell"]): [float(x) for x in r["centroid"]]
        for r in spark.read.json(path + "/centroids").collect()
    }
    ordered = [cents[i] for i in sorted(cents)]
    probe = _probe_cells(query_vec, ordered, nprobe)
    q = _as_literal_array(query_vec)
    cos = cosine_col(F.col(vec_col), q)
    if round_digits is not None:
        cos = F.round(cos, round_digits)
    return (
        spark.read.parquet(path + "/cells")
        .filter(F.col("cell").isin(probe))
        .select(F.col(id_col), cos.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.col(id_col))
        .limit(k)
    )


def _hyperplane_weights(bits: int, dim: int) -> list[list[int]]:
    """Deterministic pseudo-random ±1 hyperplane matrix (bits x dim),
    derived from md5 so every run / cluster size / engine agrees — the
    same portability convention as ext/dedup's MinHash hashing."""
    return [
        [
            1 if int(hashlib.md5(f"{j}:{d}".encode()).hexdigest()[0], 16) >= 8 else -1
            for d in range(dim)
        ]
        for j in range(bits)
    ]


def hyperplane_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    bits: int = 32,
    bands: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int | None = 6,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs (cosine >= threshold) via random-hyperplane
    LSH bucketing — the scale path that replaces the O(n²) all-pairs
    comparison.

    ``max_bucket_size`` drops (band, bkey) buckets larger than the cap
    before the self-join — the hot-bucket guard (a cluster of
    near-identical vectors, e.g. zero/boilerplate embeddings, otherwise
    makes one bucket quadratic). Same recall contract as
    ext/dedup._cap_buckets: a pair is lost only if every band it shares
    is oversized.

    Per vector: ``bits`` sign bits, bit j = sign of the dot product with
    a deterministic ±1 hyperplane (P[bits agree] = 1 - angle/π, the
    SimHash guarantee). Bits split into ``bands`` band keys; candidate
    pairs are generated ONLY inside equal (band, key) buckets via an
    equi-join, then exact cosine filters them. Recall < 1 by
    construction (a true pair straddling a hyperplane in every band is
    missed); more bands raise recall, more bits per band shrink buckets.

    Scale design: the only join is bucket-key equality (shuffle on an
    8-bit-per-band key — at 100 TB raise ``bits``/``bands`` so bucket
    cardinality ~ corpus/1e6). Vectors ride along through the bucket
    exchange (``bands`` copies), the same layout Spark ML's
    approxSimilarityJoin uses; the corpus is never broadcast and never
    cross-joined. Projections quantize each addend to 1e-6 and sum as
    integers, so bucket assignment is bit-identical under any
    partitioning.
    """
    assert bits % bands == 0
    rows_per_band = bits // bands
    df = df.filter(F.col(vec_col).isNotNull())
    first = df.select(vec_col).head()
    if first is None:
        # empty corpus -> zero pairs, not a crash
        return df.sparkSession.createDataFrame(
            [], schema="vec_a bigint, vec_b bigint, cos_sim double"
        )
    dim = len(first[0])
    W = _hyperplane_weights(bits, dim)

    base = df.select(
        F.col(id_col).alias("__id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__vec"),
    )
    # ALL `bits` projections + band keys in ONE Arrow-batched matmul.
    # Earlier form was a JVM higher-order-function tree (zip_with/
    # aggregate over a dim x bits literal array) — HOFs are interpreted
    # per element (never codegen'd) and the 2k-literal tree taxed every
    # analyze/optimize pass: ~0.35 ms/row + seconds of planning. The
    # batch form is exact INTEGER arithmetic, so bucket assignment is
    # bit-identical to per-projection evaluation under any partitioning
    # or engine: q = round_half_away(x * 1e6) as int64 (matching Spark
    # ROUND semantics), S = q @ W^T in int64 (|S| <= dim * 1e6 * max|x|,
    # far from overflow for unit-scale embeddings), bit j = S_j > 0.
    Wt = np.asarray(W, dtype=np.int64).T  # (dim, bits)
    band_powers = np.zeros((bits, bands), dtype=np.int64)
    for b in range(bands):
        for r in range(rows_per_band):
            band_powers[b * rows_per_band + r, b] = 1 << r

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _band_keys(vecs: pd.Series) -> pd.Series:
        M = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs]) * 1e6
        # Spark ROUND = half away from zero; np.rint is half-to-even
        q = np.where(M >= 0, np.floor(M + 0.5), np.ceil(M - 0.5)).astype(np.int64)
        sign_bits = (q @ Wt > 0).astype(np.int64)  # (n, bits)
        keys = sign_bits @ band_powers  # (n, bands)
        return pd.Series(list(keys.astype(np.int32)))

    sig = base.select(
        "__id",
        "__vec",
        # per-vector squared norm rides along so the pair stage computes
        # ONLY the dot product (cos = dot / (sqrt(n2a) * sqrt(n2b)) is
        # the same double arithmetic as cosine_col, element order
        # unchanged — bit-identical results, 3x less pair-stage work)
        dot_col(F.col("__vec"), F.col("__vec")).alias("__n2"),
        _band_keys(F.col("__vec")).alias("__keys"),
    )

    buckets = sig.select(
        "__id",
        "__vec",
        "__n2",
        F.posexplode(F.col("__keys")).alias("band", "bkey"),
    )
    if max_bucket_size is not None:
        # window count on the same (band, bkey) key the self-join
        # shuffles on — drops hot buckets, reuses the exchange
        wb = Window.partitionBy("band", "bkey")
        buckets = (
            buckets.withColumn("__bsz", F.count(F.lit(1)).over(wb))
            .filter(F.col("__bsz") <= max_bucket_size)
            .drop("__bsz")
        )
    buckets = buckets.persist()  # both self-join sides reuse this;
    # computing the signature once per row instead of once per side
    # (callers clearCache after consuming, as with ext/dedup)
    buckets.count()  # eager, avoiding the two-sided cache race

    a, b = buckets.alias("a"), buckets.alias("b")
    cos = dot_col(F.col("a.__vec"), F.col("b.__vec")) / (
        F.sqrt(F.col("a.__n2")) * F.sqrt(F.col("b.__n2"))
    )
    if round_digits is not None:
        cos = F.round(cos, round_digits)
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("vec_a"),
            F.col("b.__id").alias("vec_b"),
            cos.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
        .dropDuplicates(["vec_a", "vec_b"])
    )


# =====================================================================
# Product quantization (round 4) — the compression half of IVF+PQ
# =====================================================================
#
# PQ splits each d-dim vector into m subvectors and replaces every
# subvector with the id of its nearest entry in a per-subspace
# codebook (k-means trained): d float32 -> m small ints, a 16-32x
# memory cut that is what makes billion-vector ANN fit on a cluster at
# all. Search uses asymmetric distance computation (ADC): the query
# stays exact; per subspace a k_sub-entry lookup table of squared
# distances is computed ONCE on the driver, and every corpus vector's
# approximate distance is m table lookups — a map-side linear scan
# over the codes, no shuffle, composable with the IVF cell pruning
# above (probe cells, then ADC inside them).
#
# All stages are expressions: slicing via transform+slice, assignment
# via per-subspace argmin arrays (each distance appears once in the
# tree — the same O(2^k)-avoidance as cell_assignment), codebook
# updates via quantized-exact per-dimension means with a
# metadata-sized (m * k_sub * sub_dim rows) driver collect per
# iteration, exactly the kmeans_embeddings_2iter contract.


def _sq_dist_col(a: Column, lit_vec: Column) -> Column:
    return F.aggregate(
        F.zip_with(
            a, lit_vec, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _pq_subvecs(df: DataFrame, vec_col: str, id_col: str, m: int, sub_dim: int):
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    slices = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.slice(vec, s * sub_dim + 1, sub_dim),
    )
    return df.select(
        F.col(id_col).alias("__id"), F.posexplode(slices).alias("sub", "svec")
    )


def _lit_d(v: float) -> str:
    """SQL double literal with guaranteed round-trip precision (repr is
    the shortest string that parses back to the same double; the CAST
    is constant-folded at plan time)."""
    return f"CAST('{float(v)!r}' AS DOUBLE)"


def _sq_dist_round9_sql(vec_name: str, center: list[float]) -> str:
    """round-9 squared L2 from array column ``vec_name`` to a literal
    center, as ONE SQL string that parses to the SAME
    aggregate/zip_with fold as
    ``F.round(_sq_dist_col(col, _as_literal_array(center)), 9)`` —
    bit-identical results by construction. Why a string: building the
    fold as nested HOF Column objects costs ~100ms of driver py4j
    round-trips per fold (a 32-distance assignment took 3.3s to BUILD;
    one parsed expression takes 7ms), and fully EXPANDING the
    arithmetic instead triggers a multi-second whole-stage-codegen
    compile per new codebook — the parsed HOF fold stays
    CodegenFallback, which is both compile-cheap and fast enough
    (measured round 5: 0.7s vs 2.0s vs 2.6s steady-state for
    sql-hof / Column-hof / expanded)."""
    terms = ", ".join(_lit_d(c) for c in center)
    return (
        f"round(aggregate(zip_with({vec_name}, array({terms}), "
        f"(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x), 9)"
    )


def _d2_fold_sql(vec_name: str, center: list[float]) -> str:
    """Unrounded squared-L2 fold from array column ``vec_name`` to a
    literal center, as ONE SQL string that parses to the SAME
    aggregate/zip_with fold as the Column-lambda form
    ``F.aggregate(F.zip_with(col, lit, (x, y) -> (x-y)*(x-y)), 0.0,
    acc+x)`` — bit-identical results by construction (same fold, same
    literal doubles via repr round-trip). Why a string: the
    Column-lambda form costs ~100 ms of driver py4j round-trips per
    fold (measured round 5 and re-measured round 16: an 8-centroid
    assignment took 0.38 s to BUILD via Columns, 3 ms parsed)."""
    terms = ", ".join(_lit_d(c) for c in center)
    return (
        f"aggregate(zip_with({vec_name}, array({terms}), "
        f"(x, y) -> (x - y) * (x - y)), CAST(0.0 AS DOUBLE), "
        f"(acc, x) -> acc + x)"
    )


def argmin_assign_cols(
    cent_pairs: list[tuple[int, list[float]]], vec_name: str = "v"
):
    """(best_cid, best_d2, d2s) Columns for nearest-centroid assignment
    with lowest-cid tie-breaks — the array_min + array_position argmin
    shape every k-means/IVF operator in the catalog uses (each d2
    expression sits in one array; ties resolve to the first == lowest
    cid because cent_pairs is ascending-cid). Built as parsed SQL
    strings for the _d2_fold_sql reason; the parsed tree is the same
    expression the Column-lambda builders produced, so assignments are
    bit-identical (verified by oracle replay of every consumer)."""
    d2_arr = (
        "array("
        + ", ".join(_d2_fold_sql(vec_name, vec) for _, vec in cent_pairs)
        + ")"
    )
    cids = (
        "array("
        + ", ".join(f"CAST({int(cid)} AS BIGINT)" for cid, _ in cent_pairs)
        + ")"
    )
    best = f"array_min({d2_arr})"
    cid = (
        f"element_at({cids}, "
        f"CAST(array_position({d2_arr}, {best}) AS INT))"
    )
    return F.expr(cid), F.expr(best), F.expr(d2_arr)


def _shuffle_partitions(spark) -> int:
    """``spark.sql.shuffle.partitions`` as a number. Some platforms set
    it to a non-numeric value such as ``auto`` (the engine then picks
    the count); fall back to the default parallelism there."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        return spark.sparkContext.defaultParallelism


def semdedup_pair_cosines(
    cells: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "v",
    key_col: str = "cid",
    round_digits: int = 6,
) -> DataFrame:
    """Within-cell pair cosines (ia < ib) — the SemDeDup prune pass's
    quadratic kernel, parallelized past the distinct-cell count.

    The plain ``cells JOIN cells ON cid`` has a tiny shuffled INPUT
    (one row per vector) but a quadratic OUTPUT, so AQE coalesces the
    post-shuffle partitions to ~1 and the per-pair dot products run
    nearly serially (guide §2.5/§3.3: the exploding join). Salting
    side A with a deterministic pmod(xxhash64(id), s) and replicating
    side B s ways raises the distinct join keys to n_cells * s, and
    the explicit repartition-by-num pins the parallelism AQE would
    otherwise coalesce away. Each unordered pair still meets exactly
    once (A carries one salt, B matches every salt), so the pair set
    and the 6dp cosine values are identical to the unsalted join —
    measured 3.2 s -> 0.8 s on the sf0.1 kernel, bit-identical output.

    Scale note: s = ceil(shuffle.partitions / n_cells). At cluster
    scale k-means cell counts grow with the corpus (k >= partitions),
    so s degenerates to 1 and this is the plain cell-keyed join plus
    one explicit repartition — nothing here is a local-mode constant.
    """
    spark = cells.sparkSession
    p = _shuffle_partitions(spark)
    s = max(1, -(-p // max(int(n_cells), 1)))
    n2 = dot_col(F.col(vec_col), F.col(vec_col))
    a = cells.select(
        F.col(key_col),
        F.col(id_col).alias("ia"),
        F.col(vec_col).alias("va"),
        n2.alias("na2"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(s)).alias("salt"),
    ).repartition(p, key_col, "salt")
    b = cells.select(
        F.col(key_col),
        F.col(id_col).alias("ib"),
        F.col(vec_col).alias("vb"),
        n2.alias("nb2"),
    ).withColumn(
        "salt", F.explode(F.array(*[F.lit(i).cast("long") for i in range(s)]))
    )
    cos = F.round(
        dot_col(F.col("va"), F.col("vb"))
        / (F.sqrt(F.col("na2")) * F.sqrt(F.col("nb2"))),
        round_digits,
    )
    return (
        a.join(b, [key_col, "salt"])
        .filter(F.col("ia") < F.col("ib"))
        .select("ia", "ib", cos.alias("cos"))
    )


def _pq_assign_col(svec_name: str, sub_name: str, codebooks: list[list[list[float]]]):
    """Per-subspace argmin code (ties -> lowest code id). Distances are
    rounded to 9dp BEFORE the argmin — the same engine-portability
    convention as cell_assignment's cosine ranking: float-sum
    association differences across engines cannot flip an assignment
    unless two centroids are within 1e-9, which the tie-break then
    resolves identically. Takes column NAMES: the whole assignment is
    generated as one SQL expression (see _sq_dist_round9_sql)."""
    parts = []
    for s, cb in enumerate(codebooks):
        arr = "array(" + ", ".join(_sq_dist_round9_sql(svec_name, c) for c in cb) + ")"
        parts.append(
            f"WHEN {sub_name} = {s} THEN "
            f"CAST(array_position({arr}, array_min({arr})) - 1 AS INT)"
        )
    return F.expr("CASE " + " ".join(parts) + " END")


def pq_train(
    df: DataFrame,
    dim: int,
    m: int = 8,
    k_sub: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[list[float]]]:
    """Train PQ codebooks: independent k-means per subspace, seeds =
    the first ``k_sub`` vectors' subvectors (deterministic). Returns
    ``codebooks[m][k_sub][sub_dim]`` (driver-side metadata, like IVF
    centroids). Empty clusters keep their previous centroid."""
    if dim % m:
        raise ValueError(f"dim ({dim}) must be divisible by m ({m})")
    sub_dim = dim // m
    sv = _pq_subvecs(df, vec_col, id_col, m, sub_dim).persist()
    try:
        seed_rows = sv.filter(F.col("__id") < k_sub).orderBy("__id", "sub").collect()
        codebooks: list[list[list[float]]] = [[] for _ in range(m)]
        for r in seed_rows:
            codebooks[r["sub"]].append([float(x) for x in r["svec"]])
        if any(len(cb) < k_sub for cb in codebooks):
            raise ValueError(
                f"need ids 0..{k_sub - 1} present to seed {k_sub} centroids"
            )
        for _ in range(iters):
            code = _pq_assign_col("svec", "sub", codebooks)
            mean_rows = (
                sv.withColumn("code", code)
                .select("sub", "code", F.posexplode("svec").alias("pos", "x"))
                .groupBy("sub", "code", "pos")
                .agg(
                    (
                        F.sum(F.round(F.col("x") * F.lit(1e9)).cast("long"))
                        .cast("double")
                        / F.lit(1e9)
                        / F.count(F.lit(1))
                    ).alias("mu")
                )
                .collect()
            )
            upd: dict = {}
            for r in mean_rows:
                upd.setdefault((r["sub"], r["code"]), {})[r["pos"]] = r["mu"]
            for (s, c), by_pos in upd.items():
                codebooks[s][c] = [by_pos[p] for p in range(sub_dim)]
        return codebooks
    finally:
        sv.unpersist()


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, codes array<int>): each vector compressed to m codes.
    Map-side assignment + one groupBy on the id to re-assemble the
    code array in subspace order."""
    m = len(codebooks)
    sub_dim = len(codebooks[0][0])
    sv = _pq_subvecs(df, vec_col, id_col, m, sub_dim)
    code = _pq_assign_col("svec", "sub", codebooks)
    return (
        sv.select("__id", "sub", code.alias("code"))
        .groupBy(F.col("__id").alias(id_col))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub", "code"))),
                lambda x: x["code"],
            ).alias("codes")
        )
    )


def pq_topk(
    codes_df: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k: squared-L2 lookup tables from the exact query to every
    codebook entry (driver-side, m * k_sub floats), then each corpus
    row's approximate distance is m array lookups — a zero-shuffle
    linear scan + TakeOrdered. Returns (id, adc_d2) ascending."""
    adc = _adc_col(codebooks, query_vec)
    return (
        codes_df.select(F.col(id_col), adc.alias("adc_d2"))
        .orderBy(F.asc("adc_d2"), F.col(id_col))
        .limit(k)
    )


def _adc_col(
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    codes_col: str = "codes",
) -> Column:
    """round-9 ADC distance of one query against a ``codes`` array
    column: the per-subspace lookup tables are built driver-side in
    Python (m * k_sub floats), the row cost is m array lookups summed
    by the same left fold every distance in this module uses. Shared
    by :func:`pq_topk` and the recall harness (which evaluates several
    queries in ONE scan by stacking these columns)."""
    m = len(codebooks)
    sub_dim = len(codebooks[0][0])
    if len(query_vec) != m * sub_dim:
        raise ValueError(
            f"query dim {len(query_vec)} != m * sub_dim ({m * sub_dim})"
        )
    luts = []
    for s, cb in enumerate(codebooks):
        qs = [float(x) for x in query_vec[s * sub_dim : (s + 1) * sub_dim]]
        luts.append(
            [sum((a - b) ** 2 for a, b in zip(qs, c)) for c in cb]
        )
    # one parsed SQL string (optimization r16, the _d2_fold_sql
    # rationale): same zip_with/aggregate fold over the same literal
    # lookup tables the Column-lambda form built, ~100 ms less driver
    # py4j time per query column
    lut_sql = (
        "array("
        + ", ".join(
            "array(" + ", ".join(_lit_d(v) for v in row) + ")" for row in luts
        )
        + ")"
    )
    return F.expr(
        f"round(aggregate(zip_with({codes_col}, sequence(0, {m - 1}), "
        f"(c, s) -> element_at(element_at({lut_sql}, CAST(s AS INT) + 1), "
        f"CAST(c AS INT) + 1)), CAST(0.0 AS DOUBLE), "
        f"(acc, x) -> acc + x), 9)"
    )


def save_ivfpq_index(
    df: DataFrame,
    path: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Persist the full IVF+PQ index: PQ codes (NOT raw vectors)
    hive-partitioned by IVF cell, with coarse centroids and PQ
    codebooks stored alongside. This is the billion-vector layout —
    the stored bytes per vector are m code ints instead of d floats
    (16-32x smaller scan), and a probe reads only its cells'
    directories. Same self-describing contract as save_ivf_index:
    queries always use the STORED parameters."""
    import json as _json

    from ..sinks import write_partitioned

    m = len(codebooks)
    sub_dim = len(codebooks[0][0])
    base = df.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(vec_col),
    ).withColumn("cell", cell_assignment(F.col(vec_col), centroids, vec_sql=f"`{vec_col}`"))
    codes = pq_encode(base, codebooks, vec_col=vec_col, id_col=id_col)
    write_partitioned(
        base.select(id_col, "cell").join(codes, id_col),
        path + "/codes",
        ["cell"],
        files_per_partition=1,
    )
    spark = df.sparkSession
    spark.createDataFrame(
        [(int(i), [float(x) for x in c]) for i, c in enumerate(centroids)],
        schema="cell int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").json(path + "/centroids")
    # codebooks are tiny (m * k_sub * sub_dim floats): one JSON row
    spark.createDataFrame(
        [(m, sub_dim, _json.dumps(codebooks))],
        schema="m int, sub_dim int, codebooks string",
    ).coalesce(1).write.mode("overwrite").json(path + "/codebooks")


def ivfpq_index_topk(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 1,
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k over a persisted IVF+PQ index: rank STORED coarse
    centroids driver-side, partition-prune to the probe cells, ADC
    over the stored codes with the STORED codebooks. End to end the
    scan reads ~nprobe/n_cells of an already 16-32x-compressed table
    and never shuffles. Returns (id, adc_d2) ascending."""
    import json as _json

    cents = {
        int(r["cell"]): [float(x) for x in r["centroid"]]
        for r in spark.read.json(path + "/centroids").collect()
    }
    ordered = [cents[i] for i in sorted(cents)]
    meta = spark.read.json(path + "/codebooks").head()
    codebooks = _json.loads(meta["codebooks"])
    probe = _probe_cells(query_vec, ordered, nprobe)
    codes = spark.read.parquet(path + "/codes").filter(F.col("cell").isin(probe))
    return pq_topk(codes, codebooks, query_vec, k=k, id_col=id_col)


def semantic_decontamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.95,
    bits: int = 32,
    bands: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding-level decontamination: corpus vectors whose cosine to
    ANY benchmark vector >= threshold -> (corpus_id, bench_id,
    cos_sim). The semantic complement of the shingle-based
    decontamination_overlap_documents query — paraphrased eval
    leakage shares no n-grams but lands next to the benchmark in
    embedding space.

    Built on the SAME hyperplane-LSH bucketing as
    hyperplane_lsh_pairs: both sides are tagged and unioned, so
    candidates only ever meet inside equal (band, key) buckets via an
    equi-join, then cross-side pairs are kept. The benchmark is
    typically tiny, but this shape does NOT depend on that — it never
    broadcasts or cross-joins either side, so it also covers
    corpus-vs-corpus contamination sweeps at any size ratio.

    RECALL CAVEAT: hyperplane LSH is probabilistic — a pair above
    ``threshold`` that agrees on no full band is silently missed. The
    per-pair hit probability is 1 - (1 - p^r)^bands with
    p = 1 - acos(cos_sim)/pi and r = bits/bands; at the defaults
    (bits=32, bands=4, r=8) a cos 0.95 pair is caught with ~0.93
    probability, cos 0.99 with ~0.999. For a LEAK-DETECTION surface
    where completeness matters more than cost, either raise recall
    (more bands / fewer bits per band, e.g. bits=32 bands=8 -> ~0.997
    at cos 0.95) or, when the benchmark side is small enough that
    n_bench * n_corpus comparisons are affordable, brute-force the
    cross cosine instead (cosine_topk per bench vector) — recall 1.0
    by construction. Same-direction duplicates (pure rescales) agree
    on every sign bit, so THEY are always caught at any setting.
    """
    a = corpus.select(
        (F.col(id_col).cast("long") * 2).alias(id_col), F.col(vec_col)
    )
    b = benchmark.select(
        (F.col(id_col).cast("long") * 2 + 1).alias(id_col), F.col(vec_col)
    )
    pairs = hyperplane_lsh_pairs(
        a.unionByName(b),
        threshold=threshold,
        bits=bits,
        bands=bands,
        vec_col=vec_col,
        id_col=id_col,
        max_bucket_size=max_bucket_size,
    )
    # parity of the tagged id encodes the side; keep cross-side pairs
    va, vb = F.col("vec_a"), F.col("vec_b")
    corpus_id = F.when(va % 2 == 0, va).otherwise(vb) / 2
    bench_id = F.when(va % 2 == 1, va).otherwise(vb) / 2
    return pairs.filter(va % 2 != vb % 2).select(
        corpus_id.cast("long").alias("corpus_id"),
        F.floor(bench_id).cast("long").alias("bench_id"),
        "cos_sim",
    )


def pca_top_direction(
    df: DataFrame,
    dim: int,
    iters: int = 2,
    vec_col: str = "embedding",
) -> list[float]:
    """Top principal direction of the ``dim``-dim covariance by
    deterministic POWER ITERATION, returned as a unit vector
    (driver-side metadata, like IVF centroids / PQ codebooks).

    Never materializes the covariance matrix: each step computes
    C.v as the per-dimension mean of ``(x - mu) * ((x - mu) . v)`` —
    one narrow map pass + one ``dim``-group aggregate per iteration.
    Determinism contract (the kmeans/PQ convention): mu and every
    C.v component are quantized-exact sums (int64-accumulated), the
    per-row dot is an in-order fold, v0 is the uniform 1/sqrt(dim)
    vector, and no intermediate normalization happens (2-3 steps
    need none; callers normalize the returned vector, which this
    function does in index order). The whole run is therefore
    bit-replayable by the DuckDB oracle of the staged
    ``covariance_topvec_embeddings`` query.

    This is the building block for OPQ-style rotations, whitening,
    and "is the embedding space collapsing" drift checks (track the
    top eigendirection across snapshots).
    """
    import math

    emb = df.select(
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("x")
    )
    # ONE wide single-row aggregate instead of posexplode + groupBy(pos):
    # the per-dimension int64 sums are the same addends either way
    # (exact integer addition commutes), but this shape never shuffles
    # dim x n exploded rows — the only exchange is the 1-row partial
    # merge, and at 100 TB that is the difference between a full-corpus
    # shuffle per power-iteration step and none.
    mu_terms = ", ".join(
        f"sum(cast(round(get(x, {i}) * 1e9) as bigint)) as s{i}" for i in range(dim)
    )
    row = emb.agg(
        F.expr(
            f"struct({mu_terms}, count(x) as n, "
            "min(size(x)) as mn, max(size(x)) as mx)"
        ).alias("r")
    ).collect()[0]["r"]
    if row["mx"] is None:
        raise ValueError(f"expected {dim} dimensions, saw 0 (empty input)")
    if row["mn"] != row["mx"]:
        # a ragged input (different vector lengths) would skew the
        # per-dimension divisors — catch it rather than dividing the
        # C.v mean by the wrong n
        raise ValueError(
            f"ragged input: vector lengths differ "
            f"(min {row['mn']}, max {row['mx']}) — every vector "
            f"must have exactly {dim} elements"
        )
    if row["mx"] != dim:
        raise ValueError(f"expected {dim} dimensions, saw {row['mx']}")
    n = int(row["n"])
    # double division in index order, exactly the IEEE ops the previous
    # Spark-side `cast(double) / 1e9 / n` performed
    mu = [float(row[f"s{i}"]) / 1e9 / n for i in range(dim)]
    mu_lit = _as_literal_array(mu)

    v = [1.0 / math.sqrt(dim)] * dim
    for _ in range(iters):
        v_lit = _as_literal_array(v)
        xd = F.zip_with(F.col("x"), mu_lit, lambda a, b: a - b)
        s = F.aggregate(
            F.zip_with(F.col("xd"), v_lit, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        # xd staged as a REAL column, s computed from it in a second
        # projection: the Aggregate consumes both as attributes, so the
        # fold runs once per row, not once per sum term
        staged = emb.select(xd.alias("xd")).select(F.col("xd"), s.alias("s"))
        w_terms = ", ".join(
            f"sum(cast(round(get(xd, {i}) * s * 1e6) as bigint)) as w{i}"
            for i in range(dim)
        )
        wrow = staged.agg(F.expr(f"struct({w_terms})").alias("r")).collect()[0][
            "r"
        ]
        v = [float(wrow[f"w{i}"]) / 1e6 / n for i in range(dim)]
    nm = 0.0
    for y in v:  # in-index-order fold == the oracle's ordered list_sum
        nm = nm + y * y
    nm = math.sqrt(nm)
    if nm == 0.0:
        raise ValueError("power iteration collapsed to the zero vector")
    return [y / nm for y in v]


# =====================================================================
# OPQ-lite: a deterministic learned orthogonal transform for PQ
# =====================================================================


def _householder_u(v: list[float], axis: int) -> list[float]:
    """Householder vector u such that (I - 2uu^T) maps unit vector
    ``v`` onto coordinate axis ``axis``: u = (v - e_axis) normalized.
    All folds run in index order (the cross-engine replay contract)."""
    u = [float(y) for y in v]
    u[axis] -= 1.0
    nm = 0.0
    for y in u:
        nm = nm + y * y
    nm = math.sqrt(nm) if nm > 0 else 0.0
    if nm == 0.0:
        raise ValueError(f"direction already equals e{axis}; no reflection")
    return [y / nm for y in u]


def _householder_apply(df: DataFrame, u: list[float], vec_col: str, out_col: str):
    """x -> x - 2 (u.x) u, staged so the dot product is a REAL column
    (a lambda capturing a computed expression re-evaluates it per
    element — the round-5 O(n^2) HOF lesson)."""
    ul = _as_literal_array(u)
    s = F.aggregate(
        F.zip_with(F.col(vec_col), ul, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    staged = df.withColumn("__hs", s)
    out = F.zip_with(
        F.col(vec_col), ul, lambda a, b: a - F.lit(2.0) * F.col("__hs") * b
    )
    return staged.withColumn(out_col, out).drop("__hs", *(
        [vec_col] if vec_col != out_col else []
    ))


def _opq_fit_stages(
    df: DataFrame,
    dim: int,
    m: int,
    iters: int,
    vec_col: str,
    id_col: str | None,
):
    """Shared OPQ-lite fit computation. Returns
    ``(rot, x1_cached, x2_cached)`` with BOTH stage frames persisted —
    the caller must release them (``opq_rotation_fit`` does so
    immediately; ``opq_fit_apply`` first derives the rotated table
    from the cached x2 so the reflection chain is computed once).
    Each reflected stage is persisted before the passes that consume
    it: Catalyst's projection collapse would otherwise inline the
    staged dot product into downstream HOF lambdas, re-evaluating the
    whole chain PER ARRAY ELEMENT (the round-5 O(n^2) HOF lesson,
    compounded across two reflections)."""
    if dim % m:
        raise ValueError(f"dim ({dim}) must be divisible by m ({m})")
    sub_dim = dim // m
    v1 = pca_top_direction(df, dim=dim, iters=iters, vec_col=vec_col)
    u1 = _householder_u(v1, 0)
    cols = ([F.col(id_col)] if id_col else []) + [
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__x")
    ]
    x1 = _householder_apply(df.select(*cols), u1, "__x", "__x1").persist()
    tail = x1.select(F.slice(F.col("__x1"), 2, dim - 1).alias("__t"))
    v2t = pca_top_direction(tail, dim=dim - 1, iters=iters, vec_col="__t")
    u2 = _householder_u([0.0] + v2t, sub_dim)
    x2 = _householder_apply(x1, u2, "__x1", "__x2").persist()
    # per-dimension variance of the rotated data (quantized-exact like
    # the power iteration: mean at 1e9, squared-deviation mean at 1e6),
    # as two single-row wide aggregates — same int64 addends as the
    # old posexplode + groupBy(pos) form, no dim x n exploded shuffle
    mu_terms = ", ".join(
        f"sum(cast(round(get(__x2, {i}) * 1e9) as bigint)) as s{i}"
        for i in range(dim)
    )
    mrow = x2.agg(
        F.expr(f"struct({mu_terms}, count(__x2) as n)").alias("r")
    ).collect()[0]["r"]
    n2 = int(mrow["n"])
    mu_lit = _as_literal_array(
        [float(mrow[f"s{i}"]) / 1e9 / n2 for i in range(dim)]
    )
    xd2 = x2.select(
        F.zip_with(F.col("__x2"), mu_lit, lambda a, b: a - b).alias("xd")
    )
    var_terms = ", ".join(
        f"sum(cast(round(get(xd, {i}) * get(xd, {i}) * 1e6) as bigint)) as v{i}"
        for i in range(dim)
    )
    vrow = xd2.agg(F.expr(f"struct({var_terms})").alias("r")).collect()[0]["r"]
    ranked = sorted(
        ((float(vrow[f"v{i}"]) / 1e6 / n2, i) for i in range(dim)),
        key=lambda t: (-t[0], t[1]),
    )
    # snake assignment: rank r lands in subspace (r%m forward on even
    # blocks, reversed on odd) at within-subspace slot r//m — each
    # subspace receives one dimension per variance tier
    perm = [0] * dim
    for r, (_, j) in enumerate(ranked):
        blk, off = divmod(r, m)
        sub = off if blk % 2 == 0 else m - 1 - off
        perm[sub * sub_dim + blk] = j
    return {"u1": u1, "u2": u2, "perm": perm}, x1, x2


def opq_rotation_fit(
    df: DataFrame,
    dim: int,
    m: int,
    iters: int = 2,
    vec_col: str = "embedding",
) -> dict:
    """Fit an OPQ-lite orthogonal transform: two Householder
    reflections aligning the top-2 principal directions (deterministic
    power iteration, :func:`pca_top_direction`) onto the first
    coordinates of PQ subspaces 0 and 1, followed by a
    variance-balancing snake permutation so high-variance dimensions
    spread evenly across all ``m`` subspaces — the eigenvalue-
    allocation idea from the OPQ paper in its cheapest deterministic
    form. Returns driver-side metadata ``{"u1", "u2", "perm"}``
    (like IVF centroids / PQ codebooks): u1/u2 are the Householder
    vectors, ``perm[t]`` is the SOURCE dimension landing at target
    position ``t``. Leaves no cache debt; when the rotated table is
    needed too, :func:`opq_fit_apply` shares the fit's reflected
    stages instead of recomputing them.

    Every arithmetic step is an in-order fold over quantized-exact
    aggregates, so a SQL oracle replays the whole fit bit-identically
    (the covariance_topvec_embeddings contract extended to the full
    transform). Scale shape: 2 power iterations = 2 narrow map passes
    + dim-group aggregates each; the variance pass is one more; driver
    state is three dim-length vectors. Rotation helps exactly when
    the top principal directions CROSS subspace boundaries (energy
    that independent per-subspace codebooks cannot share); on
    isotropic corpora it is a provably-orthogonal no-op — measure
    recall@k before shipping either way (pq_opq_recall_embeddings).
    """
    rot, x1, x2 = _opq_fit_stages(df, dim, m, iters, vec_col, None)
    x2.unpersist()
    x1.unpersist()
    return rot


def opq_fit_apply(
    df: DataFrame,
    dim: int,
    m: int,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "vec",
):
    """Fit AND apply in one pass over the reflection stages: the
    rotated table is derived from the fit's own cached second
    reflection (plus the permutation) instead of re-running both
    Householder passes, halving the transform cost of the
    fit-then-apply sequence. Returns ``(rot, rotated_df)`` with the
    rotated table persisted eagerly (the tfidf word-table convention:
    callers clearCache after consuming); the intermediate stage caches
    are released before returning."""
    rot, x1, x2 = _opq_fit_stages(df, dim, m, iters, vec_col, id_col)
    perm_lit = F.array(*[F.lit(int(p)) for p in rot["perm"]])
    out = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda t: F.element_at(
            F.col("__x2"), F.element_at(perm_lit, t.cast("int") + 1) + 1
        ),
    )
    xr = x2.withColumn(out_col, out).select(id_col, out_col).persist()
    xr.count()  # materialize BEFORE releasing the parent stages
    x2.unpersist()
    x1.unpersist()
    return rot, xr


def opq_apply(
    df: DataFrame,
    rot: dict,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "vec",
) -> DataFrame:
    """Apply a fitted OPQ-lite transform: two Householder reflections
    then the permutation. Each reflected stage is MATERIALIZED
    (persist + eager count — the tfidf word-table convention: callers
    clearCache after consuming) because Catalyst's projection collapse
    otherwise inlines the staged dot product back into the next
    stage's HOF lambda and the whole chain re-evaluates PER ARRAY
    ELEMENT — measured 47 s for 2000 x 64 vectors, ~2 s materialized.
    At 100 TB the rotated table is WRITTEN between stages (the
    save_ivfpq_index layout), so the local caches stand in for that
    write, not for extra compute. Returns (id_col, out_col)."""
    dim = len(rot["u1"])
    base = df.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__x"),
    )
    x1 = _householder_apply(base, rot["u1"], "__x", "__x1").persist()
    x1.count()
    x2 = _householder_apply(x1, rot["u2"], "__x1", "__x2").persist()
    x2.count()
    perm_lit = F.array(*[F.lit(int(p)) for p in rot["perm"]])
    out = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda t: F.element_at(
            F.col("__x2"), F.element_at(perm_lit, t.cast("int") + 1) + 1
        ),
    )
    return x2.withColumn(out_col, out).select(id_col, out_col)
