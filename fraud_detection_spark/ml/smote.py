"""Distributed SMOTE oversampling — the reference's one genuinely
custom operator (imblearn SMOTE at preprocess.py:43-44 and inside each
CV fold at train_model.py:65-66,91-92), re-designed for Spark.

Algorithm (SMOTE, Chawla et al. 2002): for each synthetic sample, take
a minority row x, one of its k nearest minority neighbours x_nn, and
emit x + γ·(x_nn − x) with γ ∈ [0,1), until classes balance.

Spark design (fraud-shaped data: minority ≪ majority):
1. class counts — one tiny aggregate;
2. the minority feature matrix is collected once and **broadcast**
   (the standard fraud regime: minority is orders of magnitude smaller
   than the table; 1M rows × 30 doubles ≈ 240 MB broadcast upper
   bound). kNN over the minority matrix is computed once, chunked.
3. synthesis is fully distributed: ``spark.range(n_needed)`` partitions
   the synthetic-id space and every row is a *pure function of its id*
   (base row = id mod m, neighbour choice and γ from a multiplicative
   hash of the id) — deterministic under any partitioning / retry,
   no RNG state, no shuffle, no driver generation.

When the minority side itself is too large to broadcast,
``smote_oversample_lsh`` swaps step 2 for a
``BucketedRandomProjectionLSH.approxSimilarityJoin`` minority
self-join and keeps the whole synthesis distributed (no driver
collection at all); the synthesis contract (pure function of the
synthetic id) is unchanged.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fraud_detection_spark.functions import prefix_sums

_HASH = 2654435761  # Knuth multiplicative hash constant
# Bucket count for the LSH path's distributed 0..m-1 indexing — bounds
# the broadcast offset table (rows) while keeping per-bucket windows at
# m/1024 rows; at a 1e9-row minority that is ~1M rows per task, and the
# constant can rise without changing semantics (midx depends on it only
# through the stable (bucket, _ok) order).
_IDX_BUCKETS = 1024


def _knn_indices(mat: np.ndarray, k: int, chunk: int = 2048) -> np.ndarray:
    """Exact kNN over the (small, broadcastable) minority matrix.
    Chunked O(m²) distance computation; returns (m, k) neighbour ids
    (self excluded).

    Selection is argpartition (O(m) per row) + a deterministic
    (distance, index) sort of just the k winners — NOT a full argsort
    of every row, which is O(m log m)·m and was measured as the
    dominant term of the whole SMOTE call at a 20k-row minority
    (~70 s -> ~3 s). Boundary ties may pick a different-but-equal
    neighbour than the old full stable argsort; synthesis stays
    deterministic for a fixed input either way."""
    m = mat.shape[0]
    k = min(k, m - 1)
    sq = (mat * mat).sum(axis=1)
    out = np.empty((m, k), dtype=np.int64)
    for start in range(0, m, chunk):
        end = min(start + chunk, m)
        out[start:end] = _knn_rows(mat, sq, np.arange(start, end), k)
    return out


def _knn_rows(mat: np.ndarray, sq: np.ndarray, ids: np.ndarray, k: int) -> np.ndarray:
    """kNN for the given row ids against the full matrix — the shared
    kernel of the driver-chunked and executor-distributed forms (same
    float64 per-row arithmetic, so both produce identical indices)."""
    d = sq[ids, None] - 2.0 * (mat[ids] @ mat.T) + sq[None, :]
    d[np.arange(len(ids)), ids] = np.inf  # exclude self
    part = np.argpartition(d, k - 1, axis=1)[:, :k]
    pd_ = np.take_along_axis(d, part, axis=1)
    # order the k winners by (distance, index) — deterministic
    order = np.lexsort((part, pd_), axis=1)
    return np.take_along_axis(part, order, axis=1)


# above this minority size the O(m²) kNN moves off the driver onto the
# executors (same kernel, parallel over row chunks; the (m, k) index
# table that comes back is k·8 bytes/row — bounded metadata)
_KNN_DRIVER_MAX = 4096


def _knn_indices_distributed(
    spark: SparkSession, mat: np.ndarray, k: int
) -> np.ndarray:
    """Executor-parallel exact kNN: broadcast the minority matrix,
    fan the row space out over ``spark.range(m)``, run the identical
    float64 kernel per chunk, collect only the (m, k) neighbour-index
    table. Wall-clock is the driver form divided by the core count;
    results are bit-identical (the kernel computes each row
    independently, so chunking cannot change them)."""
    m = mat.shape[0]
    k_eff = min(k, m - 1)
    bc = spark.sparkContext.broadcast((mat, (mat * mat).sum(axis=1)))

    def part_knn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mat_b, sq_b = bc.value
        for pdf in batches:
            ids = pdf["id"].values.astype(np.int64)
            nn = _knn_rows(mat_b, sq_b, ids, k_eff)
            out = {"midx": ids}
            for j in range(k_eff):
                out[f"n{j}"] = nn[:, j]
            yield pd.DataFrame(out)

    schema = "midx bigint, " + ", ".join(f"n{j} bigint" for j in range(k_eff))
    n_parts = max(spark.sparkContext.defaultParallelism, 1)
    rows = (
        spark.range(m)
        .repartition(n_parts)
        .mapInPandas(part_knn, schema=schema)
        .toPandas()
        .sort_values("midx")
    )
    return rows[[f"n{j}" for j in range(k_eff)]].to_numpy(dtype=np.int64)


def smote_oversample(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str = "label",
    minority_label: int = 1,
    k: int = 5,
    seed: int = 42,
    order_col: str | None = None,
) -> DataFrame:
    """Return ``df`` (features + label + is_synthetic=0) unioned with
    synthetic minority rows (is_synthetic=1) until classes balance.

    ``order_col``: column to sort the minority rows by before indexing,
    making the synthesis deterministic regardless of scan order.
    """
    spark = df.sparkSession
    counts = {
        r[label_col]: r["cnt"]
        for r in df.groupBy(label_col).agg(F.count("*").alias("cnt")).collect()
    }
    n_min = counts.get(minority_label, 0)
    n_maj = sum(v for lbl, v in counts.items() if lbl != minority_label)
    needed = max(n_maj - n_min, 0)

    base = df.select(
        *[F.col(c).cast("double").alias(c) for c in feature_cols],
        F.col(label_col).cast("int").alias(label_col),
        F.lit(0).alias("is_synthetic"),
    )
    if needed == 0 or n_min < 2:
        return base

    minority = df.filter(F.col(label_col) == minority_label)
    if order_col is not None:
        minority = minority.orderBy(order_col)
    mat = np.asarray(
        minority.select(*[F.col(c).cast("double") for c in feature_cols])
        .toPandas()
        .values,
        dtype=np.float64,
    )
    if mat.shape[0] > _KNN_DRIVER_MAX:
        knn = _knn_indices_distributed(spark, mat, k)
    else:
        knn = _knn_indices(mat, k)
    k_eff = knn.shape[1]
    bc = spark.sparkContext.broadcast((mat, knn))

    out_schema = T.StructType(
        [T.StructField(c, T.DoubleType(), True) for c in feature_cols]
    )

    def synthesize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mat_b, knn_b = bc.value
        m = mat_b.shape[0]
        for pdf in batches:
            ids = pdf["id"].values.astype(np.int64)
            base_idx = ids % m
            nn_slot = (ids // m) % k_eff
            nn_idx = knn_b[base_idx, nn_slot]
            # deterministic γ ∈ [0,1): multiplicative hash of the id.
            # Reduce id mod 1e6 BEFORE the multiply: (a·b) mod m ==
            # ((a mod m)·(b mod m)) mod m, and the reduced product
            # (< 1e12) can never overflow int64 — so this is exact,
            # non-negative, and identical to the Spark LSH path for
            # EVERY id (the naive id*H form overflows at id ≈ 3.5e9).
            gamma = (
                (((ids % 1_000_000) * (_HASH % 1_000_000) + seed) % 1_000_000)
                / 1_000_000.0
            )[:, None]
            x = mat_b[base_idx]
            synth = x + gamma * (mat_b[nn_idx] - x)
            yield pd.DataFrame(synth, columns=feature_cols)

    synth_df = (
        spark.range(needed)
        .mapInPandas(synthesize, schema=out_schema)
        .select(
            *feature_cols,
            F.lit(int(minority_label)).alias(label_col),
            F.lit(1).alias("is_synthetic"),
        )
    )
    return base.unionByName(synth_df)


def smote_oversample_lsh(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str = "label",
    minority_label: int = 1,
    k: int = 5,
    seed: int = 42,
    order_col: str | None = None,
    bucket_length: float = 2.0,
    num_hash_tables: int = 4,
) -> DataFrame:
    """SMOTE scale path: nothing is collected to the driver.

    1. index minority rows 0..m-1 WITHOUT a global window: the
       running count − 1 from functions.prefix_sums over hash buckets
       of the order key. No stage ever moves the whole minority set to
       one task;
    2. approximate kNN via BucketedRandomProjectionLSH self-join
       (candidate pairs from hash-bucket equality, not a cross join);
       keep each row's k nearest, slot-numbered 0..k-1;
    3. synthesize: ``spark.range(needed)`` joins the kNN table on
       (base = id mod m, slot = (id div m) mod k_eff) and interpolates
       with the same id-hashed γ as the broadcast path.

    Rows whose LSH neighbourhood is empty fall back to self-pairing
    (γ·0 — emits the base point), keeping the output count exact.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH, VectorAssembler
    from pyspark.sql.window import Window

    spark = df.sparkSession
    counts = {
        r[label_col]: r["cnt"]
        for r in df.groupBy(label_col).agg(F.count("*").alias("cnt")).collect()
    }
    n_min = counts.get(minority_label, 0)
    n_maj = sum(v for lbl, v in counts.items() if lbl != minority_label)
    needed = max(n_maj - n_min, 0)

    base = df.select(
        *[F.col(c).cast("double").alias(c) for c in feature_cols],
        F.col(label_col).cast("int").alias(label_col),
        F.lit(0).alias("is_synthetic"),
    )
    if needed == 0 or n_min < 2:
        return base

    # alias the ordering key to a reserved name so the default
    # (order_col=None -> first feature) never collides with the casted
    # feature column of the same name
    order_key = F.col(order_col) if order_col is not None else F.col(feature_cols[0])
    keyed = df.filter(F.col(label_col) == minority_label).select(
        order_key.alias("_ok"),
        *[F.col(c).cast("double").alias(c) for c in feature_cols],
    )
    # Dense 0..m-1 index with no unpartitioned window: the bucket is a
    # pure function of the order key (hash mod _IDX_BUCKETS), so midx
    # stays deterministic under any partitioning/retry; the effective
    # global order is (bucket, _ok) — as arbitrary-but-stable as _ok
    # itself.
    minority = prefix_sums(
        keyed,
        F.pmod(F.xxhash64(F.col("_ok")), F.lit(_IDX_BUCKETS)).cast("int"),
        "_ok",
        [(F.lit(1), "midx")],
    ).withColumn("midx", F.col("midx") - 1).cache()

    assembler = VectorAssembler(inputCols=feature_cols, outputCol="fvec")
    mv = assembler.transform(minority).select("midx", "fvec", *feature_cols)

    lsh = BucketedRandomProjectionLSH(
        inputCol="fvec",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = lsh.fit(mv)
    pairs = (
        model.approxSimilarityJoin(mv, mv, float("inf"), distCol="dist")
        .select(
            F.col("datasetA.midx").alias("a"),
            F.col("datasetB.midx").alias("b"),
            "dist",
        )
        .filter(F.col("a") != F.col("b"))
    )
    w_nn = Window.partitionBy("a").orderBy("dist", "b")
    knn = (
        pairs.withColumn("slot", F.row_number().over(w_nn) - 1)
        .filter(F.col("slot") < k)
        .select("a", "slot", "b")
    )

    m = n_min
    ids = spark.range(needed).select(
        F.col("id"),
        (F.col("id") % m).alias("a"),
        ((F.col("id") / m).cast("long") % k).alias("want_slot"),
        # pmod + pre-reduced multiplicand: non-negative for all ids and
        # overflow-proof under ANSI mode (see broadcast path note)
        (
            F.pmod(
                F.pmod(F.col("id"), F.lit(1_000_000)) * F.lit(_HASH % 1_000_000)
                + F.lit(seed),
                F.lit(1_000_000),
            )
            / 1_000_000.0
        ).alias("gamma"),
    )
    # modulo the row's actual neighbour count (LSH may find < k):
    slot_counts = knn.groupBy("a").agg(F.count("*").alias("k_eff"))
    ids2 = (
        ids.join(slot_counts, "a", "left")
        .withColumn("k_eff", F.coalesce(F.col("k_eff"), F.lit(0)))
        .withColumn(
            "slot",
            F.when(F.col("k_eff") > 0, F.col("want_slot") % F.col("k_eff")).otherwise(F.lit(-1)),
        )
    )
    base_feats = minority.select(
        F.col("midx").alias("a"), *[F.col(c).alias(f"x_{c}") for c in feature_cols]
    )
    nn_feats = minority.select(
        F.col("midx").alias("b"), *[F.col(c).alias(f"n_{c}") for c in feature_cols]
    )
    synth = (
        ids2.join(knn, ["a", "slot"], "left")
        .join(base_feats, "a")
        .join(nn_feats, "b", "left")
        .select(
            *[
                (
                    F.col(f"x_{c}")
                    + F.col("gamma")
                    * (F.coalesce(F.col(f"n_{c}"), F.col(f"x_{c}")) - F.col(f"x_{c}"))
                ).alias(c)
                for c in feature_cols
            ],
            F.lit(int(minority_label)).alias(label_col),
            F.lit(1).alias("is_synthetic"),
        )
    )
    return base.unionByName(synth)
