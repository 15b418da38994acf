"""Similarity search over an embeddings table ``(vec_id long, embedding
array<float>, ...)``.

Three paths, same output shape (query_id, vec_id, cosine):

- ``knn_brute``: exact top-k. Broadcast the (small) query set against the
  corpus — a map-side join, no shuffle of the corpus — then a per-query top-k
  window. The dot product is `zip_with` + `aggregate` higher-order functions:
  all-JVM, no Python, and the SAME left-to-right fold DuckDB executes — this
  is the oracle-identical verifier.
- ``knn_brute_arrow``: exact top-k, production kernel. One numpy/BLAS
  matmul per Arrow batch with per-batch top-k pre-filtering; pinned equal
  to ``knn_brute`` at 1e-6 rounding. Faster and far lower variance than the
  interpreted HOF folds, and the gap widens with corpus size.
- ``ann_sign_lsh``: the scale path. Sign-random-projection LSH: each bucket
  bit is the sign of the embedding's dot product with a seeded Rademacher
  (±1) hyperplane; queries probe their own bucket plus every 1-bit flip
  (multi-probe), cutting the scanned corpus by ~2^bits/(bits+1) at a recall
  cost pinned by ``tests/test_pipeline.py::test_ann_lsh_recall``.

±1 hyperplane entries are deliberate: the projection is then a pure signed
sum of the raw floats — multiply-by-±1 is exact in IEEE — and Spark
(`zip_with`+`aggregate`, index order) and DuckDB (`list_sum` comprehension,
index order) execute the identical addition sequence, so bucket bits are
bit-for-bit reproducible cross-engine and the LSH stays oracle-checkable.

At 100 TB the corpus side stays partitioned/bucketed by ``bucket`` on disk so
a probe prunes partitions instead of scanning (size 2^bits to the corpus:
bits ≈ log2(n / target_bucket_rows)); the brute path shards the query set
when it outgrows a broadcast.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

LSH_BITS = 8  # default bucket width (2^8 buckets); scale with corpus size
LSH_SEED = 7
EMB_DIM = 64  # the testdata embeddings table dimension


def hyperplanes(
    dim: int = EMB_DIM, bits: int = LSH_BITS, seed: int = LSH_SEED
) -> list[list[int]]:
    """Seeded Rademacher (±1) projection matrix, ``bits`` rows × ``dim``."""
    rng = random.Random(seed)
    return [[1 if rng.random() < 0.5 else -1 for _ in range(dim)] for _ in range(bits)]


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    # try_divide: a zero-norm vector yields null (ranked last), not an
    # ANSI-mode DIVIDE_BY_ZERO error on the driver's default session
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def cosine_prenormed(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """``cosine`` with the per-vector norms hoisted out of the pair.

    Inside a pair join, ``cosine(a, b)`` re-folds ``_norm`` over both
    vectors for EVERY pair — a corpus vector touched by Q queries pays its
    norm Q times (Catalyst does not hoist one-sided subexpressions across a
    join). Callers compute ``_norm`` once per row in each side's pre-join
    projection and pass the columns here; the value is bit-identical (the
    same left-to-right fold, evaluated once instead of per pair), so the
    DuckDB twins and the pinned recall tests are unaffected. Measured A/B
    in SCALE_NOTES (round 9)."""
    return F.try_divide(_dot(a, b), na * nb)


def knn_brute(
    queries: DataFrame, corpus: DataFrame, k: int, emb_col: str = "embedding"
) -> DataFrame:
    """Exact cosine top-k of ``corpus`` per row of ``queries``. Both frames
    need (vec_id, embedding); queries is broadcast."""
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col(emb_col).alias("__qe"),
        _norm(F.col(emb_col)).alias("__qn"),
    )
    c = corpus.select(
        "vec_id", F.col(emb_col).alias("__ce"), _norm(F.col(emb_col)).alias("__cn")
    )
    scored = c.join(F.broadcast(q)).select(
        "query_id",
        "vec_id",
        cosine_prenormed(
            F.col("__qe"), F.col("__ce"), F.col("__qn"), F.col("__cn")
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def knn_brute_arrow(
    queries: DataFrame, corpus: DataFrame, k: int, emb_col: str = "embedding"
) -> DataFrame:
    """Exact cosine top-k like ``knn_brute`` but with the scoring as ONE
    numpy matmul per Arrow batch instead of per-pair interpreted HOF folds.

    Shape: the (small) query matrix ships in the UDF closure; each corpus
    batch computes (batch × n_q) = C_normed @ Q_normed.T and keeps only its
    per-query top-k (total order: cosine desc, vec_id asc — the global
    top-k is a subset of per-batch top-ks under the same order, so the
    pre-filter is lossless). The final window then ranks ≤
    n_batches × n_q × k candidate rows, not the corpus. No corpus shuffle;
    driver sees only the query set. Values may differ from the HOF path in
    the last float ulp (summation order); rank ties are broken by vec_id
    so the ranking is stable either way — equality at 1e-6 rounding is
    pinned in tests."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField as SF,
        StructType as ST,
    )

    qrows = queries.select(
        F.col("vec_id").alias("query_id"), F.col(emb_col).alias("qe")
    ).collect()
    if not qrows:
        spark = queries.sparkSession
        return spark.createDataFrame(
            [],
            ST(
                [
                    SF("query_id", LongType()),
                    SF("vec_id", LongType()),
                    SF("cosine", DoubleType()),
                    SF("rank", IntegerType()),
                ]
            ),
        )
    qids = np.array([r["query_id"] for r in qrows], dtype=np.int64)
    qmat = np.array([r["qe"] for r in qrows], dtype=np.float64)
    qn = np.linalg.norm(qmat, axis=1)
    qn[qn == 0.0] = np.nan  # zero-norm query → null cosine, ranked last
    qunit = qmat / qn[:, None]

    out_t = ST(
        [
            SF("query_id", LongType()),
            SF("vec_id", LongType()),
            SF("cosine", DoubleType()),
        ]
    )

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            c = np.array(list(pdf["__ce"]), dtype=np.float64)
            cn = np.linalg.norm(c, axis=1)
            cn[cn == 0.0] = np.nan
            sims = (c / cn[:, None]) @ qunit.T  # (batch, n_q)
            # per-query top-k within the batch, ties broken by vec_id asc:
            # lexsort on (-sim, id) gives exactly the window's total order
            take = min(k, len(ids))
            for j, qid in enumerate(qids):
                col = sims[:, j]
                order = np.lexsort((ids, -np.nan_to_num(col, nan=-np.inf)))[:take]
                picked = col[order]
                # zero-norm → SQL null (matches knn_brute's try_divide);
                # raw NaN would sort ABOVE every real cosine in Spark
                cos = pd.Series(picked, dtype="Float64")
                cos[np.isnan(picked)] = pd.NA
                yield pd.DataFrame(
                    {
                        "query_id": np.full(take, qid, dtype=np.int64),
                        "vec_id": ids[order],
                        "cosine": cos,
                    }
                )

    cand = corpus.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col(emb_col).alias("__ce"),
    ).mapInPandas(score, out_t)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc_nulls_last(), F.col("vec_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def sign_bucket(emb: Column, planes: list[list[int]] | None = None) -> Column:
    """Sign-random-projection bucket: bit b set iff dot(emb, plane_b) > 0.

    One nested higher-order expression (transform over the plane matrix →
    per-plane zip_with/aggregate dot → indexed bit sum) instead of ``bits``
    separate aggregate columns — same index-order float additions (so the
    DuckDB oracle still matches bit-for-bit), materially less generated
    code to JIT.

    The dot runs over min(len(emb), plane dim) on BOTH engines: zip_with
    NULL-pads the shorter array, and one NULL product used to poison the
    whole Spark-side aggregate — every vector of a dim ≠ plane-dim corpus
    silently landed in bucket 0, turning the bucket self-join into a full
    cartesian (the SQL twin truncated instead, so the engines also
    disagreed). Both sides now slice to the common prefix; pass
    ``hyperplanes(dim=d)`` for full-width projections of non-default
    dims."""
    planes = planes if planes is not None else hyperplanes()
    plane_len = len(planes[0])
    planes_lit = F.array(
        *[F.array(*[F.lit(float(p)) for p in plane]) for plane in planes]
    )
    e = F.slice(emb, 1, plane_len)
    projs = F.transform(
        planes_lit,
        lambda p: F.aggregate(
            F.zip_with(e, F.slice(p, F.lit(1), F.size(e)), lambda x, q: x.cast("double") * q),
            F.lit(0.0),
            # coalesce: a NULL embedding element contributes 0 instead of
            # poisoning the whole sum — matching DuckDB's NULL-skipping
            # list_sum, and keeping malformed vectors from all collapsing
            # into bucket 0 (the degenerate self-join this function must
            # never produce). Exact dot products (`_dot`/`cosine`) keep
            # NULL-poisoning deliberately: an incomparable vector should
            # rank nowhere, not somewhere wrong.
            lambda acc, v: acc + F.coalesce(v, F.lit(0.0)),
        ),
    )
    bits = F.transform(
        projs,
        # 2^i via pow (shiftleft needs a literal shift): exact in doubles
        # for any realistic bit count
        lambda pr, i: F.when(pr > 0, F.pow(F.lit(2.0), i).cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, v: acc + v)


def with_sign_bucket_norm(
    df: DataFrame,
    emb_col: str,
    bucket_out: str,
    norm_out: str,
    planes: list[list[int]] | None = None,
) -> DataFrame:
    """``df`` + sign-LSH bucket + L2 norm computed in ONE vectorized Arrow
    kernel — bit-for-bit equal to ``sign_bucket``/``_norm`` (r16, guide
    §4.2: hand whole batches to numpy instead of per-row interpreted HOF
    folds; measured 2.5x at 2k vectors, ~10x at 100k, identical outputs).

    Bit-exactness argument: the JVM folds are strictly sequential
    left-to-right double additions; ``np.cumsum`` computes every partial
    sum, i.e. the SAME operation sequence (multiply per element, then
    ordered adds), and float32→float64 widening is exact — verified
    bucket- and cosine-identical on the real corpora (0 mismatches in
    6,320 pairs where BLAS ``dot`` diverged in 80%). Edge semantics
    replicated from the HOF forms: the bucket dot runs over the common
    prefix of (vector, plane) with NULL elements contributing +0.0; the
    norm runs over the FULL vector and is NULL-poisoned (an incomparable
    vector ranks nowhere); a NULL vector yields bucket 0 (the HOF's outer
    fold runs over the non-null planes literal; `NULL > 0` → CASE → 0)
    and NULL norm; a NaN element makes every dot NaN, and Spark's
    NaN-greatest ordering makes `d > 0` TRUE → all bits set, NaN norm.
    All of these were verified bit-for-bit against the HOF on crafted
    edge rows plus the full real corpus.

    ``df`` should be a NARROW projection (the kernel round-trips every
    column through Arrow); both call sites ship (vec_id, embedding).
    Inside the kernel the embedding column passes through untouched, so
    its float32 payload is byte-identical downstream."""
    import numpy as np

    planes_np = np.array(
        planes if planes is not None else hyperplanes(), dtype=np.float64
    )
    in_schema = df.schema
    out_schema = (
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in in_schema)
        + f", {bucket_out} long, {norm_out} double"
    )
    emb_idx = list(in_schema.names).index(emb_col)

    def kern(batches):
        import pyarrow as pa

        P = planes_np
        bits = P.shape[0]
        plane_len = P.shape[1]
        weights = (1 << np.arange(bits, dtype=np.int64))[None, :]

        def row_bucket_norm(vals, mask):
            # vals: float64 with NULL elements as 0.0 in `dot_vals` and as
            # poison in `norm`; mask: True where element is NULL
            e = vals[:plane_len]
            m = mask[:plane_len]
            dot_vals = np.where(m, 0.0, e)
            b = 0
            for j in range(bits):
                d = np.cumsum(dot_vals * P[j, : len(e)])[-1] if len(e) else 0.0
                # Spark orders NaN greatest, so the HOF's `d > 0` is TRUE
                # for a NaN dot; numpy's NaN compare is False — replicate
                if d > 0 or np.isnan(d):
                    b |= 1 << j
            if mask.any():
                nrm = None
            else:
                nrm = float(np.sqrt(np.cumsum(vals * vals)[-1])) if len(vals) else 0.0
            return b, nrm

        for batch in batches:
            col = batch.column(emb_idx)
            if isinstance(col, pa.ChunkedArray):
                col = col.combine_chunks()
            n = len(col)
            # raw child array + raw offsets: exactly aligned by Arrow's
            # layout even for sliced batches or null list slots (flatten()
            # would COMPACT null slots away and desync from the offsets)
            flat = col.values
            offs = col.offsets.to_numpy(zero_copy_only=False)
            lens = offs[1:] - offs[:-1]
            row_null = col.is_null().to_numpy(zero_copy_only=False)
            elem_nulls = flat.null_count > 0
            uniform = n > 0 and not row_null.any() and (lens == lens[0]).all()
            if uniform and not elem_nulls and lens[0] > 0:
                # fast path: one reshape, vectorized cumsum folds
                L = int(lens[0])
                base = int(offs[0])
                mat = flat.to_numpy(zero_copy_only=False).astype(
                    np.float64, copy=False
                )[base : base + n * L].reshape(n, L)
                eff = min(L, plane_len)
                prods = mat[:, None, :eff] * P[None, :, :eff]
                dots = np.cumsum(prods, axis=2)[:, :, -1]
                with np.errstate(invalid="ignore"):
                    # `| isnan`: Spark's NaN-greatest ordering makes the
                    # HOF's `d > 0` TRUE for a NaN dot; numpy's is False
                    bucket = (
                        ((dots > 0) | np.isnan(dots)).astype(np.int64) * weights
                    ).sum(axis=1)
                norm = np.sqrt(np.cumsum(mat * mat, axis=1)[:, -1])
                b_arr = pa.array(bucket, type=pa.int64())
                n_arr = pa.array(norm, type=pa.float64())
            else:
                # exact fallback: per-row, same op order, same NULL rules
                vmask = flat.is_null().to_numpy(zero_copy_only=False) if n else None
                vflat = (
                    flat.to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
                    if n
                    else None
                )
                buckets: list = []
                norms: list = []
                for i in range(n):
                    if row_null[i]:
                        # HOF twin: the outer fold runs over the (non-null)
                        # planes literal, each per-plane dot over the NULL
                        # vector is NULL, `NULL > 0` is NULL → CASE falls to
                        # 0 → bucket 0; the norm's fold over the NULL array
                        # is NULL. Verified against the HOF on a NULL row.
                        buckets.append(0)
                        norms.append(None)
                        continue
                    s, e0 = offs[i], offs[i + 1]
                    # zero the NULL slots (their payload is undefined);
                    # real NaN VALUES are not null in the mask and pass
                    # through untouched, poisoning the folds like the HOF
                    vals = np.where(vmask[s:e0], 0.0, vflat[s:e0])
                    b, nrm = row_bucket_norm(vals, vmask[s:e0])
                    buckets.append(b)
                    norms.append(nrm)
                b_arr = pa.array(buckets, type=pa.int64())
                n_arr = pa.array(norms, type=pa.float64())
            yield pa.RecordBatch.from_arrays(
                [batch.column(i) for i in range(batch.num_columns)]
                + [b_arr, n_arr],
                names=list(batch.schema.names) + [bucket_out, norm_out],
            )

    return df.mapInArrow(kern, out_schema)


def sign_bucket_sql(arr: str, planes: list[list[int]] | None = None) -> str:
    """The DuckDB twin of ``sign_bucket`` over array column ``arr`` — same
    planes, same index-order additions, bit-for-bit equal buckets."""
    planes = planes if planes is not None else hyperplanes()
    terms = []
    for b, plane in enumerate(planes):
        lit = "[" + ", ".join(f"{float(p)}" for p in plane) + "]"
        # min(len(arr), plane dim) — the same common-prefix dot as
        # sign_bucket (list_sum's NULL-skipping used to hide the overrun)
        proj = (
            f"list_sum([CAST({arr}[i] AS DOUBLE) * ({lit})[i] "
            f"for i in generate_series(1, least(len({arr}), {len(plane)}))])"
        )
        terms.append(f"(CASE WHEN {proj} > 0 THEN {1 << b} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def kmeans_fit_sample(x, k: int, n_iters: int = 8) -> list[list[float]]:
    """Deterministic Lloyd's iterations over a driver-side sample.

    IVF coarse quantizers are routinely trained on a sample (FAISS trains on
    ~max(10k, 256*k) vectors regardless of corpus size); what matters here is
    that the result is a plain list of float64 centroids that can be inlined
    as LITERALS into both the Spark plan and a DuckDB oracle — fixed seed
    rows, fixed iteration count, single-threaded numpy float64, so the same
    input always yields bit-identical centroids."""
    import numpy as np

    x = np.asarray(x, dtype=np.float64)
    cents = x[:k].copy()
    for _ in range(n_iters):
        d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for j in range(k):
            members = x[assign == j]
            if len(members):
                cents[j] = members.mean(axis=0)
    return [[float(v) for v in row] for row in cents]


def centroid_d2s(emb: Column, centroids: list[list[float]]) -> Column:
    """Array of squared L2 distances to each centroid literal, one nested
    higher-order expression. ``(x-c)*(x-c)`` with index-order additions —
    the same IEEE operation sequence ``centroid_d2s_sql`` emits, so argmin
    assignment is bit-for-bit reproducible cross-engine (the LSH-planes
    trick, applied to a trained quantizer)."""
    cents_lit = F.array(
        *[F.array(*[F.lit(float(v)) for v in c]) for c in centroids]
    )
    return F.transform(
        cents_lit,
        lambda c: F.aggregate(
            F.zip_with(
                emb, c, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )


def assign_cluster(emb: Column, centroids: list[list[float]]) -> Column:
    """Argmin over ``centroid_d2s`` (first match → lowest cluster id wins
    ties, same as the SQL twin's list_indexof)."""
    d2s = centroid_d2s(emb, centroids)
    return (F.array_position(d2s, F.array_min(d2s)) - 1).cast("int")


def centroid_d2s_sql(arr: str, centroids: list[list[float]]) -> str:
    """DuckDB twin of ``centroid_d2s``: a list literal of per-centroid
    squared distances with identical index-order additions. Floats are
    emitted with ``repr`` (round-trip exact)."""
    terms = []
    for c in centroids:
        lit = "[" + ", ".join(repr(float(v)) for v in c) + "]"
        diff = f"(CAST({arr}[i] AS DOUBLE) - ({lit})[i])"
        terms.append(
            f"list_sum([{diff} * {diff} for i in generate_series(1, len({arr}))])"
        )
    return "[" + ", ".join(terms) + "]"


def assign_cluster_sql(arr: str, centroids: list[list[float]]) -> str:
    d2s = centroid_d2s_sql(arr, centroids)
    return f"(list_indexof({d2s}, list_min({d2s})) - 1)"


def ivf_index(
    corpus: DataFrame, k: int = 16, emb_col: str = "embedding", seed: int = 42
) -> tuple[DataFrame, list[list[float]]]:
    """IVF coarse quantizer: KMeans over the corpus; returns the corpus with
    a ``cluster`` column plus the centroid list.

    At scale the assigned corpus is written bucketed/partitioned BY cluster,
    so a probe reads only n_probe/k of the data — the IVF analogue of the
    hour-bucket layout the time-series side uses. Training samples the corpus
    (KMeans over 100 TB is itself distributed, or fit on a sample)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vec = corpus.withColumn(
        "__v", array_to_vector(F.col(emb_col).cast("array<double>"))
    )
    model = KMeans(k=k, seed=seed, featuresCol="__v", predictionCol="cluster").fit(vec)
    assigned = model.transform(vec).drop("__v")
    centroids = [list(map(float, c)) for c in model.clusterCenters()]
    return assigned, centroids


def ann_ivf_indexed(
    queries: DataFrame,
    index: DataFrame,
    centroids: list[list[float]],
    k: int,
    n_probe: int = 2,
    emb_col: str = "embedding",
) -> DataFrame:
    """IVF probe over a prebuilt index table ``(vec_id, __ce, cluster)`` —
    the serving shape (see ``write_ivf_index``). Each query scans only its
    ``n_probe`` nearest centroids' inverted lists. Probe selection is a pure
    per-query expression over the centroid literals (no centroid table, no
    extra join); the candidate scan is a broadcast join on ``cluster``,
    which is the stored index's PARTITION column — exactly the selective
    broadcast-on-partition-key shape Spark's dynamic partition pruning
    targets, so at scale a probe reads n_probe/k of the files."""
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col(emb_col).alias("__qe"),
        F.posexplode(centroid_d2s(F.col(emb_col), centroids)).alias(
            "cluster", "__d2"
        ),
    )
    w_probe = Window.partitionBy("query_id").orderBy(
        F.col("__d2").asc(), F.col("cluster").asc()
    )
    probes = (
        q.withColumn("__pr", F.row_number().over(w_probe))
        .where(F.col("__pr") <= n_probe)
        .select("query_id", "__qe", _norm(F.col("__qe")).alias("__qn"), "cluster")
    )
    # hoisted norms (round 9, see cosine_prenormed): stored IVF indexes
    # predate the norm column — derive it in the scan projection
    if "__cn" not in index.columns:
        index = index.withColumn("__cn", _norm(F.col("__ce")))
    scored = index.join(F.broadcast(probes), on="cluster").select(
        "query_id",
        "vec_id",
        cosine_prenormed(
            F.col("__qe"), F.col("__ce"), F.col("__qn"), F.col("__cn")
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def ann_ivf(
    queries: DataFrame,
    corpus_assigned: DataFrame,
    centroids: list[list[float]],
    k: int,
    n_probe: int = 2,
    emb_col: str = "embedding",
) -> DataFrame:
    """Inline convenience over a pre-assigned corpus frame — a pure
    projection away from ``ann_ivf_indexed`` (pinned equal by
    ``tests/test_pipeline.py::test_ivf_indexed_equals_inline``). For
    repeated query batches, materialize ``write_ivf_index`` once instead of
    re-assigning the corpus per call."""
    return ann_ivf_indexed(
        queries,
        corpus_assigned.select("vec_id", F.col(emb_col).alias("__ce"), "cluster"),
        centroids,
        k,
        n_probe=n_probe,
        emb_col=emb_col,
    )


def write_ivf_index(
    corpus: DataFrame,
    path: str,
    k: int = 16,
    emb_col: str = "embedding",
    sample: int = 4096,
    n_iters: int = 8,
) -> list[list[float]]:
    """Materialize the IVF serving index (the ``sign_index`` pattern applied
    to the trained quantizer): assignments written as parquet PARTITIONED BY
    ``cluster`` plus a ``centroids.json`` sidecar.

    Training is the bounded deterministic sample (first ``sample`` vectors
    by vec_id through ``kmeans_fit_sample`` — FAISS-style: the coarse
    quantizer never needs the full corpus), so the driver-side collect is
    O(sample·dim), independent of corpus size. Assignment is the
    cross-engine-exact ``assign_cluster`` expression, fully distributed.
    Incremental maintenance on ingest is an append of newly assigned rows
    into their cluster partitions; re-training (centroid drift) is a
    rebuild, exactly like any IVF implementation. Returns the centroids.

    ``centroids.json`` is the commit marker: removed before the
    assignments are written and written last (temp file + rename), so an
    interrupted build leaves an index ``read_ivf_index`` refuses instead of
    new assignments beside stale centroids."""
    import json
    import os

    from sydradb_spark.util import write_marker

    marker = os.path.join(path, "centroids.json")
    if os.path.exists(marker):
        os.remove(marker)
    sample_x = [
        list(r["__e"])
        for r in corpus.select(
            F.col(emb_col).cast("array<double>").alias("__e"), "vec_id"
        )
        .orderBy("vec_id")
        .limit(sample)
        .collect()
    ]
    centroids = kmeans_fit_sample(sample_x, k, n_iters)
    assigned = corpus.select(
        "vec_id",
        F.col(emb_col).alias("__ce"),
        assign_cluster(F.col(emb_col), centroids).alias("cluster"),
    )
    # cluster by the partition column before the partitioned write (r16,
    # guide §6 small files): unshuffled, every scan task writes into every
    # cluster dir — tasks × k files of a few rows each. One narrow shuffle
    # keyed on cluster makes it one file per cluster; leading the sort
    # with it satisfies the dynamic-partition writer's required ordering.
    n_tasks = int(
        assigned.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    (
        assigned.repartition(n_tasks, F.col("cluster"))
        .sortWithinPartitions("cluster", "vec_id")
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(os.path.join(path, "assignments"))
    )
    write_marker(marker, json.dumps(centroids))
    return centroids


def read_ivf_index(spark, path: str) -> tuple[DataFrame, list[list[float]]]:
    """Load a ``write_ivf_index`` table: (assignments frame with its
    cluster partition column, centroid list). Fails fast when the
    ``centroids.json`` commit marker is missing: the build did not finish."""
    import json
    import os

    marker = os.path.join(path, "centroids.json")
    if not os.path.exists(marker):
        raise FileNotFoundError(
            f"IVF index at {path} has no commit marker (centroids.json): "
            "its build did not finish — rebuild it with write_ivf_index"
        )
    with open(marker) as f:
        centroids = json.load(f)
    df = spark.read.parquet(os.path.join(path, "assignments"))
    return df, [[float(v) for v in c] for c in centroids]


def sign_index(
    corpus: DataFrame,
    emb_col: str = "embedding",
    planes: list[list[int]] | None = None,
) -> DataFrame:
    """(vec_id, __ce, bucket) — the materializable ANN index table.

    This is the SERVING shape at scale: compute once (or maintain
    incrementally on ingest), persist — ideally bucketed/partitioned by
    ``bucket`` so a probe join touches only matching files — and answer
    every query batch from it. Bucketing the corpus inline per call (the
    ann_sign_lsh convenience wrapper) re-pays ``bits`` dot products per
    corpus vector per call, which dominates when queries are few; measured
    numbers in SCALE_NOTES.md."""
    planes = planes if planes is not None else hyperplanes()
    # bucket + hoisted norm (round 9) in one vectorized Arrow kernel (r16):
    # the per-row interpreted HOF folds were the corpus-side cost of every
    # index build — the kernel is bit-for-bit equal (docstring above) and
    # 2.5-10x faster at 2k-100k vectors. The narrow select keeps the Arrow
    # round trip to exactly (vec_id, embedding).
    return with_sign_bucket_norm(
        corpus.select("vec_id", F.col(emb_col).alias("__ce")),
        "__ce",
        "bucket",
        "__cn",
        planes,
    )


def ann_sign_lsh_indexed(
    queries: DataFrame,
    index: DataFrame,
    k: int,
    emb_col: str = "embedding",
    planes: list[list[int]] | None = None,
    multi_probe: bool = True,
) -> DataFrame:
    """Approximate top-k over a prebuilt ``sign_index`` table: candidates
    share one of the query's probe buckets.

    Multi-probe: the query's own bucket plus each single-bit flip — the
    nearest neighbours a single-bucket probe misses usually differ in exactly
    one marginal sign, so bits+1 probes recover most of the lost recall for
    (bits+1)/2^bits of the corpus scanned. Probe buckets are distinct, so a
    (query, corpus) pair matches at most once — no dedup needed."""
    planes = planes if planes is not None else hyperplanes()
    bits = len(planes)
    qb = sign_bucket(F.col(emb_col), planes)
    probe_buckets = [qb] + (
        [qb.bitwiseXOR(F.lit(1 << b)) for b in range(bits)] if multi_probe else []
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col(emb_col).alias("__qe"),
        # norm before the probe explode: once per query, not per probe row
        _norm(F.col(emb_col)).alias("__qn"),
        F.explode(F.array(*probe_buckets)).alias("bucket"),
    )
    # stored sign_index tables predate the hoisted-norm column — derive it
    # in the scan projection (one fold per corpus row, fused into the read)
    if "__cn" not in index.columns:
        index = index.withColumn("__cn", _norm(F.col("__ce")))
    scored = index.join(F.broadcast(q), on="bucket").select(
        "query_id",
        "vec_id",
        cosine_prenormed(
            F.col("__qe"), F.col("__ce"), F.col("__qn"), F.col("__cn")
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def ann_sign_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    emb_col: str = "embedding",
    planes: list[list[int]] | None = None,
    multi_probe: bool = True,
) -> DataFrame:
    """One-shot convenience: buckets the corpus inline, then probes. For
    repeated query batches, build ``sign_index`` once and use
    ``ann_sign_lsh_indexed``."""
    return ann_sign_lsh_indexed(
        queries,
        sign_index(corpus, emb_col, planes),
        k,
        emb_col=emb_col,
        planes=planes,
        multi_probe=multi_probe,
    )
