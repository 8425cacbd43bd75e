"""Similarity search over embedding columns.

- brute_force_topk: exact cosine top-k (the baseline; also expressed in pure
  SQL as queries/text.py `embedding_topk` with a DuckDB oracle).
- lsh_topk: scale path #1 — sign-random-projection LSH with L independent
  hash tables. Hashing is a vectorized numpy matmul per Arrow batch
  (mapInPandas); candidates come from one equi-join on (table, bucket);
  exact cosine rerank + window top-k. At 10^12 rows the only shuffle is the
  bucket join, whose build side (the query set) is broadcast.
- ivf_topk: scale path #2 — IVF (inverted-file) index: a small centroid
  codebook trained with distributed Lloyd iterations (assignment =
  vectorized matmul per Arrow batch; update = per-partition partial sums
  combined on the driver — the classic map-side-combine k-means), base
  vectors partitioned by nearest centroid, queries probe their `nprobe`
  nearest cells, exact rerank inside the probed cells. On a real corpus the
  cell id is the table's partition/bucket key, so a probe prunes
  (1 - nprobe/C) of the scan before any I/O.

Planes / centroid init are seeded deterministically, so results are
reproducible across executors and runs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _planes(dim: int, n_tables: int, n_bits: int, seed: int = 97) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.normal(size=(n_tables, n_bits, dim))


def srp_planes_int(n_tables: int, n_bits: int, dim: int) -> np.ndarray:
    """Deterministic INTEGER SRP hyperplanes via an LCG over the (bit, dim)
    index — the same formula the DuckDB oracle re-derives in SQL
    (queries/text.py ann_lsh / embedding_neardup), so bucket assignment is
    exactly cross-checkable when the vectors are integer-quantized:
    w[p, j] = (1103515245 * (p*dim + j + 7) + 12345) % 2^31 - 2^30,
    p = table*n_bits + bit. All arithmetic stays in int64."""
    p = np.arange(n_tables * n_bits, dtype=np.int64)
    j = np.arange(dim, dtype=np.int64)
    idx = p[:, None] * dim + j[None, :] + 7
    w = (1103515245 * idx + 12345) % 2147483648 - 1073741824
    return w.reshape(n_tables, n_bits, dim)


def brute_force_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
                     id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k: broadcast the query set, JVM-side zip_with dot
    product (no Python in the hot path), window top-k."""
    q = queries.select(F.col(id_col).alias("qid"),
                       F.col(vec_col).alias("qv"))
    b = embeddings.select(F.col(id_col).alias("vec_id"),
                          F.col(vec_col).alias("bv"))
    dot = F.aggregate(F.zip_with("qv", "bv", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    nrm = (F.sqrt(F.aggregate(F.transform("qv", lambda x: x * x),
                              F.lit(0.0), lambda a, v: a + v))
           * F.sqrt(F.aggregate(F.transform("bv", lambda x: x * x),
                                F.lit(0.0), lambda a, v: a + v)))
    scored = (b.join(F.broadcast(q), F.col("qid") != F.col("vec_id"))
              .withColumn("cosine", dot / nrm))
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (scored.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= k)
            .select("qid", "vec_id", "rk", "cosine"))


def _bucketize(df: DataFrame, id_col: str, vec_col: str, n_tables: int,
               n_bits: int, seed: int,
               planes: np.ndarray | None = None) -> DataFrame:
    out_schema = f"{id_col} long, table int, bucket long"
    fixed = planes

    def run(batches):
        planes = fixed
        for pdf in batches:
            if pdf.empty:
                continue
            vecs = np.stack(pdf[vec_col].to_numpy())
            if planes is None:
                planes = _planes(vecs.shape[1], n_tables, n_bits, seed)
            rows = []
            weights = (1 << np.arange(n_bits)).astype(np.int64)
            for t in range(n_tables):
                bits = (vecs @ planes[t].T) > 0  # (n, n_bits)
                buckets = bits.astype(np.int64) @ weights
                rows.append(pd.DataFrame({
                    id_col: pdf[id_col].to_numpy(),
                    "table": t, "bucket": buckets}))
            yield pd.concat(rows, ignore_index=True)

    return df.select(id_col, vec_col).mapInPandas(run, schema=out_schema)


def train_centroids(embeddings: DataFrame, n_centroids: int = 16,
                    iters: int = 2, id_col: str = "vec_id",
                    vec_col: str = "embedding", seed: int = 131,
                    sample_fraction: float | None = None) -> np.ndarray:
    """Deterministic distributed k-means for the IVF codebook.

    Init: the n_centroids rows with the smallest md5-derived hash of their
    id (a seeded uniform sample that needs no Date/rand state). Each Lloyd
    iteration is one pass: per Arrow batch, assign via matmul and emit
    per-centroid (sum_vec, count) partials; partials (<= partitions x C
    rows) are combined on the driver. Empty cells keep their previous
    centroid.

    sample_fraction (0, 1] trains the codebook on a DETERMINISTIC md5-hash
    sample of the corpus instead of every row — at 10^12 vectors the Lloyd
    passes must not scan the full table (a 1e-4 sample still gives ~1e8
    training points, far more than any codebook needs). Hash-gating keeps
    the sample identical across executors/retries, unlike rand()."""
    train = embeddings.select(id_col, vec_col)
    if sample_fraction is not None and sample_fraction < 1.0:
        gate = int(max(1.0, sample_fraction * 10000.0))
        train = train.where(
            F.pmod(F.conv(F.substring(
                F.md5(F.concat_ws("|", F.lit(seed + 1),
                                  F.col(id_col).cast("string"))), 1, 8),
                16, 10).cast("long"), F.lit(10000)) < gate)
    centroids = _md5_init_rows(train, n_centroids, id_col, vec_col, seed)

    partial_schema = "cid int, n long, sums array<double>"
    for _ in range(iters):
        cen = centroids  # captured by value in the closure below

        def partials(batches):
            acc_n = np.zeros(len(cen), dtype=np.int64)
            acc_s = np.zeros_like(cen)
            for pdf in batches:
                if pdf.empty:
                    continue
                vecs = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                d2 = ((vecs[:, None, :] - cen[None, :, :]) ** 2).sum(2)
                a = d2.argmin(1)
                np.add.at(acc_n, a, 1)
                np.add.at(acc_s, a, vecs)
            nz = np.nonzero(acc_n)[0]
            yield pd.DataFrame({"cid": nz.astype(int),
                                "n": acc_n[nz],
                                "sums": [acc_s[i].tolist() for i in nz]})

        rows = (train.select(vec_col)
                .mapInPandas(partials, schema=partial_schema).collect())
        new = centroids.copy()
        tot_n = np.zeros(len(centroids), dtype=np.int64)
        tot_s = np.zeros_like(centroids)
        for r in rows:
            tot_n[r.cid] += r.n
            tot_s[r.cid] += np.asarray(r.sums)
        nz = tot_n > 0
        new[nz] = tot_s[nz] / tot_n[nz, None]
        centroids = new
    return centroids


def _assign_cells(df: DataFrame, centroids: np.ndarray, nprobe: int,
                  id_col: str, vec_col: str, out_id: str) -> DataFrame:
    """id -> its nprobe nearest centroid ids (vectorized matmul per batch)."""
    schema = f"{out_id} long, cid int"

    def run(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            vecs = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            d2 = ((vecs[:, None, :] - centroids[None, :, :]) ** 2).sum(2)
            # stable sort: exact-d2 ties resolve to the lowest centroid id
            # deterministically (and re-derivably: ORDER BY d2, cid)
            near = np.argsort(d2, axis=1, kind="stable")[:, :nprobe]
            ids = np.repeat(pdf[id_col].to_numpy(), nprobe)
            yield pd.DataFrame({out_id: ids, "cid": near.ravel()})

    return df.select(id_col, vec_col).mapInPandas(run, schema=schema)


def ivf_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
             n_centroids: int = 16, nprobe: int = 4, iters: int = 2,
             id_col: str = "vec_id", vec_col: str = "embedding",
             centroids: np.ndarray | None = None,
             sample_fraction: float | None = None) -> DataFrame:
    """IVF approximate top-k: base vectors live in their nearest-centroid
    cell (1 cell each); queries probe their nprobe nearest cells; exact
    cosine rerank within the probed cells; window top-k. nprobe ==
    n_centroids degenerates to the exact brute force (used as the recall
    sanity bound in tests)."""
    if centroids is None:
        centroids = train_centroids(embeddings, n_centroids, iters,
                                    id_col, vec_col,
                                    sample_fraction=sample_fraction)
    base_cells = _assign_cells(embeddings, centroids, 1, id_col, vec_col,
                               "vec_id")
    query_cells = _assign_cells(queries, centroids, nprobe, id_col, vec_col,
                                "qid")
    cand = (base_cells.join(F.broadcast(query_cells), "cid")
            .where(F.col("qid") != F.col("vec_id"))
            .select("qid", "vec_id").distinct())
    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
    b = embeddings.select(F.col(id_col).alias("vec_id"),
                          F.col(vec_col).alias("bv"))
    dot = F.aggregate(F.zip_with("qv", "bv", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    nrm = (F.sqrt(F.aggregate(F.transform("qv", lambda x: x * x),
                              F.lit(0.0), lambda a, v: a + v))
           * F.sqrt(F.aggregate(F.transform("bv", lambda x: x * x),
                                F.lit(0.0), lambda a, v: a + v)))
    scored = (cand.join(b, "vec_id").join(F.broadcast(q), "qid")
              .withColumn("cosine", dot / nrm))
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (scored.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= k)
            .select("qid", "vec_id", "rk", "cosine"))


def lsh_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
             n_tables: int = 32, n_bits: int = 6, seed: int = 97,
             id_col: str = "vec_id", vec_col: str = "embedding",
             planes: np.ndarray | None = None) -> DataFrame:
    """Approximate top-k: candidates = union over L tables of same-bucket
    rows, exact cosine rerank. Recall grows with n_tables (see
    tests/test_similarity.py for the measured recall floor). `planes`
    overrides the seeded Gaussian hyperplanes — with srp_planes_int and
    integer-quantized vectors the whole pipeline is exactly re-derivable
    in SQL (the ann_lsh DuckDB gate)."""
    qb = _bucketize(queries, id_col, vec_col, n_tables, n_bits, seed,
                    planes) \
        .withColumnRenamed(id_col, "qid")
    bb = _bucketize(embeddings, id_col, vec_col, n_tables, n_bits, seed,
                    planes)
    cand = (bb.join(F.broadcast(qb), ["table", "bucket"])
            .where(F.col("qid") != F.col(id_col))
            .select("qid", id_col).distinct())
    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
    b = embeddings.select(id_col, F.col(vec_col).alias("bv"))
    dot = F.aggregate(F.zip_with("qv", "bv", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    nrm = (F.sqrt(F.aggregate(F.transform("qv", lambda x: x * x),
                              F.lit(0.0), lambda a, v: a + v))
           * F.sqrt(F.aggregate(F.transform("bv", lambda x: x * x),
                                F.lit(0.0), lambda a, v: a + v)))
    scored = (cand.join(b, id_col).join(F.broadcast(q), "qid")
              .withColumn("cosine", dot / nrm))
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc(id_col))
    return (scored.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= k)
            .select("qid", id_col, "rk", "cosine"))


def _md5_init_rows(df: DataFrame, n: int, id_col: str, vec_col: str,
                   seed: int) -> np.ndarray:
    """Deterministic seeded row sample: the n rows with the smallest
    md5-derived hash of their id (same init rule as train_centroids;
    re-derivable in SQL as ORDER BY md5(seed || '|' || id))."""
    init = (df
            .withColumn("_h", F.md5(F.concat_ws("|", F.lit(seed),
                                                 F.col(id_col)
                                                 .cast("string"))))
            .orderBy("_h")
            .limit(n)
            .select(vec_col)
            .collect())
    return np.stack([np.asarray(r[0], dtype=np.float64) for r in init])


def train_pq_codebook(embeddings: DataFrame, m: int = 4, ksub: int = 8,
                      iters: int = 2, id_col: str = "vec_id",
                      vec_col: str = "embedding", seed: int = 151,
                      coarse: np.ndarray | None = None) -> np.ndarray:
    """Product-quantization codebook (Jegou/Douze/Schmid, "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): the D dims
    split into m subspaces of D/m, one ksub-centroid k-means PER subspace.
    Returns (m, ksub, D/m).

    All m subspace k-means run in the SAME distributed pass per Lloyd
    iteration (per Arrow batch: m small matmuls -> per-(subspace, cid)
    partial sums; partials combined on the driver — the map-side-combine
    shape train_centroids uses). iters=0 keeps the md5-init rows verbatim,
    which is what makes the ann_pq DuckDB gate able to re-derive the
    codebook. With `coarse` given the codebook is trained on RESIDUALS
    vector - nearest-coarse-centroid (classic IVF-PQ: residual codewords
    live near zero, matching what pq_encode(coarse=...) quantizes)."""
    base = embeddings.select(id_col, vec_col)
    rows = _md5_init_rows(base, ksub, id_col, vec_col, seed)
    if coarse is not None:
        d2c = ((rows[:, None, :] - coarse[None, :, :]) ** 2).sum(2)
        rows = rows - coarse[d2c.argmin(1)]
    d = rows.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    book = rows.reshape(ksub, m, dsub).transpose(1, 0, 2).copy()

    partial_schema = "sub int, cid int, n long, sums array<double>"
    for _ in range(iters):
        bk = book  # captured by value

        def partials(batches):
            acc_n = np.zeros((m, ksub), dtype=np.int64)
            acc_s = np.zeros_like(bk)
            for pdf in batches:
                if pdf.empty:
                    continue
                vecs = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                if coarse is not None:
                    d2c = ((vecs[:, None, :] - coarse[None, :, :]) ** 2) \
                        .sum(2)
                    vecs = vecs - coarse[d2c.argmin(1)]
                sub = vecs.reshape(len(vecs), m, dsub)
                for s in range(m):
                    d2 = ((sub[:, s, None, :] - bk[s][None, :, :]) ** 2) \
                        .sum(2)
                    a = d2.argmin(1)  # first occurrence == lowest cid
                    np.add.at(acc_n[s], a, 1)
                    np.add.at(acc_s[s], a, sub[:, s, :])
            out = []
            for s in range(m):
                for j in np.nonzero(acc_n[s])[0]:
                    out.append({"sub": s, "cid": int(j),
                                "n": int(acc_n[s][j]),
                                "sums": acc_s[s][j].tolist()})
            yield pd.DataFrame(out, columns=["sub", "cid", "n", "sums"])

        got = (base.select(vec_col)
               .mapInPandas(partials, schema=partial_schema).collect())
        tot_n = np.zeros((m, ksub), dtype=np.int64)
        tot_s = np.zeros_like(book)
        for r in got:
            tot_n[r.sub, r.cid] += r.n
            tot_s[r.sub, r.cid] += np.asarray(r.sums)
        new = book.copy()
        nz = tot_n > 0
        new[nz] = tot_s[nz] / tot_n[nz][:, None]
        book = new
    return book


def pq_encode(embeddings: DataFrame, codebook: np.ndarray,
              id_col: str = "vec_id", vec_col: str = "embedding",
              coarse: np.ndarray | None = None) -> DataFrame:
    """vector -> m-byte PQ code (nearest sub-centroid per subspace, exact
    d2 ties to the lowest code). With `coarse` given, codes quantize the
    RESIDUAL vector - nearest-coarse-centroid (classic IVF-PQ). The code
    column is the 100 TB artifact: m small ints per vector instead of D
    floats (64-dim f32 -> 4 bytes here; 768-dim -> 16-48 bytes in
    production), so the rerank scan reads ~100x fewer bytes."""
    m, ksub, dsub = codebook.shape

    def run(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            vecs = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            if coarse is not None:
                d2c = ((vecs[:, None, :] - coarse[None, :, :]) ** 2).sum(2)
                vecs = vecs - coarse[d2c.argmin(1)]
            sub = vecs.reshape(len(vecs), m, dsub)
            codes = np.empty((len(vecs), m), dtype=np.int32)
            for s in range(m):
                d2 = ((sub[:, s, None, :] - codebook[s][None, :, :]) ** 2) \
                    .sum(2)
                codes[:, s] = d2.argmin(1)
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(),
                                "code": codes.tolist()})

    return embeddings.select(id_col, vec_col).mapInPandas(
        run, schema=f"{id_col} long, code array<int>")


def _pq_luts(queries: DataFrame, codebook: np.ndarray, id_col: str,
             vec_col: str) -> DataFrame:
    """qid -> per-subspace distance lookup table: luts[s][j] =
    ||q_sub_s - codebook[s][j]||^2 (the ADC table; Jegou 2011 eq. 13)."""
    m, ksub, dsub = codebook.shape

    def run(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            vecs = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            sub = vecs.reshape(len(vecs), m, dsub)
            luts = ((sub[:, :, None, :] - codebook[None, :, :, :]) ** 2) \
                .sum(3)  # (n, m, ksub)
            yield pd.DataFrame({"qid": pdf[id_col].to_numpy(),
                                "luts": [r.tolist() for r in luts]})

    return queries.select(id_col, vec_col).mapInPandas(
        run, schema="qid long, luts array<array<double>>")


def _pq_luts_residual(queries: DataFrame, codebook: np.ndarray,
                      coarse: np.ndarray, id_col: str,
                      vec_col: str) -> DataFrame:
    """(qid, cid) -> ADC table of the RESIDUAL query q - coarse[cid]
    against the codebook (classic IVF-PQ, Jegou 2011 §IV.B: base codes
    quantize residuals, so the query LUT must be residual-relative and
    therefore per probed cell). One row per (query, cell); only probed
    cells survive the downstream (qid, cid) join."""
    m, ksub, dsub = codebook.shape

    def run(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            vecs = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            for ci in range(len(coarse)):
                sub = (vecs - coarse[ci][None, :]) \
                    .reshape(len(vecs), m, dsub)
                luts = ((sub[:, :, None, :] - codebook[None, :, :, :])
                        ** 2).sum(3)
                yield pd.DataFrame({"qid": pdf[id_col].to_numpy(),
                                    "cid": ci,
                                    "luts": [r.tolist() for r in luts]})

    return queries.select(id_col, vec_col).mapInPandas(
        run, schema="qid long, cid int, luts array<array<double>>")


def pq_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
            m: int = 4, ksub: int = 8, iters: int = 2,
            codebook: np.ndarray | None = None,
            coarse_centroids: np.ndarray | None = None, nprobe: int = 4,
            refine: int | None = None, by_residual: bool = False,
            id_col: str = "vec_id", vec_col: str = "embedding",
            seed: int = 151) -> DataFrame:
    """IVF-PQ approximate nearest neighbors — the FAISS-style 100 TB plan:

    1. coarse stage (optional): base vectors live in their nearest coarse
       cell; queries probe nprobe cells — the candidate join is a cell
       equi-join that prunes (1 - nprobe/C) of the corpus BEFORE any
       vector bytes are read (cell id doubles as the partition key);
    2. ADC scoring: approx_d2 = sum_s luts[qid][s][code[vec][s]] — a
       JVM-side zip_with/element_at aggregate over the m-byte codes (the
       full vectors are never touched). With by_residual=True (classic
       IVF-PQ) the codes quantize vector - coarse-centroid residuals and
       the LUTs are per probed (query, cell) — finer quantization, the
       variant that wins on clustered data;
    3. refine (optional): the top k*refine by ADC re-scored with exact
       full-vector L2, then the final top-k — the standard two-stage
       recall recovery.

    Without coarse_centroids the candidate set is all base rows via a
    broadcast of the (small) query side — the exact-scan anchor shape,
    same as brute_force_topk. Returns (qid, vec_id, rk, adc)."""
    if by_residual and coarse_centroids is None:
        raise ValueError("by_residual=True requires coarse_centroids")
    if codebook is None:
        codebook = train_pq_codebook(embeddings, m, ksub, iters,
                                     id_col, vec_col, seed)
    codes = pq_encode(embeddings, codebook, id_col, vec_col,
                      coarse=coarse_centroids if by_residual else None) \
        .withColumnRenamed(id_col, "vec_id")

    if coarse_centroids is not None:
        base_cells = _assign_cells(embeddings, coarse_centroids, 1,
                                   id_col, vec_col, "vec_id")
        query_cells = _assign_cells(queries, coarse_centroids, nprobe,
                                    id_col, vec_col, "qid")
        # each base vector owns exactly one cell, so keeping cid adds no
        # duplicates; the residual path joins its LUT on (qid, cid)
        cand = (base_cells.join(F.broadcast(query_cells), "cid")
                .where(F.col("qid") != F.col("vec_id"))
                .select("qid", "vec_id", "cid").distinct())
        scored = cand.join(codes, "vec_id")
        if by_residual:
            luts = _pq_luts_residual(queries, codebook, coarse_centroids,
                                     id_col, vec_col)
            scored = scored.join(F.broadcast(luts), ["qid", "cid"])
        else:
            luts = _pq_luts(queries, codebook, id_col, vec_col)
            scored = scored.join(F.broadcast(luts), "qid")
    else:
        luts = _pq_luts(queries, codebook, id_col, vec_col)
        scored = codes.join(F.broadcast(luts),
                            F.col("qid") != F.col("vec_id"))
    adc = F.aggregate(
        F.zip_with("code", "luts",
                   lambda c, l: F.element_at(l, c + F.lit(1))),
        F.lit(0.0), lambda a, x: a + x)
    scored = scored.withColumn("adc", adc)
    w = Window.partitionBy("qid").orderBy(F.asc("adc"), F.asc("vec_id"))
    ranked = scored.withColumn("rk", F.row_number().over(w))
    if refine is None:
        return (ranked.where(F.col("rk") <= k)
                .select("qid", "vec_id", "rk", "adc"))

    shortlist = ranked.where(F.col("rk") <= k * refine) \
        .select("qid", "vec_id", "adc")
    q = queries.select(F.col(id_col).alias("qid"),
                       F.col(vec_col).alias("qv"))
    b = embeddings.select(F.col(id_col).alias("vec_id"),
                          F.col(vec_col).alias("bv"))
    d2 = F.aggregate(F.zip_with("qv", "bv",
                                lambda x, y: (x - y) * (x - y)),
                     F.lit(0.0), lambda a, v: a + v)
    exact = (shortlist.join(b, "vec_id").join(F.broadcast(q), "qid")
             .withColumn("d2", d2))
    w2 = Window.partitionBy("qid").orderBy(F.asc("d2"), F.asc("vec_id"))
    return (exact.withColumn("rk", F.row_number().over(w2))
            .where(F.col("rk") <= k)
            .select("qid", "vec_id", "rk", "adc", "d2"))

