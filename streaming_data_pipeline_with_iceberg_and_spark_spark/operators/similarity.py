"""Similarity search over embeddings (SURVEY.md §2.8 L3).

- Brute-force cosine top-k: the exactness baseline. The query set is tiny
  (broadcast side); the corpus streams — at 100 TB this is one scan of the
  corpus per query batch, no shuffle of the corpus itself.
- LSH (random-hyperplane) ANN: sign-bit bucket join — candidates share a
  bucket; corpus side is bucketed once (reusable), query side is tiny.
  md5-derived hyperplanes since round 6 → full DuckDB oracle, plus a recall
  unit test vs the exact baseline (tests/test_extensions.py).
- IVF ANN: learned coarse quantizer (√N cells, one Lloyd step) + nprobe cell
  probing — the classic inverted-file layout; candidate join keyed on cell.
  (dedup_embedding_cosine's label blocking is the same shape with given
  blocks.)
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import md5_bucket32
from ..functions.vector import as_double, dot, l2_distance, norm
from ..io import (
    checkpoint_release,
    compact_checkpoint,
    load,
    load_spread,
    memo,
    parquet_row_count,
    scratch_memo,
    small_df,
)
from ..session import ADAPTIVE_BROADCAST_BYTES

_N_PLANES = 4  # per hash table → 16 buckets
_N_TABLES = 2  # independent tables; candidates = union over tables

# Fixed-size benchmark query set. In production the query side is an
# independent small table (a user batch); here it is carved from the corpus,
# so BOTH predicates matter: the modulus spreads queries across the id range,
# and the id ceiling bounds |Q| ≤ _Q_CAP for ANY corpus size — without it the
# broadcast/closure side (and the O(|Q|·N) pair work) grows linearly with the
# corpus, a scale-killer at 100 TB. Pure predicate (no orderBy/limit) so it
# composes with the exploded LSH frame and pushes into the parquet scan.
_Q_CAP = 20


def _query_pred(mod: int) -> F.Column:
    return (F.col("vec_id") % mod == 0) & (F.col("vec_id") < mod * _Q_CAP)


def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for a fixed-size query set (every 50th
    vector, capped at _Q_CAP queries).

    The query side is broadcast; per-query top-k via window over the scored
    scan — TakeOrdered shape, corpus never shuffles on a pair key.
    """
    # Norms are precomputed per row BEFORE the pair join — an inline cosine
    # would re-walk both arrays per pair (3 higher-order passes instead of 1).
    # Corpus side is spread across cores (single-split file would serialize
    # the scoring); the tiny query side reads the file directly.
    emb = load_spread(spark, "embeddings", sf_dir).withColumn("nrm", norm("embedding"))
    queries = load(spark, "embeddings", sf_dir).withColumn(
        "nrm", norm("embedding")
    ).filter(_query_pred(50)).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.col("nrm").alias("q_nrm"),
    )
    scored = emb.join(F.broadcast(queries), F.col("vec_id") != F.col("q_id")).select(
        "q_id",
        "vec_id",
        F.round(
            dot(F.col("q_vec"), F.col("embedding")) / (F.col("q_nrm") * F.col("nrm")),
            5,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("q_id", "rank", "vec_id", "cos_sim")
    )


KNN_BRUTEFORCE_SQL = """
SELECT q_id, rank, vec_id, cos_sim
FROM (
  SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
         ROUND(list_cosine_similarity(list_transform(q.embedding, x -> CAST(x AS DOUBLE)), list_transform(e.embedding, x -> CAST(x AS DOUBLE))), 5) AS cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q.vec_id
                            ORDER BY ROUND(list_cosine_similarity(list_transform(q.embedding, x -> CAST(x AS DOUBLE)), list_transform(e.embedding, x -> CAST(x AS DOUBLE))), 5) DESC,
                                     e.vec_id ASC) AS rank
  FROM (SELECT * FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 1000) q
  JOIN embeddings e ON e.vec_id != q.vec_id
)
WHERE rank <= 5
"""


def knn_dot_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dot-product (inner-product) top-3 — same shape, different metric."""
    emb = load(spark, "embeddings", sf_dir)
    queries = emb.filter(_query_pred(100)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    scored = (
        load_spread(spark, "embeddings", sf_dir)
        .join(F.broadcast(queries), F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            F.round(dot(F.col("q_vec"), F.col("embedding")), 5).alias("dot_prod"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("dot_prod"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("q_id", "rank", "vec_id", "dot_prod")
    )


KNN_DOT_SQL = """
SELECT q_id, rank, vec_id, dot_prod
FROM (
  SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
         ROUND(list_inner_product(list_transform(q.embedding, x -> CAST(x AS DOUBLE)), list_transform(e.embedding, x -> CAST(x AS DOUBLE))), 5) AS dot_prod,
         ROW_NUMBER() OVER (PARTITION BY q.vec_id
                            ORDER BY ROUND(list_inner_product(list_transform(q.embedding, x -> CAST(x AS DOUBLE)), list_transform(e.embedding, x -> CAST(x AS DOUBLE))), 5) DESC,
                                     e.vec_id ASC) AS rank
  FROM (SELECT * FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < 2000) q
  JOIN embeddings e ON e.vec_id != q.vec_id
)
WHERE rank <= 3
"""


def _bucket_for_table(t: int) -> F.Column:
    """Sign-bit bucket id for hash table ``t``.

    Deterministic pseudo-random planes: plane (t, p)'s weight for dimension d
    is a fixed hash-derived value in [-1, 1] — a pure column expression (no
    numpy materialization, no driver loop over data). md5-derived (not
    xxhash64) so the DuckDB oracle reproduces the weights bit-exactly:
    w(t,p,d) = (int(md5("hp-t-p-d")[:8], 16) % 2001 - 1000) / 1000, and the
    dot product is a sequential double fold in dimension order on both
    engines, so even the sign decision at the bucket boundary agrees."""
    sign_bits = [
        (
            F.aggregate(
                F.zip_with(
                    F.col("embedding"),
                    F.transform(
                        F.sequence(F.lit(0), F.size("embedding") - 1),
                        lambda d: (
                            F.pmod(
                                md5_bucket32(
                                    F.concat_ws(
                                        "-",
                                        F.lit("hp"),
                                        F.lit(t),
                                        F.lit(p),
                                        d.cast("string"),
                                    )
                                ),
                                F.lit(2001),
                            )
                            - 1000
                        ).cast("double")
                        / 1000.0,
                    ),
                    lambda x, w: x.cast("double") * w,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            > 0
        ).cast("int")
        for p in range(_N_PLANES)
    ]
    return sum(
        [F.when(sign_bits[p] == 1, F.lit(1 << p)).otherwise(0) for p in range(_N_PLANES)],
        F.lit(0),
    ).cast("int")


def _hyperplane_buckets(emb: DataFrame) -> DataFrame:
    """(vec_id, table, bucket, embedding) — one row per hash table.

    The corpus is bucketed once per table; at scale this projection is what
    you'd persist (bucketed/partitioned by (table, bucket)) and reuse across
    query batches."""
    tables = F.array(*[_bucket_for_table(t) for t in range(_N_TABLES)])
    passthrough = [c for c in emb.columns if c != "label"]
    return emb.select(*passthrough, F.posexplode(tables).alias("tbl", "bucket"))


def ann_lsh_hyperplane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via multi-table random-hyperplane LSH: top-5 per query among
    candidates sharing a bucket in ANY table. Hyperplane weights are
    md5-derived (see ``_bucket_for_table``), so the DuckDB oracle
    (``ANN_LSH_SQL``) reproduces the ENTIRE pipeline — bucketing, candidate
    generation, cosine scoring, top-5 — value-exact; recall vs the exact
    baseline is additionally asserted in tests/test_extensions.py."""
    emb = _hyperplane_buckets(
        load_spread(spark, "embeddings", sf_dir).withColumn("nrm", norm("embedding"))
    )
    queries = emb.filter(_query_pred(50)).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.col("nrm").alias("q_nrm"),
        F.col("tbl").alias("q_tbl"),
        F.col("bucket").alias("q_bucket"),
    )
    cands = (
        emb.join(
            F.broadcast(queries),
            (F.col("tbl") == F.col("q_tbl"))
            & (F.col("bucket") == F.col("q_bucket"))
            & (F.col("vec_id") != F.col("q_id")),
        )
        .select("q_id", "q_vec", "q_nrm", "vec_id", "embedding", "nrm")
        .dropDuplicates(["q_id", "vec_id"])
    )
    scored = cands.select(
        "q_id",
        "vec_id",
        F.round(
            dot(F.col("q_vec"), F.col("embedding")) / (F.col("q_nrm") * F.col("nrm")),
            5,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("q_id", "rank", "vec_id", "cos_sim")
    )


# Literals formatted from the shared constants so the Spark pipeline and
# the oracle can never desync (same pattern as DEDUP_MINHASH_SQL).
ANN_LSH_SQL = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), buckets AS (
  SELECT e.vec_id, t.t AS tbl,
         CAST(SUM(CASE WHEN list_inner_product(
                 e.v,
                 list_transform(range(0, len(e.v)), d ->
                   (CAST(('0x' || substr(md5('hp-' || t.t || '-' || p.p || '-' || d), 1, 8)) AS BIGINT)
                    % 2001 - 1000) / 1000.0)
               ) > 0 THEN 1 << p.p ELSE 0 END) AS INT) AS bucket
  FROM e
  CROSS JOIN (SELECT unnest(range({n_tables})) AS t) t
  CROSS JOIN (SELECT unnest(range({n_planes})) AS p) p
  GROUP BY 1, 2
), q AS (
  SELECT * FROM buckets WHERE vec_id % 50 = 0 AND vec_id < {q_ceil}
), cand AS (
  SELECT DISTINCT q.vec_id AS q_id, b.vec_id AS vec_id
  FROM q JOIN buckets b
    ON b.tbl = q.tbl AND b.bucket = q.bucket AND b.vec_id != q.vec_id
), scored AS (
  SELECT c.q_id, c.vec_id,
         ROUND(list_inner_product(eq.v, ev.v)
               / (sqrt(list_inner_product(eq.v, eq.v))
                  * sqrt(list_inner_product(ev.v, ev.v))), 5) AS cos_sim
  FROM cand c
  JOIN e eq ON eq.vec_id = c.q_id
  JOIN e ev ON ev.vec_id = c.vec_id
)
SELECT q_id, rank, vec_id, cos_sim
FROM (
  SELECT q_id, vec_id, cos_sim,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM scored
)
WHERE rank <= 5
""".format(n_tables=_N_TABLES, n_planes=_N_PLANES, q_ceil=50 * _Q_CAP)


def knn_bruteforce_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 via mapInPandas + numpy matrix multiply — the
    100 TB scale path for brute-force scoring (Arrow batches, BLAS-backed
    GEMM, per-batch partial top-k so only k·|Q| rows leave each partition).

    Same semantics as ``knn_bruteforce`` and the SAME DuckDB oracle (round 7
    upgrade from rows-only): the per-partition partial top-k selects by the
    (5-decimal-rounded score, vec_id) key — the key the oracle ranks by — so
    a raw-score ulp difference straddling a rounding tie can no longer pick
    a different candidate than the oracle at the k boundary. Parity unit
    test in tests/test_extensions.py.

    Residual cross-engine risk (accepted, same class as knn_bruteforce):
    the engine normalizes then GEMMs while DuckDB computes dot/(|q||v|), so
    a raw score within an ulp of a 5th-decimal rounding boundary can in
    principle round differently across engines and fail the value-hash. If
    a one-off driver value-hash mismatch appears here, triage it as this
    rounding-boundary flake (re-run; compare the single differing score)
    before suspecting a logic regression — see COVERAGE.md."""
    import numpy as np
    import pandas as pd

    emb = load(spark, "embeddings", sf_dir)
    # the query batch is bounded (a user request), so shipping it in the
    # closure is the broadcast — the corpus never leaves the executors
    q_rows = (
        emb.filter(_query_pred(50))
        .select("vec_id", "embedding")
        .collect()
    )
    out_schema = "q_id long, vec_id long, cos_sim double"
    if not q_rows:
        # empty query set (routine at scale: a filter can drop every row) —
        # the closure below would axis-error on a 0-d matrix
        return spark.createDataFrame([], out_schema)
    q_ids = np.array([r["vec_id"] for r in q_rows])
    # a NULL embedding scores NULL, as in the SQL form: only the non-NULL
    # queries and corpus rows enter the GEMM, every other score is NaN,
    # which ranks last and leaves the Arrow batch as NULL
    q_ok = np.flatnonzero([r["embedding"] is not None for r in q_rows])
    q_mat = np.array([q_rows[i]["embedding"] for i in q_ok], dtype=np.float64)
    if len(q_ok):
        q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)
    k = 5

    def score(batches):
        for pdf in batches:
            if pdf.empty:  # empty Arrow batch from an empty partition
                continue
            ids = pdf["vec_id"].to_numpy()
            ok = np.flatnonzero(pdf["embedding"].notna().to_numpy())
            sims = np.full((len(q_ids), len(pdf)), np.nan)  # |Q| x batch
            if len(q_ok) and len(ok):
                mat = np.array(list(pdf["embedding"].iloc[ok]), dtype=np.float64)
                mat /= np.linalg.norm(mat, axis=1, keepdims=True)
                sims[np.ix_(q_ok, ok)] = q_mat @ mat.T
            out_q, out_v, out_s = [], [], []
            for qi in range(len(q_ids)):
                row = sims[qi]
                mask = ids != q_ids[qi]
                cand = np.where(mask)[0]
                # select by (rounded score desc NULLS LAST, vec_id asc) —
                # identical to the final window's ordering, keeping the
                # partial top-k consistent with the oracle under rounding ties
                r5 = np.round(row[cand], 5)
                null = np.isnan(r5)
                order = np.lexsort((ids[cand], -np.where(null, 0.0, r5), null))
                top = cand[order[:k]]
                out_q.extend([q_ids[qi]] * len(top))
                out_v.extend(ids[top])
                out_s.extend(r5[order[:k]])
            yield pd.DataFrame(
                {"q_id": out_q, "vec_id": out_v, "cos_sim": out_s}
            )

    partial = (
        # r16: the scoring pass is one BLAS GEMM per Arrow batch — fat
        # batches beat 32 tiny Python tasks (measured: the stage burned
        # ~8.6 s of summed task time on 62-row batches at sf0.1, almost
        # all per-task dispatch); min_rows derives the width from the
        # footer row count, so a big corpus still spreads to every core
        load_spread(spark, "embeddings", sf_dir, min_rows=512)
        .select("vec_id", "embedding")
        .mapInPandas(score, schema=out_schema)
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "vec_id", "cos_sim")
    )


_IVF_NPROBE = 2


def _seq_half_sq(c) -> float:
    """½·|c|², the cell rule's per-centroid constant, by the sequential
    fold in driver Python — element order and IEEE-double ops identical
    to functions.vector.dot (F.aggregate) and DuckDB's
    list_inner_product, so all three produce the same bits."""
    acc = 0.0
    for x in c:
        acc += float(x) * float(x)
    return acc / 2.0


# Hard ceiling on IVF cell count. √N is the classical heuristic, but the
# centroid matrix lives driver-side (collect + closure-ship), so it must be
# CONSTANT-bounded: at 4096 cells × 128-dim float64 the codebook is ~4 MB no
# matter how large the corpus. Past the cap, cells get proportionally more
# members — recall is preserved by raising nprobe, not cell count (FAISS
# takes the same approach for IVF on billion-vector corpora).
_IVF_MAX_CELLS = 4096


def _ivf_n_cells(n: int) -> int:
    """Cell count for an n-vector corpus: √N, clamped to [4, _IVF_MAX_CELLS]."""
    return max(4, min(_IVF_MAX_CELLS, int(n**0.5)))


# The ad-hoc ANN faces memoize their learned index state per corpus version
# (io.memo): ann_ivf's in _ivf_serve_state, ann_pq's and ann_ivfpq's in the
# one IVFADC state _adc_serve_state; an entry is ≤ one compact_checkpoint'ed
# encoded corpus per face.


def _ivf_serve_state(spark: SparkSession, sf_dir: str):
    """ann_ivf's session-memoized serving state: (centroid list,
    assigned+normed corpus frame).  The build — count, seed pick, one
    Lloyd refinement, the corpus assignment pass — runs ONCE per
    (session, corpus version); the assigned frame is compact_checkpoint'ed
    so per-query candidate scans schedule row-count-derived tasks.  This
    is the in-session realization of the docstring's "written out
    partitioned by cell and reused across query batches"."""
    def build():
        emb = load_spread(spark, "embeddings", sf_dir).persist()
        try:
            cents = _kmeans_fit(emb, k=None, iters=1)
            if not cents:
                return (cents, None)  # no indexable vectors
            assigned = fold_assign_cells(
                emb.select("vec_id", "embedding"), cents
            ).withColumn("nrm", norm("embedding"))
            return (cents, compact_checkpoint(assigned))
        finally:
            emb.unpersist()

    return memo(spark, sf_dir, "embeddings", "ann_ivf", build)


def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via IVF (inverted-file) coarse quantization: k-means cells
    (:func:`_kmeans_fit`, √N cells, one Lloyd round), corpus assigned to
    its nearest cell, each query probes its ``nprobe`` nearest cells and
    scores exact cosine only inside them; every nearest-cell pick is the
    fold-exact kernel (:func:`fold_assign_cells`). Rows-only check (no SQL
    twin of the Lloyd round, see ORACLES); recall vs the exact baseline
    asserted in tests/test_extensions.py.

    Scale shape: the quantizer (≤ _IVF_MAX_CELLS vectors, constant-bounded)
    is the only driver-side state; the assigned corpus is built once per
    (session, corpus version) and served from the session memo (r16 — a
    query batch used to re-fit and re-assign everything, 4 corpus passes
    per call); the candidate join is keyed on cell (never
    all-pairs) with the tiny probe side broadcast."""
    cents, corpus = _ivf_serve_state(spark, sf_dir)
    if corpus is None:
        return spark.createDataFrame(
            [], "q_id long, rank int, vec_id long, cos_sim double"
        )
    probes = fold_assign_cells(
        load(spark, "embeddings", sf_dir)
        .filter(_query_pred(50))
        .select("vec_id", "embedding"),
        cents,
        nprobe=_IVF_NPROBE,
    ).select(
        F.col("vec_id").alias("q_id"),
        F.col("cell").alias("q_cell"),
        F.col("embedding").alias("q_vec"),
        norm("embedding").alias("q_nrm"),
    )
    cands = corpus.join(
        F.broadcast(probes),
        (F.col("cell") == F.col("q_cell")) & (F.col("vec_id") != F.col("q_id")),
    )
    scored = cands.select(
        "q_id",
        "vec_id",
        F.round(
            dot(F.col("q_vec"), F.col("embedding")) / (F.col("q_nrm") * F.col("nrm")),
            5,
        ).alias("cos_sim"),
    ).dropDuplicates(["q_id", "vec_id"])
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("q_id", "rank", "vec_id", "cos_sim")
    )


_PQ_M = 8  # subvector count (64-dim → 8 subspaces of 8 dims)
_PQ_K = 16  # centroids per subspace → 4-bit codes, 8 bytes per vector


def _pq_encoded(cent_mat, books):
    """mapInPandas helper: per (vec_id, embedding) batch yields (pdf,
    cells, residual slices (n, _PQ_M, sub), codes (n, _PQ_M)).  Every
    pick — the coarse cell and each subspace's codeword — is the fold
    rule (:func:`_fold_top_cells`, rank 1): the L2-nearest, ties to the
    lower id."""
    import numpy as np

    cell_pick = _fold_top_cells(cent_mat, 1)
    code_picks = [_fold_top_cells(book, 1) for book in books]
    sub = books.shape[2]

    def gen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            cells = cell_pick(mat).to_numpy()
            res = (mat - cent_mat[cells])[:, : _PQ_M * sub].reshape(-1, _PQ_M, sub)
            codes = np.stack(
                [pick(res[:, s]).to_numpy() for s, pick in enumerate(code_picks)],
                axis=1,
            )
            yield pdf, cells, res, codes

    return gen


def _adc_serve_state(spark: SparkSession, sf_dir: str, face: str, k: int | None):
    """The IVFADC state of both PQ faces (Jégou et al., TPAMI 2011 §IV),
    session-memoized per corpus version as ``face``: (centroid matrix,
    per-subspace codebooks, encoded corpus of (vec_id, cell, codes)).
    Coarse cells are :func:`_kmeans_fit` with ``k`` cells and one Lloyd
    round (ann_pq: one cell, so plain PQ; ann_ivfpq: None, the √N rule).
    Codebooks are seeded with the residuals of the md5-Forgy seeds
    (:func:`pinned_forgy_seeds`) against their cell, sliced per subspace,
    then take one Lloyd round for all subspaces in one corpus pass: each
    codeword becomes the mean of the residual slices it won, rounded at 6
    as :func:`_kmeans_fit`'s means are.  NULL embeddings are unindexable
    and drop before the build, as ``IvfIndex._encode`` drops them."""
    import numpy as np
    import pandas as pd

    def build():
        emb = (
            load_spread(spark, "embeddings", sf_dir)
            .filter(F.col("embedding").isNotNull())
            .select("vec_id", "embedding")
            .persist()
        )
        try:
            cents = _kmeans_fit(emb, k=k, iters=1)
            if not cents:
                return (None, None, None)  # no indexable vectors
            cent_mat = np.array(cents, dtype=np.float64)
            seeds = np.array(pinned_forgy_seeds(emb, _PQ_K), dtype=np.float64)
            resid = seeds - cent_mat[_fold_top_cells(cents, 1)(seeds).to_numpy()]
            sub = cent_mat.shape[1] // _PQ_M
            # books[s]: the (≤ _PQ_K, sub) codebook of subspace s
            books = resid[:, : _PQ_M * sub].reshape(-1, _PQ_M, sub).transpose(1, 0, 2)
            seeded = _pq_encoded(cent_mat, books)

            def residual_rows(batches):
                for _, _, res, codes in seeded(batches):
                    yield pd.DataFrame(
                        {
                            "s": np.tile(np.arange(_PQ_M).repeat(sub), len(res)),
                            "code": codes.repeat(sub, axis=1).ravel(),
                            "pos": np.tile(np.arange(sub), len(res) * _PQ_M),
                            "v": res.ravel(),
                        }
                    )

            for r in (
                emb.mapInPandas(residual_rows, "s int, code int, pos int, v double")
                .groupBy("s", "code", "pos")
                .agg(F.round(F.avg("v"), 6).alias("mv"))
                .collect()  # ≤ _PQ_M·_PQ_K·sub rows; unwon codewords keep theirs
            ):
                books[r["s"], r["code"], r["pos"]] = r["mv"]
            refined = _pq_encoded(cent_mat, books)

            def code_rows(batches):
                for pdf, cells, _, codes in refined(batches):
                    yield pd.DataFrame(
                        {"vec_id": pdf["vec_id"], "cell": cells, "codes": list(codes)}
                    )

            encoded = emb.mapInPandas(
                code_rows, "vec_id long, cell int, codes array<int>"
            )
            return (cent_mat, books, compact_checkpoint(encoded))
        finally:
            emb.unpersist()

    return memo(spark, sf_dir, "embeddings", face, build)


def _adc_topk(
    spark: SparkSession, sf_dir: str, face: str, k: int | None
) -> DataFrame:
    """Top-5 smallest approximate L2 per query over
    :func:`_adc_serve_state` (``face``, ``k`` cells): each query probes
    its min(_IVF_NPROBE, cells) fold-rule nearest cells and scores their
    codes by asymmetric distance, summing per-(query, probe) lookup tables
    ‖(q − c_cell)_s − codeword‖² (|Q|·nprobe·M·K floats, closure-shipped).
    One Arrow/numpy pass with a per-partition partial top-k; no floats
    from the corpus touch the query path.  NULL query embeddings drop."""
    import numpy as np
    import pandas as pd

    out_schema = "q_id long, rank int, vec_id long, approx_l2 double"
    cent_mat, books, encoded = _adc_serve_state(spark, sf_dir, face, k)
    if encoded is None:
        return spark.createDataFrame([], out_schema)

    q_rows = (
        load(spark, "embeddings", sf_dir)
        .filter(_query_pred(50) & F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
        .collect()
    )
    if not q_rows:
        return spark.createDataFrame([], out_schema)
    q_ids = np.array([r["vec_id"] for r in q_rows])
    q_mat = np.array([r["embedding"] for r in q_rows], dtype=np.float64)
    # small corpora: fewer cells than nprobe / fewer codebook rows than
    # _PQ_K — size everything from the actual fitted shapes
    p_eff = min(_IVF_NPROBE, cent_mat.shape[0])
    sub = books.shape[2]
    probe_cells = (
        _fold_top_cells(cent_mat, p_eff)(q_mat).to_numpy().reshape(len(q_ids), p_eff)
    )
    # tables[q, j, s, c] = ‖(q − c_cell)_s − books[s, c]‖² for q's probe j
    q_res = (q_mat[:, None] - cent_mat[probe_cells])[..., : _PQ_M * sub]
    tables = (
        (q_res.reshape(len(q_ids), p_eff, _PQ_M, 1, sub) - books) ** 2
    ).sum(axis=-1)
    top = 5

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["vec_id"].to_numpy()
            cells = pdf["cell"].to_numpy()
            codes = np.array(list(pdf["codes"]), dtype=np.int64)  # (n, M)
            out_q, out_v, out_d = [], [], []
            for qi in range(len(q_ids)):
                probed = cells[:, None] == probe_cells[qi]  # (n, p_eff)
                idx = np.flatnonzero(probed.any(axis=1) & (ids != q_ids[qi]))
                j = probed[idx].argmax(axis=1)[:, None]
                d5 = np.round(
                    tables[qi][j, np.arange(_PQ_M), codes[idx]].sum(axis=1), 5
                )
                # (rounded distance, vec_id): the final window's order
                best = np.lexsort((ids[idx], d5))[:top]
                out_q.extend([q_ids[qi]] * len(best))
                out_v.extend(ids[idx[best]])
                out_d.extend(d5[best])
            yield pd.DataFrame(
                {"q_id": out_q, "vec_id": out_v, "approx_l2": out_d}
            )

    partial = encoded.mapInPandas(
        score, schema="q_id long, vec_id long, approx_l2 double"
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("approx_l2"), F.asc("vec_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top)
        .select("q_id", "rank", "vec_id", "approx_l2")
    )


def ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via product quantization (Jégou et al., TPAMI 2011): each
    corpus vector is compressed to _PQ_M 4-bit codeword ids and every
    query scans the whole encoded corpus — IVFADC with one coarse cell
    (:func:`_adc_topk`). Top-5 smallest approximate L2 per query; the
    corpus scan reads 8 BYTES per vector instead of 256. Rows-only check
    (no SQL twin of the PQ codes, see ORACLES); recall vs an exact L2
    baseline asserted in tests/test_extensions.py."""
    return _adc_topk(spark, sf_dir, "ann_pq", k=1)


def ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via IVF + residual product quantization (IVFADC, Jégou et al.,
    TPAMI 2011 §IV, :func:`_adc_topk`): √N coarse cells, each vector's
    RESIDUAL x − centroid PQ-encoded, and each query scores only its
    ``nprobe`` probed cells — the billion-vector serving layout: a query
    batch touches nprobe/C of the corpus, and driver state stays bounded
    (≤ _IVF_MAX_CELLS centroids + _PQ_M·_PQ_K codewords + ≤ _Q_CAP
    queries). Rows-only and recall-tested as ann_pq is."""
    return _adc_topk(spark, sf_dir, "ann_ivfpq", k=None)


class IvfIndex:
    """Materialized IVF index: the assigned corpus persisted as a snapshot
    table hidden-partitioned by ``identity(cell)``, plus the centroid
    matrix in the index metadata. This makes the serving layout the ad-hoc
    ``ann_ivf`` docstring promises concrete: a query batch probes nprobe
    cells and the MANIFESTS prune the scan to those cells' files — at
    100 TB a query touches nprobe/k of the corpus and the quantizer never
    retrains per batch. ``append`` encodes new vectors with the STORED
    centroids (an index must not shift under its data); periodic ``build``
    refreshes the quantizer, exactly FAISS's retrain cadence.

    Index storage is a :class:`~..sources.snapshots.SnapshotTable`, so the
    index inherits time travel (query the index as-of a version), snapshot
    isolation under concurrent append, and compaction. The centroid file is
    written BEFORE its commit and referenced from the snapshot's summary
    props, so data and quantizer can never disagree: a crash mid-rebuild
    leaves an orphan centroid file (harmless), never a committed index
    whose rows were partitioned by centroids a reader cannot see."""

    def __init__(self, spark: SparkSession, root: str):
        from ..sources.snapshots import SnapshotTable

        self.spark = spark
        self.root = root
        self.table = SnapshotTable(
            spark, root, partition_spec=[("identity", "cell")]
        )

    # -- centroid persistence (content-addressed, committed via props) -----
    def _write_centroids(self, cent_mat) -> str:
        import uuid

        path = os.path.join(
            self.root, "metadata", f"ivf_centroids-{uuid.uuid4().hex[:12]}.json"
        )
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump([[float(x) for x in row] for row in cent_mat], f)
        os.replace(tmp, path)
        return path

    def _load_centroids(self, version: int | None = None):
        import numpy as np

        props = self.table.snapshot_props(version)
        path = props.get("ivf_centroids")
        if path is None:
            raise ValueError(
                f"index at {self.root} has no quantizer (empty or pre-build "
                "snapshot) — run build() on a non-empty corpus"
            )
        with open(path) as f:
            return np.array(json.load(f), dtype=np.float64)

    # -- lifecycle ---------------------------------------------------------
    def build(self, emb: DataFrame, k: int | None = None, iters: int = 1) -> int:
        """(Re)build: fit the quantizer on ``emb`` (:func:`_kmeans_fit`,
        ``k=None`` → √N cells), encode and overwrite the whole index.
        Centroids write first, then ONE overwrite commit carries both the
        rows and the centroid pointer — readers keep snapshot isolation
        (and a consistent quantizer) while the rebuild runs.

        ``iters=0`` keeps the raw md5-Forgy seeds, so the whole layout (seed
        choice and fold-exact cell assignment) is reproducible in ANSI SQL:
        the registry faces build that way and are value-checked against
        DuckDB (ANN_IVF_INDEX_SQL).  Every build shares every downstream
        mechanism (stored-centroid props, manifest pruning, time travel)."""
        # overwrite() is an action (the write materializes every pass over
        # emb), so try/finally releases the cache entry at return — the
        # lazy-return operators can't do this and use checkpoint_release.
        emb = emb.persist()
        try:
            cents = _kmeans_fit(emb, k=k, iters=iters)
            if not cents:
                # no indexable vector: an empty index with no quantizer
                return self.table.overwrite(
                    emb.select("vec_id", F.lit(0).alias("cell"), "embedding")
                    .withColumn("nrm", norm("embedding"))
                    .limit(0),
                    props=None,
                )
            props = {"ivf_centroids": self._write_centroids(cents)}
            return self.table.overwrite(self._encode(emb, cents), props=props)
        finally:
            emb.unpersist()

    def append(self, emb: DataFrame) -> int:
        """Incremental maintenance: encode new vectors with the CURRENT
        snapshot's centroids and append — cost proportional to the batch,
        the index layout (and every prior version) untouched. The append
        commit re-stamps the same centroid pointer, so every version's
        props name the quantizer its rows were encoded with."""
        cent_mat = self._load_centroids()
        props = self.table.snapshot_props()
        return self.table.append(self._encode(emb, cent_mat), props=props)

    def _encode(self, emb: DataFrame, cents) -> DataFrame:
        """Assign each vector to its nearest cell with the fold-exact
        kernel — the one encode step of build and every append (an index
        must not shift under its data, so appends take the centroids from
        a snapshot).  NULL embeddings are unindexable and drop here, as
        the SQL twin's ``ev`` drops them; ragged or null-holed vectors
        follow the kernel's NULL-score rule and land in cell 0."""
        return fold_assign_cells(
            emb.select("vec_id", "embedding").filter(
                F.col("embedding").isNotNull()
            ),
            cents,
        ).select("vec_id", "cell", "embedding", norm("embedding").alias("nrm"))

    def append_batch(self, emb: DataFrame, batch_id) -> int | None:
        """Idempotent streaming append (round 8): encode with the CURRENT
        snapshot's centroids and commit keyed by ``batch_id`` — a replayed
        micro-batch is skipped whole (SnapshotTable.append_batch), and the
        commit restamps the quantizer pointer so every version's props name
        the centroids its rows were encoded with."""
        cent_mat = self._load_centroids()
        props = self.table.snapshot_props()
        return self.table.append_batch(
            self._encode(emb, cent_mat), batch_id, props=props
        )

    def bootstrap_batch(self, emb: DataFrame, batch_id) -> int | None:
        """First-batch bootstrap for a streaming ingest: fit the quantizer
        on THIS batch (FAISS's train-on-first-chunk recipe — the quantizer
        then stays fixed while append_batch encodes every later batch),
        write the centroid file, and commit the encoded batch keyed by
        ``batch_id`` so a replayed bootstrap is skipped whole."""
        emb = emb.persist()
        try:
            cents = _kmeans_fit(emb, k=None, iters=1)
            if not cents:
                return None  # nothing usable in the batch; try the next one
            props = {"ivf_centroids": self._write_centroids(cents)}
            return self.table.append_batch(
                self._encode(emb, cents), batch_id, props=props
            )
        finally:
            emb.unpersist()

    def query(
        self,
        queries: DataFrame,
        k: int = 5,
        nprobe: int = _IVF_NPROBE,
        version: int | None = None,
    ) -> DataFrame:
        """Top-k cosine neighbors for a bounded query batch, optionally
        against a time-traveled index ``version`` (its own centroids
        resolve from that snapshot's props). The probed cells are picked
        driver-side by the fold-exact rule (:func:`_fold_top_cells`, the
        kernel the index was encoded with, so probes are bit-identical to
        the SQL twin's), and their rows come from a MANIFEST-PRUNED scan —
        files of unprobed cells are never opened (asserted in tests)."""
        q_rows = queries.select("vec_id", "embedding").collect()
        out_schema = "q_id long, rank int, vec_id long, cos_sim double"
        if not q_rows:
            return self.spark.createDataFrame([], out_schema)
        if self.table.snapshot_props(version).get("ivf_centroids") is None:
            return self.spark.createDataFrame([], out_schema)  # empty index
        cent_mat = self._load_centroids(version)
        nprobe = min(nprobe, cent_mat.shape[0])
        probe = (
            _fold_top_cells(cent_mat, nprobe)([r["embedding"] for r in q_rows])
            .to_numpy()
            .reshape(len(q_rows), nprobe)
        )
        probes = small_df(
            self.spark,
            [
                (int(r["vec_id"]), int(probe[i, j]), r["embedding"])
                for i, r in enumerate(q_rows)
                for j in range(nprobe)
            ],
            "q_id long, q_cell int, q_vec array<float>",
        ).withColumn("q_nrm", norm("q_vec"))
        # ONE manifest-pruned scan over every probed cell: files of unprobed
        # cells are never opened, and the IN filter pushes into the reader
        cells = sorted({int(c) for c in probe.reshape(-1)})
        corpus = self.table.read_where_in("cell", cells, version=version)
        cands = corpus.join(
            F.broadcast(probes),
            (F.col("cell") == F.col("q_cell")) & (F.col("vec_id") != F.col("q_id")),
        )
        scored = cands.select(
            "q_id",
            "vec_id",
            F.round(
                dot("q_vec", "embedding")
                / (F.col("q_nrm") * F.col("nrm")),
                5,
            ).alias("cos_sim"),
        ).dropDuplicates(["q_id", "vec_id"])
        w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "rank", "vec_id", "cos_sim")
        )


def ann_ivf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry twin of the materialized-index path: build an IvfIndex in a
    scratch dir from the embeddings corpus, then answer the standard
    benchmark query batch from it.

    Oracle-GREEN since round 8 (was rows-only): the index is built with
    ``iters=0`` (raw md5-ranked Forgy seeds) and every cell pick — build
    assignment and query probes — is the fold-exact rule, so every stage
    of the index lifecycle (seed choice, cell assignment, probe selection,
    candidate scoring) is reproducible in ANSI SQL, and the whole
    materialized-index path is value-checked against DuckDB
    (ANN_IVF_INDEX_SQL). The manifest-pruned probed-cell scan is still
    exercised — pruning is asserted separately in tests/test_extensions.py.
    Residual cross-engine risk: the final cosine rounds at 5 decimals, the
    same accepted ulp-boundary flake class as knn_bruteforce."""
    idx = _pinned_ivf_index(spark, sf_dir)
    queries = load(spark, "embeddings", sf_dir).filter(_query_pred(50))
    return idx.query(queries, k=5)


def _pinned_ivf(
    spark: SparkSession, sf_dir: str
) -> tuple["IvfIndex", DataFrame | None]:
    """The pinned-seed scratch index (``iters=0``: raw md5-Forgy seeds,
    the layout ANN_IVF_INDEX_SQL reproduces) and its stored members frame
    (vec_id, cell, embedding, nrm), memoized: the registry faces that
    need it (ann_ivf_index, ann_recall_eval, the purity audits,
    dedup_semantic) share one build; an entry is one corpus-sized scratch
    dir.  The members frame is read back once, at build, so a warm call
    lists no files and runs no schema-inference job; it is None when the
    index holds no quantizer (no indexable vectors)."""

    def build(scratch):
        idx = IvfIndex(spark, scratch)
        # min_rows: the pinned assignment is a vectorized Arrow kernel
        # (fold_assign_cells) — fat batches, not 32 tiny Python dispatches
        idx.build(load_spread(spark, "embeddings", sf_dir, min_rows=512), iters=0)
        if "ivf_centroids" not in idx.table.snapshot_props():
            return idx, None
        members = idx.table.read().select("vec_id", "cell", "embedding", "nrm")
        return idx, members

    return scratch_memo(spark, sf_dir, "embeddings", "ivfidx", build)


def _pinned_ivf_index(spark: SparkSession, sf_dir: str) -> "IvfIndex":
    return _pinned_ivf(spark, sf_dir)[0]


# SQL twin of the ENTIRE pinned-seed index lifecycle. Stage names mirror the
# engine: seeds (md5-ranked Forgy init, k = clamped √N), assign (rank-1
# argmax of the fold score x·c − ½|c|²), probes (same score, top-nprobe per
# query), candidates (probed cells, self excluded), final exact cosine
# top-5. All folds are list_inner_product ≡ F.aggregate — bit-exact.
ANN_IVF_INDEX_SQL = f"""
WITH p(np) AS (SELECT {_IVF_NPROBE}),
ev AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE embedding IS NOT NULL
),
kk AS (
  -- k from the same NULL-filtered row set the engine's build() counts
  -- (r12 ADVICE: an unfiltered count diverges on corpora with NULLs)
  SELECT GREATEST(4, LEAST({_IVF_MAX_CELLS},
         CAST(FLOOR(SQRT(COUNT(*))) AS INT))) AS k
  FROM ev
),
seeds AS (
  SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
           - 1 AS cell,
         v AS c
  FROM ev
  QUALIFY ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
            <= (SELECT k FROM kk)
),
cn AS (SELECT cell, c, list_inner_product(c, c) / 2.0 AS chalf FROM seeds),
assign AS (
  SELECT vec_id, v, cell FROM (
    SELECT ev.vec_id, ev.v, cn.cell,
           ROW_NUMBER() OVER (PARTITION BY ev.vec_id
             ORDER BY (list_inner_product(ev.v, cn.c) - cn.chalf) DESC,
                      cn.cell ASC) AS rn
    FROM ev, cn
  ) WHERE rn = 1
),
q AS (
  SELECT vec_id AS q_id, v AS q_vec FROM ev
  WHERE vec_id % 50 = 0 AND vec_id < 1000
),
probes AS (
  SELECT q_id, q_vec, cell FROM (
    SELECT q.q_id, q.q_vec, cn.cell,
           ROW_NUMBER() OVER (PARTITION BY q.q_id
             ORDER BY (list_inner_product(q.q_vec, cn.c) - cn.chalf) DESC,
                      cn.cell ASC) AS rn
    FROM q, cn
  ) WHERE rn <= (SELECT np FROM p)
),
cands AS (
  SELECT pr.q_id, a.vec_id,
         ROUND(list_cosine_similarity(pr.q_vec, a.v), 5) AS cos_sim
  FROM probes pr JOIN assign a
    ON a.cell = pr.cell AND a.vec_id != pr.q_id
)
SELECT q_id, rank, vec_id, cos_sim
FROM (
  SELECT q_id, vec_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM cands
)
WHERE rank <= 5
"""


def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the pinned-seed IVF index against exact brute-force
    cosine, per query — the quality gate every ANN deployment runs before
    trusting an index, here fully VALUE-CHECKED because both sides are
    value-exact operators (the pinned ``iters=0`` build and the fold-exact
    cell picks make the whole index lifecycle SQL-reproducible; the exact
    side is the already-oracled ``knn_bruteforce``). Same pinned query
    batch and k on both sides by construction.

    Scale shape: composes the two audited retrieval scans, then the
    comparison itself is two |Q|·k-bounded frames joined on (q_id,
    vec_id) — zero corpus-keyed work beyond the constituent operators.
    Counts are integers; recall is one division rounded at 6."""
    ivf = ann_ivf_index(spark, sf_dir).select("q_id", "vec_id")
    exact = knn_bruteforce(spark, sf_dir).select("q_id", "vec_id")
    hits = (
        ivf.join(exact, ["q_id", "vec_id"])
        .groupBy("q_id")
        .agg(F.count("*").alias("n_hits"))
    )
    per_q = exact.groupBy("q_id").agg(F.count("*").alias("n_exact"))
    return per_q.join(hits, "q_id", "left").select(
        "q_id",
        F.coalesce("n_hits", F.lit(0).cast("long")).alias("n_hits"),
        "n_exact",
        F.round(
            F.coalesce("n_hits", F.lit(0).cast("long")) / F.col("n_exact"), 6
        ).alias("recall"),
    )


ANN_RECALL_SQL = f"""
WITH ivf AS ({ANN_IVF_INDEX_SQL}),
exact AS ({KNN_BRUTEFORCE_SQL}),
hits AS (
  SELECT i.q_id, COUNT(*) AS n_hits
  FROM ivf i JOIN exact e ON e.q_id = i.q_id AND e.vec_id = i.vec_id
  GROUP BY 1
),
per_q AS (SELECT q_id, COUNT(*) AS n_exact FROM exact GROUP BY 1)
SELECT p.q_id,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       p.n_exact,
       ROUND(COALESCE(h.n_hits, 0) / (p.n_exact * 1.0), 6) AS recall
FROM per_q p LEFT JOIN hits h ON h.q_id = p.q_id
"""


# Matryoshka truncation width: retrieval quality is evaluated on the first
# _MRL_DIM of the stored dims — the deployment question MRL embeddings pose
# ("how much recall do I keep at 4× cheaper vectors?").
_MRL_DIM = 16


def matryoshka_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of TRUNCATED-dimension exact search against full-dimension
    exact search, per query — the evaluation a Matryoshka-representation
    (MRL) deployment runs before serving prefix-truncated embeddings
    (Kusupati et al. 2022): slice every vector to its first ``_MRL_DIM``
    dims, rank by cosine on the slice, and measure how much of the
    full-dim top-5 survives. Complements ``ann_recall_eval`` (index
    approximation loss) with REPRESENTATION approximation loss — together
    they decompose a serving stack's total recall budget.

    Fully value-checked: both sides are exact brute-force scans (the
    truncated side is ``knn_bruteforce`` on a prefix slice — F.slice ≡
    DuckDB list slicing, fold cosine, same 5-decimal rounding and
    (score, vec_id) ties), and the comparison is integer counts + one
    rounded division. Scale shape: two audited corpus scans and a
    |Q|·k-bounded join — zero extra corpus-keyed work; at 100 TB the
    truncated scan reads 4× fewer vector bytes, which is the point."""
    emb = load_spread(spark, "embeddings", sf_dir).select(
        "vec_id", F.slice("embedding", 1, _MRL_DIM).alias("tv")
    ).withColumn("nrm", norm("tv"))
    queries = (
        load(spark, "embeddings", sf_dir)
        .filter(_query_pred(50))
        .select("vec_id", F.slice("embedding", 1, _MRL_DIM).alias("tv"))
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("tv").alias("q_vec"),
            norm("tv").alias("q_nrm"),
        )
    )
    scored = emb.join(
        F.broadcast(queries), F.col("vec_id") != F.col("q_id")
    ).select(
        "q_id",
        "vec_id",
        F.round(
            dot(F.col("q_vec"), F.col("tv")) / (F.col("q_nrm") * F.col("nrm")),
            5,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    trunc = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("q_id", "vec_id")
    )
    exact = knn_bruteforce(spark, sf_dir).select("q_id", "vec_id")
    hits = (
        trunc.join(exact, ["q_id", "vec_id"])
        .groupBy("q_id")
        .agg(F.count("*").alias("n_hits"))
    )
    per_q = exact.groupBy("q_id").agg(F.count("*").alias("n_exact"))
    return per_q.join(hits, "q_id", "left").select(
        "q_id",
        F.lit(_MRL_DIM).alias("dim"),
        F.coalesce("n_hits", F.lit(0).cast("long")).alias("n_hits"),
        "n_exact",
        F.round(
            F.coalesce("n_hits", F.lit(0).cast("long")) / F.col("n_exact"), 6
        ).alias("recall"),
    )


MATRYOSHKA_RECALL_SQL = f"""
WITH tq AS (
  SELECT vec_id,
         list_transform(embedding[1:{_MRL_DIM}], x -> CAST(x AS DOUBLE)) AS tv
  FROM embeddings
),
trunc AS (
  SELECT q_id, vec_id FROM (
    SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY ROUND(list_cosine_similarity(q.tv, e.tv), 5) DESC,
                      e.vec_id ASC) AS rank
    FROM (SELECT * FROM tq WHERE vec_id % 50 = 0 AND vec_id < 1000) q
    JOIN tq e ON e.vec_id != q.vec_id
  ) WHERE rank <= 5
),
exact AS (SELECT q_id, vec_id FROM ({KNN_BRUTEFORCE_SQL})),
hits AS (
  SELECT t.q_id, COUNT(*) AS n_hits
  FROM trunc t JOIN exact e ON e.q_id = t.q_id AND e.vec_id = t.vec_id
  GROUP BY 1
),
per_q AS (SELECT q_id, COUNT(*) AS n_exact FROM exact GROUP BY 1)
SELECT p.q_id,
       {_MRL_DIM} AS dim,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       p.n_exact,
       ROUND(COALESCE(h.n_hits, 0) / (p.n_exact * 1.0), 6) AS recall
FROM per_q p LEFT JOIN hits h ON h.q_id = p.q_id
"""


def mine_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-example mining for contrastive/metric learning (the FaceNet
    semi-hard recipe's batch-global variant): for each pinned anchor, the
    hardest POSITIVE (same label, highest cosine, excluding self) and the
    hardest NEGATIVE (different label, highest cosine) — the triplet-mining
    pass an embedding-training pipeline runs over its labeled corpus.

    Scale shape is the knn_bruteforce idiom: the anchor batch is
    constant-bounded (broadcast), the corpus streams through ONE scored
    scan, and a single (anchor, kind) window takes the top-1 of each kind
    before a ≤2-rows-per-anchor pivot — no corpus-keyed shuffle beyond the
    rank-1 WindowGroupLimit. NULL-label rows drop on both sides (= and !=
    are both NULL-rejecting). Anchors whose corpus has no positive (or no
    negative) emit NULL in those columns via the conditional pivot."""
    emb = load_spread(spark, "embeddings", sf_dir).withColumn(
        "nrm", norm("embedding")
    )
    anchors = (
        load(spark, "embeddings", sf_dir)
        .filter(_query_pred(50) & F.col("label").isNotNull())
        .select(
            F.col("vec_id").alias("a_id"),
            F.col("embedding").alias("a_vec"),
            F.col("label").alias("a_label"),
            norm("embedding").alias("a_nrm"),
        )
    )
    scored = (
        emb.filter(F.col("label").isNotNull())
        .join(F.broadcast(anchors), F.col("vec_id") != F.col("a_id"))
        .select(
            "a_id",
            "vec_id",
            F.when(F.col("label") == F.col("a_label"), F.lit("pos"))
            .otherwise(F.lit("neg"))
            .alias("kind"),
            F.round(
                dot(F.col("a_vec"), F.col("embedding"))
                / (F.col("a_nrm") * F.col("nrm")),
                5,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("a_id", "kind").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    top1 = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return (
        top1.groupBy(F.col("a_id").alias("anchor_id"))
        .agg(
            F.max(F.when(F.col("kind") == "pos", F.col("vec_id"))).alias("pos_id"),
            F.max(F.when(F.col("kind") == "pos", F.col("cos_sim"))).alias("pos_sim"),
            F.max(F.when(F.col("kind") == "neg", F.col("vec_id"))).alias("neg_id"),
            F.max(F.when(F.col("kind") == "neg", F.col("cos_sim"))).alias("neg_sim"),
        )
    )


MINE_TRIPLETS_SQL = """
WITH a AS (
  SELECT vec_id AS a_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a_vec,
         label AS a_label
  FROM embeddings
  WHERE vec_id % 50 = 0 AND vec_id < 1000 AND label IS NOT NULL
),
scored AS (
  SELECT a.a_id, e.vec_id,
         CASE WHEN e.label = a.a_label THEN 'pos' ELSE 'neg' END AS kind,
         ROUND(list_cosine_similarity(a.a_vec,
               list_transform(e.embedding, x -> CAST(x AS DOUBLE))), 5) AS cos_sim
  FROM a JOIN embeddings e
    ON e.vec_id != a.a_id AND e.label IS NOT NULL
),
top1 AS (
  SELECT a_id, vec_id, kind, cos_sim FROM (
    SELECT a_id, vec_id, kind, cos_sim,
           ROW_NUMBER() OVER (PARTITION BY a_id, kind
                              ORDER BY cos_sim DESC, vec_id ASC) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT a_id AS anchor_id,
       MAX(CASE WHEN kind = 'pos' THEN vec_id END) AS pos_id,
       MAX(CASE WHEN kind = 'pos' THEN cos_sim END) AS pos_sim,
       MAX(CASE WHEN kind = 'neg' THEN vec_id END) AS neg_id,
       MAX(CASE WHEN kind = 'neg' THEN cos_sim END) AS neg_sim
FROM top1
GROUP BY a_id
"""


_KMEANS_K = 16
_KMEANS_ITERS = 3


def kmeans_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means clustering profile over the embedding corpus:
    fit k=16 centroids with 3 Lloyd rounds, assign every vector, report
    per-cluster size and mean L2 distance-to-centroid. This is the curation
    primitive behind SemDeDup-style semantic blocking, diversity-balanced
    sampling, and domain discovery over a training corpus — exposed
    first-class instead of buried inside ``dedup_semantic``.

    Oracle-GREEN since round 9 (was rows-only): the ``ann_ivf_index``
    precedent applied to the FULL Lloyd loop. Seeds are the md5-ranked
    Forgy init (SQL-reproducible); each round's assignment is the
    sequential-fold argmax score x·c − ½|c|² with (score DESC, cell ASC)
    ties — bit-exact vs DuckDB ``list_inner_product`` — and each round's
    new centroids are per-dimension means ROUNDED AT 6 DECIMALS on both
    engines, which absorbs the one genuinely order-dependent float (a
    grouped AVG sums in partition order) down to the accepted
    round-boundary flake class. Distances are the identical elementwise
    fold (functions.vector.l2_distance ≡ list_inner_product of the diff),
    rounded at 6 before the final per-cluster AVG/ROUND(4).

    Scale shape (r16): the pinned assignment runs through
    :func:`fold_assign_cells` — a map-only vectorized Arrow kernel whose
    per-dimension multiply-add is bit-identical to the sequential fold,
    so the former corpus×k crossJoin, its interpreted HOF scoring, and
    the per-vector combine shuffle are gone (3.74 → 2.00 s warm at
    sf0.1, A/B'd back-to-back); the mean rounds call the kernel directly
    (no winning-centroid attach needed), the final pass re-attaches ``c``
    via a broadcast hash join on the k-row cell frame. Each round's mean
    shuffle emits ≤ k·d rows after combine and only the k×d rounded
    centroid matrix ever reaches the driver. The same fit, with the IVF
    cell rule, is the quantizer of the whole IVF family.

    The fit (:func:`_kmeans_fit`) is memoized per embeddings version
    (``io.memo`` face ``kmeans_profile``), so a warm call returns a lazy
    plan of only the final assignment and the per-cluster aggregate."""
    emb = (
        # r16: the per-row work is now one vectorized Arrow batch per task
        # (fold_assign_cells), so fat batches beat 32 tiny Python
        # dispatches — min_rows derives the width from the footer row
        # count; a big corpus still spreads to every core (guide §2.2)
        load_spread(spark, "embeddings", sf_dir, min_rows=512)
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
    )
    # the fit is memoized per embeddings version; only a miss persists the
    # corpus, which the fit and the final pass below then share
    cached: list = []

    def fit():
        cached.append(emb.persist())
        return _kmeans_fit(emb)

    cents = memo(spark, sf_dir, "embeddings", "kmeans_profile", fit)
    if not cents:
        for df in cached:
            df.unpersist()
        return spark.createDataFrame([], "cluster int, n long, avg_dist double")
    profile = (
        pinned_fold_assign(spark, emb, cents)
        .select(
            "cell",
            F.round(l2_distance("embedding", "c"), 6).alias("dist"),
        )
        .groupBy(F.col("cell").alias("cluster"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("dist"), 4).alias("avg_dist"),
        )
        .orderBy("cluster")
    )
    # a hit launches no job here: only a miss has a persisted corpus to
    # release, which needs the profile materialized first
    return checkpoint_release(profile, *cached) if cached else profile


def _kmeans_fit(
    emb: DataFrame, k: int | None = _KMEANS_K, iters: int = _KMEANS_ITERS
) -> list:
    """The one k-means fit of the engine (kmeans_cluster_profile and every
    IVF quantizer): the md5 Forgy seeds, then ``iters`` Lloyd rounds whose
    assignment is the fold-exact kernel and whose new centroids are
    per-dimension means rounded at 6 decimals.  ``k=None`` is the IVF rule,
    √N cells of the indexable (non-NULL) rows clamped to _IVF_MAX_CELLS;
    ``iters=0`` returns the raw seeds (the pinned IVF layout).  Returns
    the centroid list ([] for an empty corpus)."""
    if k is None:
        k = _ivf_n_cells(emb.filter(F.col("embedding").isNotNull()).count())
    cents = pinned_forgy_seeds(emb, k)
    if not cents:
        return cents
    k_eff = len(cents)
    for _ in range(iters):
        mean_rows = (
            # the mean rounds never read the winning centroid vector, so
            # they call the kernel directly — no per-round c-attach join,
            # no per-round literal cell frame (r16, guide §2.4)
            fold_assign_cells(emb, cents, nprobe=1, maxby_nulls=True)
            .select("cell", F.posexplode(as_double("embedding")).alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.round(F.avg("val"), 6).alias("mv"))
            .collect()  # ≤ k·d rows — constant-bounded driver state
        )
        by_cell: dict = {}
        for r in mean_rows:
            by_cell.setdefault(r["cell"], {})[r["pos"]] = r["mv"]
        cents = [
            [by_cell[j][p] for p in range(len(cents[j]))]
            if j in by_cell
            else cents[j]  # empty cells keep their previous vector
            for j in range(k_eff)
        ]
    return cents


def _fold_top_cells(cents, nprobe: int, maxby_nulls: bool = False):
    """The one nearest-cell rule of the engine, as a reusable picker:
    ``pick(vecs)`` scores every row of an Arrow list array (or of any
    sequence of vectors, converted to one) against ``cents`` and returns
    the ``min(nprobe, k)`` best cells of each row, row after row, nearest
    first, as one int32 Arrow array.  The Arrow kernel
    (:func:`fold_assign_cells`) calls it per batch; the IvfIndex probes
    and every IVFADC pick (coarse cell, PQ code, probe) call it directly.

    Scores x·c − ½|c|² are accumulated per DIMENSION with one vectorized
    multiply-then-add per step — ``acc += x_p · c_p`` over p = 0..d−1 is
    elementwise IEEE-double in the identical order as ``F.aggregate``'s
    fold (numpy does not fuse the multiply-add), so the (score DESC,
    cell ASC) selection is unchanged down to the bit.  Rows whose
    embedding is NULL, ragged (length ≠ d), or null-holed score NULL
    against every cell exactly like the fold; the window twin's
    NULLS-LAST ordering then ranks cells ascending — ``maxby_nulls=True``
    instead reproduces ``max_by``'s all-null result (a NULL cell).  Known
    edge vs Spark's total ordering (documented, unreachable from
    subtraction against finite ½|c|²): a literal +Inf score ties with NaN
    here and breaks toward the lower cell, while Spark orders NaN first."""
    import numpy as np

    C = np.array([[float(x) for x in c] for c in cents], dtype=np.float64)
    H = np.array([_seq_half_sq(c) for c in cents], dtype=np.float64)
    k, d = C.shape
    npb = min(nprobe, k)

    def _row_scores(elems):
        """Python twin of the per-row fold for the slow (degenerate) path:
        NULL unless the row zips cleanly against a d-length centroid."""
        if elems is None or len(elems) != d or any(x is None for x in elems):
            return None
        out = []
        for j in range(k):
            acc = 0.0
            cj = C[j]
            for p in range(d):
                acc += float(elems[p]) * float(cj[p])
            out.append(acc - float(H[j]))
        return out

    def pick(flat):
        import pyarrow as pa
        import pyarrow.compute as pc

        if not isinstance(flat, pa.Array):
            flat = pa.array(list(flat), type=pa.list_(pa.float64()))
        n = len(flat)
        lengths = pc.list_value_length(flat)
        fixed = (
            flat.null_count == 0
            and flat.values.null_count == 0
            and pc.min(lengths).as_py() == d
            and pc.max(lengths).as_py() == d
        )
        if fixed:
            X = np.asarray(
                flat.values.to_numpy(zero_copy_only=False), dtype=np.float64
            ).reshape(n, d)
            acc = np.zeros((n, k), dtype=np.float64)
            for p in range(d):
                acc += X[:, p : p + 1] * C[None, :, p]
            acc -= H[None, :]
            isnan = np.isnan(acc)
            # lexsort (last key primary): row, then NaN-first (Spark
            # DESC treats NaN as largest), then score desc, then cell
            order = np.lexsort(
                (
                    np.tile(np.arange(k), n),
                    -np.where(isnan, 0.0, acc).ravel(),
                    (~isnan).ravel().astype(np.int8),
                    np.repeat(np.arange(n), k),
                )
            )
            top = (order.reshape(n, k) - (np.arange(n) * k)[:, None])[:, :npb]
            return pa.array(top.ravel().astype(np.int32), type=pa.int32())
        cells = []
        for elems in flat.to_pylist():
            scores = _row_scores(elems)
            if scores is None:
                cells.extend([None] * npb if maxby_nulls else range(npb))
                continue
            ranked = sorted(
                range(k),
                key=lambda j: (
                    0 if np.isnan(scores[j]) else 1,
                    -0.0 if np.isnan(scores[j]) else -scores[j],
                    j,
                ),
            )
            cells.extend(ranked[:npb])
        return pa.array(cells, type=pa.int32())

    return pick


def fold_assign_cells(
    df: DataFrame,
    cents: list,
    nprobe: int = 1,
    maxby_nulls: bool = False,
) -> DataFrame:
    """Fold-EXACT nearest-cell assignment at vectorized speed (r16
    optimization round, guide §4.2): one ``mapInArrow`` pass that runs
    :func:`_fold_top_cells`'s picker per batch.  Every score carries the
    same bits as ``functions.vector.dot``'s sequential fold, with no
    crossJoin row blowup, no per-vector shuffle, and no interpreted
    lambdas (parity with the crossJoin+window form asserted over the
    corpus in tests).  Measured at sf0.1: one rank-1 assignment pass over
    the 2000×16 corpus dropped 1.2 s → 0.2 s warm vs the HOF pipeline,
    and the map-only shape ships d floats per row ONCE instead of
    shuffling (embedding, c) pairs.

    Every input column passes through; appends ``cell`` (int), one output
    row per input row per probe rank (``min(nprobe, k)`` rows, nearest
    first); degenerate rows follow the picker's NULL-score rule."""
    import numpy as np

    from pyspark.sql import types as T

    pick = _fold_top_cells(cents, nprobe, maxby_nulls)
    npb = min(nprobe, len(cents))
    emb_pos = df.columns.index("embedding")
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField("cell", T.IntegerType())]
    )

    def assign(batches):
        import pyarrow as pa

        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            col = b.column(emb_pos)
            flat = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
            cells = pick(flat)
            taken = b.take(pa.array(np.repeat(np.arange(n), npb)))
            yield pa.record_batch(
                list(taken.columns) + [cells],
                schema=pa.schema(
                    list(taken.schema) + [pa.field("cell", pa.int32())]
                ),
            )

    return df.mapInArrow(assign, out_schema)


def pinned_fold_assign(spark: SparkSession, emb: DataFrame, cents: list) -> DataFrame:
    """Nearest pinned centroid per vector by the SEQUENTIAL-FOLD score
    x·c − ½|c|² with (score DESC, cell ASC) ties — the final assignment
    step of ``kmeans_cluster_profile``, bit-identical to DuckDB's
    `list_inner_product` argmax.
    Returns (vec_id, embedding, cell, c).

    r16 optimization round: the scoring runs through the vectorized
    fold-exact kernel (:func:`fold_assign_cells` — same bits, no
    crossJoin blowup, no per-vector shuffle); the winning centroid
    re-attaches through a broadcast join against the k-row cell frame
    (LEFT join so ``max_by``'s all-NULL → NULL-cell row survives exactly
    as the aggregate form emitted it).  History of the forms this
    replaces, both measured: the r14 crossJoin+max_by pipeline was
    codegen'd but still paid interpreted HOF folds per (vector, cell)
    pair plus a full-corpus combine shuffle; the r15 fold-literal
    experiment ("zero shuffle") was 3-5× slower still because a 16×d
    literal argmax expression exceeds janino's method budget and falls
    back to interpreted eval."""
    assigned = fold_assign_cells(
        emb.select("vec_id", "embedding"),
        cents,
        nprobe=1,
        maxby_nulls=True,
    )
    cells = small_df(
        spark,
        [(j, cents[j]) for j in range(len(cents))],
        "cell int, c array<double>",
    )
    return assigned.join(F.broadcast(cells), "cell", "left").select(
        "vec_id", "embedding", "cell", "c"
    )


def pinned_forgy_seeds(emb: DataFrame, k: int) -> list:
    """The md5-ranked Forgy init of :func:`_kmeans_fit`, so of every
    quantizer face: the first ``k`` corpus vectors ranked by (md5(vec_id),
    vec_id), collected as double lists (≤ k rows of driver state)."""
    seed_rows = (
        emb.filter(F.col("embedding").isNotNull())
        .orderBy(F.md5(F.col("vec_id").cast("string").cast("binary")), "vec_id")
        .limit(k)
        .select("embedding")
        .collect()
    )
    return [[float(x) for x in r["embedding"]] for r in seed_rows]


def _kmeans_profile_sql() -> str:
    """SQL twin of the pinned Lloyd loop: seeds (md5 Forgy), then per
    round an assignment (rank-1 fold-score argmax, the ANN_IVF_INDEX_SQL
    idiom) and a per-dimension ROUND(AVG, 6) mean with empty-cell
    carry-over, unrolled ``_KMEANS_ITERS`` times; the final assignment
    feeds the elementwise-diff fold distance. All folds are
    list_inner_product ≡ F.aggregate — bit-exact."""
    parts = [
        f"""kk AS (
  SELECT LEAST({_KMEANS_K}, COUNT(*)) AS k
  FROM embeddings WHERE embedding IS NOT NULL
),
ev AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE embedding IS NOT NULL
),
c0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
           - 1 AS cell,
         v AS c
  FROM ev
  QUALIFY ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
            <= (SELECT k FROM kk)
)"""
    ]
    prev = "c0"
    for r in range(1, _KMEANS_ITERS + 1):
        parts.append(
            f""",
a{r} AS (
  SELECT vec_id, v, cell FROM (
    SELECT ev.vec_id, ev.v, c.cell,
           ROW_NUMBER() OVER (PARTITION BY ev.vec_id
             ORDER BY (list_inner_product(ev.v, c.c)
                       - list_inner_product(c.c, c.c) / 2.0) DESC,
                      c.cell ASC) AS rn
    FROM ev, {prev} c
  ) WHERE rn = 1
),
m{r} AS (
  SELECT cell, i, ROUND(AVG(v[i + 1]), 6) AS mv
  FROM (SELECT cell, v, unnest(range(len(v))) AS i FROM a{r})
  GROUP BY cell, i
),
mc{r} AS (SELECT cell, list(mv ORDER BY i) AS c FROM m{r} GROUP BY cell),
c{r} AS (
  SELECT p.cell, COALESCE(m.c, p.c) AS c
  FROM {prev} p LEFT JOIN mc{r} m USING (cell)
)"""
        )
        prev = f"c{r}"
    parts.append(
        f""",
fin AS (
  SELECT vec_id, v, cell, c FROM (
    SELECT ev.vec_id, ev.v, c.cell, c.c,
           ROW_NUMBER() OVER (PARTITION BY ev.vec_id
             ORDER BY (list_inner_product(ev.v, c.c)
                       - list_inner_product(c.c, c.c) / 2.0) DESC,
                      c.cell ASC) AS rn
    FROM ev, {prev} c
  ) WHERE rn = 1
),
d AS (
  SELECT cell,
         ROUND(sqrt(list_inner_product(
           list_transform(range(len(v)), i -> v[i + 1] - c[i + 1]),
           list_transform(range(len(v)), i -> v[i + 1] - c[i + 1]))), 6)
           AS dist
  FROM fin
)
SELECT CAST(cell AS INT) AS cluster,
       COUNT(*) AS n,
       ROUND(AVG(dist), 4) AS avg_dist
FROM d
GROUP BY cell
ORDER BY cluster"""
    )
    return "WITH " + "".join(parts)


KMEANS_PROFILE_SQL = _kmeans_profile_sql()


def embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-hygiene audit (NEW round 11): per label — n_vecs, the
    mean/min/max L2 norm (rounded 6), and the count of degenerate vectors
    (norm < 1e-6 or any non-finite coordinate) — the pre-index check every
    vector pipeline runs before ANN/quantization, where a batch of zero or
    NaN embeddings from a crashed encoder silently poisons recall.

    Norms use the shared sequential-fold ``functions.vector.norm``
    (≡ DuckDB sqrt(list_inner_product)) — bit-identical per row; the mean
    divides once and rounds at 6. NULL embeddings count as degenerate and
    contribute no norm; NULL labels fold to -1 so the audit is total.

    Scale shape: pure scan-level projection into ONE hash agg over
    ≤ |labels| rows — map-side partials, nothing after the agg touches
    the corpus."""
    emb = load(spark, "embeddings", sf_dir)
    nrm = norm("embedding")
    bad = (
        F.col("embedding").isNull()
        | (nrm < F.lit(1e-6))
        | F.exists("embedding", lambda x: F.isnan(x) | x.cast("double").isNull())
    )
    return (
        emb.select(
            F.coalesce(F.col("label"), F.lit(-1)).cast("int").alias("label"),
            F.when(~bad, nrm).alias("nrm"),
            bad.cast("int").alias("is_bad"),
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.round(F.avg("nrm"), 6).alias("mean_norm"),
            F.round(F.min("nrm"), 6).alias("min_norm"),
            F.round(F.max("nrm"), 6).alias("max_norm"),
            F.sum("is_bad").cast("long").alias("n_degenerate"),
        )
        .orderBy("label")
    )


EMBEDDING_NORM_AUDIT_SQL = """
WITH e AS (
  SELECT COALESCE(label, -1) AS label,
         CASE WHEN embedding IS NULL THEN NULL
              ELSE sqrt(list_inner_product(
                     list_transform(embedding, x -> CAST(x AS DOUBLE)),
                     list_transform(embedding, x -> CAST(x AS DOUBLE))))
         END AS nrm0,
         (embedding IS NULL) OR
         (sqrt(list_inner_product(
             list_transform(embedding, x -> CAST(x AS DOUBLE)),
             list_transform(embedding, x -> CAST(x AS DOUBLE)))) < 1e-6) OR
         (len(list_filter(embedding,
                          x -> isnan(CAST(x AS DOUBLE)) OR x IS NULL)) > 0)
           AS is_bad
  FROM embeddings
)
SELECT CAST(label AS INT) AS label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       ROUND(AVG(CASE WHEN NOT is_bad THEN nrm0 END), 6) AS mean_norm,
       ROUND(MIN(CASE WHEN NOT is_bad THEN nrm0 END), 6) AS min_norm,
       ROUND(MAX(CASE WHEN NOT is_bad THEN nrm0 END), 6) AS max_norm,
       CAST(SUM(CASE WHEN is_bad THEN 1 ELSE 0 END) AS BIGINT) AS n_degenerate
FROM e
GROUP BY label
ORDER BY label
"""


def quantize_embeddings_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x|/127, q_i =
    ⌊x_i/scale + ½⌋ — 4× smaller embeddings for storage/serving, the
    standard compression step between embedding generation and ANN indexing
    (reconstruction x̂ = q·scale; PQ in ``ann_pq`` is the coarser stage).

    Pure per-row projection — no shuffle, no driver state, trivially
    scan-parallel at any corpus size. Engine-exact by construction: both
    engines evaluate the identical double expression ⌊x/s + 0.5⌋ (explicit
    floor-of-shifted rather than round(), whose half-way tie rule is the one
    place engines drift)."""
    withmax = _int8_scaled(load(spark, "embeddings", sf_dir))
    qvec = _int8_qvec()
    # The int8 codes stay an array inside the plan; the DRIVER-facing output
    # renders them as one deterministic CSV string plus min/max probes —
    # array-typed result columns crash the harness's pandas canonicalizer
    # (VERDICT r4 #1), and a scalar rendering checks the same bytes.
    return withmax.select(
        "vec_id",
        F.round("s", 9).alias("scale"),
        F.array_join(F.transform(qvec, lambda q: q.cast("string")), ",").alias(
            "qvec_csv"
        ),
        F.array_min(qvec).alias("q_min"),
        F.array_max(qvec).alias("q_max"),
    )


def _int8_scaled(emb: DataFrame) -> DataFrame:
    """(vec_id, embedding, s) with the symmetric per-vector int8 scale —
    THE quantizer definition, shared by the storage face
    (`quantize_embeddings_int8`) and the quantization recall eval so the
    two cannot disagree about a code."""
    amax = F.array_max(F.transform("embedding", lambda x: F.abs(x)))
    return emb.select(
        "vec_id",
        "embedding",
        F.when(amax == 0, F.lit(1.0)).otherwise(amax / F.lit(127.0)).alias("s"),
    )


def _int8_qvec():
    """The int8 code array over a `_int8_scaled` row (floor-of-shifted,
    never round() — the engines' half-way tie rules differ)."""
    return F.transform(
        "embedding",
        lambda x: F.floor(x / F.col("s") + F.lit(0.5)).cast("int"),
    )


def embedding_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding drift between two corpus cohorts — the
    feature-drift monitor an embedding pipeline runs when the encoder (or
    the upstream corpus) changes: top-10 dimensions by |Δmean| between a
    reference cohort and a candidate cohort, with both means and cohort
    sizes. Cohorts are vec_id parity — the deterministic stand-in for
    "last week's vectors vs this week's" the testdata supports; in
    deployment the cohort key is an ingestion date or a model version
    column (`embedding_norm_audit` is the companion magnitude/hygiene
    gate; this is the per-coordinate location gate).

    Scale shape: one posexplode (d rows per vector — the PCA moment
    pass's grain) into ONE (dim)-keyed hash agg with conditional
    averages; the top-10 cut orders the ≤d aggregated rows, never the
    corpus. Means round at 6 before the delta, so the comparison and the
    cut happen on identical numbers in both engines."""
    emb = load_spread(spark, "embeddings", sf_dir)
    cohort = F.pmod(F.col("vec_id"), F.lit(2))
    x = emb.select(
        cohort.alias("cohort"),
        F.posexplode("embedding").alias("dim", "val"),
    )
    agg = (
        x.groupBy("dim")
        .agg(
            F.round(F.avg(F.when(F.col("cohort") == 0, F.col("val"))), 6)
            .alias("mean_ref"),
            F.round(F.avg(F.when(F.col("cohort") == 1, F.col("val"))), 6)
            .alias("mean_cand"),
            F.count(F.when(F.col("cohort") == 0, 1)).alias("n_ref"),
            F.count(F.when(F.col("cohort") == 1, 1)).alias("n_cand"),
        )
    )
    return (
        agg.select(
            "dim",
            "mean_ref",
            "mean_cand",
            F.round(F.abs(F.col("mean_ref") - F.col("mean_cand")), 6).alias(
                "abs_delta"
            ),
            "n_ref",
            "n_cand",
        )
        .orderBy(F.desc("abs_delta"), F.asc("dim"))
        .limit(10)
    )


EMBEDDING_DRIFT_SQL = """
WITH x AS (
  SELECT vec_id % 2 AS cohort, embedding,
         unnest(range(1, len(embedding) + 1)) AS i
  FROM embeddings
),
v AS (
  SELECT cohort, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS val FROM x
),
agg AS (
  SELECT dim,
         ROUND(AVG(CASE WHEN cohort = 0 THEN val END), 6) AS mean_ref,
         ROUND(AVG(CASE WHEN cohort = 1 THEN val END), 6) AS mean_cand,
         COUNT(CASE WHEN cohort = 0 THEN 1 END) AS n_ref,
         COUNT(CASE WHEN cohort = 1 THEN 1 END) AS n_cand
  FROM v GROUP BY dim
)
SELECT CAST(dim AS INT) AS dim, mean_ref, mean_cand,
       ROUND(ABS(mean_ref - mean_cand), 6) AS abs_delta,
       CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cand AS BIGINT) AS n_cand
FROM agg
ORDER BY abs_delta DESC, dim ASC
LIMIT 10
"""


def quantization_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of int8-QUANTIZED cosine search against full-precision
    exact search, per query — the THIRD leg of the serving stack's
    recall-budget decomposition: `ann_recall_eval` measures INDEX loss,
    `matryoshka_recall_eval` measures REPRESENTATION (truncation) loss,
    this measures QUANTIZATION loss for the `quantize_embeddings_int8`
    codes. Key identity making it exact and cheap: symmetric per-vector
    scales CANCEL in cosine — cos(q_a·s_a, q_b·s_b) = cos(q_a, q_b) — so
    the quantized ranking runs directly on the INTEGER code vectors
    (dots/norms are exact integer arithmetic in doubles; |q| ≤ 127 and
    d ≤ 1024 keep every partial well under 2⁵³), with the same fold
    cosine, 5-decimal rounding and (score, vec_id) tie rules as
    `knn_bruteforce`. Same scale shape as the other recall evals: two
    audited corpus scans + a |Q|·k-bounded comparison join; at 100 TB the
    quantized scan reads 4× fewer vector bytes — the point of shipping
    int8."""
    codes = _int8_scaled(load_spread(spark, "embeddings", sf_dir)).select(
        "vec_id",
        F.transform(_int8_qvec(), lambda q: q.cast("double")).alias("dq"),
    ).withColumn("nrm", norm("dq"))
    queries = (
        _int8_scaled(load(spark, "embeddings", sf_dir))
        .filter(_query_pred(50))
        .select(
            F.col("vec_id").alias("q_id"),
            F.transform(_int8_qvec(), lambda q: q.cast("double")).alias(
                "q_vec"
            ),
        )
        .withColumn("q_nrm", norm("q_vec"))
    )
    scored = codes.join(
        F.broadcast(queries), F.col("vec_id") != F.col("q_id")
    ).select(
        "q_id",
        "vec_id",
        F.round(
            dot(F.col("q_vec"), F.col("dq")) / (F.col("q_nrm") * F.col("nrm")),
            5,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    quant = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("q_id", "vec_id")
    )
    exact = knn_bruteforce(spark, sf_dir).select("q_id", "vec_id")
    hits = (
        quant.join(exact, ["q_id", "vec_id"])
        .groupBy("q_id")
        .agg(F.count("*").alias("n_hits"))
    )
    per_q = exact.groupBy("q_id").agg(F.count("*").alias("n_exact"))
    return per_q.join(hits, "q_id", "left").select(
        "q_id",
        F.coalesce("n_hits", F.lit(0).cast("long")).alias("n_hits"),
        "n_exact",
        F.round(
            F.coalesce("n_hits", F.lit(0).cast("long")) / F.col("n_exact"), 6
        ).alias("recall"),
    )


QUANTIZATION_RECALL_SQL = f"""
WITH qm AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding, x -> abs(x))) AS amax
  FROM embeddings
), qs AS (
  SELECT vec_id, embedding,
         CASE WHEN amax = 0 THEN 1.0 ELSE CAST(amax AS DOUBLE) / 127.0 END AS s
  FROM qm
), qd AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(CAST(FLOOR(x / s + 0.5) AS INT) AS DOUBLE))
           AS dq
  FROM qs
), quant AS (
  SELECT q_id, vec_id FROM (
    SELECT a.vec_id AS q_id, b.vec_id AS vec_id,
           ROW_NUMBER() OVER (PARTITION BY a.vec_id
             ORDER BY ROUND(list_cosine_similarity(a.dq, b.dq), 5) DESC,
                      b.vec_id ASC) AS rank
    FROM (SELECT * FROM qd WHERE vec_id % 50 = 0 AND vec_id < 1000) a
    JOIN qd b ON b.vec_id != a.vec_id
  ) WHERE rank <= 5
), exact AS (
  SELECT q_id, vec_id FROM ({KNN_BRUTEFORCE_SQL})
), hits AS (
  SELECT q.q_id, COUNT(*) AS n_hits
  FROM quant q JOIN exact e ON e.q_id = q.q_id AND e.vec_id = q.vec_id
  GROUP BY 1
), per_q AS (SELECT q_id, COUNT(*) AS n_exact FROM exact GROUP BY 1)
SELECT p.q_id,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       p.n_exact,
       ROUND(COALESCE(h.n_hits, 0) / (p.n_exact * 1.0), 6) AS recall
FROM per_q p LEFT JOIN hits h ON h.q_id = p.q_id
"""


QUANTIZE_INT8_SQL = """
WITH m AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding, x -> abs(x))) AS amax
  FROM embeddings
), s AS (
  -- CAST to DOUBLE: FLOAT/DECIMAL arithmetic stays FLOAT in DuckDB (Spark
  -- promotes to double), and ROUND(FLOAT, 9) is a no-op at float32 precision
  SELECT vec_id, embedding,
         CASE WHEN amax = 0 THEN 1.0 ELSE CAST(amax AS DOUBLE) / 127.0 END AS s
  FROM m
), q AS (
  SELECT vec_id, s,
         list_transform(embedding, x -> CAST(FLOOR(x / s + 0.5) AS INT)) AS qv
  FROM s
)
SELECT vec_id,
       ROUND(s, 9) AS scale,
       array_to_string(qv, ',') AS qvec_csv,
       CAST(list_min(qv) AS INT) AS q_min,
       CAST(list_max(qv) AS INT) AS q_max
FROM q
"""


# --- Binary (sign-bit) hashing + Hamming search ----------------------------
# The coarsest stop on the embedding-compression ladder (float32 → int8 →
# PQ → 1 bit/dim): keep only sign(x_i), 32× smaller than float32. Charikar's
# SimHash identity makes it a real ANN code — P[sign bits agree] =
# 1 − angle/π — and the serving recipe is a two-stage funnel: scan the
# 8-byte codes with XOR+popcount (pure register arithmetic inside
# whole-stage codegen), then touch full float vectors only for the tiny
# re-rank candidate set. `dedup_simhash` applies the same sign-bit trick to
# text feature vectors; this is the embedding-native face.
#
# Packing: 64 sign bits as TWO 32-bit words in BIGINTs. One 64-bit word
# would need bit 63 — the sign bit of a signed shift, where engine overflow
# rules diverge; two sub-32-bit words keep every intermediate a small
# non-negative long with identical semantics in Spark and DuckDB, and
# Hamming is still two XOR+POPCOUNTs.
_SIGN_BITS_PER_WORD = 32


def _sign_word(vec, j: int) -> F.Column:
    """Sign bits [32j, 32j+32) of ``vec`` as one non-negative long.

    MSB-first fold acc·2 + (x ≥ 0) — no shift-by-column (Spark's
    ``shiftleft`` wants a literal) and no 1<<63 edge; ≡ Σ 2^i·bit_i.
    """
    lo = _SIGN_BITS_PER_WORD * j
    return F.aggregate(
        F.sequence(
            F.lit(lo + _SIGN_BITS_PER_WORD - 1), F.lit(lo), F.lit(-1)
        ),
        F.lit(0).cast("long"),
        lambda acc, i: acc * 2
        + F.when(F.get(vec, i) >= 0, F.lit(1)).otherwise(F.lit(0)),
    )


def _sign_coded(emb: DataFrame) -> DataFrame:
    """(vec_id, w0, w1) — THE binary-code definition, shared by the plain
    Hamming scan and the re-rank funnel so the two cannot disagree."""
    return emb.select(
        "vec_id",
        _sign_word(F.col("embedding"), 0).alias("w0"),
        _sign_word(F.col("embedding"), 1).alias("w1"),
    )


def _hamming(a0, a1, b0, b1) -> F.Column:
    return F.bit_count(a0.bitwiseXOR(b0)) + F.bit_count(a1.bitwiseXOR(b1))


def knn_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming top-5 neighbors on the 64-bit sign codes for the shared
    benchmark query set — the binary-compressed twin of `knn_bruteforce`.

    At 100 TB the corpus side of this scan is 8 bytes/vector instead of
    256: the code columns are a pure projection (store them once, next to
    the vectors), the distance is two XOR+POPCOUNT register ops inside
    codegen, and the per-query top-k is the same TakeOrdered window shape
    as the exact baseline — no shuffle of the corpus, no Python.
    """
    codes = _sign_coded(load_spread(spark, "embeddings", sf_dir))
    queries = _sign_coded(
        load(spark, "embeddings", sf_dir).filter(_query_pred(50))
    )
    return hamming_rank(codes, queries)


def hamming_rank(codes: DataFrame, queries: DataFrame) -> DataFrame:
    """Hamming top-5 of a (vec_id, w0, w1) code frame against a tiny
    query-code frame — the shared scoring tail of the batch scan and the
    maintained-code-index serve face (the 23rd path), so the two cannot
    disagree about a distance."""
    q = queries.select(
        F.col("vec_id").alias("q_id"),
        F.col("w0").alias("q_w0"),
        F.col("w1").alias("q_w1"),
    )
    scored = codes.join(
        F.broadcast(q), F.col("vec_id") != F.col("q_id")
    ).select(
        "q_id",
        "vec_id",
        _hamming(
            F.col("q_w0"), F.col("q_w1"), F.col("w0"), F.col("w1")
        ).alias("hamming"),
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("hamming"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("q_id", "rank", "vec_id", "hamming")
    )


def code_index_rows(emb: DataFrame) -> DataFrame:
    """Sign codes of the non-NULL embeddings — the per-batch
    ``start_cells_ingest`` partial of the 23rd path: a pure per-row
    projection, so per-batch appends union to the full code table with no
    merge step."""
    return _sign_coded(emb.filter(F.col("embedding").isNotNull()))


def hamming_from_code_index(codes: DataFrame) -> DataFrame:
    """`knn_hamming` served from the 23rd path's MAINTAINED code table:
    the benchmark query set is the same ``_query_pred`` carve of the
    stored codes, so the whole search touches 16 bytes per vector and
    the float embeddings are never read — ≡ the batch face over
    everything ingested (parity test in tests/test_streaming.py)."""
    return hamming_rank(codes, codes.filter(_query_pred(50)))


# Shared oracle CTE: the same MSB-first fold, written as Σ 2^i·bit_i.
_SIGN_CODES_CTE = """
codes AS (
  SELECT vec_id,
         CAST(list_sum(list_transform(range(0, 32),
           i -> CASE WHEN embedding[i + 1] >= 0
                     THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS BIGINT)
           AS w0,
         CAST(list_sum(list_transform(range(0, 32),
           i -> CASE WHEN embedding[i + 33] >= 0
                     THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS BIGINT)
           AS w1
  FROM embeddings
)
"""

KNN_HAMMING_SQL = f"""
WITH {_SIGN_CODES_CTE}
SELECT q_id, rank, vec_id, hamming
FROM (
  SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
         bit_count(xor(q.w0, e.w0)) + bit_count(xor(q.w1, e.w1)) AS hamming,
         ROW_NUMBER() OVER (PARTITION BY q.vec_id
           ORDER BY bit_count(xor(q.w0, e.w0)) + bit_count(xor(q.w1, e.w1)) ASC,
                    e.vec_id ASC) AS rank
  FROM (SELECT c.* FROM codes c
        WHERE c.vec_id % 50 = 0 AND c.vec_id < 1000) q
  JOIN codes e ON e.vec_id != q.vec_id
)
WHERE rank <= 5
"""


# Funnel width: how many Hamming candidates the exact re-rank touches per
# query. Fixed (not a corpus fraction) so the expensive stage is O(|Q|·W)
# at ANY corpus size.
_RERANK_WIDTH = 32


def ann_hamming_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage binary serving funnel: Hamming top-32 on the sign codes,
    then exact cosine re-rank of only those candidates → top-5.

    The production recipe for 1-bit indexes (FAISS `IndexBinaryFlat` +
    refine): stage 1 reads 8-byte codes for the whole corpus; stage 2
    joins the ≤|Q|·32 candidate ids BACK to the float vectors by id — at
    100 TB the full-precision column is read for thousands of rows, not
    billions. Output ranks by exact cosine, so recall vs `knn_bruteforce`
    is exactly what the code preserves (measured ~0.8 at 64 bits)."""
    codes = _sign_coded(load_spread(spark, "embeddings", sf_dir))
    q_src = load(spark, "embeddings", sf_dir).filter(_query_pred(50))
    queries = _sign_coded(q_src).select(
        F.col("vec_id").alias("q_id"),
        F.col("w0").alias("q_w0"),
        F.col("w1").alias("q_w1"),
    )
    scored = codes.join(
        F.broadcast(queries), F.col("vec_id") != F.col("q_id")
    ).select(
        "q_id",
        "vec_id",
        _hamming(
            F.col("q_w0"), F.col("q_w1"), F.col("w0"), F.col("w1")
        ).alias("hamming"),
    )
    wh = Window.partitionBy("q_id").orderBy(F.asc("hamming"), F.asc("vec_id"))
    cand = (
        scored.withColumn("h_rank", F.row_number().over(wh))
        .filter(F.col("h_rank") <= _RERANK_WIDTH)
        .select("q_id", "vec_id", "hamming")
    )
    # Stage 2: candidates rejoin the float vectors by id. Candidate side is
    # |Q|·W rows → broadcast; the corpus scan here is id-filtered.
    corpus = load(spark, "embeddings", sf_dir).withColumn(
        "nrm", norm("embedding")
    )
    q_vecs = q_src.withColumn("q_nrm", norm("embedding")).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        "q_nrm",
    )
    rer = (
        corpus.join(F.broadcast(cand), "vec_id")
        .join(F.broadcast(q_vecs), "q_id")
        .select(
            "q_id",
            "vec_id",
            "hamming",
            F.round(
                dot(F.col("q_vec"), F.col("embedding"))
                / (F.col("q_nrm") * F.col("nrm")),
                5,
            ).alias("cos_sim"),
        )
    )
    wc = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        rer.withColumn("rank", F.row_number().over(wc))
        .filter(F.col("rank") <= 5)
        .select("q_id", "rank", "vec_id", "cos_sim", "hamming")
    )


ANN_HAMMING_RERANK_SQL = f"""
WITH {_SIGN_CODES_CTE},
cand AS (
  SELECT q_id, vec_id, hamming FROM (
    SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
           bit_count(xor(q.w0, e.w0)) + bit_count(xor(q.w1, e.w1)) AS hamming,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY bit_count(xor(q.w0, e.w0)) + bit_count(xor(q.w1, e.w1)) ASC,
                      e.vec_id ASC) AS h_rank
    FROM (SELECT c.* FROM codes c
          WHERE c.vec_id % 50 = 0 AND c.vec_id < 1000) q
    JOIN codes e ON e.vec_id != q.vec_id
  ) WHERE h_rank <= {_RERANK_WIDTH}
)
SELECT q_id, rank, vec_id, cos_sim, hamming
FROM (
  SELECT c.q_id, c.vec_id, c.hamming,
         ROUND(list_cosine_similarity(
           list_transform(q.embedding, x -> CAST(x AS DOUBLE)),
           list_transform(e.embedding, x -> CAST(x AS DOUBLE))), 5) AS cos_sim,
         ROW_NUMBER() OVER (PARTITION BY c.q_id
           ORDER BY ROUND(list_cosine_similarity(
             list_transform(q.embedding, x -> CAST(x AS DOUBLE)),
             list_transform(e.embedding, x -> CAST(x AS DOUBLE))) , 5) DESC,
                    c.vec_id ASC) AS rank
  FROM cand c
  JOIN embeddings e ON e.vec_id = c.vec_id
  JOIN embeddings q ON q.vec_id = c.q_id
)
WHERE rank <= 5
"""


# --- PCA (distributed principal component analysis) -----------------------
# The dimensionality-reduction stage between embedding generation and ANN
# indexing (OPQ/whitening in the FAISS pipeline sits in the same spot):
# one Arrow/GEMM pass over the corpus accumulates the (n, Σx, XᵀX) moments
# as mergeable (pos, partial) rows; only the (1+d+d²)-double moment vector
# and the d×d eigendecomposition ever live driver-side — the same
# constant-bounded-driver-state contract as the IVF/PQ codebooks.
_PCA_COMPONENTS = 4
# moment state is 8·(1+d+d²) bytes on the driver → hard-cap the dimension
# like _IVF_MAX_CELLS caps cells (1024² doubles ≈ 8 MB)
_PCA_DIM_CAP = 1024


def _pca_moments_fn():
    """mapInPandas closure: per Arrow batch emit the flattened partial
    moments [n, Σx (d), XᵀX (d²)] as (d, pos, v) rows — elementwise-summable
    within one dimension, so one ≤(1+d+d²)-row hash agg merges all partials.
    ``d`` rides along so mixed-dimension inputs (two sources with different
    embedding widths in one scan or one micro-batch) surface as >1 group in
    the finalize instead of silently summing incompatible pos-spaces."""
    import numpy as np
    import pandas as pd

    def moments(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            n, d = mat.shape
            if d > _PCA_DIM_CAP:
                raise ValueError(
                    f"embedding dim {d} exceeds _PCA_DIM_CAP={_PCA_DIM_CAP}: "
                    "the d^2 moment state would not be driver-bounded"
                )
            vals = np.concatenate(
                ([float(n)], mat.sum(axis=0), (mat.T @ mat).reshape(-1))
            )
            yield pd.DataFrame(
                {
                    "d": np.full(vals.size, d, dtype=np.int32),
                    "pos": np.arange(vals.size),
                    "v": vals,
                }
            )

    return moments


def _pca_finalize_rows(rows):
    """Turn collected (d, pos, v) moment rows — one fully-merged sum per pos
    — into (n, mean, cov, eigvals desc, components), or None if the corpus
    has < 2 vectors. Raises on mixed dimensions: partial sums only merge
    meaningfully within one pos-space. Components carry a deterministic sign
    (the max-|loading| element of each eigenvector is made positive), so
    repeated fits on the same data agree exactly."""
    import numpy as np

    if not rows:
        return None
    dims = {r["d"] for r in rows}
    if len(dims) > 1:
        raise ValueError(
            f"mixed embedding dimensions in moment rows: {sorted(dims)} — "
            "moment sums across different pos-spaces are meaningless; fix "
            "the upstream schema or fit each dimension separately"
        )
    d = dims.pop()
    vals = np.zeros(1 + d + d * d)
    for r in rows:
        vals[r["pos"]] = r["v"]
    n = vals[0]
    if n < 2 or d < 1:
        return None
    s = vals[1 : 1 + d]
    xtx = vals[1 + d :].reshape(d, d)
    mean = s / n
    cov = (xtx - n * np.outer(mean, mean)) / (n - 1)
    evals, evecs = np.linalg.eigh((cov + cov.T) / 2.0)
    order = np.argsort(evals)[::-1]
    evals, evecs = evals[order], evecs[:, order]
    for j in range(d):
        i = int(np.argmax(np.abs(evecs[:, j])))
        if evecs[i, j] < 0:
            evecs[:, j] = -evecs[:, j]
    return int(n), mean, cov, evals, evecs


def pca_moment_partials(emb: DataFrame) -> DataFrame:
    """The mergeable heart of PCA: per-batch/per-partition (pos, v) moment
    partial sums. Sums are associative, so partials from ANY split of the
    corpus — partitions of one scan, or successive ingest micro-batches
    (``streaming.ingest.start_incremental_pca_ingest``) — fold into the same
    moment vector a single batch pass produces."""
    return (
        emb.select("embedding")
        .filter(F.col("embedding").isNotNull())
        .mapInPandas(_pca_moments_fn(), schema="d int, pos long, v double")
        .groupBy("d", "pos")
        .agg(F.sum("v").alias("v"))
    )


def pca_fit_from_moments(moments_df: DataFrame):
    """Finalize a PCA fit from accumulated (pos, v) moment rows — e.g. the
    incremental-ingest moments table, which appends one partial row-set per
    micro-batch. Exactly the fit a batch re-run over the full corpus gives
    (modulo float addition order), at metadata cost: the table holds
    (1+d+d²) rows per batch and this re-merge is one tiny hash agg."""
    return _pca_finalize_rows(
        moments_df.groupBy("d", "pos").agg(F.sum("v").alias("v")).collect()
    )


def _pca_fit(spark: SparkSession, sf_dir: str, emb: DataFrame | None = None):
    """Fit PCA over the embeddings table: one distributed moment pass, then
    driver-side finalize (see _pca_finalize_rows for the determinism rule)."""
    if emb is None:
        emb = load_spread(spark, "embeddings", sf_dir)
    return _pca_finalize_rows(pca_moment_partials(emb).collect())


def pca_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3/L7 companion: the distributed covariance matrix of the embedding
    corpus as (i, j, cov) rows — the oracle-checkable half of PCA (the
    eigendecomposition itself is driver-side numpy on this d×d matrix and
    not SQL-expressible; see pca_embeddings_project). The corpus pass is
    the scale-bearing part: one GEMM scan, one bounded hash agg.

    n < 2 rows → empty frame on BOTH sides: the engine returns no rows when
    the fit degenerates, and the oracle's HAVING COUNT(*) >= 2 suppresses
    the NULL-cov rows DuckDB's NULL-on-zero-division would otherwise emit
    (round-8 ADVICE fix; edge test in tests/test_extensions.py)."""
    fit = _pca_fit(spark, sf_dir)
    if fit is None:
        return spark.createDataFrame([], "i int, j int, cov double")
    _, _, cov, _, _ = fit
    d = cov.shape[0]
    data = [(i, j, float(cov[i, j])) for i in range(d) for j in range(d)]
    # + 0.0 collapses IEEE -0.0 (a tiny negative rounded to zero) to +0.0 —
    # the one rendering the two engines disagree on; same term in the oracle
    return spark.createDataFrame(data, "i int, j int, cov double").select(
        "i", "j", (F.round("cov", 6) + F.lit(0.0)).alias("cov")
    )


# Same estimator, same operation order per entry: (Σxixj − n·x̄ᵢx̄ⱼ)/(n−1).
PCA_COVARIANCE_SQL = """
WITH e AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE embedding IS NOT NULL
),
pairs AS (
  SELECT i, j, v[i + 1] AS xi, v[j + 1] AS xj
  FROM e, unnest(range(len(v))) AS r1(i), unnest(range(len(v))) AS r2(j)
)
SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
       ROUND((SUM(xi * xj) - COUNT(*) * AVG(xi) * AVG(xj))
             / (COUNT(*) - 1), 6) + 0.0 AS cov
FROM pairs
GROUP BY 1, 2
HAVING COUNT(*) >= 2
"""


def pca_embeddings_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project every embedding onto the top-4 principal components (centered,
    deterministic-sign loadings). Rows-only by contract: the eigensolver is
    engine-internal floating point with no ANSI-SQL twin — parity vs a
    numpy-on-collected-data oracle, orthonormality, and projected-variance ≈
    eigenvalue invariants are pinned in tests/test_extensions.py.

    Scale shape: fit is the one-GEMM-pass moment agg above; projection is a
    second stateless GEMM pass with the d×k loading matrix shipped in the
    closure — no shuffle, no per-row Python."""
    import numpy as np
    import pandas as pd

    emb = (
        load_spread(spark, "embeddings", sf_dir)
        .filter(F.col("embedding").isNotNull())  # as the fit's moments do
        .persist()
    )
    fit = _pca_fit(spark, sf_dir, emb)
    k = _PCA_COMPONENTS
    schema = "vec_id long, " + ", ".join(f"pc{c + 1} double" for c in range(k))
    if fit is None:
        emb.unpersist()
        return spark.createDataFrame([], schema)
    _, mean, _, _, evecs = fit
    w_mat = evecs[:, : min(k, evecs.shape[1])]

    def project(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            proj = (mat - mean) @ w_mat
            out = {"vec_id": pdf["vec_id"].to_numpy()}
            for c in range(k):
                out[f"pc{c + 1}"] = (
                    np.round(proj[:, c], 5)
                    if c < proj.shape[1]
                    else np.zeros(len(pdf))
                )
            yield pd.DataFrame(out)

    # NOT checkpoint_release (the r10 advice finding): the projected frame
    # is corpus-scale, so an eager localCheckpoint would run a corpus job
    # even if the caller never consumes the result, and its RDD blocks are
    # unrecoverable after executor loss. The cache existed to share emb
    # between the (already-executed) fit pass and the projection; a lazy
    # unpersist releases it now, and if the caller does consume, the
    # projection's single map pass re-reads parquet — the plan you want
    # at scale anyway.
    proj = emb.select("vec_id", "embedding").mapInPandas(project, schema=schema)
    emb.unpersist(blocking=False)
    return proj


_PURITY_K = 10  # neighbors per audited vector (excluding self)


def label_purity_ivf_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-CORPUS kNN label-noise audit via the pinned IVF index (NEW
    round 12) — the scale path ``label_knn_purity``'s docstring promises,
    realized: EVERY vector is audited against its k=10 nearest IVF
    candidates (nprobe=2 pinned-Forgy cells — the ann_ivf_index
    machinery, so seed choice, cell assignment, probe selection and
    candidate scoring are all reproducible in ANSI SQL), and the
    per-vector verdicts roll up to a per-label report: vectors audited,
    suspected mislabels (majority of IVF neighbors disagrees), suspect
    rate, and mean neighbor agreement — the label-health dashboard a
    training-data team reads before trusting a labeled corpus.

    Scale shape: probing is the inherent IVF n×k dot products (broadcast
    centroid frame, WindowGroupLimit keeps nprobe rows per vector); the
    MEMBERS side serves from the session's materialized pinned IVF index
    (r16 optimization round — the monitor face's serve path applied to
    the full audit: same seeds/assignment/tie contract, so the candidate
    set is unchanged, but the per-call n×k assignment fold and the
    count/seed jobs are replaced by one manifest scan; neighbor labels
    re-attach via an n·k-row join). Candidates join on the cell key
    (never all-pairs; candidate count per vector ≈ nprobe·n/k ≈ 2√n at
    the √n cell rule); the verdict and label rollup run on ≤ n·k then
    ≤ |labels| rows. Driver state = the ≤ k·d stored centroid matrix
    (the bounded-collect contract). Same round-5 cosine + vec_id ties
    as every knn face."""
    # min_rows: the probe side runs the vectorized fold kernel (below)
    emb = load_spread(spark, "embeddings", sf_dir, min_rows=512).filter(
        F.col("embedding").isNotNull() & F.col("vec_id").isNotNull()
    )
    out_schema = (
        "label int, n_audited bigint, n_suspect bigint, "
        "suspect_rate double, mean_agree double"
    )
    idx, members = _pinned_ivf(spark, sf_dir)
    if members is None:
        # empty/pre-build index ⟺ no indexable vectors — empty report
        return spark.createDataFrame([], out_schema)
    cent_mat = idx._load_centroids()
    d = int(cent_mat.shape[1])
    # r16: the corpus×centroid crossJoin + nprobe window this replaces paid
    # an interpreted HOF fold per (vector, cell) pair and a full-corpus
    # window shuffle; the kernel emits the identical (score DESC, cell ASC)
    # top-nprobe rows map-side with bit-equal scores (guide §4.2)
    probes = fold_assign_cells(
        emb.select("vec_id", "label", "embedding").withColumn(
            "nrm", norm("embedding")
        ),
        cent_mat,
        nprobe=_IVF_NPROBE,
    ).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_vec"),
        F.col("nrm").alias("q_nrm"),
        "cell",
    )
    # members = the stored assignment (vec_id, cell, embedding, nrm) —
    # identical rows to the inline pinned_fold_assign this replaces (the
    # index build is the same seeds + fold score + (score DESC, cell ASC)
    # rank-1; NULL-vec_id rows can never match `vec_id != q_id` on either
    # form, so the filter keeps the candidate sets equal even if the
    # corpus carried them)
    # both corpus-sized joins are pinned from the footer row count: left to
    # AQE, the runtime broadcast conversion of members raced the probe
    # side's shuffle stage, and a pass where members finished first ran two
    # fewer stages (the face's ±2 job jitter) and compiled new classes
    n = parquet_row_count("embeddings", sf_dir)
    members = _pinned_build(members, n * (4 * d + 48))
    # Negative result: at sf0.1, 4 cores, the deleted dim-unrolled cosine
    # took 5.8-7.0 warm CPU s, HOF 7.1-7.3 s; no workload runs that size.
    cands = probes.join(members, "cell").filter(
        F.col("vec_id") != F.col("q_id")
    ).select(
        "q_id",
        "q_label",
        "vec_id",
        F.round(
            dot("q_vec", "embedding")
            / (F.col("q_nrm") * F.col("nrm")),
            5,
        ).alias("cos_sim"),
    )
    wn = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    nbrs = (
        cands.withColumn("rank", F.row_number().over(wn))
        .filter(F.col("rank") <= _PURITY_K)
        .join(
            _pinned_build(
                emb.select("vec_id", F.col("label").alias("nb_label")), n * 24
            ),
            "vec_id",
        )
    )
    return _purity_label_rollup(nbrs)


def _pinned_build(df: DataFrame, max_bytes: int) -> DataFrame:
    """``df`` as a join's build side with the strategy fixed at plan time:
    broadcast when ``max_bytes`` (an upper bound from parquet footers)
    fits AQE's own broadcast threshold, sort-merge otherwise.  The plan
    then no longer depends on which shuffle stage finishes first."""
    if max_bytes <= ADAPTIVE_BROADCAST_BYTES:
        return F.broadcast(df)
    return df.hint("merge")


def _purity_label_rollup(nbrs: DataFrame) -> DataFrame:
    """Shared verdict tail of the purity audits: per-query majority vote
    over (q_id, q_label, nb_label) neighbor rows, then the per-label
    report — the full audit and the capped monitor MUST roll up
    identically or their suspect rates silently diverge.

    ``votes`` is eagerly checkpointed (r16 optimization round, guide
    §2.4): it feeds THREE differing consumer subtrees (majority pick,
    agreement filter, per-query totals) and each one replayed the entire
    upstream probe-and-score chain — the monitor's stage tally showed the
    carve window and candidate scoring running three times per call.
    The frame is narrow and bounded (≤ n_audited·min(k, |labels|) scalar
    rows), the established dedup_lsh_recall_eval discipline."""
    votes = compact_checkpoint(
        nbrs.groupBy("q_id", "q_label", "nb_label").agg(
            F.count(F.lit(1)).alias("n")
        )
    )
    wv = Window.partitionBy("q_id").orderBy(F.desc("n"), F.asc("nb_label"))
    maj = (
        votes.withColumn("r", F.row_number().over(wv))
        .filter(F.col("r") == 1)
        .select("q_id", F.col("nb_label").alias("majority_label"))
    )
    agree = votes.filter(F.col("q_label") == F.col("nb_label")).select(
        "q_id", F.col("n").alias("n_agree")
    )
    perq = (
        votes.groupBy("q_id", "q_label")
        .agg(F.sum("n").alias("k_found"))
        .join(maj, "q_id")
        .join(agree, "q_id", "left")
        .select(
            "q_id",
            F.col("q_label").alias("label"),
            F.coalesce("n_agree", F.lit(0)).alias("n_agree"),
            (F.col("q_label") != F.col("majority_label")).cast("long").alias(
                "suspect"
            ),
        )
    )
    return (
        perq.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_audited"),
            F.sum("suspect").cast("long").alias("n_suspect"),
            F.round(F.avg(F.col("suspect").cast("double")), 6).alias(
                "suspect_rate"
            ),
            F.round(F.avg(F.col("n_agree").cast("double")), 6).alias(
                "mean_agree"
            ),
        )
        .orderBy("label")
    )


_PURITY_MONITOR_CAP = 20  # audited vectors per label in monitor mode


def label_purity_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped monitor face of :func:`label_purity_ivf_audit` (NEW round
    13 — the r12 verdict's row-cap order): audit only the first
    ``_PURITY_MONITOR_CAP`` vectors per label (deterministic
    md5(vec_id)-ranked carve, the `_query_pred` discipline) against the
    session's MATERIALIZED pinned IVF index instead of re-deriving the
    assignment inline.  The full audit is an O(n^1.5) batch job by
    contract; this face is what a scheduler may run as a recurring
    monitor — query cost is |labels|·cap·nprobe·n/k ≈ O(√n), the sampled
    sibling's class, and the index build amortizes across the session
    (and is incrementally maintainable at ingest).

    Exactness contract: identical seeds/assignment/probe/tie rules as
    the full audit (the ann_ivf_index machinery), so the SQL twin is the
    full audit's oracle with one QUALIFY cap on the query side.  Assumes
    vec_id is non-null (it is the index key)."""
    emb = load_spread(spark, "embeddings", sf_dir).filter(
        F.col("embedding").isNotNull() & F.col("vec_id").isNotNull()
    )
    wq = Window.partitionBy("label").orderBy(
        F.md5(F.col("vec_id").cast("string").cast("binary")), "vec_id"
    )
    queries = (
        emb.withColumn("qrn", F.row_number().over(wq))
        .filter(F.col("qrn") <= _PURITY_MONITOR_CAP)
        .select("vec_id", "label", "embedding")
    )
    idx = _pinned_ivf_index(spark, sf_dir)
    nbrs = idx.query(queries.select("vec_id", "embedding"), k=_PURITY_K)
    joined = nbrs.join(
        emb.select("vec_id", F.col("label").alias("nb_label")), "vec_id"
    ).join(
        F.broadcast(
            queries.select(
                F.col("vec_id").alias("q_id"), F.col("label").alias("q_label")
            )
        ),
        "q_id",
    )
    return _purity_label_rollup(joined)


def _label_purity_sql(cap: int | None = None) -> str:
    """SQL twin of the purity audits; ``cap`` adds the monitor face's
    per-label QUALIFY carve on the query side (members stay full)."""
    qv = (
        ""
        if cap is None
        else f""",
qv AS (
  SELECT vec_id, label, v FROM ev
  QUALIFY ROW_NUMBER() OVER (PARTITION BY label
    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= {cap}
)"""
    )
    qsrc = "ev" if cap is None else "qv"
    return f"""
WITH p(np) AS (SELECT {_IVF_NPROBE}),
ev AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE embedding IS NOT NULL AND vec_id IS NOT NULL
),
kk AS (
  -- k from the same NULL-filtered row set the Spark face counts
  -- (r12 ADVICE: an unfiltered count diverges on corpora with NULLs)
  SELECT GREATEST(4, LEAST({_IVF_MAX_CELLS},
         CAST(FLOOR(SQRT(COUNT(*))) AS INT))) AS k
  FROM ev
),
seeds AS (
  SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
           - 1 AS cell,
         v AS c
  FROM ev
  QUALIFY ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
            <= (SELECT k FROM kk)
),
cn AS (SELECT cell, c, list_inner_product(c, c) / 2.0 AS chalf FROM seeds){qv},
assign AS (
  SELECT vec_id, label, v, cell FROM (
    SELECT ev.vec_id, ev.label, ev.v, cn.cell,
           ROW_NUMBER() OVER (PARTITION BY ev.vec_id
             ORDER BY (list_inner_product(ev.v, cn.c) - cn.chalf) DESC,
                      cn.cell ASC) AS rn
    FROM ev, cn
  ) WHERE rn = 1
),
probes AS (
  SELECT q_id, q_label, q_vec, cell FROM (
    SELECT q.vec_id AS q_id, q.label AS q_label, q.v AS q_vec, cn.cell,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY (list_inner_product(q.v, cn.c) - cn.chalf) DESC,
                      cn.cell ASC) AS rn
    FROM {qsrc} q, cn
  ) WHERE rn <= (SELECT np FROM p)
),
nbrs AS (
  SELECT * FROM (
    SELECT q_id, q_label, vec_id, nb_label, cos_sim,
           ROW_NUMBER() OVER (PARTITION BY q_id
                              ORDER BY cos_sim DESC, vec_id ASC) AS rank
    FROM (
      SELECT pr.q_id, pr.q_label, a.vec_id, a.label AS nb_label,
             ROUND(list_cosine_similarity(pr.q_vec, a.v), 5) AS cos_sim
      FROM probes pr JOIN assign a
        ON a.cell = pr.cell AND a.vec_id != pr.q_id
    )
  ) WHERE rank <= {_PURITY_K}
),
votes AS (
  SELECT q_id, q_label, nb_label, COUNT(*) AS n
  FROM nbrs GROUP BY 1, 2, 3
),
maj AS (
  SELECT q_id, nb_label AS majority_label FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                 ORDER BY n DESC, nb_label ASC) AS r
    FROM votes
  ) WHERE r = 1
),
agree AS (SELECT q_id, n AS n_agree FROM votes WHERE q_label = nb_label),
perq AS (
  SELECT b.q_id, b.q_label AS label,
         COALESCE(a.n_agree, 0) AS n_agree,
         CASE WHEN b.q_label != m.majority_label THEN 1 ELSE 0 END AS suspect
  FROM (SELECT q_id, q_label FROM votes GROUP BY 1, 2) b
  JOIN maj m USING (q_id)
  LEFT JOIN agree a USING (q_id)
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_audited,
       CAST(SUM(suspect) AS BIGINT) AS n_suspect,
       ROUND(AVG(CAST(suspect AS DOUBLE)), 6) AS suspect_rate,
       ROUND(AVG(CAST(n_agree AS DOUBLE)), 6) AS mean_agree
FROM perq
GROUP BY label
ORDER BY label
"""


LABEL_PURITY_IVF_SQL = _label_purity_sql()
LABEL_PURITY_MONITOR_SQL = _label_purity_sql(_PURITY_MONITOR_CAP)


def label_knn_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label-agreement audit (NEW round 12) — sampled label-noise
    detection (the Confident-Learning / deep-kNN heuristic: a vector
    whose nearest neighbors overwhelmingly carry a DIFFERENT label is a
    suspected mislabel or an embedding-space outlier). For each audited
    vector: its own label, how many of its k=10 exact-cosine neighbors
    share it, the neighbors' majority label (ties: larger count, then
    smaller label), and the suspect flag (own ≠ majority).

    Audit set = the shared ``_query_pred`` carve (≤ _Q_CAP vectors at any
    corpus size) — a label-noise audit is a sampled estimate by nature,
    and the cap is what keeps the pair work O(corpus) (queries broadcast,
    corpus streams once; the knn_bruteforce shape). Full-corpus variant
    composes the same vote aggregation over the IVF cell-keyed candidate
    join instead. Neighbor selection reuses the exact-baseline fold:
    round-5 cosine, vec_id tie-break — the oracle replays it verbatim;
    the votes/majority stage runs on the ≤ _Q_CAP·k row frame."""
    emb = load_spread(spark, "embeddings", sf_dir).withColumn(
        "nrm", norm("embedding")
    )
    queries = (
        load(spark, "embeddings", sf_dir)
        .withColumn("nrm", norm("embedding"))
        .filter(_query_pred(25))
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("label").alias("q_label"),
            F.col("embedding").alias("q_vec"),
            F.col("nrm").alias("q_nrm"),
        )
    )
    scored = emb.join(
        F.broadcast(queries), F.col("vec_id") != F.col("q_id")
    ).select(
        "q_id",
        "q_label",
        "vec_id",
        F.col("label").alias("nb_label"),
        F.round(
            dot("q_vec", "embedding")
            / (F.col("q_nrm") * F.col("nrm")),
            5,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    nbrs = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _PURITY_K)
    )
    # NOTE (r16, measured): unlike _purity_label_rollup, this inline tail
    # keeps the LAZY votes frame — A/B'd an eager checkpoint here and the
    # warm wall did not move (1.35 s vs 1.43-1.47 s, within ambient): the
    # three consumers are identical subtrees AQE exchange reuse already
    # dedupes, so the extra count + materialization jobs buy nothing.
    votes = nbrs.groupBy("q_id", "q_label", "nb_label").agg(
        F.count(F.lit(1)).alias("n")
    )
    wv = Window.partitionBy("q_id").orderBy(F.desc("n"), F.asc("nb_label"))
    maj = (
        votes.withColumn("r", F.row_number().over(wv))
        .filter(F.col("r") == 1)
        .select(
            "q_id",
            F.col("nb_label").alias("majority_label"),
            F.col("n").alias("majority_n"),
        )
    )
    agree = votes.filter(F.col("q_label") == F.col("nb_label")).select(
        "q_id", F.col("n").alias("n_agree")
    )
    base = votes.groupBy("q_id", "q_label").agg(F.sum("n").alias("k_found"))
    return (
        base.join(maj, "q_id")
        .join(agree, "q_id", "left")
        .select(
            "q_id",
            F.col("q_label").alias("label"),
            F.col("k_found").cast("long").alias("k_found"),
            F.coalesce("n_agree", F.lit(0)).cast("long").alias("n_agree"),
            "majority_label",
            F.col("majority_n").cast("long").alias("majority_n"),
            (F.col("q_label") != F.col("majority_label")).alias("suspect"),
        )
        .orderBy("q_id")
    )


LABEL_KNN_PURITY_SQL = f"""
WITH q AS (
  SELECT vec_id, label, embedding FROM embeddings
  WHERE vec_id % 25 = 0 AND vec_id < {25 * _Q_CAP}
),
scored AS (
  SELECT q.vec_id AS q_id, q.label AS q_label,
         e.vec_id AS vec_id, e.label AS nb_label,
         ROUND(list_cosine_similarity(
             list_transform(q.embedding, x -> CAST(x AS DOUBLE)),
             list_transform(e.embedding, x -> CAST(x AS DOUBLE))), 5)
           AS cos_sim
  FROM q JOIN embeddings e ON e.vec_id != q.vec_id
),
nbrs AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                 ORDER BY cos_sim DESC, vec_id ASC) AS rank
    FROM scored
  ) WHERE rank <= {_PURITY_K}
),
votes AS (
  SELECT q_id, q_label, nb_label, COUNT(*) AS n
  FROM nbrs GROUP BY 1, 2, 3
),
maj AS (
  SELECT q_id, nb_label AS majority_label, n AS majority_n FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                 ORDER BY n DESC, nb_label ASC) AS r
    FROM votes
  ) WHERE r = 1
),
agree AS (SELECT q_id, n AS n_agree FROM votes WHERE q_label = nb_label),
base AS (
  SELECT q_id, q_label, CAST(SUM(n) AS BIGINT) AS k_found
  FROM votes GROUP BY 1, 2
)
SELECT b.q_id, b.q_label AS label, b.k_found,
       CAST(COALESCE(a.n_agree, 0) AS BIGINT) AS n_agree,
       m.majority_label, CAST(m.majority_n AS BIGINT) AS majority_n,
       b.q_label != m.majority_label AS suspect
FROM base b
JOIN maj m USING (q_id)
LEFT JOIN agree a USING (q_id)
ORDER BY b.q_id
"""


QUERIES = {
    "knn_bruteforce": knn_bruteforce,
    "mine_triplets": mine_triplets,
    "pca_covariance": pca_covariance,
    "pca_embeddings_project": pca_embeddings_project,
    "ann_pq": ann_pq,
    "knn_dot_topk": knn_dot_topk,
    "knn_bruteforce_vectorized": knn_bruteforce_vectorized,
    "ann_lsh_hyperplane": ann_lsh_hyperplane,
    "ann_ivf": ann_ivf,
    "ann_ivfpq": ann_ivfpq,
    "ann_ivf_index": ann_ivf_index,
    "ann_recall_eval": ann_recall_eval,
    "quantization_recall_eval": quantization_recall_eval,
    "embedding_drift_audit": embedding_drift_audit,
    "matryoshka_recall_eval": matryoshka_recall_eval,
    "kmeans_cluster_profile": kmeans_cluster_profile,
    "quantize_embeddings_int8": quantize_embeddings_int8,
    "knn_hamming": knn_hamming,
    "ann_hamming_rerank": ann_hamming_rerank,
    "embedding_norm_audit": embedding_norm_audit,
    "label_knn_purity": label_knn_purity,
    "label_purity_ivf_audit": label_purity_ivf_audit,
    "label_purity_monitor": label_purity_monitor,
}

ORACLES = {
    "knn_bruteforce": KNN_BRUTEFORCE_SQL,
    "mine_triplets": MINE_TRIPLETS_SQL,
    # round 7: the vectorized path emits tie-consistent 5-decimal scores, so
    # the exact-baseline oracle applies to it verbatim
    "knn_bruteforce_vectorized": KNN_BRUTEFORCE_SQL,
    "knn_dot_topk": KNN_DOT_SQL,
    "quantize_embeddings_int8": QUANTIZE_INT8_SQL,
    # round 15: 1-bit sign codes — Hamming scan + the two-stage re-rank funnel
    "knn_hamming": KNN_HAMMING_SQL,
    "ann_hamming_rerank": ANN_HAMMING_RERANK_SQL,
    # round 11: embedding-hygiene audit (shared fold-norm ≡ list_inner_product)
    "embedding_norm_audit": EMBEDDING_NORM_AUDIT_SQL,
    # round 12: sampled kNN label-noise audit (exact-baseline fold replayed)
    "label_knn_purity": LABEL_KNN_PURITY_SQL,
    # round 12: full-corpus IVF-candidate purity rollup (pinned quantizer)
    "label_purity_ivf_audit": LABEL_PURITY_IVF_SQL,
    # round 13: capped monitor face served from the materialized index
    "label_purity_monitor": LABEL_PURITY_MONITOR_SQL,
    # round 6: ann_lsh_hyperplane upgraded from rows-only to value-exact
    # (md5-derived hyperplane weights reproducible in DuckDB)
    "ann_lsh_hyperplane": ANN_LSH_SQL,
    "pca_covariance": PCA_COVARIANCE_SQL,
    # pca_embeddings_project intentionally rows-only: the d×d
    # eigendecomposition is driver-side numpy (no ANSI-SQL eigensolver);
    # its distributed input is exactly the oracle-checked pca_covariance,
    # and numpy-parity/orthonormality tests pin the rest
    # ann_ivf / ann_pq / ann_ivfpq are rows-only: every seed and pick is
    # the SQL-reproducible md5-Forgy / fold rule, but no SQL twin exists
    # yet for the √N-cell Lloyd round (KMEANS_PROFILE_SQL unrolls k=16) or
    # the PQ codebook round, codes and ADC sums; all three are
    # recall-tested vs the exact baseline in tests/test_extensions.py
    # round 8: ann_ivf_index upgraded rows-only → value-exact via the
    # iters=0 (raw md5-Forgy seed) build and fold-exact cell picks
    "ann_ivf_index": ANN_IVF_INDEX_SQL,
    "ann_recall_eval": ANN_RECALL_SQL,
    "quantization_recall_eval": QUANTIZATION_RECALL_SQL,
    "embedding_drift_audit": EMBEDDING_DRIFT_SQL,
    "matryoshka_recall_eval": MATRYOSHKA_RECALL_SQL,
    # round 9: kmeans_cluster_profile upgraded rows-only → value-exact —
    # md5-Forgy pinned seeds + fold-exact assignment + ROUND(6) means make
    # the whole Lloyd loop SQL-reproducible (the ann_ivf_index precedent
    # extended to the refinement rounds)
    "kmeans_cluster_profile": KMEANS_PROFILE_SQL,
}
