"""Deduplication operators (SURVEY.md §2.8 L1/L2; north-star extension).

Five dedup strategies over ``documents``, each designed scale-first:

- exact / fingerprint: one hash-groupBy shuffle — the 100 TB workhorse.
- MinHash+LSH: shingle → K permuted min-hashes → band buckets → candidate
  join. Cost is O(docs × shingles) + a join keyed on (band, signature) —
  never all-pairs. Seeds fixed for determinism.
- SimHash: 16-bit md5-based token simhash — bit-level majority vote done as
  16 column expressions in ONE aggregation pass (no explode×bits).
- n-gram Jaccard: exact set Jaccard, but only over candidate pairs that
  share ≥1 shingle (inverted-index join), never the full cross product.
- embedding cosine: same-label blocking (the IVF-style coarse partition) +
  higher-order-function cosine; all-pairs only within a block.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import md5_bucket16, normalize, shingles, tokens
from ..functions.vector import dot, norm
from ..io import load, load_spread, memo, scratch_memo

# MinHash parameters: 32 permutations in 8 bands of 4 rows; fixed seeds.
_MH_PERMS = 32
_MH_BANDS = 8
_MH_ROWS = _MH_PERMS // _MH_BANDS
# Universal-hash family (a*x + b) mod p over 31-bit shingle hashes. p must be
# small enough that the product actually wraps (p=2^61-1 with 31-bit x never
# wraps — every "permutation" would be a monotone transform of x and all 32
# mins would collapse onto the same argmin shingle, degenerating the whole
# signature). 31-bit Mersenne prime + 31-bit coefficients keep a*x+b < 2^63
# (no ANSI overflow) while mixing properly.
_MH_P = (1 << 31) - 1
_MH_AB = [
    (
        random.Random(f"42-{i}-a").randrange(1, _MH_P),
        random.Random(f"42-{i}-b").randrange(0, _MH_P),
    )
    for i in range(_MH_PERMS)
]


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1: exact dedup by content hash — groups + deterministic survivor."""
    docs = load(spark, "documents", sf_dir)
    return (
        docs.withColumn("content_hash", F.md5("text"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("survivor_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


DEDUP_EXACT_SQL = """
SELECT md5(text) AS content_hash,
       MIN(doc_id) AS survivor_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY 1
"""


def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1 variant: normalized fingerprint (lowercase, strip punctuation,
    collapse whitespace, sort distinct tokens) — catches reordered copies."""
    docs = load(spark, "documents", sf_dir)
    fp = F.md5(
        F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(normalize("text")))))
    )
    return (
        docs.withColumn("fingerprint", fp)
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("survivor_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


DEDUP_FINGERPRINT_SQL = """
SELECT md5(array_to_string(list_sort(list_distinct(
           string_split_regex(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g')), '\\s+'))), ' ')) AS fingerprint,
       MIN(doc_id) AS survivor_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY 1
"""


def minhash_sig_bands(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-row MinHash signature + LSH band signatures from a text column —
    the shared core of batch `dedup_minhash_lsh` and the streaming
    near-dup-at-ingest path. Map-side only, NO shuffle — the caller
    decides what to group or join on. Every hash is md5-derived
    (cross-engine stable), so the full pipeline is reproducible by the
    DuckDB oracle. Appends ``band0..band{B-1}`` (md5 hex string) and
    ``sig`` (array<long>, 32); rows with NULL/whitespace-only text are
    dropped (no signature exists — without the guard, a null token array
    degenerates into one "" shingle via concat_ws and every empty doc
    would near-match every other).

    r16 optimization round (guide §4.2): the signature now computes in
    ONE vectorized Arrow pass.  The former column-expression form
    evaluated ~|shingles|·(1 + _MH_PERMS) interpreted higher-order
    lambdas per document (transform/array_min run outside whole-stage
    codegen) — ~16 s of summed task time per corpus pass at sf0.1, the
    dominant cost of every LSH face.  The kernel is INTEGER/STRING exact
    by construction, not merely ulp-close: tokens replicate
    split(lower(trim(s)), '\\s+') with Java semantics (trim strips
    0x20 only; ASCII \\s; split keeps leading/trailing empties), hashes
    are the same md5-hex-prefix integers, the permuted mins are int64
    (a·h + b < 2⁶³, no wrap), and band signatures hash the same
    comma-joined decimal strings.  Parity with the expression form is
    pinned over the full sf0.1 corpus in tests; the one accepted
    divergence class is exotic-unicode lowercasing (Python str.lower vs
    UTF8String.toLowerCase), the same class the DuckDB oracle already
    carries vs the JVM."""
    import numpy as np

    from pyspark.sql import types as T

    A = np.array([a for a, _ in _MH_AB], dtype=np.int64)[:, None]
    B = np.array([b for _, b in _MH_AB], dtype=np.int64)[:, None]
    t_idx = df.columns.index(text_col)
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(f"band{b}", T.StringType()) for b in range(_MH_BANDS)]
        + [T.StructField("sig", T.ArrayType(T.LongType()))]
    )

    def sig_fn(batches):
        import hashlib
        import re

        import pyarrow as pa

        ws = re.compile(r"\s+", re.ASCII)
        for bt in batches:
            texts = bt.column(t_idx).to_pylist()
            keep, band_cols, sigs = [], [[] for _ in range(_MH_BANDS)], []
            for i, t in enumerate(texts):
                if t is None or t.strip(" ") == "":
                    continue
                toks = ws.split(t.strip(" ").lower())
                shs = {
                    " ".join(toks[j : j + 3])
                    for j in range(max(len(toks) - 3, 0) + 1)
                }
                if not shs:
                    continue
                hs = np.array(
                    [
                        int(hashlib.md5(x.encode("utf-8")).hexdigest()[:8], 16)
                        % (1 << 31)
                        for x in shs
                    ],
                    dtype=np.int64,
                )
                mins = ((A * hs[None, :] + B) % _MH_P).min(axis=1)
                keep.append(i)
                sigs.append([int(m) for m in mins])
                for b in range(_MH_BANDS):
                    band_cols[b].append(
                        hashlib.md5(
                            ",".join(
                                str(int(m))
                                for m in mins[b * _MH_ROWS : (b + 1) * _MH_ROWS]
                            ).encode("utf-8")
                        ).hexdigest()
                    )
            if not keep:
                continue
            taken = bt.take(pa.array(keep, type=pa.int64()))
            yield pa.record_batch(
                list(taken.columns)
                + [pa.array(band_cols[b], type=pa.string()) for b in range(_MH_BANDS)]
                + [pa.array(sigs, type=pa.list_(pa.int64()))],
                schema=pa.schema(
                    list(taken.schema)
                    + [pa.field(f"band{b}", pa.string()) for b in range(_MH_BANDS)]
                    + [pa.field("sig", pa.list_(pa.int64()))]
                ),
            )

    return df.mapInArrow(sig_fn, out_schema)


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Hash-spread on doc_id BEFORE the expensive shingle/token work (single
    # input split would serialize it); keyed on doc_id so any downstream
    # per-document grouping (e.g. simhash) reuses the exchange.
    docs = load_spread(spark, "documents", sf_dir, key="doc_id")
    return docs.select(
        "doc_id",
        F.array_distinct(shingles(tokens("text"), 3)).alias("sh"),
    )


def doc_shingle_rows(docs: DataFrame) -> DataFrame:
    """Exploded DISTINCT (doc_id, shingle) posting rows over a documents
    frame — THE shingle definition (identical to `_doc_shingles`), shared
    by the decontamination faces and the incremental shingle-index ingest
    so batch and maintained-index paths cannot disagree about a posting.
    NULL-text docs contribute no rows (explode of NULL drops). Streamed by
    ``start_cells_ingest``: each doc arrives once, so postings union."""
    return docs.select(
        "doc_id",
        F.explode(F.array_distinct(shingles(tokens("text"), 3))).alias(
            "shingle"
        ),
    )


def materialized_minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, band0..band{B-1}, sig) MinHash signature table of the
    documents corpus, written once per corpus version to scratch parquet
    and memoized (the ``textops.materialized_bm25_index`` pattern): the
    Arrow signature kernel is the dominant cost of every LSH face, and its
    output depends only on the corpus.  The memo holds the read-back frame
    itself, with the written schema, so a warm call lists no files and
    runs no schema-inference job.  The corpus is hash-spread on
    doc_id before the per-doc signature work (see ``_doc_shingles``)."""
    import os

    def build(scratch):
        path = os.path.join(scratch, "sigs")
        docs = load_spread(spark, "documents", sf_dir, key="doc_id")
        sigs = minhash_sig_bands(docs.select("doc_id", "text")).drop("text")
        sigs.write.mode("overwrite").parquet(path)
        return spark.read.schema(sigs.schema).parquet(path)

    return scratch_memo(spark, sf_dir, "documents", "minhash_sigs", build)


def minhash_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full MinHash+LSH candidate-pair set (doc_a, doc_b, n_agree) —
    the shared core of the top-20 face (``dedup_minhash_lsh``) and the
    recall eval (``dedup_lsh_recall_eval``). Every hash in the
    pipeline is md5-derived with pinned permutation seeds (`_MH_AB`), so
    the DuckDB oracle (`DEDUP_MINHASH_SQL`) reproduces the ENTIRE pipeline
    — shingling, 32 permuted mins, band signatures, the 200-member bucket
    cap, pair generation and the top-20 — value-exact.

    Pipeline: the per-document signature table
    (:func:`materialized_minhash_sigs` — shingle → md5 → 32 permuted mins
    → 8 band signatures, one Arrow pass per corpus version) → explode
    bands → groupBy (band, signature) collecting bucket members →
    in-bucket pair generation with higher-order functions → distinct
    candidate pairs → estimated Jaccard from signature agreement → top-20.

    Scale notes: the signature is a pure per-document computation, so it is
    computed map-side instead of explode + groupBy(doc_id) — that variant
    shuffles every shingle hash (corpus-sized IO); this one shuffles only
    8 (band, sig) rows per document into the bucket groupBy.
    A self-join on (band, signature) would recompute the whole
    shingle/minhash subplan for both sides and shuffle the corpus twice; the
    bucket-groupBy form shuffles once and generates pairs locally. Buckets are
    capped at 200 members (sorted, deterministic) — an LSH bucket that large
    means a degenerate band signature, and capping bounds the worst-case pair
    blowup to 200² per bucket regardless of corpus size.
    """
    # the signatures come from the session's memoized table, built by the
    # shared map-side-only kernel — 31-bit shingle hashes so (a*h + b)
    # stays within long under ANSI mode, fixed a_i/b_i seeds
    bands = materialized_minhash_sigs(spark, sf_dir)
    exploded = bands.select(
        "doc_id",
        "sig",
        F.posexplode(F.array(*[F.col(f"band{b}") for b in range(_MH_BANDS)])).alias(
            "band_idx", "band_sig"
        ),
    )
    buckets = (
        exploded.groupBy("band_idx", "band_sig")
        .agg(
            F.slice(
                F.array_sort(F.collect_list(F.struct("doc_id", "sig"))), 1, 200
            ).alias("members")
        )
        .filter(F.size("members") > 1)
    )
    # i<j pairs directly (members sorted by doc_id → slice past i is always
    # the greater side): half the candidates of the generate-all-then-filter
    # form, and each emitted pair is 3 scalars — the signature-agreement
    # count is folded inside the lambda instead of carrying two 32-long sig
    # arrays per pair through the explode.
    mem = F.col("members")
    pair_structs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size(mem) - 1),
            lambda i: F.transform(
                F.slice(mem, i + 1, F.size(mem)),
                lambda y: F.struct(
                    F.element_at(mem, i)["doc_id"].alias("doc_a"),
                    y["doc_id"].alias("doc_b"),
                    F.aggregate(
                        F.zip_with(
                            F.element_at(mem, i)["sig"],
                            y["sig"],
                            lambda x, z: F.when(x == z, 1).otherwise(0),
                        ),
                        F.lit(0),
                        lambda acc, x: acc + x,
                    ).alias("n_agree"),
                ),
            ),
        )
    )
    pairs = (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select("p.*")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return pairs


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2: MinHash + LSH banding near-dup candidates — the top-20 face over
    :func:`minhash_candidate_pairs` (docstring there has the pipeline and
    scale rationale)."""
    pairs = minhash_candidate_pairs(spark, sf_dir)
    return (
        pairs.select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_agree") / F.lit(float(_MH_PERMS)), 6
            ).alias("est_jaccard"),
        )
        .orderBy(F.desc("est_jaccard"), "doc_a", "doc_b")
        .limit(20)
    )


# Full MinHash+LSH twin: same pinned md5 shingle hash, the same _MH_AB
# permutation coefficients embedded as literals, md5 band signatures, the
# same sorted 200-member bucket cap (row_number() <= 200 over doc_id order
# == array_sort + slice on the engine side), i<j pair generation and
# signature-agreement Jaccard estimate.
DEDUP_MINHASH_SQL = """
WITH d AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
  FROM documents WHERE coalesce(trim(text), '') <> ''
), sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(t[i:i+2], ' ')
                        FOR i IN range(1, greatest(len(t) - 2, 1) + 1)]) AS s
  FROM d
), hs AS (
  SELECT doc_id,
         list_transform(s, x ->
             CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT) % 2147483648) AS hs
  FROM sh WHERE len(s) > 0
), sig AS (
  SELECT doc_id, [{min_exprs}] AS sig
  FROM hs
), bands AS (
  SELECT doc_id, sig, b.band_idx,
         md5(concat_ws(',', sig[b.band_idx * {rows} + 1]{band_tail})) AS band_sig
  FROM sig CROSS JOIN (SELECT unnest(range({nbands})) AS band_idx) b
), ranked AS (
  SELECT band_idx, band_sig, doc_id, sig,
         row_number() OVER (PARTITION BY band_idx, band_sig
                            ORDER BY doc_id) AS rn
  FROM bands
), capped AS (
  SELECT * FROM ranked WHERE rn <= 200
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         list_sum(list_transform(range(1, {nperms} + 1),
             i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END)) AS n_agree
  FROM capped a
  JOIN capped b
    ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
   AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       ROUND(n_agree / CAST({nperms} AS DOUBLE), 6) AS est_jaccard
FROM pairs
ORDER BY est_jaccard DESC, doc_a, doc_b
LIMIT 20
"""

# Shared format args for every SQL template that replays the pinned MinHash
# pipeline (the top-20 face above and the recall eval below).
_MH_SQL_FMT = dict(
    min_exprs=",\n          ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {_MH_P}))"
        for a, b in _MH_AB
    ),
    band_tail="".join(
        f", sig[b.band_idx * {_MH_ROWS} + {r + 1}]" for r in range(1, _MH_ROWS)
    ),
    rows=_MH_ROWS,
    nbands=_MH_BANDS,
    nperms=_MH_PERMS,
)
DEDUP_MINHASH_SQL = DEDUP_MINHASH_SQL.format(**_MH_SQL_FMT)


def dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH parameter-quality eval (NEW round 11): how much of the TRUE
    near-dup pair set (exact 3-gram Jaccard ≥ 0.5 — the same edge set the
    clustering builds on) does the MinHash+LSH candidate stage recover,
    and at what candidate-volume price — one row of
    (n_truth, n_candidates, n_hit, recall, precision). The dedup twin of
    ``ann_recall_eval``: it closes the eval-face set (ANN recall,
    Matryoshka truncation, classifier confusion, lang-ID confusion,
    retrieval NDCG — and now the banding scheme itself), answering "are
    32 permutations × 8 bands right for THIS corpus" with a measurement
    instead of folklore.

    Composes the SHARED definitions verbatim — truth from
    ``_jaccard_pairs`` at ``_CC_THRESHOLD``, candidates from
    ``minhash_candidate_pairs`` — so the eval cannot drift from the
    operators it scores. Scale shape: both sides end in (a, b) pair
    frames bounded by the candidate caps (inverted-index df cap ≤ 100,
    LSH bucket cap 200); the hit count is one join on the pair key and
    the report is three 1-row aggregates broadcast together."""
    # the truth set IS the clustering's memoized edge list (one derivation
    # per session; see _cc_edges)
    truth = _cc_edges(spark, sf_dir)
    # r15 optimization round (guide §1/§2): the candidate frame is consumed
    # THREE times below (hit join + its own count + the hit count), and
    # each consumption re-ran the whole MinHash pipeline — three corpus
    # scans + three bucket shuffles per call.  One eager localCheckpoint of
    # the (candidate-cap-bounded) pair frame runs the pipeline once; the
    # ContextCleaner frees the blocks when the result is collected.
    cand = (
        minhash_candidate_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    hit = truth.join(cand, ["doc_a", "doc_b"])
    report = (
        truth.agg(F.count(F.lit(1)).alias("n_truth"))
        .crossJoin(
            F.broadcast(cand.agg(F.count(F.lit(1)).alias("n_candidates")))
        )
        .crossJoin(F.broadcast(hit.agg(F.count(F.lit(1)).alias("n_hit"))))
    )
    frac = lambda num, den: F.when(  # noqa: E731 — local readability
        F.col(den) > 0,
        F.round(F.col(num).cast("double") / F.col(den), 6),
    )
    return report.select(
        F.col("n_truth").cast("long").alias("n_truth"),
        F.col("n_candidates").cast("long").alias("n_candidates"),
        F.col("n_hit").cast("long").alias("n_hit"),
        frac("n_hit", "n_truth").alias("recall"),
        frac("n_hit", "n_candidates").alias("precision"),
    )


# The truth chain is the _CC_ORACLE_CTES jaccard prefix verbatim; the
# candidate chain is DEDUP_MINHASH_SQL's pipeline with ld/lsig/lband names
# (a bare `sh` would collide with the truth chain's CTE).
DEDUP_LSH_RECALL_SQL = """
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(t[i:i+2], ' ')
                        FOR i IN range(1, greatest(len(t) - 2, 1) + 1)]) AS s
  FROM toks
), inv AS (
  SELECT doc_id, unnest(s) AS shingle FROM sh
), kinv AS (
  SELECT doc_id, shingle FROM inv
  QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 100
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM kinv GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM kinv a JOIN kinv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), jac AS (
  SELECT doc_a, doc_b,
         n_inter / (sa.n_sh + sb.n_sh - n_inter) AS jac
  FROM inter
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
), truth AS (
  SELECT doc_a, doc_b FROM jac WHERE jac >= 0.5
), ld AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
  FROM documents WHERE coalesce(trim(text), '') <> ''
), lsh AS (
  SELECT doc_id,
         list_distinct([array_to_string(t[i:i+2], ' ')
                        FOR i IN range(1, greatest(len(t) - 2, 1) + 1)]) AS s
  FROM ld
), hs AS (
  SELECT doc_id,
         list_transform(s, x ->
             CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT) % 2147483648) AS hs
  FROM lsh WHERE len(s) > 0
), lsig AS (
  SELECT doc_id, [{min_exprs}] AS sig
  FROM hs
), lbands AS (
  SELECT doc_id, sig, b.band_idx,
         md5(concat_ws(',', sig[b.band_idx * {rows} + 1]{band_tail})) AS band_sig
  FROM lsig CROSS JOIN (SELECT unnest(range({nbands})) AS band_idx) b
), lranked AS (
  SELECT band_idx, band_sig, doc_id,
         row_number() OVER (PARTITION BY band_idx, band_sig
                            ORDER BY doc_id) AS rn
  FROM lbands
), lcapped AS (
  SELECT * FROM lranked WHERE rn <= 200
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM lcapped a
  JOIN lcapped b
    ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
   AND a.doc_id < b.doc_id
), hit AS (
  SELECT COUNT(*) AS c FROM truth JOIN cand USING (doc_a, doc_b)
)
SELECT CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
       CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidates,
       CAST((SELECT c FROM hit) AS BIGINT) AS n_hit,
       CASE WHEN (SELECT COUNT(*) FROM truth) > 0
            THEN ROUND(CAST((SELECT c FROM hit) AS DOUBLE)
                       / (SELECT COUNT(*) FROM truth), 6) END AS recall,
       CASE WHEN (SELECT COUNT(*) FROM cand) > 0
            THEN ROUND(CAST((SELECT c FROM hit) AS DOUBLE)
                       / (SELECT COUNT(*) FROM cand), 6) END AS precision
""".format(**_MH_SQL_FMT)


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 variant: 16-bit SimHash per document, md5-based so the oracle can
    reproduce it. Majority vote per bit via 16 conditional sums in one
    aggregation (single shuffle on doc_id)."""
    docs = load_spread(spark, "documents", sf_dir, key="doc_id")
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("tok")
    ).withColumn("h", md5_bucket16(F.col("tok")))
    bit_votes = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", i).bitwiseAND(1) == 1, 1).otherwise(-1)
            ).alias(f"bit{i}")
            for i in range(16)
        ]
    )
    simhash = bit_votes.select(
        "doc_id",
        sum(
            [
                F.when(F.col(f"bit{i}") > 0, F.lit(1 << i)).otherwise(0)
                for i in range(16)
            ],
            F.lit(0),
        ).cast("int").alias("simhash16"),
    )
    return simhash


DEDUP_SIMHASH_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))) AS tok
  FROM documents
), hashed AS (
  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 4)) AS INT) AS h FROM tok
), votes AS (
  SELECT doc_id,
         {bit_exprs}
  FROM hashed GROUP BY doc_id
)
SELECT doc_id, CAST({recombine} AS INT) AS simhash16 FROM votes
""".format(
    bit_exprs=",\n         ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS bit{i}"
        for i in range(16)
    ),
    recombine=" + ".join(
        f"(CASE WHEN bit{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(16)
    ),
)


# Stop-shingle document-frequency cap. A shingle shared by m documents emits
# O(m²) candidate pairs from one posting list onto ONE reducer — at 100 TB a
# boilerplate 3-gram ("terms of service …") has m in the millions and the job
# never finishes. Shingles with df > cap carry ~no similarity signal (they
# are corpus-wide boilerplate), so Jaccard is defined over the informative
# (df ≤ cap) shingle space on BOTH the engine and the oracle side: exact
# agreement is preserved while worst-case pair volume per shingle is bounded
# by cap²/2 regardless of corpus size.
_JACCARD_DF_CAP = 100


def _jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard over the informative-shingle space for every
    candidate pair sharing ≥1 retained shingle (inverted-index join — never
    all-pairs; stop-shingles with document frequency > _JACCARD_DF_CAP are
    dropped before pair generation, bounding per-posting-list pair blowup).
    Columns: doc_a, doc_b, jac (unrounded double). Shared subplan of
    dedup_ngram_jaccard and dedup_clusters."""
    sh = _doc_shingles(spark, sf_dir)
    inv = sh.select("doc_id", F.explode("sh").alias("shingle"))
    # One groupBy builds the posting lists; the df filter is a free predicate
    # on the already-grouped result (no extra shuffle). Set sizes are derived
    # from the retained postings so numerator and denominator live in the
    # same filtered shingle space.
    postings = inv.groupBy("shingle").agg(
        F.array_sort(F.collect_list("doc_id")).alias("ids")
    )
    kept = postings.filter(F.size("ids") <= _JACCARD_DF_CAP)
    sizes = (
        kept.select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_sh"))
    )
    # i<j pairs directly from the sorted posting list (slice past i is the
    # greater side) — half the generate-all-then-filter candidate volume.
    ids = F.col("ids")
    id_pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size(ids) - 1),
            lambda i: F.transform(
                F.slice(ids, i + 1, F.size(ids)),
                lambda y: F.struct(
                    F.element_at(ids, i).alias("doc_a"), y.alias("doc_b")
                ),
            ),
        )
    )
    inter = (
        kept.filter(F.size("ids") > 1)
        .select(F.explode(id_pairs).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_inter")
                / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_inter"))
            ).alias("jac"),
        )
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 variant: exact 3-gram Jaccard over candidate pairs sharing ≥1
    shingle (inverted-index join — never all-pairs). Top-50 most similar."""
    jac = _jaccard_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", F.round("jac", 6).alias("jaccard")
    )
    return jac.orderBy(F.desc("jaccard"), "doc_a", "doc_b").limit(50)


DEDUP_NGRAM_JACCARD_SQL = """
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(t[i:i+2], ' ')
                        FOR i IN range(1, greatest(len(t) - 2, 1) + 1)]) AS s
  FROM toks
), inv AS (
  SELECT doc_id, unnest(s) AS shingle FROM sh
), kinv AS (
  SELECT doc_id, shingle FROM inv
  QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 100
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM kinv GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM kinv a JOIN kinv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
ORDER BY jaccard DESC, doc_a, doc_b
LIMIT 50
"""


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle CONTAINMENT pairs (NEW round 14) — the
    quote-inclusion face of near-dup detection (Broder 1997's
    containment next to his resemblance/Jaccard): c(a→b) =
    |A∩B| / |A| finds a document mostly EMBEDDED in another (a quoted
    mail, a boilerplate-wrapped article) that symmetric Jaccard misses
    when the host is much larger.  Emits the top-50 candidate pairs by
    max-direction containment with both directions reported — the
    "which doc swallows which" triage list.

    Same inverted-index candidate generation as ``dedup_ngram_jaccard``
    (≥1 retained shingle, df-capped posting lists, i<j pairs off sorted
    lists — never all-pairs); set sizes live in the same filtered
    shingle space as the intersections.  Integer counts + two rounded
    divisions — value-exact."""
    sh = _doc_shingles(spark, sf_dir)
    inv = sh.select("doc_id", F.explode("sh").alias("shingle"))
    postings = inv.groupBy("shingle").agg(
        F.array_sort(F.collect_list("doc_id")).alias("ids")
    )
    kept = postings.filter(F.size("ids") <= _JACCARD_DF_CAP)
    sizes = (
        kept.select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_sh"))
    )
    ids = F.col("ids")
    id_pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size(ids) - 1),
            lambda i: F.transform(
                F.slice(ids, i + 1, F.size(ids)),
                lambda y: F.struct(
                    F.element_at(ids, i).alias("doc_a"), y.alias("doc_b")
                ),
            ),
        )
    )
    inter = (
        kept.filter(F.size("ids") > 1)
        .select(F.explode(id_pairs).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    scored = (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("n_inter") / F.col("sa.n_sh"), 6).alias(
                "containment_ab"
            ),
            F.round(F.col("n_inter") / F.col("sb.n_sh"), 6).alias(
                "containment_ba"
            ),
        )
    )
    return scored.orderBy(
        F.desc(F.greatest("containment_ab", "containment_ba")),
        "doc_a",
        "doc_b",
    ).limit(50)


DEDUP_CONTAINMENT_SQL = """
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(t[i:i+2], ' ')
                        FOR i IN range(1, greatest(len(t) - 2, 1) + 1)]) AS s
  FROM toks
), inv AS (
  SELECT doc_id, unnest(s) AS shingle FROM sh
), kinv AS (
  SELECT doc_id, shingle FROM inv
  QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 100
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM kinv GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM kinv a JOIN kinv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(n_inter / sa.n_sh, 6) AS containment_ab,
       ROUND(n_inter / sb.n_sh, 6) AS containment_ba
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
ORDER BY GREATEST(ROUND(n_inter / sa.n_sh, 6),
                  ROUND(n_inter / sb.n_sh, 6)) DESC, doc_a, doc_b
LIMIT 50
"""


# Prefix-filter (AllPairs/PPJoin) threshold as an exact integer ratio —
# θ = _PFX_NUM/_PFX_DEN; the prefix length and the verify compare both run
# in integers, so no float boundary can flip a pair between engines.
_PFX_NUM = 7
_PFX_DEN = 10


def dedup_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact θ-Jaccard similarity self-join via PREFIX FILTERING (NEW
    round 13; AllPairs — Bayardo et al. 2007 / PPJoin — the ssjoin
    algorithm family): a candidate-generation strategy with an EXACTNESS
    GUARANTEE, unlike the df-cap heuristic of `dedup_ngram_jaccard`
    (which drops stop-shingles from the similarity space) or MinHash-LSH
    (probabilistic).  Shingles order globally rare-first (df ASC,
    shingle ASC); each document exposes only its first
    |d| − ⌈θ·|d|⌉ + 1 shingles in that order, and ANY pair with
    J ≥ θ = {num}/{den} provably shares a prefix shingle — so the join
    touches the prefix postings only, then verifies candidates with one
    exact set intersection.  Returns every pair at or above θ.

    Integer exactness end-to-end: prefix length = n − ((n·{num} + {den}
    − 1) ÷ {den}) + 1 and the verify compare {den}·|A∩B| ≥
    {num}·|A∪B| both avoid float θ entirely.

    Scale shape: one df count + one per-doc sort (bounded by shingles
    per doc), the pair join runs over PREFIX postings (rare shingles by
    construction — short posting lists), and verification joins the two
    bounded shingle arrays per surviving candidate.  Same shingle space
    as the whole L1/L2 family (`_doc_shingles`).""".format(
        num=_PFX_NUM, den=_PFX_DEN
    )
    # r16 negative result (measured, kept for future optimizers): eagerly
    # checkpointing the shingled corpus — it feeds the postings chain and
    # both verify sides, and the tally shows the shingle map running twice
    # even with AQE reuse — made the face SLOWER (2.98 -> 3.67 s warm
    # A/B): the duplicate consumers run as concurrent AQE jobs that
    # overlap on idle cores, while the eager checkpoint serializes the
    # full pass onto the wall-clock path (the hybrid_rank r16 finding).
    # Lazy form stands.
    sh = _doc_shingles(spark, sf_dir).filter(F.size("sh") > 0)
    inv = sh.select("doc_id", F.explode("sh").alias("shingle"))
    dfreq = inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ordered = (
        inv.join(dfreq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("df", "shingle"))),
                lambda x: x["shingle"],
            ).alias("osh")
        )
    )
    n = F.size("osh")
    plen = n - F.floor((n * _PFX_NUM + _PFX_DEN - 1) / _PFX_DEN).cast(
        "int"
    ) + 1
    # r16 optimization round (guide §3 — prune before the pair shuffle):
    # postings carry (pos, n) so two more AllPairs/PPJoin filters run
    # INSIDE the candidate join, before the distinct and the verify joins.
    # Both are provably exactness-preserving (the verify is exact anyway,
    # so only provably-below-θ pairs are dropped):
    #  · LENGTH: J ≥ num/den ⟹ den·min(|A|,|B|) ≥ num·max(|A|,|B|)
    #    (|A∩B| ≤ min, |A∪B| ≥ max).
    #  · POSITIONAL (PPJoin, Xiao et al. 2008): all common shingles sit at
    #    global-order positions ≥ those of the FIRST common shingle, so at
    #    that match |A∩B| ≤ 1 + min(|A|−pa, |B|−pb); J ≥ num/den ⟹
    #    (den+num)·|A∩B| ≥ num·(|A|+|B|).  Keeping a pair when ANY of its
    #    prefix matches passes is sound because the first common match
    #    always passes for a truly-similar pair.
    # Integer arithmetic throughout — float θ never enters.
    prefixes = ordered.select(
        "doc_id",
        n.alias("nsh"),
        F.posexplode(F.slice("osh", 1, plen)).alias("p0", "shingle"),
    ).select("doc_id", "nsh", (F.col("p0") + 1).alias("pos"), "shingle")
    a, b = prefixes.alias("a"), prefixes.alias("b")
    na, nb = F.col("a.nsh"), F.col("b.nsh")
    ubound = 1 + F.least(na - F.col("a.pos"), nb - F.col("b.pos"))
    cands = (
        a.join(b, "shingle")
        .filter(
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.least(na, nb) * _PFX_DEN >= F.greatest(na, nb) * _PFX_NUM)
            & (ubound * (_PFX_DEN + _PFX_NUM) >= (na + nb) * _PFX_NUM)
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb"))
    inter = F.size(F.array_intersect("sha", "shb"))
    na, nb = F.size("sha"), F.size("shb")
    verified = (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            inter.alias("n_inter"),
            (na + nb - inter).alias("n_union"),
        )
        .filter(F.col("n_inter") * _PFX_DEN >= F.col("n_union") * _PFX_NUM)
    )
    return verified.select(
        "doc_a",
        "doc_b",
        "n_inter",
        "n_union",
        F.round(F.col("n_inter") / F.col("n_union"), 6).alias("jaccard"),
    ).orderBy(F.desc("jaccard"), "doc_a", "doc_b")


DEDUP_PREFIX_JACCARD_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
  FROM documents
), sh AS (
  SELECT doc_id, s FROM (
    SELECT doc_id,
           list_distinct([array_to_string(t[i:i+2], ' ')
                          FOR i IN range(1, greatest(len(t) - 2, 1) + 1)]) AS s
    FROM toks
  ) WHERE len(s) > 0
), inv AS (
  SELECT doc_id, unnest(s) AS shingle FROM sh
), dfreq AS (
  SELECT shingle, COUNT(*) AS df FROM inv GROUP BY shingle
), ordered AS (
  SELECT doc_id, list(shingle ORDER BY df, shingle) AS osh
  FROM inv JOIN dfreq USING (shingle)
  GROUP BY doc_id
), prefixes AS (
  SELECT doc_id, unnest(osh[1 : len(osh)
           - CAST(FLOOR((len(osh) * {_PFX_NUM} + {_PFX_DEN} - 1)
                        / {_PFX_DEN}) AS INT) + 1]) AS shingle
  FROM ordered
), cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM prefixes a JOIN prefixes b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
), verified AS (
  SELECT doc_a, doc_b,
         len(list_intersect(sa.s, sb.s)) AS n_inter,
         len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)) AS n_union
  FROM cands
  JOIN sh sa ON sa.doc_id = doc_a
  JOIN sh sb ON sb.doc_id = doc_b
)
SELECT doc_a, doc_b,
       CAST(n_inter AS INT) AS n_inter,
       CAST(n_union AS INT) AS n_union,
       ROUND(n_inter * 1.0 / n_union, 6) AS jaccard
FROM verified
WHERE n_inter * {_PFX_DEN} >= n_union * {_PFX_NUM}
ORDER BY jaccard DESC, doc_a, doc_b
"""


# Near-dup edge threshold for cluster formation. The corpus' pair-similarity
# distribution is bimodal (planted near-dups ≥0.7, background noise <0.3), so
# 0.5 sits in a wide empty band — engine/oracle double-division agreement at
# the boundary is a non-issue.
_CC_THRESHOLD = 0.5
_CC_MAX_ITERS = 50


def _connected_components(verts: DataFrame, edges: DataFrame) -> DataFrame:
    """Connected components by alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SOCC'14) — O(log n) rounds on ANY graph shape.

    ``verts``: one column ``doc_id``; ``edges``: ``doc_a``/``doc_b``
    (undirected). Returns ``doc_id, cluster_id`` where cluster_id is the
    minimum doc_id reachable from doc_id.

    Scale design: this runs on the *edge-induced subgraph only* — after
    similarity thresholding, duplicate pairs are a small fraction of the
    corpus, so the iterated frames are tiny relative to the input even at
    100 TB (the full corpus is touched once, by a left join in the caller —
    AQE picks broadcast vs shuffle from the label set's exact runtime size,
    since "fraction of docs with a near-dup" is data-dependent and unbounded
    in the worst case). Each alternation is two (groupBy-min + join) phases
    over O(E) canonical (hi, lo) pairs. Until round 12 this was plain
    min-label propagation — O(component diameter) rounds, fine for the
    near-clique near-dup components (2-3 rounds) but measured 26 rounds on
    the record-linkage digit-edit chains (pointer-jumping did NOT help:
    on chain graphs the label pointers are already flat, label(label(v)) =
    label(v), so there is nothing to compress — the star alternation's
    re-wiring of EDGES is what buys the logarithm; simulated 6 rounds on
    the same graph). At the fixpoint every component is a star centered at
    its minimum node, so the labels are read directly off the edge list.
    ``localCheckpoint`` truncates lineage each round as before.
    """
    cur = (
        edges.select(
            F.greatest("doc_a", "doc_b").alias("hi"),
            F.least("doc_a", "doc_b").alias("lo"),
        )
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    converged = False
    rounds = 0
    for _ in range(_CC_MAX_ITERS):
        rounds += 1
        if cur.isEmpty():
            converged = True
            break
        # LARGE-STAR: around each center c, every strictly-larger neighbor
        # re-wires to m = min(neighbors ∪ {c}). Output pairs are canonical
        # by construction (m ≤ c < neighbor).
        sym = cur.select(F.col("hi").alias("c"), F.col("lo").alias("n")).union(
            cur.select(F.col("lo").alias("c"), F.col("hi").alias("n"))
        )
        mins = sym.groupBy("c").agg(F.min("n").alias("mn"))
        big = (
            sym.join(mins, "c")
            .withColumn("m", F.least("mn", "c"))
            .filter(F.col("n") > F.col("c"))
            .select(F.col("n").alias("hi"), F.col("m").alias("lo"))
            .filter(F.col("hi") != F.col("lo"))
            .distinct()
        )
        # SMALL-STAR: around each larger endpoint, all smaller partners
        # (and the endpoint itself) re-wire to the smallest partner.
        mins2 = big.groupBy("hi").agg(F.min("lo").alias("m2"))
        members = (
            big.join(mins2, "hi")
            .filter(F.col("lo") != F.col("m2"))
            .select(F.col("lo").alias("hi"), F.col("m2").alias("lo"))
        )
        centers = mins2.select("hi", F.col("m2").alias("lo"))
        new = (
            members.union(centers)
            .filter(F.col("hi") != F.col("lo"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        changed = (
            new.exceptAll(cur).limit(1).count()
            + cur.exceptAll(new).limit(1).count()
        )
        cur = new
        if changed == 0:
            converged = True
            break
    if not converged:
        # Unconverged output is plausible-looking but WRONG. Fail loudly
        # rather than return silently-wrong clusters (at O(log n) rounds
        # the cap now allows graphs of ~2^_CC_MAX_ITERS nodes).
        raise RuntimeError(
            f"connected components did not converge in {_CC_MAX_ITERS} rounds; "
            "edge set still re-wiring at the iteration cap"
        )
    _connected_components.last_rounds = rounds
    # Fixpoint = star forest centered at each component minimum: non-center
    # nodes appear exactly once as hi. Vertices with no edge label themselves.
    labels = cur.select(F.col("hi").alias("doc_id"), F.col("lo").alias("cluster_id"))
    return (
        verts.join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
        )
    )


def _cc_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The thresholded exact-Jaccard edge list (doc_a, doc_b at jac ≥ 0.5)
    — memoized and eagerly checkpointed once per (session, documents
    version). Materializing it ONCE matters twice over: everything
    downstream of the clustering (sym ×2, verts ×2) re-evaluates its input
    plan — the full shingle/inverted-index/Jaccard pipeline — and the LSH
    recall eval's truth set IS this edge list."""

    def build():
        return (
            _jaccard_pairs(spark, sf_dir)
            .filter(F.col("jac") >= F.lit(_CC_THRESHOLD))
            .select("doc_a", "doc_b")
            .localCheckpoint(eager=True)
        )

    return memo(spark, sf_dir, "documents", "cc_edges", build)


def _cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CC labels, memoized: four registry faces share one ~3 s clustering;
    the frame is bounded by the corpus' near-dup fraction."""

    def build():
        edges = _cc_edges(spark, sf_dir)
        return _connected_components(_edge_verts(edges), edges).localCheckpoint(
            eager=True
        )

    return memo(spark, sf_dir, "documents", "cc_labels", build)


def _edge_verts(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("doc_a").alias("doc_id"))
        .union(edges.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 follow-through: candidate pairs → duplicate *clusters*. Edges are
    exact-Jaccard ≥ 0.5 pairs; connected components assign every document a
    cluster_id (min doc_id in its component); is_survivor marks the canonical
    representative. Oracle: DuckDB recursive CTE transitive closure."""
    labels = _cc_labels(spark, sf_dir)
    docs = load(spark, "documents", sf_dir)
    cluster_id = F.coalesce("cluster_id", F.col("doc_id"))
    # No broadcast hint: labels grows with the corpus' near-dup fraction
    # (unbounded in the worst case) — AQE broadcasts it only when its exact
    # runtime size is under the adaptive threshold.
    return docs.join(labels, "doc_id", "left").select(
        "doc_id",
        cluster_id.alias("cluster_id"),
        (cluster_id == F.col("doc_id")).alias("is_survivor"),
    )


def dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated corpus: keep each cluster's canonical survivor (and
    all singletons) — what a training-data pipeline actually feeds forward."""
    survivors = dedup_clusters(spark, sf_dir).filter("is_survivor")
    docs = load(spark, "documents", sf_dir)
    # survivors ∝ cluster count — O(corpus); AQE decides the join strategy.
    return docs.join(survivors.select("doc_id"), "doc_id").select(
        "doc_id", "lang", "source", "n_chars"
    )


def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-profile histogram (NEW round 11): how many near-dup
    clusters exist at each cluster size, with the document share each size
    class carries — the "how duplicated is this corpus" panel a curation
    run reads before deciding dedup strategy (a corpus whose mass sits in
    size-1 clusters needs no dedup pass; one with a few giant clusters
    needs the representative pick, not pair-level removal).

    Composes the SHARED ``dedup_clusters`` connected components verbatim,
    so the histogram cannot disagree with the clustering it profiles.
    Singleton documents are size-1 clusters (every doc belongs to exactly
    one cluster), so n_members · n_clusters sums to the corpus size — the
    totality check pinned in tests.

    Scale shape: two hash aggs over the (doc, cluster) assignment —
    cluster → size, size → count — both with map-side combine; the share
    divides by a broadcast 1-row total. Integer counts, one rounded
    division — cross-engine exact."""
    clusters = dedup_clusters(spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    hist = sizes.groupBy("n_members").agg(
        F.count(F.lit(1)).alias("n_clusters")
    )
    total = clusters.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        hist.crossJoin(F.broadcast(total))
        .select(
            F.col("n_members").cast("long").alias("n_members"),
            F.col("n_clusters").cast("long").alias("n_clusters"),
            F.round(
                (F.col("n_members") * F.col("n_clusters")).cast("double")
                / F.col("n_docs"),
                6,
            ).alias("doc_share"),
        )
        .orderBy("n_members")
    )


def _dedup_cluster_hist_sql() -> str:
    """SQL twin of the size histogram over the shared recursive-CTE
    components (deferred like ``_dedup_rep_pick_sql`` — the CTE constant
    is defined further down the module)."""
    return _CC_ORACLE_CTES + """
, assign AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c USING (doc_id)
),
csizes AS (
  SELECT cluster_id, COUNT(*) AS n_members FROM assign GROUP BY cluster_id
)
SELECT CAST(n_members AS BIGINT) AS n_members,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       ROUND(CAST(n_members * COUNT(*) AS DOUBLE)
             / (SELECT COUNT(*) FROM assign), 6) AS doc_share
FROM csizes
GROUP BY n_members
ORDER BY n_members
"""


def dedup_representative_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-based representative selection (NEW round 10): per near-dup
    cluster keep the HIGHEST-QUALITY member, not the lowest doc_id — the
    curation rule real pipelines apply after clustering (SemDeDup §4 keeps
    one exemplar per group; production dedup keeps the best-scoring copy
    of a template page, not the first-crawled one). Composes the SHARED
    definitions — ``dedup_clusters``'s connected components and the pinned
    ``text_linear_quality_classifier`` score (already 6-rounded on both
    engines as part of its contract) — so the pick can never disagree with
    the clustering or the quality gate it sits between. Tie on the rounded
    score → lowest doc_id. NULL-text docs have no score and drop from the
    pick on both sides (the classifier's documented exclusion).

    Scale shape: the argmax is ``max_by`` over a (score, −doc_id) struct —
    a hash agg whose map-side combine collapses each cluster to one row
    before the shuffle (the kmeans-assign precedent; no rank window over
    the corpus). Output is cluster cardinality."""
    from .textops import text_linear_quality_classifier

    clusters = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    scored = text_linear_quality_classifier(spark, sf_dir).select(
        "doc_id", "quality_score"
    )
    memb = clusters.join(scored, "doc_id")
    return (
        memb.groupBy("cluster_id")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.expr(
                "max_by(doc_id, struct(quality_score, -doc_id))"
            ).alias("rep_doc_id"),
            F.max("quality_score").alias("rep_score"),
        )
        .orderBy("cluster_id")
    )


# Shared CTE chain: 3-gram shingles → inverted index (stop-shingles with
# df > 100 dropped, mirroring _JACCARD_DF_CAP) → exact Jaccard → threshold
# edges → recursive-CTE reachability → min-reachable component id.
_CC_ORACLE_CTES = """
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(t[i:i+2], ' ')
                        FOR i IN range(1, greatest(len(t) - 2, 1) + 1)]) AS s
  FROM toks
), inv AS (
  SELECT doc_id, unnest(s) AS shingle FROM sh
), kinv AS (
  SELECT doc_id, shingle FROM inv
  QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 100
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM kinv GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM kinv a JOIN kinv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), jac AS (
  SELECT doc_a, doc_b,
         n_inter / (sa.n_sh + sb.n_sh - n_inter) AS jac
  FROM inter
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jac WHERE jac >= 0.5
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM jac WHERE jac >= 0.5
), reach(a, b) AS (
  SELECT DISTINCT src AS a, src AS b FROM edges
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
), comp AS (
  SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a
)
"""

DEDUP_CLUSTERS_SQL = _CC_ORACLE_CTES + """
SELECT d.doc_id,
       COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
       COALESCE(c.cluster_id, d.doc_id) = d.doc_id AS is_survivor
FROM documents d LEFT JOIN comp c USING (doc_id)
"""

DEDUP_APPLY_SQL = _CC_ORACLE_CTES + """
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d LEFT JOIN comp c USING (doc_id)
WHERE COALESCE(c.cluster_id, d.doc_id) = d.doc_id
"""


def _dedup_rep_pick_sql() -> str:
    """SQL twin of the quality-based pick: the recursive-CTE components
    feeding a rank-1 window over the shared classifier CTE's 6-rounded
    score. lqc is a nested-WITH CTE (the corpus_source_report idiom)."""
    from .textops import TEXT_LQC_SQL

    return _CC_ORACLE_CTES + f""", lqc AS ({TEXT_LQC_SQL}),
members AS (
  SELECT COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
         d.doc_id, l.quality_score AS q
  FROM documents d
  LEFT JOIN comp c USING (doc_id)
  JOIN lqc l USING (doc_id)
),
pick AS (
  SELECT cluster_id, doc_id, q,
         COUNT(*) OVER (PARTITION BY cluster_id) AS n_members,
         ROW_NUMBER() OVER (PARTITION BY cluster_id
                            ORDER BY q DESC, doc_id ASC) AS rn
  FROM members
)
SELECT cluster_id, CAST(n_members AS BIGINT) AS n_members,
       doc_id AS rep_doc_id, q AS rep_score
FROM pick WHERE rn = 1
ORDER BY cluster_id
"""


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2/L3: embedding near-dup pair listing — same-label blocking,
    cosine ≥ 0.3 pairs, oracle-exact.

    Scale contract (measured 36.8× time at 10× embeddings): this is the
    EXACTNESS BASELINE of the family, quadratic BY SPECIFICATION — both
    the pair computation and (at this low τ) the output itself are
    O(block²), and label blocking only bounds blocks when labels are
    fine-grained. It plays the role knn_bruteforce plays for ANN: the
    ground truth the approximate siblings are recall-tested against, run
    on corpora small enough to afford it. At scale, use the sub-quadratic
    paths: ``dedup_semantic`` (k-means-blocked SemDeDup),
    ``dedup_minhash_lsh`` (token near-dup), or ``ann_*`` (bucketed /
    cell-probed candidate generation)."""
    # norm precomputed per row before the pair join (1 array pass per pair
    # instead of 3 — same trick as knn_bruteforce)
    # Negative result: at sf0.1, 4 cores, the deleted dim-unrolled fold ran
    # this in 4.5-4.7 s warm, HOF 10.0-12.1 s; no workload runs that size.
    emb = load(spark, "embeddings", sf_dir).withColumn(
        "nrm", norm("embedding")
    )
    a = emb.alias("a")
    b = emb.alias("b")
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.label").alias("label"),
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(
                dot("a.embedding", "b.embedding")
                / (F.col("a.nrm") * F.col("b.nrm")),
                5,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.3)
        .orderBy(F.desc("cos_sim"), "vec_a", "vec_b")
    )


DEDUP_EMBEDDING_SQL = """
SELECT a.label AS label, a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND(list_cosine_similarity(list_transform(a.embedding, x -> CAST(x AS DOUBLE)), list_transform(b.embedding, x -> CAST(x AS DOUBLE))), 5) AS cos_sim
FROM embeddings a
JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE ROUND(list_cosine_similarity(list_transform(a.embedding, x -> CAST(x AS DOUBLE)), list_transform(b.embedding, x -> CAST(x AS DOUBLE))), 5) >= 0.3
ORDER BY cos_sim DESC, vec_a, vec_b
"""


_SPAN = 10  # tokens per non-overlapping span


def dedup_span_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style SUB-document exact dedup (Raffel et al. 2020 §2.2 shape, on
    fixed 10-token spans — the synthetic corpus has no line breaks): any
    span occurring verbatim in ≥2 distinct documents is removed from ALL of
    them; per-document span accounting plus the md5 of the surviving text
    proves both engines reconstruct byte-identically.

    Shapes: one posexplode, one span-keyed groupBy for the duplicate-span
    set, one join back (span-keyed — AQE broadcasts it when the boilerplate
    set is small), one ordered re-aggregation keyed on doc_id. Nothing is
    all-pairs; every stage keys on either span or doc_id."""
    docs = load_spread(spark, "documents", sf_dir)
    toked = docs.select("doc_id", tokens("text").alias("t"))
    spans = F.transform(
        F.sequence(F.lit(0), ((F.size("t") - 1) / F.lit(_SPAN)).cast("int")),
        lambda i: F.concat_ws(" ", F.slice("t", i * _SPAN + 1, _SPAN)),
    )
    ex = toked.select("doc_id", F.posexplode(spans).alias("pos", "span"))
    dups = (
        ex.groupBy("span")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("span", F.lit(True).alias("dup"))
    )
    marked = ex.join(dups, "span", "left")
    kept_text = F.concat_ws(
        " ",
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("dup").isNull(), F.struct("pos", "span"))
                )
            ),
            lambda s: s["span"],
        ),
    )
    return marked.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.count("dup").alias("n_dropped"),
        F.md5(kept_text).alias("kept_hash"),
    )


DEDUP_SPAN_SQL = """
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents
), sp AS (
  SELECT doc_id,
         [{'pos': i - 1,
           'span': array_to_string(toks[((i-1)*10+1):((i-1)*10+10)], ' ')}
          FOR i IN range(1, CAST(ceil(len(toks) / 10.0) AS BIGINT) + 1)] AS spans
  FROM t
), exu AS (
  SELECT doc_id, unnest(spans) AS s FROM sp
), ex AS (
  SELECT doc_id, s.pos AS pos, s.span AS span FROM exu
), dups AS (
  SELECT span FROM ex GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2
)
SELECT e.doc_id,
       COUNT(*) AS n_spans,
       COUNT(d.span) AS n_dropped,
       md5(COALESCE(string_agg(CASE WHEN d.span IS NULL THEN e.span END,
                               ' ' ORDER BY e.pos), '')) AS kept_hash
FROM ex e LEFT JOIN dups d USING (span)
GROUP BY e.doc_id
"""


# Signature-agreement cluster edges: fraction of the 32 MinHash
# permutations two docs must agree on for a cluster edge (the neardup
# ingest's threshold). 23/32 ≈ 0.72 estimated Jaccard — the edge
# definition is a PER-PAIR function of the two signatures alone, which
# is what makes the incremental cluster path exact: unlike the df-cap
# (`_jaccard_pairs`) or bucket-cap (`minhash_candidate_pairs`)
# heuristics, no corpus-global statistic can re-classify an edge after
# the fact, so edges only ever ACCUMULATE as batches arrive.
_LSH_CC_THRESHOLD = 0.7
_LSH_CC_AGREE_MIN = math.ceil(_LSH_CC_THRESHOLD * _MH_PERMS)


def sig_agreement(a, b):
    """Number of agreeing positions between two MinHash signature arrays
    — shared by the batch cluster face and the incremental cluster/
    near-dup ingest paths (one agreement definition, no drift)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, z: F.when(x == z, 1).otherwise(0)),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def _collapse_identical_sigs(
    sigs: DataFrame, id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """Collapse rows with IDENTICAL MinHash signatures to one
    representative (the group's min id) before any pair generation.
    Identical signatures agree on all 32 permutations and collide in
    every band, so group members are trivially same-cluster: an
    exact-dup boilerplate storm of m copies contributes ONE row to the
    band self-join plus m-1 star edges instead of O(m²) candidate pairs
    — the multiplicity-collapse discipline ``entity_match_candidates``
    uses for blocking keys, applied to the signature graph.

    Returns ``(rep_rows, star_edges)``: ``rep_rows`` is one
    signature-schema row per distinct signature (the representative);
    ``star_edges`` is ``(doc_a=rep, doc_b=member)`` for every collapsed
    member (rep < member always, since rep is the group min).  Shapes:
    one sig-keyed groupBy (map-side partial aggregation collapses the
    storm before the shuffle) and one sig-keyed join back."""
    keyed = sigs.withColumn(
        "__sig_key",
        F.md5(F.concat_ws(",", F.col("sig").cast("array<string>"))),
    )
    reps = keyed.groupBy("__sig_key").agg(
        F.min(F.col(id_col)).alias("__rep_id")
    )
    tagged = keyed.join(reps, "__sig_key")
    star = tagged.filter(F.col(id_col) != F.col("__rep_id")).select(
        F.col("__rep_id").alias("doc_a"), F.col(id_col).alias("doc_b")
    )
    rep_rows = tagged.filter(F.col(id_col) == F.col("__rep_id")).drop(
        "__sig_key", "__rep_id"
    )
    return rep_rows, star


def _band_self_join_edges(rep_rows: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_a < doc_b) pairs of ``rep_rows`` colliding in ≥1 LSH band with
    full-signature agreement ≥ ``_LSH_CC_AGREE_MIN`` — the band-keyed
    self-join shared by the batch cluster face and the incremental
    cluster ingest's within-batch step (one join definition, no drift)."""
    band_arr = F.array(*[F.col(f"band{b}") for b in range(_MH_BANDS)])
    expl = rep_rows.select(
        id_col, "sig", F.posexplode(band_arr).alias("band_idx", "band_sig")
    )
    a, b = expl.alias("a"), expl.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .filter(
            sig_agreement(F.col("a.sig"), F.col("b.sig"))
            >= _LSH_CC_AGREE_MIN
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .distinct()
    )


def lsh_agreement_edges(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """THE near-dup edge definition the SEVENTEENTH incremental path
    maintains: the signature-agreement graph — (doc_a < doc_b) pairs
    colliding in ≥1 LSH band whose full 32-permutation signature
    agreement ≥ ``_LSH_CC_AGREE_MIN``.  The agreement predicate is a
    pure PAIR function of the two signatures alone (no corpus-global
    statistic can re-classify an edge later), which is what makes the
    incremental cluster path exact: edges only ever accumulate.

    Returned edge set (round 15): a component-exact SPARSIFICATION of
    that graph.  Rows with identical signatures collapse to one
    representative before the band self-join
    (:func:`_collapse_identical_sigs`), and collapsed members re-attach
    via (rep, member) star edges.  Connected components — the only thing
    any consumer reads — are exactly the full graph's: every star edge
    IS a full-graph edge (identical signatures agree on all 32 perms and
    collide in every band), and every cross-group full-graph edge
    (x, y) is witnessed by the representatives' edge (x's signature
    equals its rep's, so x agrees with y iff rep(x) agrees with
    rep(y)), with x~rep(x) and y~rep(y) supplied by the stars.  This
    kills the exact-dup-storm worst case: m byte-identical boilerplate
    docs previously generated O(m²) band-join candidates (NO bucket cap
    here, deliberately — a cap would break the pure-pair-function
    property); now they generate 1 join row + m-1 star edges, and the
    remaining join mass is bounded by DISTINCT-signature collisions,
    i.e. true near-dup (not exact-dup) mass.  AQE skew-split still
    handles residual hot bands."""
    sigs = minhash_sig_bands(docs, text_col)
    rep_rows, star = _collapse_identical_sigs(sigs, id_col)
    return _band_self_join_edges(rep_rows, id_col).unionByName(star)


def dedup_clusters_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters over the SIGNATURE-AGREEMENT edge set (NEW round
    14) — the batch twin of the SEVENTEENTH incremental path
    (``streaming.ingest.start_incremental_cluster_ingest``): connected
    components of :func:`lsh_agreement_edges`, every document labeled
    with its component's min doc_id, exactly the `dedup_clusters` output
    shape on the corpus-independent edge definition.  The incremental
    path's ``clusters_from_lsh_state`` over its maintained merge log is
    parity-tested ≡ this face under every batch split.

    Scale shape: one map-side signature pass, one (band_idx, band_sig)-
    keyed self-join (never all-pairs; verify filter prunes to true
    duplicate mass), star-alternation CC on the edge-induced subgraph
    only, one left join back to the corpus.  Labels are memoized per
    (session, corpus version) like ``_cc_labels`` — the iterated CC is
    one derivation per corpus version, and warm calls pay only the
    corpus join."""

    def build():
        edges = lsh_agreement_edges(
            load_spread(spark, "documents", sf_dir, key="doc_id")
        )
        return _connected_components(_edge_verts(edges), edges).localCheckpoint(
            eager=True
        )

    labels = memo(spark, sf_dir, "documents", "lsh_labels", build)
    cluster_id = F.coalesce("cluster_id", F.col("doc_id"))
    return load(spark, "documents", sf_dir).join(
        labels, "doc_id", "left"
    ).select(
        "doc_id",
        cluster_id.alias("cluster_id"),
        (cluster_id == F.col("doc_id")).alias("is_survivor"),
    )


def clusters_from_lsh_state(docs: DataFrame, merge_log: DataFrame) -> DataFrame:
    """Serve near-dup cluster labels from the incremental path's
    append-only merge log — ``clusters_from_lsh_state(corpus, log) ≡
    dedup_clusters_lsh`` (parity-tested).  The log is a functional
    forest (each node appears as a source at most once; every event
    points to a strictly smaller label), so component minima ARE the
    final labels and the star-alternation CC converges in O(log depth)
    rounds on a frame bounded by duplicate mass, never corpus mass."""
    edges = merge_log.select(
        F.col("node").alias("doc_a"), F.col("target").alias("doc_b")
    )
    verts = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .union(edges.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    labels = _connected_components(verts, edges)
    cluster_id = F.coalesce("cluster_id", F.col("doc_id"))
    return docs.join(labels, "doc_id", "left").select(
        "doc_id",
        cluster_id.alias("cluster_id"),
        (cluster_id == F.col("doc_id")).alias("is_survivor"),
    )


_DEDUP_CLUSTERS_LSH_SQL = """
WITH RECURSIVE d AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
  FROM documents WHERE coalesce(trim(text), '') <> ''
), sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(t[i:i+2], ' ')
                        FOR i IN range(1, greatest(len(t) - 2, 1) + 1)]) AS s
  FROM d
), hs AS (
  SELECT doc_id,
         list_transform(s, x ->
             CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT) % 2147483648) AS hs
  FROM sh WHERE len(s) > 0
), sig AS (
  SELECT doc_id, [{min_exprs}] AS sig
  FROM hs
), bands AS (
  SELECT doc_id, sig, b.band_idx,
         md5(concat_ws(',', sig[b.band_idx * {rows} + 1]{band_tail})) AS band_sig
  FROM sig CROSS JOIN (SELECT unnest(range({nbands})) AS band_idx) b
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
   AND a.doc_id < b.doc_id
  WHERE list_sum(list_transform(range(1, {nperms} + 1),
            i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END))
        >= {agree_min}
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
), reach(a, b) AS (
  SELECT DISTINCT src AS a, src AS b FROM edges
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
), comp AS (
  SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a
)
SELECT dd.doc_id,
       COALESCE(c.cluster_id, dd.doc_id) AS cluster_id,
       COALESCE(c.cluster_id, dd.doc_id) = dd.doc_id AS is_survivor
FROM documents dd LEFT JOIN comp c USING (doc_id)
"""
DEDUP_CLUSTERS_LSH_SQL = _DEDUP_CLUSTERS_LSH_SQL.format(
    agree_min=_LSH_CC_AGREE_MIN, **_MH_SQL_FMT
)


# ExactSubstr window: a span is reported when every one of its k-token
# windows also occurs in some other document (k = 8 here; Lee et al. use
# 50 BPE tokens at web scale — the knob scales with document length, and
# the synthetic corpus averages ~55 tokens/doc).
_ES_K = 8


def dedup_exact_substr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal repeated-substring span manifest (NEW round 14) — the
    ExactSubstr face of Lee et al. 2022 "Deduplicating Training Data
    Makes Language Models Better", and the exactness twin of
    :func:`~..operators.textops.chunk_cdc` / ``cdc_chunk_dedup``: where
    CDC finds boilerplate that happens to land on chunk boundaries,
    this op finds EVERY token span of length ≥ ``_ES_K`` whose k-token
    windows all recur in other documents, coalesced to maximal runs —
    the per-document trim/remove worklist a span-level dedup pass
    consumes.  (Lee et al. use a parallel suffix array; the
    Spark-native equivalent is sliding k-gram postings + gaps-and-
    islands coalescing — every k-window of a reported span is shared
    verbatim with ≥1 other document, and the span is maximal: the
    token before and after its island break the property.)

    Output per span: doc_id, span_ord, start_tok (1-based), n_tokens
    (≥ k by construction) and the md5 of the span text (the hash
    proves both engines frame the identical tokens).

    Scale shape: sliding k-gram rows are one posexplode off the scan
    (never materialized as strings beyond the md5); "shared" is ONE
    hash groupBy over shingle hashes (postings-bounded, the
    `cdc_chunk_dedup` shuffle); the island coalescing is one window
    per doc_id partition over only the SHARED positions (duplicate
    mass, not corpus mass); the final slice re-reads tokens via a
    doc_id-keyed join against the tokenized frame.  Nothing is
    all-pairs; at 100 TB the postings pass is the same shape the
    MinHash pipeline already runs, and the maintained face shares the
    incremental shingle-index state.  The postings come from the
    session's :func:`materialized_kgram_index`, so a warm call never
    re-hashes the corpus."""
    docs = load_spread(spark, "documents", sf_dir, key="doc_id")
    return exact_substr_manifest(
        materialized_kgram_index(spark, sf_dir), es_tokenized(docs)
    )


def es_tokenized(docs: DataFrame) -> DataFrame:
    """(doc_id, t) tokenized frame under the ExactSubstr family — THE
    tokenization both the batch face and the maintained k-gram index
    share (NULL-text docs contribute nothing)."""
    return docs.filter(F.col("text").isNotNull()).select(
        "doc_id", tokens("text").alias("t")
    )


def kgram_rows(toked: DataFrame) -> DataFrame:
    """Sliding ``_ES_K``-token k-gram postings (doc_id, pos, h) over a
    tokenized frame — the leaf pass the EIGHTEENTH incremental path
    appends per batch (tokenize + hash once at ingest, never again).

    r16 optimization round (guide §4.2): the postings now compute in one
    vectorized Arrow pass.  The former transform/slice/concat_ws/md5
    column pipeline evaluated an interpreted higher-order lambda per
    (doc, position) — three ~11 s summed-task-time stages per
    decontaminate_spans_apply call at sf0.1.  The kernel emits the SAME
    md5-hex strings over the same space-joined token windows
    (string-exact by construction; parity with the retained expression
    form pinned in tests), requires ``doc_id`` + ``t`` as the frame's
    only columns (enforced), and preserves the <k-token → zero-rows
    contract."""
    from pyspark.sql import types as T

    if toked.columns != ["doc_id", "t"]:
        raise ValueError(f"kgram_rows expects (doc_id, t), got {toked.columns}")
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("pos", T.IntegerType()),
            T.StructField("h", T.StringType()),
        ]
    )

    def kg_fn(batches):
        import hashlib

        import pyarrow as pa

        for bt in batches:
            ids = bt.column(0).to_pylist()
            tarrs = bt.column(1).to_pylist()
            out_id, out_pos, out_h = [], [], []
            for did, toks in zip(ids, tarrs):
                if toks is None or len(toks) < _ES_K:
                    continue
                for i in range(len(toks) - (_ES_K - 1)):
                    out_id.append(did)
                    out_pos.append(i + 1)
                    out_h.append(
                        hashlib.md5(
                            " ".join(toks[i : i + _ES_K]).encode("utf-8")
                        ).hexdigest()
                    )
            if out_id:
                yield pa.record_batch(
                    [
                        pa.array(out_id, type=pa.int64()),
                        pa.array(out_pos, type=pa.int32()),
                        pa.array(out_h, type=pa.string()),
                    ],
                    names=["doc_id", "pos", "h"],
                )

    return toked.mapInArrow(kg_fn, out_schema)


def materialized_kgram_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, h) k-gram postings of the documents corpus
    (:func:`kgram_rows` over :func:`es_tokenized`), written once per
    corpus version to scratch parquet and memoized — the batch faces'
    twin of the maintained k-gram index, fed to the same
    ``exact_substr_manifest`` / ``span_decon_manifest`` entry points.
    Scratch parquet, not an in-memory checkpoint: one row per token
    position is corpus-sized, like the BM25 postings."""
    import os

    def build(scratch):
        path = os.path.join(scratch, "kgrams")
        docs = load_spread(spark, "documents", sf_dir, key="doc_id")
        rows = kgram_rows(es_tokenized(docs))
        rows.write.mode("overwrite").parquet(path)
        return spark.read.schema(rows.schema).parquet(path)

    return scratch_memo(spark, sf_dir, "documents", "kgram_index", build)


def exact_substr_spans(rows: DataFrame) -> DataFrame:
    """Maximal shared-run coalescing over k-gram postings: shared =
    hash in ≥2 distinct docs (ONE hash groupBy), then gaps-and-islands
    per doc over only the shared positions.  Returns
    (doc_id, start_tok, end_tok).

    r15 optimization round (guide §2.4): the old shared-groupBy +
    semi-join form consumed ``rows`` through TWO differing subtrees, so
    the corpus tokenize + per-position k-gram md5 pass ran twice per
    call (AQE's exchange reuse cannot collapse a partial-agg subtree
    with a join-probe subtree).

    r16 optimization round (guide §2.5/§5 — the r15 verdict's hot-hash
    skew order): r15's single pass rode a ``collect_list`` of every
    (doc_id, pos) occurrence per hash — ONE aggregation-buffer array per
    k-gram, which a boilerplate k-gram shared across a large fraction of
    a 100 TB corpus would concentrate into one unsplittable, value-size-
    limited row (the old semi-join build side only ever held DISTINCT
    hashes, so this was a new risk, not an inherited one).  The shared
    marker is now a window min/max over the h partition: shared ⟺ ≥2
    distinct docs ⟺ min(doc_id) ≠ max(doc_id).  Still exactly ONE
    corpus k-gram pass and one h-keyed exchange, no join — but a hot
    hash is now many ROWS in WindowExec's disk-spillable buffer instead
    of one array value (tests/test_extensions.py plants a 100k-posting
    hash to pin this).  Survivor (doc_id, pos) multiset identical by
    construction: min≠max ⟺ |collect_set(doc_id)| ≥ 2 (both skip NULL
    doc_ids), and the rows pass through unchanged instead of being
    packed and re-exploded."""
    wh = Window.partitionBy("h")
    marked = (
        rows.withColumn("dmin", F.min("doc_id").over(wh))
        .withColumn("dmax", F.max("doc_id").over(wh))
        .filter(F.col("dmin") != F.col("dmax"))
        .select("doc_id", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = marked.withColumn(
        "grp", F.col("pos") - F.row_number().over(w)
    )
    return islands.groupBy("doc_id", "grp").agg(
        F.min("pos").alias("start_tok"),
        (F.max("pos") + F.lit(_ES_K - 1)).alias("end_tok"),
    )


def exact_substr_manifest(rows: DataFrame, toked: DataFrame) -> DataFrame:
    """Span manifest finalizer: islands → (span_ord, start_tok,
    n_tokens, span_hash), re-reading tokens via a doc_id-keyed join
    bounded by span-bearing docs (duplicate mass, not corpus mass)."""
    spans = exact_substr_spans(rows)
    length = F.col("end_tok") - F.col("start_tok") + 1
    wd = Window.partitionBy("doc_id").orderBy("start_tok")
    return (
        spans.join(toked, "doc_id")
        .select(
            "doc_id",
            F.row_number().over(wd).cast("int").alias("span_ord"),
            F.col("start_tok").cast("int").alias("start_tok"),
            length.cast("int").alias("n_tokens"),
            F.md5(
                F.concat_ws(" ", F.slice("t", F.col("start_tok"), length))
            ).alias("span_hash"),
        )
        .orderBy("doc_id", "start_tok")
    )


def exact_substr_from_index(index: DataFrame, corpus: DataFrame) -> DataFrame:
    """Serve the ExactSubstr manifest from the maintained k-gram index —
    ``exact_substr_from_index(index, corpus) ≡ dedup_exact_substr``
    (parity-tested).  The corpus-wide tokenize+hash pass happened at
    ingest; serving re-tokenizes ONLY span-bearing documents (the
    manifest join is bounded by duplicate mass)."""
    return exact_substr_manifest(index, es_tokenized(corpus))


def span_decon_manifest(rows: DataFrame, toked: DataFrame) -> DataFrame:
    """Span-level eval-decontamination core over k-gram postings — shared
    by the batch face (:func:`decontaminate_spans`) and the maintained
    k-gram index serve face (:func:`decontaminate_spans_from_index`), so
    the two cannot disagree about a contaminated span.

    For every (train doc, eval doc) pair: the MAXIMAL runs of train
    positions whose ``_ES_K``-token windows all occur verbatim in that
    eval doc, coalesced by gaps-and-islands per pair.  The split is
    ``sampling._split_of`` — the ONE hash-split definition the ratio
    heuristic (``decontaminate_split``) and the leakage audit already
    compose.

    Scale shape: train and eval postings split off ONE shared k-gram
    pass; the candidate join is a hash-keyed sort-merge join (eval
    postings distinct per (eval doc, hash) first); islands window over
    (train doc, eval doc) partitions of only the MATCHED positions
    (contamination mass, not corpus mass); the final slice joins tokens
    for span-bearing train docs only."""
    from .sampling import _split_of

    # r15 optimization round (guide §2.4): the old train/eval split-then-
    # join form consumed ``rows`` through two differing subtrees, so the
    # corpus tokenize + k-gram md5 pass ran twice per call.
    #
    # r16 optimization round (guide §2.5/§5 — the r15 verdict's hot-hash
    # skew order): r15 carried ALL train occurrences + the eval-doc set of
    # a hash in one aggregation-row payload (unsplittable at 100 TB for a
    # boilerplate k-gram).  Now one window over the h partition marks the
    # hashes present on BOTH sides (rows stay rows — WindowExec's buffer
    # spills to disk per partition, no single-value limit), and the
    # train-positions × distinct-eval-docs expansion runs as an h-keyed
    # JOIN over only the surviving rows (contamination mass).  The marked
    # frame is eagerly localCheckpoint'ed — it is bounded by contamination
    # mass, and without the checkpoint the two join consumers re-ran the
    # corpus window pass each (measured: 313 → 497 tasks, +0.8 s; AQE
    # reuses the exchange but not the window sort above it — the
    # dedup_lsh_recall_eval class, r15 change #5).  The join's row
    # explosion is shuffle-visible where AQE skew handling can split it.
    # Hit set identical: is_tr/is_ev mirror the old WHEN conditions —
    # in particular a NULL doc_id (split 'test' by _split_of's otherwise
    # branch) counted on NEITHER side there (collect_set skips NULLs),
    # so the eval flag requires a non-null doc_id explicitly.
    split = _split_of(F.col("doc_id"))
    tagged = rows.withColumn(
        "is_tr", (split == "train").cast("int")
    ).withColumn(
        "is_ev",
        ((split != "train") & F.col("doc_id").isNotNull()).cast("int"),
    )
    wh = Window.partitionBy("h")
    marked = (
        tagged.withColumn("has_tr", F.max("is_tr").over(wh))
        .withColumn("has_ev", F.max("is_ev").over(wh))
        .filter((F.col("has_tr") == 1) & (F.col("has_ev") == 1))
        .select("h", "doc_id", "pos", "is_tr", "is_ev")
        .localCheckpoint(eager=True)
    )
    tr = marked.filter(F.col("is_tr") == 1).select("h", "doc_id", "pos")
    ev = (
        marked.filter(F.col("is_ev") == 1)
        .select("h", F.col("doc_id").alias("eval_doc_id"))
        .distinct()
    )
    # sort-merge pinned: both sides are contamination-mass shuffles, and
    # AQE's runtime broadcast built whichever side's stage finished first —
    # two plan shapes that a warm session compiled anew at random
    hits = (
        tr.join(ev.hint("merge"), "h")
        .select("doc_id", "eval_doc_id", "pos")
        .distinct()
    )
    w = Window.partitionBy("doc_id", "eval_doc_id").orderBy("pos")
    islands = hits.withColumn("grp", F.col("pos") - F.row_number().over(w))
    spans = islands.groupBy("doc_id", "eval_doc_id", "grp").agg(
        F.min("pos").alias("start_tok"),
        (F.max("pos") + F.lit(_ES_K - 1)).alias("end_tok"),
    )
    length = F.col("end_tok") - F.col("start_tok") + 1
    wd = Window.partitionBy("doc_id", "eval_doc_id").orderBy("start_tok")
    return (
        spans.join(toked, "doc_id")
        .select(
            "doc_id",
            "eval_doc_id",
            F.row_number().over(wd).cast("int").alias("span_ord"),
            F.col("start_tok").cast("int").alias("start_tok"),
            length.cast("int").alias("n_tokens"),
            F.md5(
                F.concat_ws(" ", F.slice("t", F.col("start_tok"), length))
            ).alias("span_hash"),
        )
        .orderBy("doc_id", "eval_doc_id", "start_tok")
    )


def decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN-LEVEL eval decontamination (NEW round 15) — the Lee et al.
    2022 eval-overlap recipe composed from the ExactSubstr machinery:
    train-split documents sharing a maximal ≥ ``_ES_K``-token verbatim
    span with any val/test document, one manifest row per contaminated
    (train doc, eval doc, span) with the span's exact frame and text
    hash.  The PRECISION upgrade over ``decontaminate_split``'s
    df-capped shingle-ratio heuristic: that face flags documents by
    aggregate overlap; this one names the exact token spans per eval
    doc — what a surgical decontamination pass trims (feed the manifest
    to the ``dedup_exact_substr_apply`` trim) and what an eval-leakage
    report cites.

    Reference parity note: the reference repo has no decontamination
    surface; this extends SURVEY §2.8's L-inventory (the north-star
    training-data pipeline), reusing ``kgram_rows`` + gaps-and-islands
    (the 18th path's maintained leaf) so ingest-time state serves this
    face too."""
    docs = load_spread(spark, "documents", sf_dir, key="doc_id")
    return span_decon_manifest(
        materialized_kgram_index(spark, sf_dir), es_tokenized(docs)
    )


def decontaminate_spans_from_index(
    index: DataFrame, corpus: DataFrame
) -> DataFrame:
    """Serve the span-decontamination manifest from the EIGHTEENTH
    path's maintained k-gram index —
    ``decontaminate_spans_from_index(index, corpus) ≡
    decontaminate_spans`` (parity-tested): the corpus-wide
    tokenize+hash pass happened at ingest; serving re-tokenizes only
    span-bearing train docs."""
    return span_decon_manifest(index, es_tokenized(corpus))


def decontamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-EVAL-doc contamination readout (NEW round 15) — the summary
    an eval-set owner reads before trusting a benchmark number: how many
    train docs share a maximal ≥``_ES_K``-token verbatim span with this
    eval doc, the span count, the total and longest contaminated train
    token runs.  Pure composition of :func:`decontaminate_spans`'s
    manifest (shared definition — the report and the surgical trim
    worklist cannot disagree), so the maintained k-gram index serves it
    too.  Scale: one groupBy over the contamination-mass-bounded
    manifest."""
    spans = decontaminate_spans(spark, sf_dir)
    return (
        spans.groupBy("eval_doc_id")
        .agg(
            F.countDistinct("doc_id").alias("n_train_docs"),
            F.count(F.lit(1)).alias("n_spans"),
            F.sum("n_tokens").cast("long").alias("contaminated_tokens"),
            F.max("n_tokens").cast("int").alias("max_span_tokens"),
        )
        .orderBy("eval_doc_id")
    )


def decontaminate_spans_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the span-level decontamination trim (NEW round 15) — the
    surgical half of the eval-overlap recipe: every TRAIN-split token
    covered by a contaminated span against ANY eval doc is dropped, and
    the op emits per-train-doc accounting plus the md5 of the surviving
    text (byte-identical reconstruction, the
    ``dedup_exact_substr_apply`` proof shape).  Eval docs are never
    trimmed; uncontaminated train docs keep their full text.  The
    worklist is :func:`decontaminate_spans`' manifest and the trim is
    the shared :func:`apply_span_trim` core — manifest, report and trim
    cannot disagree about a span."""
    from .sampling import _split_of

    docs = load_spread(spark, "documents", sf_dir, key="doc_id")
    toked = es_tokenized(docs)
    spans = span_decon_manifest(materialized_kgram_index(spark, sf_dir), toked)
    train_toked = toked.filter(_split_of(F.col("doc_id")) == "train")
    return apply_span_trim(train_toked, spans)


def _decontaminate_spans_apply_sql() -> str:
    from .sampling import _split_case_sql

    inner = _decontaminate_spans_sql().replace(
        "ORDER BY doc_id, eval_doc_id, start_tok", ""
    )
    return f"""
WITH spans AS ({inner}),
d AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
  WHERE text IS NOT NULL AND {_split_case_sql("doc_id")} = 'train'
),
covered AS (
  SELECT DISTINCT doc_id, CAST(p AS BIGINT) AS pos
  FROM spans, unnest(range(start_tok, start_tok + n_tokens)) AS t(p)
),
ex AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos, toks[i] AS tok
  FROM d, unnest(range(1, len(toks) + 1)) AS t(i)
),
kept AS (
  SELECT e.doc_id, COUNT(*) AS n_kept,
         md5(string_agg(e.tok, ' ' ORDER BY e.pos)) AS kept_hash
  FROM ex e LEFT JOIN covered c ON c.doc_id = e.doc_id AND c.pos = e.pos
  WHERE c.pos IS NULL
  GROUP BY e.doc_id
)
SELECT d.doc_id,
       CAST(len(d.toks) AS BIGINT) AS n_tokens,
       CAST(len(d.toks) - COALESCE(k.n_kept, 0) AS BIGINT) AS n_dropped,
       COALESCE(k.kept_hash, md5('')) AS kept_hash
FROM d LEFT JOIN kept k USING (doc_id)
ORDER BY doc_id
"""


def _decontamination_report_sql() -> str:
    inner = _decontaminate_spans_sql().replace(
        "ORDER BY doc_id, eval_doc_id, start_tok", ""
    )
    return f"""
WITH spans AS ({inner})
SELECT eval_doc_id,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_train_docs,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(n_tokens) AS BIGINT) AS contaminated_tokens,
       CAST(MAX(n_tokens) AS INT) AS max_span_tokens
FROM spans GROUP BY eval_doc_id ORDER BY eval_doc_id
"""


def _decontaminate_spans_sql() -> str:
    from .sampling import _split_case_sql

    return f"""
WITH d AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents WHERE text IS NOT NULL
),
s AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(toks[i:i + {_ES_K - 1}], ' ')) AS h,
         {_split_case_sql("doc_id")} AS split
  FROM d, unnest(range(1, len(toks) - {_ES_K} + 2)) AS t(i)
  WHERE len(toks) >= {_ES_K}
),
tr AS (SELECT doc_id, pos, h FROM s WHERE split = 'train'),
ev AS (SELECT DISTINCT doc_id AS eval_doc_id, h FROM s WHERE split <> 'train'),
m AS (
  SELECT DISTINCT tr.doc_id, ev.eval_doc_id, tr.pos
  FROM tr JOIN ev USING (h)
),
g AS (
  SELECT doc_id, eval_doc_id, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id, eval_doc_id
                                  ORDER BY pos) AS grp
  FROM m
),
sp AS (
  SELECT doc_id, eval_doc_id,
         MIN(pos) AS start_tok, MAX(pos) + {_ES_K - 1} AS end_tok
  FROM g GROUP BY doc_id, eval_doc_id, grp
)
SELECT sp.doc_id, sp.eval_doc_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY sp.doc_id, sp.eval_doc_id
                               ORDER BY sp.start_tok) AS INT) AS span_ord,
       CAST(sp.start_tok AS INT) AS start_tok,
       CAST(sp.end_tok - sp.start_tok + 1 AS INT) AS n_tokens,
       md5(array_to_string(d.toks[sp.start_tok:sp.end_tok], ' '))
         AS span_hash
FROM sp JOIN d USING (doc_id)
ORDER BY doc_id, eval_doc_id, start_tok
"""


DEDUP_EXACT_SUBSTR_SQL = f"""
WITH d AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents WHERE text IS NOT NULL
),
s AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(toks[i:i + {_ES_K - 1}], ' ')) AS h
  FROM d, unnest(range(1, len(toks) - {_ES_K} + 2)) AS t(i)
  WHERE len(toks) >= {_ES_K}
),
shared AS (SELECT h FROM s GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
m AS (SELECT s.doc_id, s.pos FROM s JOIN shared USING (h)),
g AS (
  SELECT doc_id, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM m
),
sp AS (
  SELECT doc_id, MIN(pos) AS start_tok, MAX(pos) + {_ES_K - 1} AS end_tok
  FROM g GROUP BY doc_id, grp
)
SELECT sp.doc_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY sp.doc_id
                               ORDER BY sp.start_tok) AS INT) AS span_ord,
       CAST(sp.start_tok AS INT) AS start_tok,
       CAST(sp.end_tok - sp.start_tok + 1 AS INT) AS n_tokens,
       md5(array_to_string(d.toks[sp.start_tok:sp.end_tok], ' '))
         AS span_hash
FROM sp JOIN d USING (doc_id)
ORDER BY doc_id, start_tok
"""


def dedup_exact_substr_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the ExactSubstr trim worklist (NEW round 14) — the
    remove-the-spans half of Lee et al.'s recipe, consuming
    :func:`dedup_exact_substr`'s manifest: every token covered by a
    reported span is dropped from its document, and the op emits the
    per-document accounting plus the md5 of the surviving text (the
    ``dedup_span_exact`` proof shape: the hash shows both engines
    reconstruct the trimmed document byte-identically).  Documents with
    no repeated spans keep their full text.

    Scale shape: the manifest is bounded by duplicate mass; covered
    positions explode from spans (Σ span lengths rows, not corpus
    tokens); the trim is one doc_id-keyed left join + an ordered
    re-aggregation per document — the dedup_span_exact plan at the
    maximal-span grain."""
    docs = load_spread(spark, "documents", sf_dir, key="doc_id")
    toked = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", tokens("text").alias("t")
    )
    return apply_span_trim(toked, dedup_exact_substr(spark, sf_dir))


def apply_span_trim(toked: DataFrame, spans: DataFrame) -> DataFrame:
    """Execute a span trim worklist over a tokenized frame — the shared
    core of ``dedup_exact_substr_apply`` and
    ``decontaminate_spans_apply``: every token of ``toked`` covered by
    any (doc_id, start_tok, n_tokens) span is dropped; emits per-doc
    (n_tokens, n_dropped, md5 of the surviving text).  Covered
    positions explode from spans (Σ span lengths rows, not corpus
    tokens); the trim is one doc_id-keyed anti join + an ordered
    re-aggregation per document."""
    covered = spans.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.col("start_tok"),
                F.col("start_tok") + F.col("n_tokens") - 1,
            )
        ).alias("pos"),
    ).distinct()
    ex = toked.select(
        "doc_id", F.posexplode("t").alias("p0", "tok")
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "tok")
    marked = ex.join(covered, ["doc_id", "pos"], "left_anti")
    kept = marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "tok"))
                    ),
                    lambda s: s["tok"],
                ),
                " ",
            ).cast("binary")
        ).alias("kept_hash"),
    )
    n_tok = toked.select("doc_id", F.size("t").alias("n_tokens"))
    return (
        n_tok.join(kept, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            (
                F.col("n_tokens") - F.coalesce("n_kept", F.lit(0))
            ).cast("long").alias("n_dropped"),
            F.coalesce(
                "kept_hash", F.md5(F.lit("").cast("binary"))
            ).alias("kept_hash"),
        )
        .orderBy("doc_id")
    )


DEDUP_EXACT_SUBSTR_APPLY_SQL = f"""
WITH spans AS ({DEDUP_EXACT_SUBSTR_SQL.replace("ORDER BY doc_id, start_tok", "")}),
d AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents WHERE text IS NOT NULL
),
covered AS (
  SELECT DISTINCT doc_id, CAST(p AS BIGINT) AS pos
  FROM spans,
       unnest(range(start_tok, start_tok + n_tokens)) AS t(p)
),
ex AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos, toks[i] AS tok
  FROM d, unnest(range(1, len(toks) + 1)) AS t(i)
),
kept AS (
  SELECT e.doc_id,
         COUNT(*) AS n_kept,
         md5(string_agg(e.tok, ' ' ORDER BY e.pos)) AS kept_hash
  FROM ex e LEFT JOIN covered c
    ON c.doc_id = e.doc_id AND c.pos = e.pos
  WHERE c.pos IS NULL
  GROUP BY e.doc_id
)
SELECT d.doc_id,
       CAST(len(d.toks) AS BIGINT) AS n_tokens,
       CAST(len(d.toks) - COALESCE(k.n_kept, 0) AS BIGINT) AS n_dropped,
       COALESCE(k.kept_hash, md5('')) AS kept_hash
FROM d LEFT JOIN kept k USING (doc_id)
ORDER BY doc_id
"""


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023 shape): k-means-cluster the embedding
    space with the IVF coarse quantizer, then within each cluster drop
    every vector that has a same-cluster neighbor with cosine ≥ _SEM_TAU
    and a smaller vec_id (keep-lowest-id). Returns the surviving vectors
    with their cluster.

    Scale shape: pair work is blocked by cluster (≈√N members per cell vs
    corpus-wide all-pairs); the quantizer is the only driver-side state;
    the assigned corpus is the session's pinned IVF index, written out
    partitioned by cell once, and within-cell pairs stay executor-local.

    Oracle-GREEN since round 9 (was rows-only): the blocking cells are the
    members of the pinned IVF index (``similarity._pinned_ivf``: raw
    md5-Forgy seeds, √N cells, fold-exact assignment — SemDeDup's
    blocking is approximate by construction, so the unrefined pinned
    cells are as valid a partition as learned ones), shared with
    ann_ivf_index, ann_recall_eval and the purity audits through one
    session memo; the twin's ``assign`` is ANN_IVF_INDEX_SQL's. The drop
    test compares the ROUNDED cosine (6 decimals, the knn idiom) so a
    last-ulp difference cannot flip a drop at the τ boundary. Precision —
    every drop justified by a recomputed ≥τ neighbor — and determinism
    stay asserted in tests/test_extensions.py."""
    from .similarity import _pinned_ivf

    # the index holds no NULL embedding (IvfIndex._encode drops them)
    assigned = _pinned_ivf(spark, sf_dir)[1]
    if assigned is None:
        return spark.createDataFrame([], "vec_id long, cell int")
    a, b = assigned.alias("a"), assigned.alias("b")
    drops = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("b.vec_id") < F.col("a.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.round(
                dot("a.embedding", "b.embedding")
                / (F.col("a.nrm") * F.col("b.nrm")),
                6,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= _SEM_TAU)
        .select("vec_id")
        .distinct()
    )
    return (
        assigned.join(drops, "vec_id", "left_anti")
        .select("vec_id", "cell")
        .orderBy("vec_id")
    )


_SEM_TAU = 0.35


def _dedup_semantic_sql() -> str:
    """SQL twin of the pinned SemDeDup path: the ANN_IVF_INDEX seed/assign
    CTEs (md5-Forgy √N cells, fold-score rank-1) feeding the within-cell
    keep-lowest-id drop rule on the 6-rounded cosine. ``assign`` is
    MATERIALIZED — it is referenced three times and DuckDB would otherwise
    inline (and re-evaluate) the quantizer chain per reference."""
    from .similarity import _IVF_MAX_CELLS

    return f"""
WITH kk AS (
  SELECT GREATEST(4, LEAST({_IVF_MAX_CELLS},
         CAST(FLOOR(SQRT(COUNT(*))) AS INT))) AS k
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
),
assign AS MATERIALIZED (
  SELECT vec_id, v, cell FROM (
    SELECT ev.vec_id, ev.v, c.cell,
           ROW_NUMBER() OVER (PARTITION BY ev.vec_id
             ORDER BY (list_inner_product(ev.v, c.c)
                       - list_inner_product(c.c, c.c) / 2.0) DESC,
                      c.cell ASC) AS rn
    FROM ev, c0 c
  ) WHERE rn = 1
),
drops AS (
  SELECT DISTINCT a.vec_id
  FROM assign a JOIN assign b
    ON b.cell = a.cell AND b.vec_id < a.vec_id
  WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= {_SEM_TAU!r}
)
SELECT a.vec_id, CAST(a.cell AS INT) AS cell
FROM assign a
WHERE NOT EXISTS (SELECT 1 FROM drops d WHERE d.vec_id = a.vec_id)
ORDER BY a.vec_id
"""


QUERIES = {
    "dedup_prefix_jaccard": dedup_prefix_jaccard,
    "dedup_exact": dedup_exact,
    "dedup_exact_substr": dedup_exact_substr,
    "dedup_exact_substr_apply": dedup_exact_substr_apply,
    "decontaminate_spans": decontaminate_spans,
    "decontamination_report": decontamination_report,
    "decontaminate_spans_apply": decontaminate_spans_apply,
    "dedup_clusters_lsh": dedup_clusters_lsh,
    "dedup_span_exact": dedup_span_exact,
    "dedup_semantic": dedup_semantic,
    "dedup_fingerprint": dedup_fingerprint,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_containment": dedup_containment,
    "dedup_clusters": dedup_clusters,
    "dedup_apply": dedup_apply,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_cluster_size_histogram": dedup_cluster_size_histogram,
    "dedup_lsh_recall_eval": dedup_lsh_recall_eval,
    "dedup_representative_pick": dedup_representative_pick,
}

ORACLES = {
    # round 13: AllPairs/PPJoin prefix-filtered exact theta-join
    "dedup_prefix_jaccard": DEDUP_PREFIX_JACCARD_SQL,
    "dedup_exact": DEDUP_EXACT_SQL,
    # round 14: ExactSubstr maximal repeated-span manifest (Lee et al.
    # 2022) — sliding k-gram postings + gaps-and-islands coalescing
    "dedup_exact_substr": DEDUP_EXACT_SUBSTR_SQL,
    "dedup_exact_substr_apply": DEDUP_EXACT_SUBSTR_APPLY_SQL,
    # round 15: span-level eval decontamination (Lee et al. eval-overlap
    # composed from the ExactSubstr k-gram machinery + the shared split)
    # + the per-eval-doc contamination report over the same manifest
    "decontaminate_spans": _decontaminate_spans_sql(),
    "decontamination_report": _decontamination_report_sql(),
    "decontaminate_spans_apply": _decontaminate_spans_apply_sql(),
    # round 14: signature-agreement cluster batch face (the twin of the
    # SEVENTEENTH incremental path's maintained merge log)
    "dedup_clusters_lsh": DEDUP_CLUSTERS_LSH_SQL,
    "dedup_span_exact": DEDUP_SPAN_SQL,
    # round 9: dedup_semantic upgraded rows-only → value-exact (blocking
    # cells = the pinned IVF index's assign + 6-rounded cosine drop test);
    # precision + determinism stay asserted in tests/test_extensions.py
    "dedup_semantic": _dedup_semantic_sql(),
    "dedup_fingerprint": DEDUP_FINGERPRINT_SQL,
    "dedup_simhash": DEDUP_SIMHASH_SQL,
    "dedup_ngram_jaccard": DEDUP_NGRAM_JACCARD_SQL,
    # round 14: asymmetric containment (quote-inclusion triage)
    "dedup_containment": DEDUP_CONTAINMENT_SQL,
    "dedup_clusters": DEDUP_CLUSTERS_SQL,
    "dedup_apply": DEDUP_APPLY_SQL,
    "dedup_embedding_cosine": DEDUP_EMBEDDING_SQL,
    "dedup_minhash_lsh": DEDUP_MINHASH_SQL,
    # round 10: quality-based representative pick (shared CC + classifier)
    "dedup_representative_pick": _dedup_rep_pick_sql(),
    # round 11: duplication-profile histogram (shared CC CTEs)
    "dedup_cluster_size_histogram": _dedup_cluster_hist_sql(),
    # round 11: LSH banding recall/precision vs the exact Jaccard truth set
    "dedup_lsh_recall_eval": DEDUP_LSH_RECALL_SQL,
}
