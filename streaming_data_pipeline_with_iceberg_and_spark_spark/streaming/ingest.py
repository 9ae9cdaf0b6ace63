"""Reference-parity ETL: NDJSON → enrichment → snapshot table.

The reference's whole pipeline (spark_job.py:78-123 + the ``while True`` loop
:172-188) collapses into one Structured Streaming query:

    poll SQS / sleep(10)      → trigger(processingTime='10 seconds')
    get_messages(10)          → maxFilesPerTrigger=10
    spark.read.json(files)    → readStream file source
    SQL enrichment :156-164   → enrich() below (same three derived columns)
    saveAsTable append :59-64 → foreachBatch → SnapshotTable.append_batch
    poller.commit() :185      → checkpointLocation + the batch key on the
                                snapshot commit (exactly-once upgrade: the
                                reference can duplicate a batch if it
                                crashes between write :61 and commit :185)

Every path below supplies only its batch body; :func:`_start` owns that loop
(the writer, the batch key and the replay guard) once for all of them.

``enrich`` is also usable on bounded DataFrames — batch and streaming share
the same transformation, which is the point of the DataFrame API.
"""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..sources.ndjson import read_batch, read_stream
from ..sources.snapshots import (
    MultiTableTransaction,
    SnapshotTable,
    max_batch_seen,
    recover_transactions,
    transaction_batch_seen,
)


def enrich(df: DataFrame) -> DataFrame:
    """The reference's enrichment projection (spark_job.py:156-164):
    SELECT *, input_file, processed_time, processed_date.

    In streaming, ``input_file_name()`` is unreliable; ``_metadata.file_path``
    is the supported column — used when available, else fallback."""
    if "_metadata" in df.columns or df.isStreaming:
        input_file = F.col("_metadata.file_path")
    else:
        input_file = F.input_file_name()
    return df.select(
        "*",
        input_file.alias("input_file"),
        F.current_timestamp().alias("processed_time"),
        F.date_format(F.current_timestamp(), "yyyy-MM-dd").alias("processed_date"),
    )


def with_event_time(df: DataFrame, col: str = "timestamp") -> DataFrame:
    """Parse the producer's string timestamp (gps-tracking-simulation.py:58)
    into a real event-time column — the fix the reference never applies
    (SURVEY.md §1.2)."""
    return df.withColumn("event_ts", F.to_timestamp(col, "yyyy-MM-dd HH:mm:ss"))


def _start(stream, checkpoint_dir, commit, tables=(), txn_dir=None) -> StreamingQuery:
    """The one stream protocol every ingest path runs: drain ``stream`` in
    ``availableNow`` micro-batches under ``checkpoint_dir`` and hand each
    batch to ``commit(batch_df, key)``.

    ``key`` is ``"<query id>#<n>"``: the query id is the one Spark stores in
    ``<checkpoint_dir>/metadata`` and keeps across restarts, so a restart
    re-derives the keys of the batches it replays, while a stream with a
    different checkpoint writing the same table never collides with them
    (a bare batch number would make its first batches look like replays).

    Replay guard: the first batch completes any crashed transaction under
    ``txn_dir`` and reads the highest key of this query stamped on
    ``tables``; after that a batch at or below that watermark is skipped
    whole and each commit advances it, so the per-batch check is a
    driver-memory compare, not a commit-log parse. Paths with no
    ``tables`` rely on their sink's own idempotence (``append_batch`` skips
    a logged key; the upsert's merge re-applies the same rows)."""
    spark = stream.sparkSession
    guard = {}

    def run(batch_df: DataFrame, batch_id: int) -> None:
        if not guard:
            with open(os.path.join(checkpoint_dir, "metadata")) as f:
                prefix = json.load(f)["id"] + "#"
            if txn_dir is not None:
                recover_transactions(spark, txn_dir)
            guard.update(prefix=prefix, max_seen=max_batch_seen(tables, prefix))
        if batch_id <= guard["max_seen"]:
            return
        commit(batch_df, f"{guard['prefix']}{batch_id}")
        guard["max_seen"] = batch_id

    return (
        stream.writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_cells_ingest(
    spark: SparkSession,
    source_dir: str,
    root: str,
    checkpoint_dir: str,
    partial,
    schema,
    max_files_per_trigger: int = 10,
) -> StreamingQuery:
    """Maintain a partials table at ingest: each micro-batch appends
    ``partial(batch_df)`` under its batch key, and a replayed batch is
    skipped by ``append_batch``. ``partial`` is the operator's own leaf
    pass (``hourly_counts``, ``corpus_cells``, ``lineitem_pricing_cells``,
    …), so the served face over the table equals the batch operator over
    everything ingested; :func:`compact` folds the per-batch partials
    with the operator's merge twin between drains."""
    t = SnapshotTable(spark, root)
    stream = read_stream(
        spark, source_dir, schema=schema, max_files_per_trigger=max_files_per_trigger
    )

    def cells_batch(batch_df: DataFrame, key: str) -> None:
        t.append_batch(partial(batch_df), key)

    return _start(stream, checkpoint_dir, cells_batch)


# Source schemas of the cells streams over TPC-H-shaped rows: the
# interleaved lineitem/order envelope (``recon_partials``), orders
# (``benford_digit_cells``) and embeddings (``code_index_rows``).
RECON_ENVELOPE_SCHEMA = (
    "kind string, l_orderkey long, l_extendedprice double,"
    " l_discount double, l_tax double, o_orderkey long, o_totalprice double"
)
ORDERS_ENVELOPE_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string,"
    " o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)
EMBEDDING_ENVELOPE_SCHEMA = "vec_id long, embedding array<float>"


def compact(spark: SparkSession, root: str, merge=None) -> None:
    """Rewrite a maintained table as ``merge(rows)`` (or as its rows, which
    only collapses the per-batch files) — a semantic no-op for readers.
    The overwrite appends a commit and keeps the log, so the stream's
    batch keys survive and replay protection is unaffected."""
    t = SnapshotTable(spark, root)
    rows = t.read()
    t.overwrite(merge(rows) if merge is not None else rows)


def start_upsert_ingest(
    spark: SparkSession,
    source_dir: str,
    table_root: str,
    checkpoint_dir: str,
    key: str = "vehicle_id",
    max_files_per_trigger: int = 10,
) -> StreamingQuery:
    """Streaming upsert: each micro-batch MERGEs into a snapshot table
    instead of appending — the CDC/latest-state pattern (one row per
    vehicle, newest reading wins). Composition of the reference's ingest
    loop with its declared-but-unused CoW merge mode (spark_job.py:50-52).

    Within a batch, the newest row per key is picked by event time before the
    merge (a MERGE source must have unique keys); across batches
    ``SnapshotTable.merge`` rewrites only the files whose key range overlaps
    the batch, and a replayed batch re-merges the same rows, so the query is
    exactly-once end-to-end even under restart. A batch with no rows commits
    nothing."""
    snap = SnapshotTable(spark, table_root)
    stream = read_stream(
        spark, source_dir, max_files_per_trigger=max_files_per_trigger
    )
    parsed = with_event_time(stream)

    def upsert_batch(batch_df: DataFrame, batch_key: str) -> None:
        if batch_df.isEmpty():
            return
        latest = (
            batch_df.withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy(key).orderBy(
                        F.desc("event_ts"), F.desc("timestamp")
                    )
                ),
            )
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        if snap.current_version() is None:
            snap.append(latest)
        else:
            snap.merge(latest, key)

    return _start(parsed, checkpoint_dir, upsert_batch)


def start_snapshot_ingest(
    spark: SparkSession,
    source_dir: str,
    table_root: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 10,
    compact_every: int | None = None,
) -> StreamingQuery:
    """The reference's core loop, snapshot-complete: streaming NDJSON ingest
    where every micro-batch commits one SNAPSHOT of a versioned table
    (``sources.snapshots.SnapshotTable``) — the closest in-sandbox
    re-expression of its Iceberg commit-per-poll design (spark_job.py:
    172-188: poll → read → enrich → Iceberg snapshot commit). Beyond the
    reference: the commit is idempotent under foreachBatch replay (batch_id
    in the commit log), every historical version stays time-travelable, and
    ``compact_every`` folds small-file compaction into the stream — one
    compaction commit every N batches, the maintenance Iceberg runs as
    ``rewrite_data_files``."""
    snap = SnapshotTable(spark, table_root)
    stream = read_stream(
        spark, source_dir, max_files_per_trigger=max_files_per_trigger
    )
    enriched = enrich(stream.withColumn("_metadata", F.col("_metadata")))

    # cadence counts committed BATCHES, not table versions — compaction
    # commits (and any other maintenance) consume versions of their own,
    # which would drift "every N batches" into "every N-1" after the first
    n_committed = {"n": 0}

    def commit_batch(batch_df: DataFrame, key: str) -> None:
        v = snap.append_batch(batch_df.drop("_metadata"), key)
        if v is None:
            return  # replay
        n_committed["n"] += 1
        if compact_every and n_committed["n"] % compact_every == 0:
            snap.compact()

    return _start(enriched, checkpoint_dir, commit_batch)


def start_transactional_fanout_ingest(
    spark: SparkSession,
    source_dir: str,
    facts_root: str,
    rollup_root: str,
    txn_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 10,
) -> StreamingQuery:
    """Streaming fan-out with MULTI-TABLE atomicity: each micro-batch
    appends the raw facts AND refreshes the per-minute per-vehicle rollup
    as one transaction — a reader can never see the facts without the
    matching rollup (or vice versa). This closes the last consistency gap
    in the reference's loop: it writes one table then commits its queue
    cursor (spark_job.py:61 vs :185); a second derived table would widen
    that window, and only a catalog-level transaction closes it.

    Exactly-once under foreachBatch replay: both tables commit under the
    batch key, guarded by :func:`_start`'s watermark, so steady-state
    overhead does not grow with history. Per-batch work
    scales with the BATCH: the rollup fold re-aggregates rollup+partial,
    bounded by group cardinality, never by total facts."""
    facts = SnapshotTable(spark, facts_root)
    rollup = SnapshotTable(spark, rollup_root)
    stream = read_stream(
        spark, source_dir, max_files_per_trigger=max_files_per_trigger
    )
    parsed = with_event_time(stream)

    def fanout_batch(batch_df: DataFrame, key: str) -> None:
        partial = (
            batch_df.withColumn("bucket_start", F.date_trunc("minute", "event_ts"))
            .groupBy("bucket_start", "vehicle_id")
            .agg(F.count("*").alias("n"), F.sum("speed_kmh").alias("speed_sum"))
        )
        if rollup.current_version() is not None:
            folded = (
                rollup.read()
                .unionByName(partial)
                .groupBy("bucket_start", "vehicle_id")
                .agg(F.sum("n").alias("n"), F.sum("speed_sum").alias("speed_sum"))
            )
        else:
            folded = partial
        txn = MultiTableTransaction([facts, rollup], txn_dir)
        txn.stage_append(facts, batch_df, batch_id=key)
        txn.stage_overwrite(rollup, folded, batch_id=key)
        txn.commit()

    return _start(parsed, checkpoint_dir, fanout_batch, [facts, rollup], txn_dir)


def start_incremental_dedup_ingest(
    spark: SparkSession,
    source_dir: str,
    corpus_root: str,
    seen_root: str,
    txn_dir: str,
    fingerprint_cols: list[str],
    checkpoint_dir: str,
    max_files_per_trigger: int = 10,
) -> StreamingQuery:
    """Incremental dedup at ingest: each micro-batch keeps only rows whose
    content fingerprint has never been seen — within the batch OR in any
    previous batch — and commits the novel rows plus their fingerprints
    atomically. This is how dedup actually runs on a growing 100 TB corpus:
    the alternative (re-running `dedup_exact` over the whole table per
    ingest) re-shuffles the entire corpus every batch; here per-batch cost
    is one anti-join of the BATCH against the fingerprint table.

    The fingerprint is 128 bits (two independently-seeded xxhash64 halves):
    a single 64-bit hash collides with ~50% probability near 5 billion
    unique rows — exactly the target scale — and a collision would silently
    drop a distinct row forever; at 128 bits the probability is ~2⁻⁶⁴ even
    at a trillion rows. (A strictly-exact variant would verify on the
    columns themselves at the cost of storing them in the seen table.)

    Scale shape: the fingerprint table holds 16 bytes per unique row ever
    ingested — a small fraction of corpus bytes; the anti-join shuffles the
    batch (small) against it, and at real scale the fingerprint table
    would be bucketed on the fingerprint so the join co-locates without
    re-shuffling the seen side. Atomicity matters here: committing the
    corpus but not the fingerprints would let a replay re-admit
    duplicates; the multi-table transaction makes corpus+fingerprints one
    commit, and the batch key (:func:`_start`'s replay guard) makes
    replays skips."""
    corpus = SnapshotTable(spark, corpus_root)
    seen = SnapshotTable(spark, seen_root)
    stream = read_stream(
        spark, source_dir, max_files_per_trigger=max_files_per_trigger
    )

    def dedup_batch(batch_df: DataFrame, key: str) -> None:
        batch_fp = batch_df.withColumn(
            "fp_hi", F.xxhash64(*fingerprint_cols)
        ).withColumn(
            "fp_lo", F.xxhash64(F.lit(1), *fingerprint_cols)
        ).dropDuplicates(["fp_hi", "fp_lo"])
        if seen.current_version() is not None:
            novel = batch_fp.join(seen.read(), ["fp_hi", "fp_lo"], "left_anti")
        else:
            novel = batch_fp
        # both staged writes derive from novel — persist so the source scan,
        # hashing, and the anti-join run once, not once per staged table
        novel = novel.persist()
        try:
            txn = MultiTableTransaction([corpus, seen], txn_dir)
            txn.stage_append(corpus, novel.drop("fp_hi", "fp_lo"), batch_id=key)
            txn.stage_append(seen, novel.select("fp_hi", "fp_lo"), batch_id=key)
            txn.commit()
        finally:
            novel.unpersist()

    return _start(stream, checkpoint_dir, dedup_batch, [corpus, seen], txn_dir)


def start_incremental_neardup_ingest(
    spark: SparkSession,
    source_dir: str,
    corpus_root: str,
    seen_root: str,
    txn_dir: str,
    schema,
    checkpoint_dir: str,
    max_files_per_trigger: int = 10,
) -> StreamingQuery:
    """Incremental NEAR-dup (MinHash) dedup at ingest — the fuzzy twin of
    :func:`start_incremental_dedup_ingest`. Each micro-batch admits only
    ``doc_id``/``text`` documents that are not near-duplicates (estimated
    Jaccard ≥ 0.7) of any document in the batch or any previously admitted
    document, then commits the admitted rows plus their LSH bucket entries
    atomically. On a growing 100 TB corpus this replaces re-running the
    full-batch MinHash job per ingest (which re-shuffles the whole corpus)
    with per-batch cost: one map-side signature pass over the BATCH, a
    batch-sized self-join, and one join of batch×8 band rows against the
    bucket table.

    The seen table stores (band_idx, band_sig, seen_sig): 8 rows and one
    32-long signature per admitted doc — metadata-scale relative to corpus
    bytes. A new doc whose band signature collides with a stored bucket is
    only dropped if full-signature agreement clears the threshold (band
    collision alone is an LSH candidate, not a verdict). At real scale the
    seen table would be bucketed on (band_idx, band_sig) so the probe join
    co-locates without re-shuffling the seen side.

    Within-batch semantics are greedy min-id-survivor: a doc is dropped if
    it near-matches a smaller id in the same batch (transitive chains keep
    the chain minimum, like batch `dedup_apply`). Docs with NULL text
    tokenize to nothing, carry no signature, and are admitted as-is —
    exact-dedup them upstream with :func:`start_incremental_dedup_ingest`
    if needed (short non-null docs shingle down to a single word n-gram,
    so two one-word docs with the same word ARE near-dups).

    Exactly-once: same protocol as the exact path — multi-table transaction
    over (corpus, seen), namespaced batch keys, transaction recovery at
    stream start."""
    from ..operators.dedup import _MH_BANDS, _MH_PERMS, minhash_sig_bands

    corpus = SnapshotTable(spark, corpus_root)
    seen = SnapshotTable(spark, seen_root)
    stream = read_stream(
        spark, source_dir, schema=schema, max_files_per_trigger=max_files_per_trigger
    )
    id_col, text_col = "doc_id", "text"
    n_agree_min = math.ceil(0.7 * _MH_PERMS)
    band_arr = F.array(*[F.col(f"band{b}") for b in range(_MH_BANDS)])

    def agree(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, z: F.when(x == z, 1).otherwise(0)),
            F.lit(0),
            lambda acc, x: acc + x,
        )

    def neardup_batch(batch_df: DataFrame, key: str) -> None:
        sigs = minhash_sig_bands(batch_df, text_col).persist()
        try:
            # Broadcast hints below mark the frames bounded by the trigger
            # cap (maxFilesPerTrigger), NOT by corpus size — batch ids, the
            # within-batch dup set, the batch band frame, the batch hit set.
            # AQE does convert these joins at runtime (probe recorded in
            # COVERAGE.md), but conversion happens only after the non-batch
            # side's shuffle map stage has already been written; the explicit
            # hint skips shuffling the corpus-scale seen table entirely.
            no_sig = batch_df.join(
                F.broadcast(sigs.select(id_col)), id_col, "left_anti"
            )
            expl = sigs.select(
                id_col,
                "sig",
                F.posexplode(band_arr).alias("band_idx", "band_sig"),
            )
            # within-batch: drop any doc near-matching a SMALLER id
            a, b = expl.alias("a"), expl.alias("b")
            dup_in_batch = (
                a.join(
                    b,
                    (F.col("a.band_idx") == F.col("b.band_idx"))
                    & (F.col("a.band_sig") == F.col("b.band_sig"))
                    & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
                )
                .filter(agree(F.col("a.sig"), F.col("b.sig")) >= n_agree_min)
                .select(F.col(f"b.{id_col}").alias(id_col))
                .distinct()
            )
            survivors = sigs.join(F.broadcast(dup_in_batch), id_col, "left_anti")
            # vs every previously admitted doc, via the bucket table
            if seen.current_version() is not None:
                seen_df = seen.read()
                # Loud migration guard: if the persisted bucket table was
                # written under a different signature scheme (e.g. the
                # round-6 xxhash64→md5 change moved band_sig long→string),
                # the equi-join below would silently type-coerce to NULL and
                # re-admit every historical near-duplicate. Type drift here
                # is an operator error that needs a rebuild, not a cast.
                expl_t = dict(expl.dtypes)
                expected = {
                    "band_idx": expl_t["band_idx"],
                    "band_sig": expl_t["band_sig"],
                    # seen_sig must match the BATCH signatures: a silent
                    # element-type or length drift would make agree() never
                    # reach threshold
                    "seen_sig": expl_t["sig"],
                }
                seen_t = dict(seen_df.dtypes)
                drift = {
                    c: (seen_t.get(c), want)
                    for c, want in expected.items()
                    if seen_t.get(c) != want
                }
                if drift:
                    raise RuntimeError(
                        f"seen table at {seen_root} column types {drift} "
                        "(stored, expected) do not match the current "
                        "MinHash pipeline: the signature scheme changed; "
                        "rebuild the seen table from the corpus before "
                        "resuming ingest"
                    )
                hits = (
                    F.broadcast(
                        survivors.select(
                            id_col,
                            "sig",
                            F.posexplode(band_arr).alias("band_idx", "band_sig"),
                        )
                    )
                    .join(seen_df, ["band_idx", "band_sig"])
                    .filter(agree(F.col("sig"), F.col("seen_sig")) >= n_agree_min)
                    .select(id_col)
                    .distinct()
                )
                survivors = survivors.join(F.broadcast(hits), id_col, "left_anti")
            survivors = survivors.persist()
            try:
                admitted = survivors.drop(
                    "sig", *[f"band{i}" for i in range(_MH_BANDS)]
                ).unionByName(no_sig)
                seen_rows = survivors.select(
                    F.posexplode(band_arr).alias("band_idx", "band_sig"),
                    F.col("sig").alias("seen_sig"),
                )
                txn = MultiTableTransaction([corpus, seen], txn_dir)
                txn.stage_append(corpus, admitted, batch_id=key)
                txn.stage_append(seen, seen_rows, batch_id=key)
                txn.commit()
            finally:
                survivors.unpersist()
        finally:
            sigs.unpersist()

    return _start(stream, checkpoint_dir, neardup_batch, [corpus, seen], txn_dir)


def start_incremental_pca_ingest(
    spark: SparkSession,
    source_dir: str,
    corpus_root: str,
    moments_root: str,
    txn_dir: str,
    schema,
    checkpoint_dir: str,
    max_files_per_trigger: int = 10,
) -> StreamingQuery:
    """EXACT streaming PCA: maintain the corpus's (n, Σx, XᵀX) moment vector
    incrementally at ingest. PCA's sufficient statistics are plain sums, so
    each micro-batch appends its own (pos, v) partial row-set — computed by
    the SAME GEMM pass batch PCA uses (operators/similarity.py
    pca_moment_partials) — and a fit finalized from the moments table at ANY
    point (similarity.pca_fit_from_moments) equals a full batch refit over
    everything ingested so far, without ever rescanning the corpus. At
    100 TB this turns "refresh the PCA/whitening transform" from a
    full-corpus job into a metadata read: the moments table holds
    (1+d+d²) rows per batch (~4 k rows for d=64) and finalize is one tiny
    hash agg + a d×d driver eig.

    Exactly-once: corpus rows and their moment partials commit in ONE
    multi-table transaction with namespaced batch keys (same protocol as
    the incremental dedup paths); a replayed batch is skipped whole, so the
    moments can never double-count a batch the corpus saw once.

    Rows with NULL embedding are admitted to the corpus but contribute no
    moments — identical to batch PCA's NULL filter."""
    from ..operators.similarity import pca_moment_partials

    corpus = SnapshotTable(spark, corpus_root)
    moments = SnapshotTable(spark, moments_root)
    stream = read_stream(
        spark, source_dir, schema=schema, max_files_per_trigger=max_files_per_trigger
    )

    def pca_batch(batch_df: DataFrame, key: str) -> None:
        # both the moment pass and the corpus append consume the batch —
        # persist so the source is materialized once, the same trick
        # dedup_batch uses for its staged writes (on the local NDJSON
        # micro-bench the gain is inside run noise — per-batch cost is
        # dominated by text parse + fixed job/txn overhead, profiled in
        # COVERAGE.md — but on a wide-row or remote source the second
        # uncached pass is the cost that matters)
        batch_df = batch_df.persist()
        partial = pca_moment_partials(batch_df).persist()
        try:
            # Loud dimension guard: partial sums only merge meaningfully
            # within ONE pos-space (1+d+d² entries). Mixed dims inside one
            # micro-batch (two sources in one trigger window) or drift vs
            # the table would silently corrupt every future fit — that is
            # an upstream schema error, not a cast.
            new_dims = sorted(
                r["d"] for r in partial.select("d").distinct().collect()
            )
            if len(new_dims) > 1:
                raise RuntimeError(
                    f"embedding dimension drift WITHIN one micro-batch: "
                    f"dims {new_dims}; fix the upstream schema"
                )
            if new_dims and moments.current_version() is not None:
                old_dims = sorted(
                    r["d"] for r in moments.read().select("d").distinct().collect()
                )
                if old_dims and old_dims != new_dims:
                    raise RuntimeError(
                        f"embedding dimension drift: moments table at "
                        f"{moments_root} holds dim {old_dims} but this "
                        f"batch produced dim {new_dims}; mixed-dimension "
                        "moments are meaningless — fix the upstream schema "
                        "or rebuild the moments table"
                    )
            txn = MultiTableTransaction([corpus, moments], txn_dir)
            txn.stage_append(corpus, batch_df, batch_id=key)
            txn.stage_append(moments, partial, batch_id=key)
            txn.commit()
        finally:
            partial.unpersist()
            batch_df.unpersist()

    return _start(stream, checkpoint_dir, pca_batch, [corpus, moments], txn_dir)


def start_incremental_bm25_ingest(
    spark: SparkSession,
    source_dir: str,
    corpus_root: str,
    postings_root: str,
    stats_root: str,
    txn_dir: str,
    schema,
    checkpoint_dir: str,
    max_files_per_trigger: int = 10,
) -> StreamingQuery:
    """EXACT incremental BM25 index maintenance: keep the (term, doc_id, tf,
    dl) postings table and the (n_docs, sum_dl) corpus-stats table current
    at ingest — the retrieval twin of :func:`start_incremental_pca_ingest`.
    Both tables are plain mergeable sums over disjoint documents, so
    ``operators.textops.bm25_rank_from_index`` over the maintained tables
    returns EXACTLY what a batch ``bm25_rank`` over the full ingested corpus
    would, without ever re-tokenizing old documents. At 100 TB this turns
    "serve BM25 over the live corpus" from a full-corpus tokenize+shuffle
    per query batch into a postings-table scan filtered to the query terms
    (the inverted-index property bm25_score_postings exploits); df and avgdl
    need no stored per-term state because df falls out of the postings
    themselves and avgdl finalizes from two integers.

    Exactly-once: corpus rows, their postings, and their stats partial
    commit in ONE multi-table transaction with namespaced batch keys (the
    incremental dedup/PCA protocol); a replayed batch is skipped whole, so
    the index can never double-count a batch the corpus saw once.

    NULL-text docs are admitted to the corpus but contribute no postings
    and no stats — identical to the batch path's guard. Re-ingesting the
    same ``doc_id`` in a LATER batch appends a second posting set for it
    (append semantics; dedup is the upstream dedup-ingest paths' job).
    """
    from ..operators.textops import bm25_doc_postings, bm25_stats_partial

    corpus = SnapshotTable(spark, corpus_root)
    postings = SnapshotTable(spark, postings_root)
    stats = SnapshotTable(spark, stats_root)
    stream = read_stream(
        spark, source_dir, schema=schema, max_files_per_trigger=max_files_per_trigger
    )

    def bm25_batch(batch_df: DataFrame, key: str) -> None:
        # three consumers of the batch (corpus append, postings agg, stats
        # agg) — persist so the source is materialized once
        batch_df = batch_df.persist()
        try:
            txn = MultiTableTransaction([corpus, postings, stats], txn_dir)
            txn.stage_append(corpus, batch_df, batch_id=key)
            txn.stage_append(
                postings, bm25_doc_postings(batch_df), batch_id=key
            )
            txn.stage_append(
                stats, bm25_stats_partial(batch_df), batch_id=key
            )
            txn.commit()
        finally:
            batch_df.unpersist()

    return _start(
        stream, checkpoint_dir, bm25_batch, [corpus, postings, stats], txn_dir
    )


def start_incremental_ann_ingest(
    spark: SparkSession,
    source_dir: str,
    index_root: str,
    schema,
    checkpoint_dir: str,
    max_files_per_trigger: int = 10,
) -> StreamingQuery:
    """Maintain a SERVING ANN index at ingest — the third incremental-index
    twin (dedup hashes, PCA moments, BM25 postings, now IVF cells): the
    first non-empty micro-batch bootstraps the quantizer (FAISS's
    train-on-first-chunk recipe, the engine's one k-means fit with the
    √N-cell rule), and every later batch is ENCODED with the stored
    centroids by the same fold-exact cell rule and appended — cost
    proportional to the batch, the index layout untouched, queries
    answerable at any point via ``IvfIndex.query`` with manifest-pruned
    probed-cell scans. Periodic
    quantizer refresh stays an explicit offline ``IvfIndex.build`` (the
    retrain cadence is an operator decision, not an ingest side effect).

    Exactly-once WITHOUT a multi-table transaction: the index is ONE table,
    so the snapshot layer's idempotent ``append_batch`` (commit keyed by
    the namespaced batch id, replays skipped whole) is the entire protocol;
    each commit restamps the centroid pointer so every version's props name
    the quantizer its rows were encoded with."""
    from ..operators.similarity import IvfIndex

    idx = IvfIndex(spark, index_root)
    stream = read_stream(
        spark, source_dir, schema=schema, max_files_per_trigger=max_files_per_trigger
    )

    def ann_batch(batch_df: DataFrame, key: str) -> None:
        has_quantizer = (
            idx.table.current_version() is not None
            and idx.table.snapshot_props().get("ivf_centroids") is not None
        )
        if has_quantizer:
            idx.append_batch(batch_df, key)
        else:
            idx.bootstrap_batch(batch_df, key)

    return _start(stream, checkpoint_dir, ann_batch, [idx.table])


def start_incremental_markov_ingest(
    spark: SparkSession,
    source_dir: str,
    counts_root: str,
    state_root: str,
    txn_dir: str,
    schema,
    checkpoint_dir: str,
    max_files_per_trigger: int = 10,
) -> StreamingQuery:
    """EXACT incremental Markov-transition maintenance: keep the
    (prev_type, next_type, n) transition-count table current at ingest —
    the STATEFUL member of the incremental family (dedup/PCA/BM25/IVF are
    stateless per batch; transitions cross micro-batch boundaries). Per
    batch: within-batch transitions from the usual lag window, PLUS one
    boundary transition per user joining the batch's first event against
    the per-user last-event STATE table; the state table then advances to
    each user's new last event. Counts are plain mergeable sums, so
    ``operators.analytics.markov_from_counts`` over the maintained table
    returns EXACTLY the batch ``markov_transitions`` over everything
    ingested (parity test in tests/test_streaming.py). At 100 TB this
    turns "refresh the behavior model" from a full-corpus window sort into
    per-batch work plus a user-keyed state join; the state table holds ONE
    row per active user.

    ORDER CONTRACT (checked loudly, the PCA dimension-drift discipline): a
    user's events in a later batch must be strictly later — by (ts,
    event_id) — than their events in earlier batches (the per-key-ordered
    delivery a keyed log gives). A violating batch raises rather than
    silently double-counting a boundary: exact incremental maintenance
    under arbitrary late data would require retracting already-counted
    transitions, which is a rebuild, not an append.

    Exactly-once: count partials and the state overwrite commit in ONE
    multi-table transaction with namespaced batch keys; replayed batches
    are skipped whole.
    """
    from ..operators.analytics import markov_transition_counts

    counts = SnapshotTable(spark, counts_root)
    last_state = SnapshotTable(spark, state_root)
    stream = read_stream(
        spark, source_dir, schema=schema, max_files_per_trigger=max_files_per_trigger
    )

    def markov_batch(batch_df: DataFrame, key: str) -> None:
        b = batch_df.filter(
            F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
        ).persist()
        try:
            w = Window.partitionBy("user_id").orderBy("ts", "event_id")
            ranked = b.select(
                "user_id",
                "ts",
                "event_id",
                "event_type",
                F.row_number().over(w).alias("__rn"),
                F.count("*").over(Window.partitionBy("user_id")).alias("__n"),
            ).persist()
            within = markov_transition_counts(b)
            prev = (
                last_state.read()
                if last_state.current_version() is not None
                else None
            )
            firsts = ranked.filter(F.col("__rn") == 1)
            if prev is not None:
                joined = firsts.join(
                    prev.select(
                        "user_id",
                        F.col("ts").alias("p_ts"),
                        F.col("event_id").alias("p_eid"),
                        F.col("event_type").alias("p_type"),
                    ),
                    "user_id",
                )
                # ORDER CONTRACT guard: the batch's first event per user
                # must be strictly after that user's stored last event
                n_bad = (
                    joined.filter(
                        (F.col("ts") < F.col("p_ts"))
                        | (
                            (F.col("ts") == F.col("p_ts"))
                            & (F.col("event_id") <= F.col("p_eid"))
                        )
                    )
                    .limit(1)
                    .count()
                )
                if n_bad:
                    raise RuntimeError(
                        "markov ingest order contract violated: a batch "
                        "delivered a user event at or before that user's "
                        "already-ingested last event; exact incremental "
                        "transition counts require per-user-ordered "
                        "delivery — route this source through a keyed, "
                        "ordered log or rebuild the counts table"
                    )
                boundary = joined.groupBy(
                    F.col("p_type").alias("prev_type"),
                    F.col("event_type").alias("next_type"),
                ).agg(F.count("*").alias("n"))
                partial = within.unionByName(boundary)
            else:
                partial = within
            lasts = ranked.filter(F.col("__rn") == F.col("__n")).select(
                "user_id", "ts", "event_id", "event_type"
            )
            if prev is not None:
                # users absent from this batch keep their stored last event
                carried = prev.join(
                    lasts.select("user_id"), "user_id", "left_anti"
                )
                new_state = carried.unionByName(lasts)
            else:
                new_state = lasts
            txn = MultiTableTransaction([counts, last_state], txn_dir)
            txn.stage_append(counts, partial, batch_id=key)
            txn.stage_overwrite(last_state, new_state, batch_id=key)
            txn.commit()
        finally:
            ranked.unpersist()
            b.unpersist()

    return _start(stream, checkpoint_dir, markov_batch, [counts, last_state], txn_dir)


def start_incremental_engagement_ingest(
    spark: SparkSession,
    source_dir: str,
    activity_root: str,
    schema,
    checkpoint_dir: str,
    max_files_per_trigger: int = 10,
) -> StreamingQuery:
    """EXACT incremental DAU/WAU/MAU maintenance: keep the DISTINCT
    (user_id, day) activity table current at ingest, so the engagement
    triple finalizes from a |users|×|active-days|-bounded table instead of
    re-scanning the raw event fact — at 100 TB the difference between a
    dashboard query and a full-corpus pass. Per batch: the batch's
    activity pairs (via ``operators.analytics.activity_pairs`` — the SAME
    definition the batch operator uses, so the two paths cannot diverge)
    anti-join the maintained table and only novel pairs append.

    DISTINCT pairs are an idempotent, order-independent merge — unlike the
    Markov path there is no cross-batch ordering contract, late or
    out-of-order events are handled exactly, and
    ``engagement_from_activity`` over the maintained table equals the
    batch ``events_dau_wau_mau`` over everything ingested (parity test in
    tests/test_streaming.py). One table, so exactly-once is the snapshot
    layer's idempotent ``append_batch`` (namespaced batch key, replays
    skipped whole — the incremental-ANN protocol); the anti-join
    additionally makes even a NON-replayed duplicate pair a no-op. At real
    scale the activity table would be bucketed on user_id so the per-batch
    anti-join co-locates without re-shuffling the maintained side."""
    from ..operators.analytics import activity_pairs

    activity = SnapshotTable(spark, activity_root)
    stream = read_stream(
        spark, source_dir, schema=schema, max_files_per_trigger=max_files_per_trigger
    )

    def engagement_batch(batch_df: DataFrame, key: str) -> None:
        pairs = activity_pairs(batch_df)
        if activity.current_version() is not None:
            pairs = pairs.join(activity.read(), ["user_id", "day"], "left_anti")
        activity.append_batch(pairs, key)

    return _start(stream, checkpoint_dir, engagement_batch)


def start_incremental_cooccurrence_ingest(
    spark: SparkSession,
    source_dir: str,
    items_root: str,
    delta_root: str,
    txn_dir: str,
    schema,
    checkpoint_dir: str,
    cap: int | None = None,
    max_files_per_trigger: int = 10,
) -> StreamingQuery:
    """EXACT incremental co-occurrence maintenance by DELTA-USER
    RECOMPUTE — the incremental-view-maintenance pattern for aggregates
    whose per-user contribution is NOT a per-row sum (a user's pair set
    changes non-monotonically when their basket grows or crosses the
    power-user cap). Per batch, only users with NOVEL (user, item) pairs
    are touched: subtract each touched user's OLD pair contribution
    (pairs of their pre-batch basket under the cap rule), add their NEW
    contribution (old ∪ novel, same rule), and append the compacted ±1
    rows to a (item_a, item_b, d) delta table.
    ``operators.analytics.cooccurrence_edges_from_index`` then equals the
    batch ``_basket_pairs`` over everything ingested (parity test in
    tests/test_streaming.py), with ONE shared pair definition
    (``basket_pair_rows``) so the two paths cannot diverge.

    Like the engagement path there is NO ordering contract: distinct item
    sets are order-free, so late and out-of-order events are exact by
    construction. Per-batch cost is bounded by the touched users' basket
    sizes (≤ cap each), never the corpus: at 100 TB this turns "refresh
    the taste graph" from a full-history pair regeneration into work
    proportional to the batch. The delta table grows by ≤ 2·C(cap,2)
    rows per touched user per batch; periodic compaction is an overwrite
    with the summed edges (min_count=1).

    Exactly-once: the novel-pair append and the delta append commit in
    ONE multi-table transaction with namespaced batch keys; replayed
    batches are skipped whole (the Markov/BM25 protocol)."""
    from ..operators.analytics import (
        _CO_USER_CAP,
        basket_pair_rows,
        baskets_from_items,
        user_item_pairs,
    )

    if cap is None:
        cap = _CO_USER_CAP
    items_t = SnapshotTable(spark, items_root)
    delta_t = SnapshotTable(spark, delta_root)
    stream = read_stream(
        spark, source_dir, schema=schema, max_files_per_trigger=max_files_per_trigger
    )

    def co_batch(batch_df: DataFrame, key: str) -> None:
        batch_pairs = user_item_pairs(batch_df)
        have = items_t.read() if items_t.current_version() is not None else None
        novel = (
            batch_pairs.join(have, ["user_id", "item"], "left_anti")
            if have is not None
            else batch_pairs
        ).persist()
        try:
            affected = novel.select("user_id").distinct()
            if have is not None:
                # pre-batch items of ONLY the touched users — the bounded
                # recompute set; broadcast the (trigger-cap-bounded)
                # affected-user list so the maintained side is not
                # re-shuffled (the neardup-ingest discipline)
                old_items = have.join(F.broadcast(affected), "user_id")
                old_pairs = basket_pair_rows(baskets_from_items(old_items, cap))
                new_items = old_items.unionByName(novel)
            else:
                old_pairs = None
                new_items = novel
            new_pairs = basket_pair_rows(baskets_from_items(new_items, cap))
            delta = new_pairs.select(
                "item_a", "item_b", F.lit(1).alias("d")
            )
            if old_pairs is not None:
                delta = delta.unionByName(
                    old_pairs.select("item_a", "item_b", F.lit(-1).alias("d"))
                )
            delta = (
                delta.groupBy("item_a", "item_b")
                .agg(F.sum("d").alias("d"))
                .filter(F.col("d") != 0)
            )
            txn = MultiTableTransaction([items_t, delta_t], txn_dir)
            txn.stage_append(items_t, novel, batch_id=key)
            txn.stage_append(delta_t, delta, batch_id=key)
            txn.commit()
        finally:
            novel.unpersist()

    return _start(stream, checkpoint_dir, co_batch, [items_t, delta_t], txn_dir)


def start_incremental_funnel_ingest(
    spark: SparkSession,
    source_dir: str,
    state_root: str,
    schema,
    checkpoint_dir: str,
    max_files_per_trigger: int = 10,
) -> StreamingQuery:
    """EXACT incremental funnel maintenance — the STATE-MACHINE member of
    the incremental family (sums: engagement/BM25/PCA; delta-recompute:
    co-occurrence; boundary-state: Markov; this one is a monotone
    per-user state machine). The maintained table holds one (user_id,
    t1, t2, t3, last_ts, last_eid) row: the first view, the first click
    strictly after it, and the first purchase strictly after THAT — the
    exact stage semantics of ``operators.analytics.funnel_conversion``.
    Because each t_k only ever transitions NULL→value and never moves
    once set (under ordered delivery, any later event is later than the
    set value, so "first after" can only be filled by the earliest
    qualifying event — which is exactly what the update takes),
    ``funnel_from_state`` / ``funnel_latency_from_state`` equal the batch
    operators over everything ingested (parity test in
    tests/test_streaming.py). At 100 TB this turns the funnel dashboard
    from a full-fact window scan into a |users|-bounded read.

    ORDER CONTRACT (the Markov discipline, checked loudly): a user's
    funnel events in a later batch must be strictly later — by (ts,
    event_id) — than that user's already-ingested funnel events. A
    violating batch raises: a late view could retroactively lower t1 and
    re-qualify clicks this state machine already passed over — that is a
    rebuild, not an append.

    Exactly-once: ONE state table, maintained by the idempotent
    ``overwrite(batch_id=...)`` protocol — replayed batches are skipped
    whole."""
    from ..operators.analytics import _FUNNEL

    state_t = SnapshotTable(spark, state_root)
    stream = read_stream(
        spark, source_dir, schema=schema, max_files_per_trigger=max_files_per_trigger
    )

    def funnel_batch(batch_df: DataFrame, key: str) -> None:
        b = batch_df.filter(
            F.col("user_id").isNotNull() & F.col("event_type").isin(_FUNNEL)
        )
        per_user = b.groupBy("user_id").agg(
            *[
                F.array_sort(
                    F.collect_list(F.when(F.col("event_type") == t, F.col("ts")))
                ).alias(f"ts_{t}")
                for t in _FUNNEL
            ],
            F.max(F.struct("ts", "event_id")).alias("_last"),
            F.min(F.struct("ts", "event_id")).alias("_first"),
        )
        prev = state_t.read() if state_t.current_version() is not None else None
        if prev is not None:
            joined = per_user.join(
                prev.select(
                    "user_id",
                    F.col("t1").alias("p_t1"),
                    F.col("t2").alias("p_t2"),
                    F.col("t3").alias("p_t3"),
                    F.struct(
                        F.col("last_ts").alias("ts"),
                        F.col("last_eid").alias("event_id"),
                    ).alias("p_last"),
                ),
                "user_id",
                "left",
            )
            n_bad = (
                joined.filter(
                    F.col("p_last").isNotNull()
                    & (F.col("_first") <= F.col("p_last"))
                )
                .limit(1)
                .count()
            )
            if n_bad:
                raise RuntimeError(
                    "funnel ingest order contract violated: a batch "
                    "delivered a user funnel event at or before that "
                    "user's already-ingested last funnel event; a late "
                    "view can retroactively re-stage the funnel — route "
                    "this source through a keyed, ordered log or rebuild "
                    "the state table"
                )
        else:
            joined = per_user.select(
                "*",
                F.lit(None).cast("timestamp").alias("p_t1"),
                F.lit(None).cast("timestamp").alias("p_t2"),
                F.lit(None).cast("timestamp").alias("p_t3"),
                F.lit(None)
                .cast("struct<ts:timestamp,event_id:bigint>")
                .alias("p_last"),
            )
        t1 = F.coalesce(
            F.col("p_t1"), F.try_element_at("ts_view", F.lit(1))
        )
        t2 = F.coalesce(
            F.col("p_t2"),
            F.try_element_at(F.filter("ts_click", lambda c: c > t1), F.lit(1)),
        )
        t3 = F.coalesce(
            F.col("p_t3"),
            F.try_element_at(F.filter("ts_purchase", lambda x: x > t2), F.lit(1)),
        )
        updated = joined.select(
            "user_id",
            t1.alias("t1"),
            t2.alias("t2"),
            t3.alias("t3"),
            F.greatest(F.col("_last"), F.col("p_last")).alias("_nl"),
        ).select(
            "user_id",
            "t1",
            "t2",
            "t3",
            F.col("_nl.ts").alias("last_ts"),
            F.col("_nl.event_id").alias("last_eid"),
        )
        if prev is not None:
            carried = prev.join(
                updated.select("user_id"), "user_id", "left_anti"
            )
            new_state = carried.unionByName(updated)
        else:
            new_state = updated
        state_t.overwrite(new_state, batch_id=key)

    return _start(stream, checkpoint_dir, funnel_batch, [state_t])


def decontaminate_from_index(index: DataFrame) -> DataFrame:
    """Serve the eval-set decontamination audit from the MAINTAINED
    shingle index — exactly equal to batch
    ``operators.sampling.decontaminate_split`` over every document
    ingested (the serving face IS the shared core over the maintained
    postings)."""
    from ..operators.sampling import decon_from_postings

    return decon_from_postings(index)


# Envelope schema for the TWENTY-FIRST path's interleaved fact stream:
# lineitem and order rows share one source so arrival order is genuinely
# arbitrary (a lineitem can precede ITS order in the same or an earlier
# batch — the case the delta-join must union later).
REVENUE_ENVELOPE_SCHEMA = (
    "kind string, l_orderkey long, l_extendedprice double,"
    " l_discount double, o_orderkey long, o_custkey long,"
    " o_orderdate timestamp"
)


def start_incremental_revenue_ingest(
    spark: SparkSession,
    source_dir: str,
    li_root: str,
    orders_root: str,
    cells_root: str,
    txn_dir: str,
    cust_dim: DataFrame,
    checkpoint_dir: str,
    schema=REVENUE_ENVELOPE_SCHEMA,
    max_files_per_trigger: int = 10,
) -> StreamingQuery:
    """EXACT incremental Q5 revenue-by-nation — the TWENTY-FIRST
    incremental path and the first JOIN-BEARING one: the maintained view
    is an aggregate over orders ⋈ lineitem (⋈ the static
    customer→nation dimension), kept exact by the classic DELTA-JOIN
    identity instead of mergeable partials alone:

        Δ(L ⋈ O) = ΔL ⋈ (O ∪ ΔO)  ∪  L_old ⋈ ΔO

    - ΔL pre-aggregates to per-orderkey integer revenue partials
      (``lineitem_order_partials`` — aggregation pushed below the join,
      so join inputs are order-mass, never lineitem-mass).
    - ΔO filters to Q5's pinned date window and resolves
      o_custkey → (n_name, r_name) through the broadcast ``cust_dim``
      (``customer_nation_dim``), so orders state carries the view's
      group keys directly.
    - Both join legs' contributions collapse to (r_name, n_name) integer
      delta cells, appended additively — a lineitem arriving BEFORE its
      order waits in lineitem state and is picked up by the L_old ⋈ ΔO
      leg when the order lands; an order arriving first feeds the
      ΔL ⋈ O leg forever after.  Either order of arrival, any batch
      split: the union of the two legs counts every (lineitem, order)
      pair exactly once (ΔL pairs with everything known by this batch's
      end; old L pairs with exactly the new orders).

    State: lineitem partials are order-keyed integer sums (≤ one row
    per order per batch; compaction merges to one per order), orders
    state is one row per in-window order, cells are
    ≤ |region×nation| rows.  All three commit in ONE multi-table
    transaction under namespaced batch keys with recovery at stream
    start (the standard protocol), so replay is a no-op.
    ``q5_from_revenue_cells(cells) ≡ q5_revenue_by_nation`` over
    everything ingested — parity-tested across uneven splits,
    out-of-order arrival, replay and compaction."""
    from ..operators.relational import (
        _Q5_DATE_HI,
        _Q5_DATE_LO,
        lineitem_order_partials,
    )

    li_t = SnapshotTable(spark, li_root)
    ord_t = SnapshotTable(spark, orders_root)
    cells_t = SnapshotTable(spark, cells_root)
    stream = read_stream(
        spark, source_dir, schema=schema, max_files_per_trigger=max_files_per_trigger
    )

    def revenue_batch(batch_df: DataFrame, key: str) -> None:
        dl = lineitem_order_partials(
            batch_df.filter(F.col("kind") == "lineitem")
        ).persist()
        do = (
            batch_df.filter(F.col("kind") == "order")
            .filter(
                (F.col("o_orderdate") >= F.lit(_Q5_DATE_LO))
                & (F.col("o_orderdate") < F.lit(_Q5_DATE_HI))
            )
            .join(
                F.broadcast(cust_dim),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            .select("o_orderkey", "n_name", "r_name")
            .persist()
        )
        try:
            o_old = (
                ord_t.read()
                if ord_t.current_version() is not None
                else spark.createDataFrame(
                    [], "o_orderkey long, n_name string, r_name string"
                )
            )
            l_old = (
                li_t.read()
                if li_t.current_version() is not None
                else spark.createDataFrame(
                    [], "o_orderkey long, rev_num decimal(38,0), n long"
                )
            )
            # leg 1: new lineitems against everything known by batch end
            c1 = dl.join(o_old.unionByName(do), "o_orderkey")
            # leg 2: previously-stated lineitems against the new orders
            # only (leg 1 already covered ΔL ⋈ ΔO)
            c2 = l_old.join(do, "o_orderkey")
            delta_cells = (
                c1.unionByName(c2)
                .groupBy("r_name", "n_name")
                .agg(
                    F.sum("rev_num").alias("rev_num"),
                    F.sum("n").alias("n"),
                )
            )
            txn = MultiTableTransaction([li_t, ord_t, cells_t], txn_dir)
            txn.stage_append(li_t, dl, batch_id=key)
            txn.stage_append(ord_t, do, batch_id=key)
            txn.stage_append(cells_t, delta_cells, batch_id=key)
            txn.commit()
        finally:
            dl.unpersist()
            do.unpersist()

    return _start(
        stream, checkpoint_dir, revenue_batch, [li_t, ord_t, cells_t], txn_dir
    )


def start_incremental_kgram_index_ingest(
    spark: SparkSession,
    source_dir: str,
    corpus_root: str,
    index_root: str,
    txn_dir: str,
    schema,
    checkpoint_dir: str,
    max_files_per_trigger: int = 10,
) -> StreamingQuery:
    """EXACT incremental positional k-gram index maintenance — the
    EIGHTEENTH incremental path, append-only-postings class on the
    ExactSubstr grain: each batch appends its documents' sliding
    (doc_id, pos, h) k-gram rows (``operators.dedup.kgram_rows`` — the
    SAME leaf pass batch ``dedup_exact_substr`` runs) together with the
    corpus rows in ONE multi-table transaction.  Each document arrives
    once, so postings from disjoint batches union to the full-corpus
    index exactly — no ordering contract, late documents merge exactly,
    and the "shared by ≥2 docs" statistic is recomputed at query time
    over the maintained postings, so a k-gram that only LATER becomes
    shared flips its spans exactly as the batch face would.

    ``exact_substr_from_index(index, corpus) ≡ dedup_exact_substr``
    over everything ingested (parity test): the repeated-span audit —
    "which spans of today's corpus are boilerplate" — serves from state
    with the corpus-wide tokenize+hash pass paid once at ingest;
    serving re-tokenizes only span-bearing documents.  State is
    posting-cardinality (Σ per-doc window count ≈ corpus tokens — the
    price of any positional index; :func:`compact` rewrites its per-batch
    files between drains)."""
    from ..operators.dedup import es_tokenized, kgram_rows

    corpus = SnapshotTable(spark, corpus_root)
    index_t = SnapshotTable(spark, index_root)
    stream = read_stream(
        spark, source_dir, schema=schema, max_files_per_trigger=max_files_per_trigger
    )

    def index_batch(batch_df: DataFrame, key: str) -> None:
        txn = MultiTableTransaction([corpus, index_t], txn_dir)
        txn.stage_append(corpus, batch_df, batch_id=key)
        txn.stage_append(index_t, kgram_rows(es_tokenized(batch_df)), batch_id=key)
        txn.commit()

    return _start(stream, checkpoint_dir, index_batch, [corpus, index_t], txn_dir)


# pending eq-delete files on an open-boundary table before the sessions and
# SCD2 paths compact them away (each pending file costs readers one anti-join)
_OPEN_COMPACT_EVERY = 4


def apply_sessions_batch(
    spark: SparkSession,
    closed_t,
    open_t,
    txn_dir: str,
    batch_df: DataFrame,
    key,
) -> bool:
    """One micro-batch of exact incremental sessionization: within-batch
    ``session_rollup`` + boundary stitch against the open-session state,
    committed as one multi-table transaction under ``key``. Returns False
    (whole-batch no-op) when ``key`` has already committed — replay
    protection lives HERE so the streaming closure and the model test
    drive the identical code path. Semantics, the order contract and the
    state shapes are documented on ``start_incremental_sessions_ingest``."""
    from ..operators.windows import _SESSION_GAP_S, session_rollup

    if transaction_batch_seen([closed_t, open_t], key):
        return False
    b = batch_df.filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    ).persist()
    ranked = None

    def _nsum(a, b_):
        # null-skipping add: parity with SUM(value) over the merged
        # session's events (NULL only when BOTH sides are all-NULL)
        return F.when(
            a.isNull() & b_.isNull(), F.lit(None).cast("double")
        ).otherwise(F.coalesce(a, F.lit(0.0)) + F.coalesce(b_, F.lit(0.0)))

    try:
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        ranked = b.select(
            "user_id",
            "ts",
            "event_id",
            F.row_number().over(w).alias("__rn"),
            F.count("*").over(Window.partitionBy("user_id")).alias("__n"),
        ).persist()
        sess = (
            session_rollup(b, round_value=False)
            .withColumnRenamed("session_value", "value_sum")
            .withColumn(
                "__m", F.max("session_id").over(Window.partitionBy("user_id"))
            )
        )
        prev = open_t.read() if open_t.current_version() is not None else None
        firsts = ranked.filter(F.col("__rn") == 1).select(
            "user_id", F.col("ts").alias("__ts0"), F.col("event_id").alias("__eid0")
        )
        lasts = ranked.filter(F.col("__rn") == F.col("__n")).select(
            "user_id",
            F.col("ts").alias("__lts"),
            F.col("event_id").alias("__leid"),
        )
        if prev is not None:
            pj = firsts.join(prev, "user_id")
            n_bad = (
                pj.filter(
                    (F.col("__ts0") < F.col("last_ts"))
                    | (
                        (F.col("__ts0") == F.col("last_ts"))
                        & (F.col("__eid0") <= F.col("last_eid"))
                    )
                )
                .limit(1)
                .count()
            )
            if n_bad:
                raise RuntimeError(
                    "sessions ingest order contract violated: a batch "
                    "delivered a user event at or before that user's "
                    "already-ingested last event; exact incremental "
                    "sessionization requires per-user-ordered delivery "
                    "— route this source through a keyed, ordered log "
                    "or rebuild the session tables"
                )
            minfo = pj.select(
                "user_id",
                (
                    F.col("__ts0").cast("long") - F.col("last_ts").cast("long")
                    <= _SESSION_GAP_S
                ).alias("__merged"),
                F.col("session_start").alias("__p_start"),
                F.col("n_events").alias("__p_n"),
                F.col("value_sum").alias("__p_v"),
            )
        else:
            minfo = None
        if minfo is not None:
            adj = sess.join(minfo, "user_id", "left")
            stitch = F.col("__merged").eqNullSafe(F.lit(True)) & (
                F.col("session_id") == 1
            )
            adj = adj.select(
                "user_id",
                "session_id",
                "__m",
                F.when(stitch, F.col("__p_start"))
                .otherwise(F.col("session_start"))
                .alias("session_start"),
                "session_end",
                F.when(stitch, F.col("n_events") + F.col("__p_n"))
                .otherwise(F.col("n_events"))
                .alias("n_events"),
                F.when(stitch, _nsum(F.col("value_sum"), F.col("__p_v")))
                .otherwise(F.col("value_sum"))
                .alias("value_sum"),
            )
            # stored open sessions that did NOT merge close now (their
            # user showed up again after a full gap)
            old_closures = prev.join(
                minfo.filter(~F.col("__merged")).select("user_id"), "user_id"
            ).select(
                "user_id",
                "session_start",
                F.col("last_ts").alias("session_end"),
                "n_events",
                "value_sum",
            )
        else:
            adj = sess.select(
                "user_id",
                "session_id",
                "__m",
                "session_start",
                "session_end",
                "n_events",
                "value_sum",
            )
            old_closures = None
        closure_cols = [
            "user_id",
            "session_start",
            "session_end",
            "n_events",
            "value_sum",
        ]
        closures = adj.filter(F.col("session_id") < F.col("__m")).select(
            *closure_cols
        )
        if old_closures is not None:
            closures = closures.unionByName(old_closures)
        new_open = (
            adj.filter(F.col("session_id") == F.col("__m"))
            .join(lasts, "user_id")
            .select(
                "user_id",
                "session_start",
                F.col("__lts").alias("last_ts"),
                F.col("__leid").alias("last_eid"),
                "n_events",
                "value_sum",
            )
        )
        txn = MultiTableTransaction([closed_t, open_t], txn_dir)
        txn.stage_append(closed_t, closures, batch_id=key)
        if open_t.current_version() is None:
            txn.stage_append(open_t, new_open, batch_id=key)
        else:
            # merge-on-read upsert: ONE O(batch-users) data dir + ONE
            # O(batch-users) equality-delete file per batch — never a
            # rewrite of the O(total-users) open set (the r10/r11 cost
            # finding; a CoW merge would rewrite every file whose user
            # range the batch touches, i.e. everything under a uniform
            # user spread). compact() materializes the
            # pending deletes periodically.
            txn.stage_upsert_keys(open_t, new_open, key="user_id", batch_id=key)
        txn.commit()
        return True
    finally:
        # guard: if the try block raised before `ranked` was bound, an
        # unguarded unpersist would mask the original exception
        if ranked is not None:
            ranked.unpersist()
        b.unpersist()


def apply_scd2_batch(
    spark: SparkSession,
    closed_t,
    open_t,
    txn_dir: str,
    batch_df: DataFrame,
    key,
) -> bool:
    """One micro-batch of exact incremental SCD2 maintenance (the
    SIXTEENTH path, round 13; boundary-state class): within-batch change
    detection + boundary stitch against the per-user open-version state,
    committed as one multi-table transaction under ``key``.  Returns
    False (whole-batch no-op) when ``key`` has already committed.

    Stitch rule (the Kimball change-detection rule across the batch
    boundary): the batch's first change for a user MERGES into the
    stored open version when its state equals the stored state (a
    repeated state is never a new version — valid_from and version carry
    over); otherwise the stored open version CLOSES at the first batch
    change's timestamp.  Every batch change with a successor closes
    inside the batch; the last becomes the new open boundary.  Version
    numbers continue from the stored open version.

    ORDER CONTRACT (the sessions/Markov discipline, checked loudly): a
    user's events in a later batch must be strictly later by
    (ts, event_id) than their stored last event — a late event can
    re-open or re-split ALREADY-CLOSED versions, which is a rebuild, not
    an append.  NULL user/state/ts/event_id rows are excluded, same as
    the batch face.

    PER-BATCH COST: closed versions append-only; the open table is a
    keyed MERGE-ON-READ upsert (``stage_upsert_keys``) — one
    O(batch-users) data dir + one O(batch-users) equality-delete file
    per batch, never a rewrite of the open set (the sessions r12
    machinery, measured flat in tests)."""
    if transaction_batch_seen([closed_t, open_t], key):
        return False
    b = batch_df.filter(
        F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_id").isNotNull()
    ).persist()
    try:
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        ev = b.select(
            "user_id",
            "ts",
            "event_id",
            F.col("event_type").alias("state"),
            F.row_number().over(w).alias("__rn"),
            F.count("*").over(Window.partitionBy("user_id")).alias("__n"),
            F.lag("event_type").over(w).alias("__prev"),
        )
        firsts = ev.filter(F.col("__rn") == 1).select(
            "user_id",
            F.col("ts").alias("__ts0"),
            F.col("event_id").alias("__eid0"),
        )
        lasts = ev.filter(F.col("__rn") == F.col("__n")).select(
            "user_id",
            F.col("ts").alias("__lts"),
            F.col("event_id").alias("__leid"),
        )
        chg = ev.filter(
            F.col("__prev").isNull() | (F.col("__prev") != F.col("state"))
        )
        wc = Window.partitionBy("user_id").orderBy("ts", "event_id")
        chg = chg.select(
            "user_id",
            "state",
            F.col("ts").alias("valid_from"),
            F.row_number().over(wc).alias("__bi"),
            F.lead("ts").over(wc).alias("valid_to"),
        )
        prev = open_t.read() if open_t.current_version() is not None else None
        if prev is not None:
            pj = firsts.join(prev, "user_id")
            n_bad = (
                pj.filter(
                    (F.col("__ts0") < F.col("last_ts"))
                    | (
                        (F.col("__ts0") == F.col("last_ts"))
                        & (F.col("__eid0") <= F.col("last_eid"))
                    )
                )
                .limit(1)
                .count()
            )
            if n_bad:
                raise RuntimeError(
                    "scd2 ingest order contract violated: a batch "
                    "delivered a user event at or before that user's "
                    "already-ingested last event; exact incremental SCD2 "
                    "requires per-user-ordered delivery — route this "
                    "source through a keyed, ordered log or rebuild the "
                    "version tables"
                )
            minfo = pj.select(
                "user_id",
                F.col("version").alias("__p_ver"),
                F.col("state").alias("__p_state"),
                F.col("valid_from").alias("__p_from"),
            )
            adj = chg.join(minfo, "user_id", "left")
            merged = (F.col("__bi") == 1) & (
                F.col("state").eqNullSafe(F.col("__p_state"))
            )
            known = F.col("__p_ver").isNotNull()
            adj = adj.select(
                "user_id",
                "state",
                # the merged first change IS the stored open version:
                # valid_from and version carry over (state is equal)
                F.when(merged, F.col("__p_from"))
                .otherwise(F.col("valid_from"))
                .alias("valid_from"),
                "valid_to",
                F.when(~known, F.col("__bi").cast("long"))
                .when(
                    # every change of a MERGED user shifts by −1 (bi 1 is
                    # the carried stored version; bi k is version p+k−1)
                    F.first(merged.cast("int")).over(
                        Window.partitionBy("user_id").orderBy("__bi")
                    )
                    == 1,
                    F.col("__p_ver") + F.col("__bi") - 1,
                )
                .otherwise(F.col("__p_ver") + F.col("__bi"))
                .alias("version"),
                merged.alias("__merged_first"),
                F.col("__bi"),
            )
            # stored open versions that did NOT merge close at the first
            # batch change's timestamp
            first_batch = adj.filter(F.col("__bi") == 1).select(
                "user_id",
                F.col("valid_from").alias("__t1"),
                F.col("__merged_first"),
            )
            old_closures = (
                prev.join(
                    first_batch.filter(~F.col("__merged_first")).select(
                        "user_id", "__t1"
                    ),
                    "user_id",
                )
                .select(
                    "user_id",
                    "version",
                    "state",
                    "valid_from",
                    F.col("__t1").alias("valid_to"),
                )
            )
        else:
            adj = chg.select(
                "user_id",
                "state",
                "valid_from",
                "valid_to",
                F.col("__bi").cast("long").alias("version"),
                F.lit(False).alias("__merged_first"),
                F.col("__bi"),
            )
            old_closures = None
        closure_cols = ["user_id", "version", "state", "valid_from", "valid_to"]
        closures = adj.filter(F.col("valid_to").isNotNull()).select(
            *closure_cols
        )
        if old_closures is not None:
            closures = closures.unionByName(old_closures)
        new_open = (
            adj.filter(F.col("valid_to").isNull())
            .join(lasts, "user_id")
            .select(
                "user_id",
                "version",
                "state",
                "valid_from",
                F.col("__lts").alias("last_ts"),
                F.col("__leid").alias("last_eid"),
            )
        )
        txn = MultiTableTransaction([closed_t, open_t], txn_dir)
        txn.stage_append(closed_t, closures, batch_id=key)
        if open_t.current_version() is None:
            txn.stage_append(open_t, new_open, batch_id=key)
        else:
            # merge-on-read keyed upsert: O(batch-users) data + delete
            # files per batch (the sessions open-boundary machinery)
            txn.stage_upsert_keys(open_t, new_open, key="user_id", batch_id=key)
        txn.commit()
        return True
    finally:
        b.unpersist()


def _start_boundary_ingest(
    apply_batch,
    spark: SparkSession,
    source_dir: str,
    closed_root: str,
    open_root: str,
    txn_dir: str,
    schema,
    checkpoint_dir: str,
    max_files_per_trigger: int,
) -> StreamingQuery:
    """The boundary-state paths' driver (sessions, SCD2): ``apply_batch``
    commits the batch's closed rows and open-boundary upsert as one
    transaction, then the open table's pending equality deletes are
    compacted every few batches."""
    closed_t = SnapshotTable(spark, closed_root)
    open_t = SnapshotTable(spark, open_root)
    stream = read_stream(
        spark, source_dir, schema=schema, max_files_per_trigger=max_files_per_trigger
    )

    def boundary_batch(batch_df: DataFrame, key: str) -> None:
        apply_batch(spark, closed_t, open_t, txn_dir, batch_df, key)
        # bound the open table's pending delete-file count: readers pay
        # one anti-join per pending eq-delete, so compact every few
        # batches — the O(open-set) rewrite runs OFF the per-batch
        # critical path (standard Iceberg maintenance cadence), keeping
        # ingest latency O(batch)
        deletes = (
            open_t._snapshot(None).get("deletes", [])
            if open_t.current_version() is not None
            else []
        )
        if len(deletes) >= _OPEN_COMPACT_EVERY:
            compact(spark, open_root)

    return _start(stream, checkpoint_dir, boundary_batch, [closed_t, open_t], txn_dir)


def start_incremental_scd2_ingest(
    spark: SparkSession,
    source_dir: str,
    closed_root: str,
    open_root: str,
    txn_dir: str,
    schema,
    checkpoint_dir: str,
    max_files_per_trigger: int = 10,
) -> StreamingQuery:
    """EXACT incremental SCD2 dimension maintenance — semantics, the
    order contract and per-batch cost are documented on
    :func:`apply_scd2_batch`; ``operators.windows.scd2_from_state`` over
    (closed log + open boundaries) equals batch ``scd2_from_events``
    over everything ingested.  At 100 TB this turns "refresh the
    versioned dimension" from a full-fact window sort into per-batch
    change detection plus a user-keyed boundary join; the open table
    holds ONE row per tracked user and closed versions are append-only.
    Exactly-once via namespaced batch keys in one multi-table
    transaction; pending open-table deletes compact on the sessions
    cadence."""
    return _start_boundary_ingest(
        apply_scd2_batch, spark, source_dir, closed_root, open_root, txn_dir,
        schema, checkpoint_dir, max_files_per_trigger,
    )


def start_incremental_sessions_ingest(
    spark: SparkSession,
    source_dir: str,
    closed_root: str,
    open_root: str,
    txn_dir: str,
    schema,
    checkpoint_dir: str,
    max_files_per_trigger: int = 10,
) -> StreamingQuery:
    """EXACT incremental sessionization — the TENTH incremental path, in
    the BOUNDARY-STATE class (with Markov transitions): gap-based sessions
    cross micro-batch boundaries, so the state is (a) an append-only log
    of CLOSED sessions and (b) one OPEN-session row per active user
    (start, last event, running count/value). Per batch: run the SAME
    ``operators.windows.session_rollup`` pass the batch operator uses on
    the batch alone, then stitch at the boundary — a user's first batch
    session MERGES into their stored open session when the gap to the
    stored last event is within the session gap, otherwise the stored
    session closes; every batch session except the user's last closes;
    the last becomes the new open boundary. ``sessions_from_state`` over
    the two tables equals batch ``sessionize`` over everything ingested
    (parity + hypothesis model in tests/test_streaming.py). At 100 TB
    this turns "refresh sessions" from a full-fact window sort into
    per-batch work plus a user-keyed boundary join; the open table holds
    ONE row per active user and closed sessions are append-only.

    ORDER CONTRACT (checked loudly, the Markov discipline): a user's
    events in a later batch must be strictly later — by (ts, event_id) —
    than their events in earlier batches. A violating batch raises
    rather than silently corrupting session boundaries: a late event can
    split or merge ALREADY-CLOSED sessions, which is a rebuild, not an
    append. Anonymous (NULL user_id) and NULL-ts events are excluded —
    the engagement/RFM discipline; the batch twin for parity carries the
    same filter.

    PER-BATCH COST (the r10 advice finding, retired in r12): the
    open-boundary table is maintained by a keyed MERGE-ON-READ upsert
    (``MultiTableTransaction.stage_upsert_keys`` — the Iceberg v2
    equality-delete shape): each batch stages one O(batch-users) data dir
    plus one O(batch-users) delete file; users outside the batch are
    never read or rewritten. A copy-on-write merge would NOT fix the old
    O(total-users) rewrite here — batch users spread uniformly over the
    id space, so every file's key range intersects every batch — which
    is exactly the case MoR deletes exist for. The read side
    (``sessions_from_state``) anti-joins the pending delete files;
    ``compact`` on the open table materializes them periodically so the
    per-read delete-file count stays bounded (run it on the same cadence
    as the other paths' compactions).

    Exactly-once: the closed-session append and the open-boundary
    upsert commit in ONE multi-table transaction with namespaced
    batch keys; replayed batches are skipped whole."""
    return _start_boundary_ingest(
        apply_sessions_batch, spark, source_dir, closed_root, open_root, txn_dir,
        schema, checkpoint_dir, max_files_per_trigger,
    )


def _resolve_merge_log(
    log: DataFrame, nodes: DataFrame, max_rounds: int = 64
) -> DataFrame:
    """Resolve ``nodes`` (one column ``node``) to their live cluster
    labels by chasing pointers through the append-only merge log (a
    functional forest: each node appears as a source at most once, every
    event targets a strictly smaller label).  Per-round cost is one
    keyed lookup join of the frontier (batch-bounded) against the log —
    O(batch × chain depth), never O(corpus).  Chains are depth-1 right
    after :func:`compact_cluster_merges`; the round cap fails loudly
    (like the CC iteration cap) rather than return a stale label."""
    kv = log.select(F.col("node").alias("__n"), F.col("target").alias("__t"))
    cur = nodes.select("node", F.col("node").alias("root"))
    for _ in range(max_rounds):
        step = cur.join(kv, cur["root"] == kv["__n"], "left").localCheckpoint(
            eager=True
        )
        if step.filter(F.col("__t").isNotNull()).isEmpty():
            return step.select("node", "root")
        cur = step.select(
            "node", F.coalesce("__t", "root").alias("root")
        )
    raise RuntimeError(
        f"merge-log resolution did not reach a fixpoint in {max_rounds} "
        "rounds; run compact_cluster_merges and retry"
    )


def start_incremental_cluster_ingest(
    spark: SparkSession,
    source_dir: str,
    corpus_root: str,
    bands_root: str,
    merges_root: str,
    txn_dir: str,
    schema,
    checkpoint_dir: str,
    max_files_per_trigger: int = 10,
) -> StreamingQuery:
    """Exact incremental near-dup CLUSTER maintenance at ingest — the
    SEVENTEENTH maintenance path.  The batch face
    (``operators.dedup.dedup_clusters_lsh``) recomputes connected
    components of the signature-agreement graph from scratch; this path
    maintains the same labels as documents arrive, so "which cluster is
    this doc in" is answerable per batch without re-shuffling the corpus.

    Mechanism (union-find as an append-only event log):

    - Per batch, find signature-agreement edges among batch docs (one
      band self-join) and between batch docs and every admitted doc (one
      band-keyed probe join against the maintained ``bands`` table — the
      near-dup ingest's probe shape).  The edge predicate
      (:func:`~..operators.dedup.sig_agreement` ≥ 23/32 on band
      collision) is a pure pair function, so edges only ever accumulate
      — the monotonicity that makes merge-only state EXACT under any
      batch split, arrival order, and late data.
    - Resolve old endpoints to live labels through the merge log
      (:func:`_resolve_merge_log` pointer chase), run the star-
      alternation CC on the REDUCED batch graph only (batch docs +
      touched live labels — bounded by batch size, never corpus), and
      append one ``(node, target)`` merge event per label that changed:
      new docs joining a cluster, and old cluster labels union-found
      into a smaller one.  Full CC recompute never happens at ingest;
      the log stays a functional forest (each source at most once,
      targets strictly smaller), which is what keeps serve-side
      resolution O(log depth).
    - ``clusters_from_lsh_state(corpus, merges) ≡ dedup_clusters_lsh``
      — parity-tested across batch splits, replay, and compaction.

    Exactly-once: corpus rows, band rows and merge events commit in ONE
    multi-table transaction under namespaced batch keys with recovery at
    stream start (the standard protocol).  State: ``bands`` is 8 rows +
    one 32-long signature per admitted doc (metadata-scale; bucketed on
    (band_idx, band_sig) at real scale); ``merges`` is bounded by
    duplicate mass (≤ one event per doc ever in a cluster + one per
    cluster merge).

    ``doc_id`` contract: ids must be ORDERABLE and consistently typed
    across batches — cluster labels are component minima and merge
    targets are strictly smaller than their source, so the id column's
    total order is load-bearing; the merge-log schema derives from the
    id type at first batch."""
    from ..operators.dedup import (
        _LSH_CC_AGREE_MIN,
        _MH_BANDS,
        _band_self_join_edges,
        _collapse_identical_sigs,
        _connected_components,
        minhash_sig_bands,
        sig_agreement,
    )

    corpus = SnapshotTable(spark, corpus_root)
    bands = SnapshotTable(spark, bands_root)
    merges = SnapshotTable(spark, merges_root)
    stream = read_stream(
        spark, source_dir, schema=schema, max_files_per_trigger=max_files_per_trigger
    )
    band_arr = F.array(*[F.col(f"band{b}") for b in range(_MH_BANDS)])
    id_col, text_col = "doc_id", "text"

    def cluster_batch(batch_df: DataFrame, key: str) -> None:
        sigs = minhash_sig_bands(batch_df, text_col).persist()
        try:
            # Collapse identical signatures first (the batch face's r15
            # storm fix, shared helpers so the two faces cannot drift):
            # within-batch edges = rep-level band self-join + (rep,
            # member) star edges — component-exact (stars are real
            # agreement edges; any member's cross edge is witnessed by
            # its rep's), so CC labels and therefore merge events are
            # unchanged, while an m-copy batch storm costs m-1 star
            # edges instead of O(m²) candidates.
            rep_rows, star = _collapse_identical_sigs(sigs, id_col)
            expl = rep_rows.select(
                id_col,
                "sig",
                F.posexplode(band_arr).alias("band_idx", "band_sig"),
            )
            edges = _band_self_join_edges(rep_rows, id_col).unionByName(star)
            # batch-vs-admitted edges via the maintained bands table; old
            # endpoints resolve to live labels through the merge log
            if bands.current_version() is not None:
                seen_df = bands.read()
                expl_t = dict(expl.dtypes)
                seen_t = dict(seen_df.dtypes)
                expected = {
                    "band_idx": expl_t["band_idx"],
                    "band_sig": expl_t["band_sig"],
                    "seen_sig": expl_t["sig"],
                }
                drift = {
                    c: (seen_t.get(c), want)
                    for c, want in expected.items()
                    if seen_t.get(c) != want
                }
                if drift:
                    raise RuntimeError(
                        f"bands table at {bands_root} column types {drift} "
                        "(stored, expected) do not match the current MinHash "
                        "pipeline; rebuild the cluster state before resuming"
                    )
                hits = (
                    F.broadcast(expl)
                    .join(seen_df, ["band_idx", "band_sig"])
                    .filter(
                        sig_agreement(F.col("sig"), F.col("seen_sig"))
                        >= _LSH_CC_AGREE_MIN
                    )
                    .select(
                        F.col(id_col).alias("new_id"),
                        F.col("seen_id").alias("old_id"),
                    )
                    .distinct()
                )
                # empty-log schema derives from the id column's actual
                # type (ids must be ORDERABLE — the functional-forest
                # invariant "target strictly smaller" and min-label CC
                # both lean on the column's total order; a hardcoded
                # long schema would break the first cross-batch probe
                # for non-long ids)
                id_type = dict(batch_df.dtypes)[id_col]
                log = (
                    merges.read()
                    if merges.current_version() is not None
                    else spark.createDataFrame(
                        [], f"node {id_type}, target {id_type}"
                    )
                )
                resolved = _resolve_merge_log(
                    log, hits.select(F.col("old_id").alias("node")).distinct()
                )
                old_edges = hits.join(
                    resolved, hits["old_id"] == resolved["node"]
                ).select(
                    F.col("new_id").alias("doc_a"),
                    F.col("root").alias("doc_b"),
                )
                edges = (
                    edges.unionByName(old_edges)
                    .filter(F.col("doc_a") != F.col("doc_b"))
                    .distinct()
                )
            edges = edges.persist()
            try:
                verts = (
                    edges.select(F.col("doc_a").alias("doc_id"))
                    .union(edges.select(F.col("doc_b").alias("doc_id")))
                    .distinct()
                )
                labels = _connected_components(verts, edges)
                events = labels.filter(
                    F.col("doc_id") != F.col("cluster_id")
                ).select(
                    F.col("doc_id").alias("node"),
                    F.col("cluster_id").alias("target"),
                )
                band_rows = sigs.select(
                    F.posexplode(band_arr).alias("band_idx", "band_sig"),
                    F.col(id_col).alias("seen_id"),
                    F.col("sig").alias("seen_sig"),
                )
                txn = MultiTableTransaction([corpus, bands, merges], txn_dir)
                txn.stage_append(corpus, batch_df, batch_id=key)
                txn.stage_append(bands, band_rows, batch_id=key)
                txn.stage_append(merges, events, batch_id=key)
                txn.commit()
            finally:
                edges.unpersist()
        finally:
            sigs.unpersist()

    return _start(
        stream, checkpoint_dir, cluster_batch, [corpus, bands, merges], txn_dir
    )


def compact_cluster_merges(spark: SparkSession, merges_root: str) -> None:
    """Rewrite the cluster merge log as its fully-resolved depth-1 forest
    (node → final label) — a semantic no-op for readers (CC resolution
    gives the same roots either way) that bounds both the serve-side CC
    depth and the ingest-side pointer chase.  The overwrite appends a
    commit and never erases the log, so the stream's batch keys survive
    and replay protection is unaffected (the :func:`compact`
    protocol)."""
    from ..operators.dedup import _connected_components

    t = SnapshotTable(spark, merges_root)
    log = t.read()
    edges = log.select(
        F.col("node").alias("doc_a"), F.col("target").alias("doc_b")
    )
    verts = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .union(edges.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    labels = _connected_components(verts, edges)
    flat = labels.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias("node"), F.col("cluster_id").alias("target")
    )
    t.overwrite(flat)



def compact_cooccurrence_index(spark: SparkSession, delta_root: str) -> None:
    """Rewrite the co-occurrence delta table as its summed edges — a
    semantic no-op (readers sum either way) that collapses the ±1 batch
    history to one row per surviving pair. Run between ingest drains: the
    overwrite appends a commit, it never erases the log, so the stream's
    batch keys survive and replay protection is unaffected
    (``max_batch_seen`` scans the full log). Zero-sum pairs are true
    zeros and are dropped."""
    from ..operators.analytics import cooccurrence_edges_from_index

    t = SnapshotTable(spark, delta_root)
    edges = cooccurrence_edges_from_index(t.read(), min_count=1)
    t.overwrite(edges.select("item_a", "item_b", F.col("co_users").alias("d")))


def run_batch_ingest(
    spark: SparkSession, files: list[str] | str, table_root: str
) -> int:
    """The reference's original batch path (process_message → load_data_to_
    iceberg, spark_job.py:78-123) for explicit file lists: one append
    commit; returns the new version."""
    return SnapshotTable(spark, table_root).append(enrich(read_batch(spark, files)))
