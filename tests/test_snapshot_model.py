"""Model-based property test: random operation sequences on a SnapshotTable
must match a trivial in-memory multiset model. CoW and MOR deletes differ
physically but are logically identical, so one model covers both — any
divergence (resurrected rows, double-deletes, lost appends, merge/compact
interactions) fails here even if no hand-written scenario anticipated it."""

from __future__ import annotations

import os
import tempfile
from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
    SnapshotError,
    SnapshotTable,
)

def _fuzz_examples(deep: int) -> int:
    """Example count for the model tests. The default CI run samples at
    half the historical depth (the suite crossed the 13-minute guideline in
    round 9 and xdist is unavailable in-container); SNAPSHOT_FUZZ_EXAMPLES
    restores or deepens sampling for dedicated soak runs — the
    SNAPSHOT_FUZZ_OPS pattern, set both for a full soak."""
    v = os.environ.get("SNAPSHOT_FUZZ_EXAMPLES")
    return int(v) if v else max(2, deep // 2)


_ID = st.integers(min_value=0, max_value=24)
_VAL = st.sampled_from(["a", "b", "c"])

_OP = st.one_of(
    st.tuples(st.just("append"), st.lists(st.tuples(_ID, _VAL), min_size=1, max_size=6)),
    st.tuples(st.just("delete_cow"), _ID, _ID),
    st.tuples(st.just("delete_mor"), _ID, _ID),
    st.tuples(st.just("delete_keys"), st.lists(_ID, min_size=1, max_size=4)),
    st.tuples(st.just("merge"), st.lists(st.tuples(_ID, _VAL), min_size=1, max_size=4)),
    st.tuples(st.just("compact"),),
    # round-4 surface: refs, transactions, maintenance — fuzzed against the
    # same multiset model (branch_wap/txn_append add rows; expire/maintain
    # must be content-preserving on the current version)
    st.tuples(st.just("branch_wap"), st.lists(st.tuples(_ID, _VAL), min_size=1, max_size=4)),
    st.tuples(st.just("txn_append"), st.lists(st.tuples(_ID, _VAL), min_size=1, max_size=4)),
    st.tuples(st.just("expire"),),
    st.tuples(st.just("maintain"),),
    # round-4 second segment: metadata-only evolution fuzzed into the mix —
    # a rename is row-neutral (the model only re-labels its value column),
    # partition-spec evolution must be invisible to every later read
    st.tuples(st.just("rename"),),
    st.tuples(st.just("evolve_spec"), st.integers(min_value=0, max_value=2)),
    st.tuples(st.just("update"), _ID, _ID, _VAL),
    # constraint lifecycle: add a bound the model's id domain satisfies,
    # then probe that a violating append is rejected WHOLE (model
    # unchanged) while valid writes continue
    st.tuples(st.just("delete_pos"), _ID, _ID),
    st.tuples(st.just("constrain"),),
    st.tuples(st.just("violate"), st.lists(st.tuples(_ID, _VAL), min_size=1, max_size=3)),
    # round-6 op: rollback to any previously-observed version — the model
    # rewinds its multiset to the state recorded at that version (data
    # only; schema/constraints are table metadata and do NOT roll back,
    # matching Iceberg rollback_to_snapshot). Found a real bug on
    # introduction: rollback dropped the target's pending MOR delete set,
    # resurrecting deleted rows (fixed in snapshots.rollback).
    st.tuples(st.just("rollback"), st.integers(min_value=0, max_value=30)),
    # round-8 op: idempotent keyed streaming append (append_batch, now with
    # snapshot props riding the commit) — a duplicated batch key must be a
    # whole-batch no-op, a fresh key appends exactly once, and the props
    # stamp must not disturb row content
    st.tuples(
        st.just("batch_append"),
        st.lists(st.tuples(_ID, _VAL), min_size=1, max_size=4),
        st.booleans(),  # replay the same key a second time
    ),
    # round-6 ops: tags as retention roots — a tag pins the model state at
    # creation; tag_check re-reads it later, after arbitrary interleaved
    # deletes/rewrites/expires/rollbacks (expire must keep tagged history).
    # read_tag resolves the snapshot's AS-OF schema, so the check compares
    # by column position, not name.
    st.tuples(st.just("tag"),),
    st.tuples(st.just("tag_check"), st.integers(min_value=0, max_value=30)),
)

_EVOLVED_SPECS = [
    [("bucket", "id", 4)],
    [("identity", "id")],
    [("truncate", "id", 5)],
]


@pytest.mark.parametrize(
    "spec,bloom",
    [
        (None, None),
        ([("bucket", "id", 4)], None),
        (None, ["id"]),
        ([("identity", "id")], ["id"]),
    ],
    ids=[
        "unpartitioned",
        "hidden-bucket-partitioned",
        "bloom-on-id",
        "partitioned-and-bloomed",
    ],
)
@settings(
    max_examples=_fuzz_examples(6),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
# SNAPSHOT_FUZZ_OPS deepens sequences for dedicated soak runs without
# raising default CI cost
@given(ops=st.lists(_OP, min_size=2, max_size=int(os.environ.get("SNAPSHOT_FUZZ_OPS", "7"))))
def test_snapshot_table_matches_multiset_model(spark, spec, bloom, ops):
    table = SnapshotTable(
        spark, tempfile.mkdtemp() + "/t", partition_spec=spec, bloom_cols=bloom
    )
    model: Counter = Counter()  # (id, val) -> multiplicity
    seq = {"n": 0}  # unique branch/column names within one generated sequence
    val_name = "val"  # current logical name of the value column
    hist: dict[int, Counter] = {}  # version -> model state (rollback targets)
    tags: dict[str, Counter] = {}  # tag name -> model state when tagged

    def df_of(rows):
        # writers must use the CURRENT schema (stale-writer guard)
        return spark.createDataFrame(rows, f"id long, {val_name} string")

    for op in ops:
        kind = op[0]
        if kind == "append":
            table.append(df_of(op[1]))
            model.update(op[1])
        elif kind in ("delete_cow", "delete_mor"):
            lo, hi = min(op[1], op[2]), max(op[1], op[2])
            if table.current_version() is None:
                continue
            table.delete_where(
                "id", lo, hi, mode="cow" if kind == "delete_cow" else "mor"
            )
            for (i, v) in list(model):
                if lo <= i <= hi:
                    del model[(i, v)]
        elif kind == "delete_keys":
            if table.current_version() is None:
                continue
            table.delete_keys(df_of([(k, "x") for k in op[1]]).select("id"), "id")
            for (i, v) in list(model):
                if i in op[1]:
                    del model[(i, v)]
        elif kind == "merge":
            if table.current_version() is None:
                continue
            src = {i: v for i, v in op[1]}  # last write wins per key
            table.merge(df_of(list(src.items())), "id")
            for (i, v) in list(model):
                if i in src:
                    del model[(i, v)]
            model.update(src.items())
        elif kind == "compact":
            if table.current_version() is None:
                continue
            table.compact()
        elif kind == "branch_wap":
            if table.current_version() is None:
                continue
            seq["n"] += 1
            b = table.create_branch(f"wip{seq['n']}")
            b.append(df_of(op[1]))
            table.fast_forward(f"wip{seq['n']}")
            model.update(op[1])
        elif kind == "txn_append":
            from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
                MultiTableTransaction,
            )

            txn = MultiTableTransaction([table], table.root + "_txns")
            txn.stage_append(table, df_of(op[1]))
            txn.commit()
            model.update(op[1])
        elif kind == "batch_append":
            seq["n"] += 1
            bkey = f"model#{seq['n']}"
            table.append_batch(df_of(op[1]), bkey, props={"origin": bkey})
            model.update(op[1])
            if op[2]:  # replay: same key again must be a whole-batch no-op
                assert table.append_batch(df_of(op[1]), bkey) is None
            assert table.snapshot_props().get("origin") == bkey
        elif kind == "expire":
            if table.current_version() is None:
                continue
            table.expire_snapshots(keep_last=1)
        elif kind == "maintain":
            from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
                maintain_table,
            )

            maintain_table(table, max_files=8, orphan_grace_seconds=3600.0)
        elif kind == "rename":
            if table.current_version() is None:
                continue
            seq["n"] += 1
            new_name = f"val{seq['n']}"
            try:
                table.rename_column(val_name, new_name)
                val_name = new_name
            except SnapshotError:
                pass  # pending MOR deletes legitimately refuse evolution
        elif kind == "evolve_spec":
            if table.current_version() is None:
                continue
            table.evolve_partition_spec(_EVOLVED_SPECS[op[1]])
        elif kind == "update":
            if table.current_version() is None:
                continue
            lo, hi = min(op[1], op[2]), max(op[1], op[2])
            table.update_where("id", lo, hi, {val_name: f"'{op[3]}'"})
            hits = [(i, v) for (i, v) in model if lo <= i <= hi]
            for key in hits:
                n = model.pop(key)
                model[(key[0], op[3])] += n
        elif kind == "delete_pos":
            if table.current_version() is None:
                continue
            lo, hi = min(op[1], op[2]), max(op[1], op[2])
            table.delete_where_positional(f"id BETWEEN {lo} AND {hi}")
            for (i, v) in list(model):
                if lo <= i <= hi:
                    del model[(i, v)]
        elif kind == "constrain":
            if table.current_version() is None or "id_bound" in table._constraints():
                continue
            table.add_constraint("id_bound", "id BETWEEN 0 AND 24")
        elif kind == "violate":
            if "id_bound" not in (
                table._constraints() if table.current_version() is not None else {}
            ):
                continue
            bad = [(i + 1000, v) for i, v in op[1]]
            with pytest.raises(SnapshotError):
                table.append(df_of(bad))
            # rejected whole: model unchanged
        elif kind == "rollback":
            if not hist:
                continue
            versions = sorted(hist)
            target = versions[op[1] % len(versions)]
            try:
                table.rollback(target)
            except SnapshotError:
                continue  # target expired since it was recorded — legal
            model = hist[target].copy()
        elif kind == "tag":
            if table.current_version() is None:
                continue
            seq["n"] += 1
            name = f"t{seq['n']}"
            table.create_tag(name)
            tags[name] = model.copy()
        elif kind == "tag_check":
            if not tags:
                continue
            name = sorted(tags)[op[1] % len(tags)]
            tdf = table.read_tag(name)
            got = Counter(
                (r[0], r[1])
                for r in tdf.select(tdf.columns[0], tdf.columns[1]).collect()
            )
            assert got == +tags[name], f"tag {name}: {got} != {+tags[name]}"
        # invariant after every op: table == model, under the current name
        if table.current_version() is None:
            assert not model
            continue
        hist[table.current_version()] = model.copy()
        got = Counter(
            (r["id"], r[val_name])
            for r in table.read().select("id", val_name).collect()
        )
        assert got == +model, f"after {op}: {got} != {+model}"
        # point-lookup invariant: the pruned path (min/max + bucket + bloom
        # across every spec/schema epoch) agrees with the model at one probe
        probe = Counter(
            (r["id"], r[val_name])
            for r in table.read_where("id", 7, 7).select("id", val_name).collect()
        )
        want = Counter({kv: n for kv, n in model.items() if kv[0] == 7})
        assert probe == +want, f"point-read after {op}: {probe} != {+want}"


# ---------------------------------------------------------------------------
# Coupled-tables model (round 8): the incremental-BM25 ingest triple.
# The standing rule — every table-surface extension gets a fuzz op — applies
# to start_incremental_bm25_ingest's three-table transaction: corpus +
# postings + stats must stay in DERIVED agreement (postings == tokenize the
# corpus; stats partials finalize to the corpus stats) under interleaved
# committed transactions, abandoned (crashed-before-intent) transactions,
# and per-table maintenance (compact/expire/maintain touch ONE table of the
# triple at a time — exactly the decoupling that could break agreement).

_WORDS = st.sampled_from(["spark", "scan", "join", "merge", "agg", "window"])
_DOC = st.one_of(
    st.lists(_WORDS, min_size=1, max_size=4).map(" ".join),
    st.none(),  # NULL text: admitted to the corpus, no postings/stats
)

_BM25_OP = st.one_of(
    st.tuples(st.just("append"), st.lists(_DOC, min_size=1, max_size=3)),
    st.tuples(st.just("abandon"), st.lists(_DOC, min_size=1, max_size=2)),
    st.tuples(st.just("compact"), st.integers(min_value=0, max_value=2)),
    st.tuples(st.just("expire"), st.integers(min_value=0, max_value=2)),
    st.tuples(st.just("maintain"), st.integers(min_value=0, max_value=2)),
)


@settings(
    max_examples=_fuzz_examples(4),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=st.lists(
        _BM25_OP,
        min_size=2,
        max_size=int(os.environ.get("SNAPSHOT_FUZZ_OPS", "6")),
    )
)
def test_bm25_index_triple_stays_derived_from_corpus(spark, ops):
    from collections import Counter as _Counter

    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.textops import (
        bm25_doc_postings,
        bm25_rank,
        bm25_rank_from_index,
        bm25_stats_partial,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        MultiTableTransaction,
        maintain_table,
        recover_transactions,
    )

    root = tempfile.mkdtemp()
    corpus = SnapshotTable(spark, root + "/corpus")
    postings = SnapshotTable(spark, root + "/postings")
    stats = SnapshotTable(spark, root + "/stats")
    triple = [corpus, postings, stats]
    txn_dir = root + "/txns"
    next_id = {"n": 0}

    def batch_df(texts):
        rows = [(next_id["n"] + i, t) for i, t in enumerate(texts)]
        next_id["n"] += len(texts)
        return spark.createDataFrame(rows, "doc_id long, text string")

    any_committed = False
    for op in ops:
        kind = op[0]
        if kind == "append":
            df = batch_df(op[1]).persist()
            txn = MultiTableTransaction(triple, txn_dir)
            txn.stage_append(corpus, df)
            txn.stage_append(postings, bm25_doc_postings(df))
            txn.stage_append(stats, bm25_stats_partial(df))
            txn.commit()
            df.unpersist()
            any_committed = True
        elif kind == "abandon":
            # crash BEFORE the intent rename: staged dirs exist on disk but
            # are invisible; recovery must not surface them
            df = batch_df(op[1]).persist()
            txn = MultiTableTransaction(triple, txn_dir)
            txn.stage_append(corpus, df)
            txn.stage_append(postings, bm25_doc_postings(df))
            txn.stage_append(stats, bm25_stats_partial(df))
            df.unpersist()
            del txn  # no commit
            recover_transactions(spark, txn_dir)
        elif kind in ("compact", "expire", "maintain"):
            t = triple[op[1]]
            if t.current_version() is None:
                continue
            if kind == "compact":
                t.compact()
            elif kind == "expire":
                t.expire_snapshots(keep_last=1)
            else:
                maintain_table(t, max_files=8, orphan_grace_seconds=3600.0)
        if not any_committed:
            continue
        # derived-state agreement after every op: the maintained postings
        # and stats are EXACTLY what re-deriving from the corpus yields
        got_p = _Counter(tuple(r) for r in postings.read().collect())
        want_p = _Counter(
            tuple(r) for r in bm25_doc_postings(corpus.read()).collect()
        )
        assert got_p == want_p, f"postings diverged after {op}"
        got_n, got_dl = stats.read().groupBy().sum("n_docs", "sum_dl").first()
        want_n, want_dl = bm25_stats_partial(corpus.read()).first()
        assert (got_n, got_dl) == (want_n or 0, want_dl), f"stats diverged after {op}"
    if any_committed and postings.read().limit(1).count():
        qmap = spark.createDataFrame(
            [(1, "spark"), (1, "agg")], "query_id int, term string"
        )
        inc = {
            tuple(r)
            for r in bm25_rank_from_index(postings.read(), stats.read(), qmap).collect()
        }
        ref = {tuple(r) for r in bm25_rank(corpus.read(), qmap).collect()}
        assert inc == ref


# Round-8 second coupled-tables model: the incremental-Markov pair. Unlike
# the BM25 triple (append-only), the state table is OVERWRITTEN each batch
# inside the transaction — the shape where a torn commit would leave counts
# and state disagreeing. Ops: committed ordered batches, abandoned
# transactions, per-table maintenance; invariant after every op: finalized
# counts == batch Markov over everything committed, and the state table
# holds exactly each user's true last event.

_MK_TYPES = ["view", "click", "buy"]

_MK_OP = st.one_of(
    st.tuples(st.just("batch"), st.integers(min_value=1, max_value=6)),
    st.tuples(st.just("abandon"), st.integers(min_value=1, max_value=3)),
    st.tuples(st.just("compact"), st.integers(min_value=0, max_value=1)),
    st.tuples(st.just("expire"), st.integers(min_value=0, max_value=1)),
)


@settings(
    max_examples=_fuzz_examples(4),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=st.lists(
        _MK_OP,
        min_size=2,
        max_size=int(os.environ.get("SNAPSHOT_FUZZ_OPS", "6")),
    )
)
def test_markov_pair_stays_derived_from_ingested(spark, ops):
    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.analytics import (
        markov_from_counts,
        markov_transitions,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        MultiTableTransaction,
        recover_transactions,
    )

    root = tempfile.mkdtemp()
    counts = SnapshotTable(spark, root + "/counts")
    state = SnapshotTable(spark, root + "/state")
    txn_dir = root + "/txns"
    schema = "event_id long, ts long, user_id long, event_type string"
    next_eid = {"n": 0}
    ingested: list[tuple] = []

    def make_rows(n):
        rows = []
        for _ in range(n):
            e = next_eid["n"]
            next_eid["n"] += 1
            rows.append((e, 1000 + e * 10, e % 3, _MK_TYPES[(e * 7) % 3]))
        return rows

    def stage_pair(rows, txn):
        # the ingest function's per-batch math, inlined for the model
        from pyspark.sql import Window as W
        from pyspark.sql import functions as FF

        from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.analytics import (
            markov_transition_counts,
        )

        b = spark.createDataFrame(rows, schema)
        w = W.partitionBy("user_id").orderBy("ts", "event_id")
        ranked = b.select(
            "*",
            FF.row_number().over(w).alias("__rn"),
            FF.count("*").over(W.partitionBy("user_id")).alias("__n"),
        )
        within = markov_transition_counts(b)
        prev = state.read() if state.current_version() is not None else None
        firsts = ranked.filter("__rn = 1")
        if prev is not None:
            joined = firsts.join(
                prev.select(
                    "user_id",
                    FF.col("event_type").alias("p_type"),
                ),
                "user_id",
            )
            boundary = joined.groupBy(
                FF.col("p_type").alias("prev_type"),
                FF.col("event_type").alias("next_type"),
            ).agg(FF.count("*").alias("n"))
            partial = within.unionByName(boundary)
        else:
            partial = within
        lasts = ranked.filter("__rn = __n").select(
            "event_id", "ts", "user_id", "event_type"
        )
        if prev is not None:
            carried = prev.join(lasts.select("user_id"), "user_id", "left_anti")
            new_state = carried.unionByName(lasts)
        else:
            new_state = lasts
        txn.stage_append(counts, partial)
        txn.stage_overwrite(state, new_state)

    any_committed = False
    for op in ops:
        kind = op[0]
        if kind == "batch":
            rows = make_rows(op[1])
            txn = MultiTableTransaction([counts, state], txn_dir)
            stage_pair(rows, txn)
            txn.commit()
            ingested.extend(rows)
            any_committed = True
        elif kind == "abandon":
            rows = make_rows(op[1])  # ids burn; never committed
            txn = MultiTableTransaction([counts, state], txn_dir)
            stage_pair(rows, txn)
            del txn
            recover_transactions(spark, txn_dir)
        elif kind in ("compact", "expire"):
            t = [counts, state][op[1]]
            if t.current_version() is None:
                continue
            t.compact() if kind == "compact" else t.expire_snapshots(keep_last=1)
        if not any_committed:
            continue
        got = {
            (r.prev_type, r.next_type): (r.n, r.p)
            for r in markov_from_counts(counts.read()).collect()
        }
        want = {
            (r.prev_type, r.next_type): (r.n, r.p)
            for r in markov_transitions(
                spark.createDataFrame(ingested, schema)
            ).collect()
        }
        assert got == want, f"counts diverged after {op}"
        st_rows = {r.user_id: r.event_id for r in state.read().collect()}
        true_last = {}
        for e, _, u, _t in ingested:
            true_last[u] = max(true_last.get(u, -1), e)
        assert st_rows == true_last, f"state diverged after {op}"


# Round-9 derived-state model: the incremental-RFM user-state table. The
# standing rule (every table-surface extension gets a fuzz op) applied to
# start_cells_ingest(rfm_user_partials)'s single partials table: after ANY interleaving
# of ingested batches, replayed batch keys, compactions (overwrite that must
# keep the key log), snapshot expiry and maintenance, the per-user MERGE of
# the state table must equal re-deriving the partials from everything
# ingested. Values are quarter-integers so sums are binary-exact and the
# invariant is order-independent equality, not approximate.

_RFM_EVENT = st.tuples(
    st.integers(min_value=1, max_value=4),    # user_id
    st.integers(min_value=0, max_value=30),   # day offset
    st.one_of(st.none(), st.integers(min_value=0, max_value=40)),  # value/4
)

_RFM_OP = st.one_of(
    st.tuples(st.just("ingest"), st.lists(_RFM_EVENT, min_size=1, max_size=4)),
    st.tuples(st.just("replay"),),
    st.tuples(st.just("compact"),),
    st.tuples(st.just("expire"),),
    st.tuples(st.just("maintain"),),
)


@settings(
    max_examples=_fuzz_examples(4),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=st.lists(
        _RFM_OP,
        min_size=2,
        max_size=int(os.environ.get("SNAPSHOT_FUZZ_OPS", "6")),
    )
)
def test_rfm_user_state_stays_derived_from_ingested(spark, ops):
    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.analytics import (
        merge_user_state,
        rfm_user_partials,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import maintain_table
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import compact

    root = tempfile.mkdtemp()
    state_t = SnapshotTable(spark, root + "/user_state")
    schema = "event_id long, ts long, user_id long, value double"
    day0 = 1_700_000_000
    ingested: list = []
    next_eid = {"n": 0}
    last = {"key": None, "rows": None}

    def events_df(specs):
        rows = []
        for user, day, q in specs:
            eid = next_eid["n"]
            next_eid["n"] += 1
            rows.append(
                (eid, day0 + day * 86400 + eid, user, None if q is None else q / 4.0)
            )
        return rows

    n_batches = 0
    for op in ops:
        kind = op[0]
        if kind == "ingest":
            rows = events_df(op[1])
            key = f"fuzz#{n_batches}"
            n_batches += 1
            state_t.append_batch(spark.createDataFrame(rows, schema)
                                 .transform(rfm_user_partials), key)
            ingested.extend(rows)
            last["key"], last["rows"] = key, rows
        elif kind == "replay":
            if last["key"] is None:
                continue
            # at-least-once delivery: the same batch arrives again under
            # the same key — must be a whole-batch no-op
            state_t.append_batch(
                spark.createDataFrame(last["rows"], schema)
                .transform(rfm_user_partials),
                last["key"],
            )
        elif kind == "compact":
            if state_t.current_version() is None:
                continue
            compact(spark, root + "/user_state", merge_user_state)
        elif kind == "expire":
            if state_t.current_version() is None:
                continue
            state_t.expire_snapshots(keep_last=1)
        elif kind == "maintain":
            if state_t.current_version() is None:
                continue
            maintain_table(state_t, max_files=8, orphan_grace_seconds=3600.0)
        if not ingested:
            continue

        def canon(df):
            return sorted(
                (r.user_id, str(r.d_first), str(r.d_last), r.n_events,
                 r.monetary_sum)
                for r in merge_user_state(df).collect()
            )

        got = canon(state_t.read())
        want = canon(
            rfm_user_partials(spark.createDataFrame(ingested, schema))
        )
        assert got == want, f"user state diverged after {op}"


# Round-9 second derived-state model: the incremental hourly-counts table
# (ninth path). Same mergeable-sums mechanics as the RFM model but on the
# calendar-bucket key — the invariant is that the per-bucket MERGE of the
# maintained table equals re-deriving the counts from everything ingested,
# under ingested batches, replayed keys, compaction, expiry, maintenance.

_HR_EVENT = st.tuples(
    st.integers(min_value=0, max_value=5),   # day offset
    st.integers(min_value=0, max_value=23),  # hour
)

_HR_OP = st.one_of(
    st.tuples(st.just("ingest"), st.lists(_HR_EVENT, min_size=1, max_size=4)),
    st.tuples(st.just("replay"),),
    st.tuples(st.just("compact"),),
    st.tuples(st.just("expire"),),
    st.tuples(st.just("maintain"),),
)


@settings(
    max_examples=_fuzz_examples(3),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=st.lists(
        _HR_OP,
        min_size=2,
        max_size=int(os.environ.get("SNAPSHOT_FUZZ_OPS", "6")),
    )
)
def test_hourly_counts_stay_derived_from_ingested(spark, ops):
    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.analytics import (
        hourly_counts,
        merge_hourly_counts,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import maintain_table
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import compact

    root = tempfile.mkdtemp()
    counts_t = SnapshotTable(spark, root + "/hourly")
    schema = "event_id long, ts long, user_id long"
    day0 = 1_700_000_000
    ingested: list = []
    next_eid = {"n": 0}
    last = {"key": None, "rows": None}
    n_batches = 0
    for op in ops:
        kind = op[0]
        if kind == "ingest":
            rows = []
            for day, hour in op[1]:
                eid = next_eid["n"]
                next_eid["n"] += 1
                rows.append((eid, day0 + day * 86400 + hour * 3600 + eid % 60, eid % 3))
            key = f"fuzz#{n_batches}"
            n_batches += 1
            counts_t.append_batch(
                hourly_counts(spark.createDataFrame(rows, schema)), key
            )
            ingested.extend(rows)
            last["key"], last["rows"] = key, rows
        elif kind == "replay":
            if last["key"] is None:
                continue
            counts_t.append_batch(
                hourly_counts(spark.createDataFrame(last["rows"], schema)),
                last["key"],
            )
        elif kind == "compact":
            if counts_t.current_version() is None:
                continue
            compact(spark, root + "/hourly", merge_hourly_counts)
        elif kind == "expire":
            if counts_t.current_version() is None:
                continue
            counts_t.expire_snapshots(keep_last=1)
        elif kind == "maintain":
            if counts_t.current_version() is None:
                continue
            maintain_table(counts_t, max_files=8, orphan_grace_seconds=3600.0)
        if not ingested:
            continue

        def canon(df):
            return sorted(
                (str(r.day), r.hour, r.n)
                for r in merge_hourly_counts(df).collect()
            )

        got = canon(counts_t.read())
        want = canon(hourly_counts(spark.createDataFrame(ingested, schema)))
        assert got == want, f"hourly counts diverged after {op}"


# Round-11 derived-state model: the incremental value-histogram table
# (eleventh path). Mergeable-sums mechanics on the PINNED (type, bin) key —
# the invariant is that the per-cell MERGE of the maintained table equals
# re-deriving the histogram from everything ingested, under ingested
# batches (incl. negative values and NULL value/type rows the shared pass
# excludes), replayed keys, compaction, expiry, maintenance. Values are
# quarter-integers so bin assignment is binary-exact.

_VH_EVENT = st.tuples(
    st.one_of(st.none(), st.just("a"), st.just("b")),          # event_type
    st.one_of(st.none(), st.integers(min_value=-20, max_value=40)),  # value/4
)

_VH_OP = st.one_of(
    st.tuples(st.just("ingest"), st.lists(_VH_EVENT, min_size=1, max_size=4)),
    st.tuples(st.just("replay"),),
    st.tuples(st.just("compact"),),
    st.tuples(st.just("expire"),),
    st.tuples(st.just("maintain"),),
)


@settings(
    max_examples=_fuzz_examples(3),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=st.lists(
        _VH_OP,
        min_size=2,
        max_size=int(os.environ.get("SNAPSHOT_FUZZ_OPS", "6")),
    )
)
def test_value_hist_stays_derived_from_ingested(spark, ops):
    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.analytics import (
        merge_value_hist,
        value_hist,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import maintain_table
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import compact

    root = tempfile.mkdtemp()
    hist_t = SnapshotTable(spark, root + "/vhist")
    schema = "event_id long, event_type string, value double"
    ingested: list = []
    next_eid = {"n": 0}
    last = {"key": None, "rows": None}
    n_batches = 0
    for op in ops:
        kind = op[0]
        if kind == "ingest":
            rows = []
            for etype, v4 in op[1]:
                eid = next_eid["n"]
                next_eid["n"] += 1
                rows.append(
                    (eid, etype, None if v4 is None else v4 / 4.0)
                )
            key = f"fuzz#{n_batches}"
            n_batches += 1
            hist_t.append_batch(
                value_hist(spark.createDataFrame(rows, schema)), key
            )
            ingested.extend(rows)
            last["key"], last["rows"] = key, rows
        elif kind == "replay":
            if last["key"] is None:
                continue
            hist_t.append_batch(
                value_hist(spark.createDataFrame(last["rows"], schema)),
                last["key"],
            )
        elif kind == "compact":
            if hist_t.current_version() is None:
                continue
            compact(spark, root + "/vhist", merge_value_hist)
        elif kind == "expire":
            if hist_t.current_version() is None:
                continue
            hist_t.expire_snapshots(keep_last=1)
        elif kind == "maintain":
            if hist_t.current_version() is None:
                continue
            maintain_table(hist_t, max_files=8, orphan_grace_seconds=3600.0)
        if not ingested:
            continue

        def canon(df):
            return sorted(
                (r.event_type, r.bin, r.c)
                for r in merge_value_hist(df).collect()
            )

        got = canon(hist_t.read())
        want = canon(value_hist(spark.createDataFrame(ingested, schema)))
        assert got == want, f"value hist diverged after {op}"


# Round-11 second derived-state model: the incremental corpus-rollup cells
# (twelfth path). Mergeable-sums on the (lang, source) key with NULL keys
# and NULL n_chars in the domain — the invariant is that the per-cell MERGE
# of the maintained table equals re-deriving the cells from everything
# ingested, under ingested batches, replayed keys, compaction, expiry,
# maintenance.

_CR_DOC = st.tuples(
    st.one_of(st.none(), st.just("en"), st.just("de")),           # lang
    st.one_of(st.none(), st.just("web"), st.just("books")),       # source
    st.one_of(st.none(), st.integers(min_value=0, max_value=500)),  # n_chars
)

_CR_OP = st.one_of(
    st.tuples(st.just("ingest"), st.lists(_CR_DOC, min_size=1, max_size=4)),
    st.tuples(st.just("replay"),),
    st.tuples(st.just("compact"),),
    st.tuples(st.just("expire"),),
    st.tuples(st.just("maintain"),),
)


@settings(
    max_examples=_fuzz_examples(3),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=st.lists(
        _CR_OP,
        min_size=2,
        max_size=int(os.environ.get("SNAPSHOT_FUZZ_OPS", "6")),
    )
)
def test_corpus_cells_stay_derived_from_ingested(spark, ops):
    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.textops import (
        corpus_cells,
        merge_corpus_cells,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import maintain_table
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import compact

    root = tempfile.mkdtemp()
    cells_t = SnapshotTable(spark, root + "/cells")
    schema = "doc_id long, lang string, source string, n_chars long"
    ingested: list = []
    next_did = {"n": 0}
    last = {"key": None, "rows": None}
    n_batches = 0
    for op in ops:
        kind = op[0]
        if kind == "ingest":
            rows = []
            for lang, source, n_chars in op[1]:
                did = next_did["n"]
                next_did["n"] += 1
                rows.append((did, lang, source, n_chars))
            key = f"fuzz#{n_batches}"
            n_batches += 1
            cells_t.append_batch(
                corpus_cells(spark.createDataFrame(rows, schema)), key
            )
            ingested.extend(rows)
            last["key"], last["rows"] = key, rows
        elif kind == "replay":
            if last["key"] is None:
                continue
            cells_t.append_batch(
                corpus_cells(spark.createDataFrame(last["rows"], schema)),
                last["key"],
            )
        elif kind == "compact":
            if cells_t.current_version() is None:
                continue
            compact(spark, root + "/cells", merge_corpus_cells)
        elif kind == "expire":
            if cells_t.current_version() is None:
                continue
            cells_t.expire_snapshots(keep_last=1)
        elif kind == "maintain":
            if cells_t.current_version() is None:
                continue
            maintain_table(cells_t, max_files=8, orphan_grace_seconds=3600.0)
        if not ingested:
            continue

        def canon(df):
            # stringify: lang/source may be None, and Python can't order
            # None against str inside tuple comparison
            return sorted(
                (str(r.lang), str(r.source), r.n, r.nn, r.chars)
                for r in merge_corpus_cells(df).collect()
            )

        got = canon(cells_t.read())
        want = canon(corpus_cells(spark.createDataFrame(ingested, schema)))
        assert got == want, f"corpus cells diverged after {op}"


# Round-10 derived-state model: the incremental-sessionization pair (tenth
# path, boundary-state class). Batches of per-user-ORDERED events (a global
# clock drives every ts, so the order contract holds by construction) drive
# the real apply_sessions_batch stitcher; after ANY interleaving of ingests,
# replayed keys, snapshot expiry and maintenance on either table, serving
# sessions_from_state(closed, open) must equal batch session_rollup over
# everything ingested. Values are quarter-integers so stitched sums are
# binary-exact; gaps straddle the 1800 s threshold so merges, closes and
# multi-session batches all occur; NULL users/values exercise the ingest
# filter and the null-skipping value merge.

_SESS_EVENT = st.tuples(
    st.one_of(st.none(), st.integers(min_value=1, max_value=3)),  # user_id
    st.integers(min_value=1, max_value=400),  # clock advance, ×10 s
    st.one_of(st.none(), st.integers(min_value=0, max_value=40)),  # value/4
)

_SESS_OP = st.one_of(
    st.tuples(st.just("ingest"), st.lists(_SESS_EVENT, min_size=1, max_size=5)),
    st.tuples(st.just("replay"),),
    st.tuples(st.just("expire"), st.integers(min_value=0, max_value=1)),
    st.tuples(st.just("maintain"), st.integers(min_value=0, max_value=1)),
)


@settings(
    max_examples=_fuzz_examples(4),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=st.lists(
        _SESS_OP,
        min_size=2,
        max_size=int(os.environ.get("SNAPSHOT_FUZZ_OPS", "6")),
    )
)
def test_sessions_state_stays_derived_from_ingested(spark, ops):
    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.windows import (
        session_rollup,
        sessions_from_state,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        maintain_table,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import (
        apply_sessions_batch,
    )

    root = tempfile.mkdtemp()
    closed_t = SnapshotTable(spark, root + "/closed")
    open_t = SnapshotTable(spark, root + "/open")
    txn_dir = root + "/txn"
    schema = "event_id long, ts long, user_id long, value double"
    clock = {"t": 1_700_000_000, "eid": 0}
    ingested: list = []
    last = {"key": None, "rows": None}
    n_batches = 0

    for op in ops:
        kind = op[0]
        if kind == "ingest":
            rows = []
            for user, adv, q in op[1]:
                clock["t"] += adv * 10
                clock["eid"] += 1
                rows.append(
                    (
                        clock["eid"],
                        clock["t"],
                        user,
                        None if q is None else q / 4.0,
                    )
                )
            key = f"fuzz#{n_batches}"
            n_batches += 1
            apply_sessions_batch(
                spark,
                closed_t,
                open_t,
                txn_dir,
                spark.createDataFrame(rows, schema),
                key,
            )
            ingested.extend(rows)
            last["key"], last["rows"] = key, rows
        elif kind == "replay":
            if last["key"] is None:
                continue
            # at-least-once delivery: the same batch under the same key
            # must be a whole-batch no-op
            applied = apply_sessions_batch(
                spark,
                closed_t,
                open_t,
                txn_dir,
                spark.createDataFrame(last["rows"], schema),
                last["key"],
            )
            assert applied is False
        elif kind == "expire":
            t = (closed_t, open_t)[op[1]]
            if t.current_version() is None:
                continue
            t.expire_snapshots(keep_last=1)
        elif kind == "maintain":
            t = (closed_t, open_t)[op[1]]
            if t.current_version() is None:
                continue
            maintain_table(t, max_files=8, orphan_grace_seconds=3600.0)
        if open_t.current_version() is None:
            continue

        def canon(df):
            return sorted(
                (r.user_id, r.session_id, r.n_events, r.session_start,
                 r.session_end, r.session_value)
                for r in df.collect()
            )

        got = canon(sessions_from_state(closed_t.read(), open_t.read()))
        want = canon(
            session_rollup(
                spark.createDataFrame(ingested, schema).filter(
                    "user_id IS NOT NULL AND ts IS NOT NULL"
                )
            )
        )
        assert got == want, f"sessions diverged after {op}"


# Round-12 derived-state model: the incremental shingle index (thirteenth
# path, append-only-postings class). Documents with tiny word pools make
# shingle collisions (and df-cap crossings at scale) plausible; after ANY
# interleaving of ingested batches, replayed keys, compaction, expiry and
# maintenance, the decontamination audit served from the maintained index
# must equal the batch shared-core over everything ingested — the df cap
# and split assignment recompute at query time, so later batches can both
# contaminate earlier train docs AND push a shingle over the boilerplate
# cap retroactively.

_SI_WORDS = ["alpha", "beta", "gamma", "delta", "omega"]

_SI_DOC = st.one_of(
    st.none(),  # NULL-text doc: contributes no postings
    st.lists(st.sampled_from(_SI_WORDS), min_size=3, max_size=6),
)

_SI_OP = st.one_of(
    st.tuples(st.just("ingest"), st.lists(_SI_DOC, min_size=1, max_size=4)),
    st.tuples(st.just("replay"),),
    st.tuples(st.just("compact"),),
    st.tuples(st.just("expire"),),
    st.tuples(st.just("maintain"),),
)


@settings(
    max_examples=_fuzz_examples(3),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=st.lists(
        _SI_OP,
        min_size=2,
        max_size=int(os.environ.get("SNAPSHOT_FUZZ_OPS", "6")),
    )
)
def test_shingle_index_stays_derived_from_ingested(spark, ops):
    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.dedup import (
        doc_shingle_rows,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.sampling import (
        decon_from_postings,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        maintain_table,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import (
        compact,
    )

    root = tempfile.mkdtemp()
    index_t = SnapshotTable(spark, root + "/shidx")
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    ingested: list = []
    next_did = {"n": 0}
    last = {"key": None, "rows": None}
    n_batches = 0
    for op in ops:
        kind = op[0]
        if kind == "ingest":
            rows = []
            for words in op[1]:
                did = next_did["n"]
                next_did["n"] += 1
                text = None if words is None else " ".join(words)
                rows.append((did, text, "en", "web",
                             0 if text is None else len(text)))
            key = f"fuzz#{n_batches}"
            n_batches += 1
            index_t.append_batch(
                doc_shingle_rows(spark.createDataFrame(rows, schema)), key
            )
            ingested.extend(rows)
            last["key"], last["rows"] = key, rows
        elif kind == "replay":
            if last["key"] is None:
                continue
            index_t.append_batch(
                doc_shingle_rows(
                    spark.createDataFrame(last["rows"], schema)
                ),
                last["key"],
            )
        elif kind == "compact":
            if index_t.current_version() is None:
                continue
            compact(spark, root + "/shidx")
        elif kind == "expire":
            if index_t.current_version() is None:
                continue
            index_t.expire_snapshots(keep_last=1)
        elif kind == "maintain":
            if index_t.current_version() is None:
                continue
            maintain_table(index_t, max_files=8, orphan_grace_seconds=3600.0)
        if not ingested or index_t.current_version() is None:
            continue

        def canon(df):
            return sorted(tuple(r) for r in df.collect())

        got = canon(decon_from_postings(index_t.read()))
        want = canon(
            decon_from_postings(
                doc_shingle_rows(spark.createDataFrame(ingested, schema))
            )
        )
        assert got == want, f"shingle index diverged after {op}"


# Round-13 derived-state model: exact incremental SCD2 (sixteenth path,
# boundary-state class). Batches of per-user-ORDERED typed events (the
# global clock makes the order contract hold by construction) drive the
# real apply_scd2_batch stitcher; after ANY interleaving of ingests,
# replayed keys, snapshot expiry and maintenance on either table, serving
# scd2_from_state(closed, open) must equal the batch change-collapse over
# everything ingested. A 3-letter state pool makes boundary merges
# (same-state continuation), boundary closes and multi-change batches all
# plausible; NULL users/states exercise the ingest filter.

_SCD2_EVENT = st.tuples(
    st.one_of(st.none(), st.integers(min_value=1, max_value=3)),  # user_id
    st.integers(min_value=1, max_value=50),  # clock advance, ×10 s
    st.one_of(st.none(), st.sampled_from(["a", "b", "c"])),  # state
)

_SCD2_OP = st.one_of(
    st.tuples(st.just("ingest"), st.lists(_SCD2_EVENT, min_size=1, max_size=5)),
    st.tuples(st.just("replay")),
    st.tuples(st.just("expire"), st.integers(min_value=0, max_value=1)),
    st.tuples(st.just("maintain"), st.integers(min_value=0, max_value=1)),
)


@settings(
    max_examples=_fuzz_examples(4),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=st.lists(
        _SCD2_OP,
        min_size=2,
        max_size=int(os.environ.get("SNAPSHOT_FUZZ_OPS", "6")),
    )
)
def test_scd2_state_stays_derived_from_ingested(spark, ops):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.windows import scd2_from_state
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        maintain_table,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.streaming.ingest import (
        apply_scd2_batch,
    )

    root = tempfile.mkdtemp()
    closed_t = SnapshotTable(spark, root + "/closed")
    open_t = SnapshotTable(spark, root + "/open")
    txn_dir = root + "/txn"
    schema = "event_id long, ts long, user_id long, event_type string"
    clock = {"t": 1_700_000_000, "eid": 0}
    ingested: list = []
    last = {"key": None, "rows": None}
    n_batches = 0

    for op in ops:
        kind = op[0]
        if kind == "ingest":
            rows = []
            for user, adv, state in op[1]:
                clock["t"] += adv * 10
                clock["eid"] += 1
                rows.append((clock["eid"], clock["t"], user, state))
            key = f"fuzz#{n_batches}"
            n_batches += 1
            apply_scd2_batch(
                spark,
                closed_t,
                open_t,
                txn_dir,
                spark.createDataFrame(rows, schema),
                key,
            )
            ingested.extend(rows)
            last["key"], last["rows"] = key, rows
        elif kind == "replay":
            if last["key"] is None:
                continue
            applied = apply_scd2_batch(
                spark,
                closed_t,
                open_t,
                txn_dir,
                spark.createDataFrame(last["rows"], schema),
                last["key"],
            )
            assert applied is False
        elif kind == "expire":
            t = (closed_t, open_t)[op[1]]
            if t.current_version() is None:
                continue
            t.expire_snapshots(keep_last=1)
        elif kind == "maintain":
            t = (closed_t, open_t)[op[1]]
            if t.current_version() is None:
                continue
            maintain_table(t, max_files=8, orphan_grace_seconds=3600.0)
        if open_t.current_version() is None:
            continue

        def canon(df):
            return sorted(
                (r.user_id, r.version, r.state, r.valid_from, r.valid_to,
                 r.is_current)
                for r in df.collect()
            )

        got = canon(scd2_from_state(closed_t.read(), open_t.read()))
        ev = spark.createDataFrame(ingested, schema).filter(
            "user_id IS NOT NULL AND event_type IS NOT NULL"
        )
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        changes = ev.select(
            "user_id",
            "ts",
            "event_id",
            F.col("event_type").alias("state"),
            F.lag("event_type").over(w).alias("_prev"),
        ).filter(F.col("_prev").isNull() | (F.col("_prev") != F.col("state")))
        want = canon(
            changes.select(
                "user_id",
                F.row_number().over(w).cast("long").alias("version"),
                "state",
                F.col("ts").alias("valid_from"),
                F.lead("ts").over(w).alias("valid_to"),
                F.lead("ts").over(w).isNull().alias("is_current"),
            )
        )
        assert got == want, f"scd2 diverged after {op}"
