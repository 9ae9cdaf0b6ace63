"""io.memo — the engine's one session memo — driven with stub sessions, so
stopping a session needs no real SparkContext (the shared test session
must stay up); then, on the shared session, the work a warm session must
not redo: compiling generated code again and inferring scratch schemas."""

from __future__ import annotations

import os
import random
import re
import uuid

import pytest
from pyspark.sql import functions as F

from streaming_data_pipeline_with_iceberg_and_spark_spark import io


class _Jsc:
    def __init__(self):
        self.stopped = False

    def sc(self):
        return self

    def isStopped(self):
        return self.stopped


class _Ctx:
    def __init__(self, app_id):
        self.applicationId = app_id
        self._jsc = _Jsc()


class _Session:
    def __init__(self, app_id):
        self.sparkContext = _Ctx(app_id)


@pytest.fixture
def memo_state(monkeypatch):
    """Run against an empty memo table; the real one comes back after."""
    monkeypatch.setattr(io, "_MEMO", {})
    return io._MEMO


def _write(sf, text):
    with open(os.path.join(sf, "documents.parquet"), "w") as f:
        f.write(text)


def test_memo_hits_and_releases(memo_state, tmp_path):
    sf = str(tmp_path)
    _write(sf, "v1")
    released = []
    builds = []

    def build():
        builds.append(1)
        return f"value{len(builds)}"

    def call(session, face="f"):
        return io.memo(session, sf, "documents", face, build, released.append)

    a = _Session("app-a")
    assert call(a) == "value1"
    # hit on the second call: no rebuild
    assert call(a) == "value1" and len(builds) == 1
    assert io.MEMO_STATS["f", "hit"] >= 1

    # a rewrite of the table displaces the old fingerprint's entries
    call(a, face="g")  # value2, same table version
    _write(sf, "v2 is longer")
    assert call(a) == "value3"
    assert sorted(released) == ["value1", "value2"]
    assert len(memo_state) == 1

    # a stopped session's entries are released on the next miss
    b = _Session("app-b")
    assert call(b) == "value4"
    b.sparkContext._jsc.stopped = True
    assert call(_Session("app-c")) == "value5"
    assert "value4" in released and "value3" not in released
    # an entry whose session cannot be reached counts as stopped
    del a.sparkContext._jsc
    call(_Session("app-d"))
    assert "value3" in released

    # clear_all releases everything that is left
    io.clear_all()
    assert memo_state == {}
    assert sorted(released) == [f"value{i}" for i in range(1, 7)]


def test_scratch_memo_removes_dir_on_release(memo_state, tmp_path):
    sf = str(tmp_path)
    _write(sf, "v1")
    s = _Session("app-a")
    root = io.scratch_memo(s, sf, "documents", "t", lambda d: d)
    assert os.path.isdir(root)
    assert io.scratch_memo(s, sf, "documents", "t", lambda d: d) == root
    io.clear_all()
    assert not os.path.exists(root)

    # a failed build leaves no scratch dir behind
    seen = []

    def boom(d):
        seen.append(d)
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        io.scratch_memo(s, sf, "documents", "t", boom)
    assert not os.path.exists(seen[0]) and memo_state == {}


def test_session_scratch_dir_removed_by_clear_all_and_stop(memo_state):
    a = _Session("app-a")
    path = io.session_scratch_dir(a, "spark_graft_t_")
    assert os.path.isdir(path)
    io.clear_all()
    assert not os.path.exists(path) and memo_state == {}

    # a stopped session's dirs go with the next scratch dir (or memo miss)
    path = io.session_scratch_dir(a, "spark_graft_t_")
    a.sparkContext._jsc.stopped = True
    other = io.session_scratch_dir(_Session("app-b"), "spark_graft_t_")
    assert not os.path.exists(path) and os.path.isdir(other)
    io.clear_all()


# ---------------------------------------------------------------------------
# Against the shared test session: what a warm session must not redo


def _stage_names(spark, run) -> list[str]:
    """Stage names of every Spark job ``run()`` launches, through a job
    group of its own."""
    sc = spark.sparkContext
    group = f"test_memo-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    names = []
    for job in st.getJobIdsForGroup(group):
        for stage in st.getJobInfo(job).stageIds:
            names.append(st.getStageInfo(stage).name)
    return names


def _compilations(spark) -> int:
    """Classes Janino has compiled in this JVM (codegen cache misses)."""
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def test_warm_face_reuses_its_code_after_other_compilations(spark, sf_dir):
    import __spark_entry__

    qs = __spark_entry__.queries()

    def face():
        qs["bm25_search"](spark, sf_dir).collect()

    face()
    face()  # memo built, plan warm
    before = _compilations(spark)
    for q in ("knn_bruteforce", "dedup_minhash_lsh"):
        qs[q](spark, sf_dir).collect()
    # top up with classes this JVM has never seen (each inlined literal is
    # its own class; execute() compiles without launching a job) until
    # well past Spark's default cache capacity of 100
    base = random.getrandbits(40)
    for i in range(400):
        if _compilations(spark) - before > 200:
            break
        df = spark.range(1).select((F.col("id") + F.lit(base + i)).alias("x"))
        df._jdf.queryExecution().executedPlan().execute()
    assert _compilations(spark) - before > 200
    warm = _compilations(spark)
    face()
    assert _compilations(spark) == warm


@pytest.mark.parametrize(
    "face", ["bm25_search", "hybrid_search_rrf", "label_purity_ivf_audit"]
)
def test_warm_build_runs_no_schema_inference(spark, sf_dir, face):
    import __spark_entry__

    build = __spark_entry__.queries()[face]
    build(spark, sf_dir)  # builds the memos
    stages = _stage_names(spark, lambda: build(spark, sf_dir))
    # a warm build writes nothing, so a `parquet at` job infers a schema
    assert not [s for s in stages if s.startswith("parquet at")], stages


def test_warm_hybrid_build_launches_no_job(spark, sf_dir):
    """The sparse arm gets the pinned term list, so a warm build collects
    no query terms (it launched 2 jobs when it derived them)."""
    import __spark_entry__

    build = __spark_entry__.queries()["hybrid_search_rrf"]
    build(spark, sf_dir)  # builds the memos
    assert _stage_names(spark, lambda: build(spark, sf_dir)) == []


def test_mutation_scratch_table_removed_by_clear_all(spark, sf_dir):
    import __spark_entry__

    df = __spark_entry__.queries()["merge_upsert_orders"](spark, sf_dir)
    assert df.count() > 0
    roots = {
        re.match(r"file:(?://)?(/.*?/spark_graft_cow_[^/]+)/", p).group(1)
        for p in df.inputFiles()
    }
    assert len(roots) == 1
    root = roots.pop()
    assert os.path.isdir(root)
    io.clear_all()
    assert not os.path.exists(root)


def test_dedup_semantic_serves_from_the_shared_ivf_index(spark, sf_dir):
    """dedup_semantic blocks by the pinned IVF index's cells, so after
    ann_ivf_index has built that index it is served from the same memo
    entry instead of fitting and assigning a quantizer of its own."""
    import __spark_entry__

    qs = __spark_entry__.queries()
    qs["ann_ivf_index"](spark, sf_dir).collect()
    hits = io.MEMO_STATS["ivfidx", "hit"]
    builds = io.MEMO_STATS["ivfidx", "build"]
    qs["dedup_semantic"](spark, sf_dir).collect()
    assert io.MEMO_STATS["ivfidx", "hit"] == hits + 1
    assert io.MEMO_STATS["ivfidx", "build"] == builds
