"""io.memo — the engine's one session memo — driven with stub sessions, so
stopping a session needs no real SparkContext (the shared test session
must stay up)."""

from __future__ import annotations

import os

import pytest

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
