"""Scratch-dir routing guards (r15 verdict item 6 / ADVICE): the
tmpfs preference must be disableable via $SPARK_GRAFT_LOCAL_DIR, must
refuse inputs too big for RAM-backed shuffle headroom, and the stale
reaper must only remove dead entries. Pure-Python — no Spark session."""

import os
import shutil

from pdf_using_hugging_face_and_vector_database_spark import session as S


def test_empty_override_disables_tmpfs(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", "")
    assert S.scratch_local_dir() is None


def test_explicit_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", "/somewhere/else")
    assert S.scratch_local_dir() == "/somewhere/else"


def test_big_input_falls_back_to_disk(monkeypatch, tmp_path):
    """The free-space gate scales with the input dir: an input whose
    8x headroom exceeds /dev/shm free space must NOT route scratch at
    RAM (the mid-run ENOSPC class the r15 verdict flagged)."""
    monkeypatch.delenv("SPARK_GRAFT_LOCAL_DIR", raising=False)
    (tmp_path / "big.parquet").write_bytes(b"x" * 1024)
    real_usage = shutil.disk_usage

    def fake_usage(p):
        u = real_usage(p)
        # pretend /dev/shm has 32 GiB free: above the 16 GiB floor,
        # below 8x a "100 TB" input
        return type(u)(u.total, u.used, 32 * 2**30)

    monkeypatch.setattr(shutil, "disk_usage", fake_usage)
    monkeypatch.setattr(S, "_input_bytes", lambda d: 100 * 2**40)
    assert S.scratch_local_dir(str(tmp_path)) is None
    # a small input (the fixture scales) keeps the tmpfs preference
    monkeypatch.setattr(S, "_input_bytes", lambda d: 10 * 2**20)
    if os.path.isdir("/dev/shm"):
        assert S.scratch_local_dir(str(tmp_path)) == (
            "/dev/shm/sparkgraft_local"
        )


def test_reap_stale_scratch_removes_only_dead_entries(tmp_path):
    stale_dir = tmp_path / "blockmgr-dead"
    stale_dir.mkdir()
    (stale_dir / "shuffle_0_0_0.data").write_bytes(b"y")
    stale_file = tmp_path / "dead.tmp"
    stale_file.write_bytes(b"z")
    fresh = tmp_path / "blockmgr-live"
    fresh.mkdir()
    now = os.lstat(stale_dir).st_mtime + S._SCRATCH_STALE_SEC + 1
    os.utime(fresh, (now - 1, now - 1))
    S._reap_stale_scratch(str(tmp_path), now=now)
    assert not stale_dir.exists()
    assert not stale_file.exists()
    assert fresh.exists()


def test_reap_missing_dir_is_noop(tmp_path):
    S._reap_stale_scratch(str(tmp_path / "never_created"))


def test_reap_judges_age_by_newest_mtime_in_subtree(tmp_path):
    """A live JVM's blockmgr-* dir keeps the old mtime of its launch
    while fresh shuffle files are written deep inside it: it must
    survive. A dir in which nothing is fresh is removed. Fails on a
    reaper that reads only the top-level entry's mtime."""
    now = os.lstat(tmp_path).st_mtime + 10 * S._SCRATCH_STALE_SEC
    old = now - S._SCRATCH_STALE_SEC - 1
    live = tmp_path / "blockmgr-live"
    (live / "0c").mkdir(parents=True)
    (live / "0c" / "shuffle_3_7_0.data").write_bytes(b"y")
    dead = tmp_path / "blockmgr-dead"
    (dead / "0c").mkdir(parents=True)
    (dead / "0c" / "shuffle_1_2_0.data").write_bytes(b"y")
    for p in (dead / "0c" / "shuffle_1_2_0.data", dead / "0c", dead, live / "0c", live):
        os.utime(p, (old, old))
    os.utime(live / "0c" / "shuffle_3_7_0.data", (now - 1, now - 1))
    S._reap_stale_scratch(str(tmp_path), now=now)
    assert (live / "0c" / "shuffle_3_7_0.data").exists()
    assert not dead.exists()
