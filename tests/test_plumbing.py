"""Spark-free unit tests for the shared plumbing: the query helpers in
sdg_engine/qcommon.py and the session conf merge in sdg_engine/session.py."""

import os

from sdg_engine.qcommon import _pin_batch_order


def test_pin_batch_order_follows_write_order_not_names(tmp_path):
    # chunk-10 is written AFTER chunk-9 but sorts before it by name
    paths = []
    for k in (8, 9, 10, 11):
        p = tmp_path / f"chunk-{k}.parquet"
        p.write_bytes(b"x")
        paths.append(str(p))
    os.utime(paths[-1], (0, 0))  # a stale stamp must not survive
    assert sorted(paths) != paths
    _pin_batch_order(paths)
    mtimes = [os.stat(p).st_mtime for p in paths]
    assert all(b - a >= 1.0 for a, b in zip(mtimes, mtimes[1:]))
    by_mtime = sorted(os.listdir(tmp_path),
                      key=lambda f: os.stat(tmp_path / f).st_mtime)
    assert [str(tmp_path / f) for f in by_mtime] == paths


def test_engine_confs_keep_daemon_confs_local():
    from sdg_engine.session import ENGINE_CONFS, LOCAL_ENGINE_CONFS, engine_confs

    assert set(ENGINE_CONFS).isdisjoint(LOCAL_ENGINE_CONFS)
    local = engine_confs("local[2]")
    assert set(LOCAL_ENGINE_CONFS) <= set(local)
    remote = engine_confs("yarn")
    assert set(remote).isdisjoint(LOCAL_ENGINE_CONFS)
    assert remote == ENGINE_CONFS
