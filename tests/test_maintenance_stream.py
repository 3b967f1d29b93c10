"""Streaming self-maintenance daemon (streaming/maintenance_stream.py):
the foreachBatch ingest + plan-gated repair loop over a published root.
The all-keep round-trip path is oracle-verified through st24 (v24's
hash); these tests cover what the hash can't — bit-level store equality
after the multi-batch replay, one epoch per micro-batch, and the
repair-FIRING path's invariants."""

from __future__ import annotations

import shutil
import tempfile

import pytest

import ai_optimizer_spark.plans.published as P
from ai_optimizer_spark.streaming.maintenance_stream import (
    _write_wave_files,
    run_maintenance_daemon,
)

SF = "/root/testdata/sf0.001"
K = 16


@pytest.fixture()
def roots(tmp_path, monkeypatch):
    monkeypatch.setattr(
        P, "_pub_root", lambda _s, _sf, _k, label=None: str(tmp_path / (label or "shared"))
    )


@pytest.fixture()
def stream_dir():
    d = tempfile.mkdtemp(prefix="st24test-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _canon(spark, label, epoch):
    _ep, rows = P.resolve_snapshot(spark, SF, K, epoch, label=label)
    store = P._read_cells(
        spark, P._pub_root(spark, SF, K, label), [p for *_x, p in rows]
    )
    return (
        sorted(
            (int(r.vec_id), int(r.label), float(r.scale),
             tuple(int(c) for c in r.codes), int(r.cid))
            for r in store.collect()
        ),
        sorted((c, s, r) for c, s, r, _n, _p in rows),
    )


@pytest.mark.slow
def test_daemon_roundtrip_bit_identical(spark, roots, stream_dir):
    """Erase → daemon re-ingest in 3 micro-batches (gate armed, never
    firing) commits one epoch per batch and reproduces the untouched
    store and geometry exactly."""
    P.publish_init(spark, SF, K, label="rt")
    rep = P.publish_delete(spark, SF, K, del_mod=41, del_rem=23, label="rt")
    assert rep["deleted"] > 0 and not rep.get("reseeded_cells")
    _write_wave_files(spark, SF, 41, 23, 3, stream_dir)
    st = run_maintenance_daemon(
        spark, SF, K, label="rt", stream_dir=stream_dir, repair_every=2
    )
    assert st["batches"] == 3 and st["ingested"] == rep["deleted"]
    assert st["gate_checks"] == 1 and st["repairs_fired"] == 0
    assert P.published_epochs(spark, SF, K, label="rt") == [1, 2, 3, 4, 5]
    assert _canon(spark, "rt", 5) == _canon(spark, "rt", 1)


@pytest.mark.slow
def test_daemon_repairs_fire_and_converge(spark, roots, stream_dir):
    """Tight thresholds: the gate FIRES mid-stream (split/merge on the
    live store between micro-batches), every invariant survives, and
    after the stream drains the policy has converged (a further cycle
    decides all-keep)."""
    P.publish_init(spark, SF, K, label="fire")
    rep = P.publish_delete(spark, SF, K, del_mod=43, del_rem=7, label="fire")
    assert rep["deleted"] > 0
    _write_wave_files(spark, SF, 43, 7, 4, stream_dir)
    st = run_maintenance_daemon(
        spark,
        SF,
        K,
        label="fire",
        stream_dir=stream_dir,
        repair_every=1,
        hot_num=13,
        hot_den=10,
        cold_num=1,
        cold_den=4,
    )
    assert st["batches"] == 4 and st["ingested"] == rep["deleted"]
    assert st["repairs_fired"] >= 1, st
    inv = P.published_invariants(spark, SF, K, label="fire")
    for key, val in inv.items():
        if isinstance(val, bool):
            assert val, f"invariant {key} violated after daemon: {inv}"
    post = P.publish_repair(spark, SF, K, 13, 10, 1, 4, label="fire")
    assert post["plan"]["split"] == 0 and post["plan"]["merge"] == 0, post


def test_daemon_rejects_live_ids(spark, roots, stream_dir):
    """The ingest contract holds inside the daemon: a wave that was
    never erased dies on the new-id guard instead of duplicating ids,
    and no epoch is committed."""
    P.publish_init(spark, SF, K, label="live")
    _write_wave_files(spark, SF, 41, 23, 2, stream_dir)
    with pytest.raises(Exception, match="already live"):
        run_maintenance_daemon(
            spark, SF, K, label="live", stream_dir=stream_dir, repair_every=2
        )
    assert P.published_epochs(spark, SF, K, label="live") == [1]
