"""Direct tests for THE commit protocol (streaming/commitlog.py) —
VERDICT r10 #1: the manifest idiom every exactly-once sink shares is
tested ONCE, on the helper itself, instead of riding indirectly on
each sink's e2e suite. Pure-filesystem tests (no SparkSession): the
protocol is driver-side JSON + rename, so its edge cases — torn
manifests, the -1 seed admission, `touched`-list pruning, the
id_buckets pin — are exercised here in milliseconds.

Reference anchor: the atomic temp+rename commit is the reference's
worker.go:184-198 idiom lifted to the batch level.
"""

from __future__ import annotations

import json
import pathlib

import pytest

from distributed_mapreduce_spark.streaming.commitlog import (
    ManifestStore,
    VersionManifests,
    atomic_write_json,
    partition_versions,
    read_json_tolerant,
)
from distributed_mapreduce_spark.streaming.sinks import (
    _check_id_buckets,
    _pinned_id_buckets,
)


def test_atomic_write_json_roundtrip_and_reader_isolation(tmp_path):
    p = tmp_path / "m.json"
    atomic_write_json(p, {"a": 1})
    assert json.loads(p.read_text()) == {"a": 1}
    # a write in progress (tmp file staged, rename not yet executed)
    # must be invisible: the reader sees the OLD committed content
    (tmp_path / "m.json.tmp").write_text('{"a": 2')  # torn staging file
    assert read_json_tolerant(p) == {"a": 1}
    # overwrite commits atomically over the old content
    atomic_write_json(p, {"a": 3})
    assert read_json_tolerant(p) == {"a": 3}


def test_read_json_tolerant_absent_torn_binary(tmp_path):
    assert read_json_tolerant(tmp_path / "absent.json") is None
    torn = tmp_path / "torn.json"
    torn.write_text('{"batch": 4, "accepted"')  # crash mid-flush
    assert read_json_tolerant(torn) is None
    binary = tmp_path / "junk.json"
    binary.write_bytes(b"\x00\xff\x00PAR1")
    assert read_json_tolerant(binary) is None
    # a directory at the path is unreadable, not fatal
    (tmp_path / "dir.json").mkdir()
    assert read_json_tolerant(tmp_path / "dir.json") is None


def test_manifest_store_commit_visibility(tmp_path):
    ms = ManifestStore(tmp_path / "store")
    assert ms.committed() == []
    assert not ms.is_committed(0)
    for b in (2, 0, 1):  # out-of-order commits sort ascending
        ms.commit(b, {"accepted": b * 10})
    assert ms.committed() == [0, 1, 2]
    assert all(ms.is_committed(b) for b in (0, 1, 2))
    # commit stamps the batch id into the payload
    assert ms.manifests()[2] == (2, {"batch": 2, "accepted": 20})


def test_manifest_store_seed_admission(tmp_path):
    """The -1 compaction seed must be admitted by the int() parse — an
    isdigit()-style filter would silently drop the folded store."""
    ms = ManifestStore(tmp_path / "store")
    ms.seed({"accepted": 7})
    ms.commit(0, {"accepted": 3})
    assert ms.committed() == [-1, 0]
    assert ms.is_committed(ManifestStore.SEED)
    assert ms.manifests()[0][1]["accepted"] == 7


def test_manifest_store_torn_manifest_is_uncommitted(tmp_path):
    """A torn manifest (power loss after rename, before data sync) is
    UNCOMMITTED everywhere: readers skip the batch AND is_committed
    says no — a bare exists() check would make the sink skip the
    redelivery while readers never see the data (invisible forever)."""
    ms = ManifestStore(tmp_path / "store")
    ms.commit(0, {"accepted": 1})
    ms.man_dir.joinpath("1.json").write_text('{"batch": 1, "acc')  # torn
    assert ms.committed() == [0]
    assert not ms.is_committed(1), "torn manifest must read as uncommitted"
    # redelivery overwrites the torn manifest and the batch appears
    ms.commit(1, {"accepted": 2})
    assert ms.committed() == [0, 1]
    assert ms.is_committed(1)


def test_manifest_store_foreign_files_skipped(tmp_path):
    ms = ManifestStore(tmp_path / "store")
    ms.commit(3, {})
    ms.man_dir.joinpath("_meta.json").write_text('{"note": "not a batch"}')
    ms.man_dir.joinpath("garbage.json").write_text("{}")
    assert ms.committed() == [3]


def test_manifest_store_batch_dirs_and_snapshot_reuse(tmp_path):
    ms = ManifestStore(tmp_path / "store")
    for b in (0, 1, 2):
        ms.commit(b, {})
    # data dirs exist for 0 and 2 only; batch 1 wrote nothing
    for b in (0, 2):
        ms.batch_dir(b, "accepted").mkdir(parents=True)
    assert ms.batch_dirs("accepted") == [
        str(ms.batch_dir(0, "accepted")),
        str(ms.batch_dir(2, "accepted")),
    ]
    # an UNcommitted dir (torn batch write) is invisible
    ms.batch_dir(9, "accepted").mkdir(parents=True)
    assert str(ms.batch_dir(9, "accepted")) not in ms.batch_dirs("accepted")
    # a snapshot taken BEFORE a live commit pins the derived dir set —
    # the compactor's consistency contract (ADVICE r10): data dirs and
    # sidecar dirs derived from one snapshot can never desync
    snap = ms.manifests()
    ms.commit(5, {})
    ms.batch_dir(5, "accepted").mkdir(parents=True)
    assert str(ms.batch_dir(5, "accepted")) not in ms.batch_dirs(
        "accepted", manifests=snap
    )
    assert str(ms.batch_dir(5, "accepted")) in ms.batch_dirs("accepted")


def _mk_leaf(ms: ManifestStore, batch: int, subdir: str, bucket: int) -> pathlib.Path:
    d = ms.batch_dir(batch, subdir) / f"p={bucket}"
    d.mkdir(parents=True)
    return d


def test_pruned_partition_dirs(tmp_path):
    ms = ManifestStore(tmp_path / "store")
    ms.commit(0, {"touched": [1, 3]})
    ms.commit(1, {"touched": [2]})
    ms.commit(2, {"touched": []})  # zero-accepted batch: known empty
    d01 = _mk_leaf(ms, 0, "ids", 1)
    _mk_leaf(ms, 0, "ids", 3)
    d12 = _mk_leaf(ms, 1, "ids", 2)
    # want buckets {1, 2}: batch 0 contributes p=1 (its p=3 is not
    # wanted), batch 1 contributes p=2, batch 2 is skipped via its
    # empty touched list without any stat
    assert ms.pruned_partition_dirs({1, 2}, "ids") == [str(d01), str(d12)]
    # a touched bucket whose dir is missing contributes nothing
    ms.commit(3, {"touched": [1]})  # no dir written
    assert ms.pruned_partition_dirs({1}, "ids") == [str(d01)]
    # snapshot reuse: the manifests= chain pins the batch set
    snap = ms.manifests()
    ms.commit(4, {"touched": [2]})
    d42 = _mk_leaf(ms, 4, "ids", 2)
    assert str(d42) not in ms.pruned_partition_dirs({2}, "ids", manifests=snap)
    assert str(d42) in ms.pruned_partition_dirs({2}, "ids")


def test_pruned_partition_dirs_missing_touched_means_unknown(tmp_path):
    """A manifest with NO `touched` key (foreign writer) must degrade
    to stat-checking every wanted bucket — not be silently skipped,
    which would drop its data from gate reads."""
    ms = ManifestStore(tmp_path / "store")
    ms.commit(0, {})  # no touched key at all
    d = _mk_leaf(ms, 0, "ids", 5)
    assert ms.pruned_partition_dirs({5, 6}, "ids") == [str(d)]


def test_version_manifests_commit_fold_and_below(tmp_path):
    vm = VersionManifests(tmp_path / "store")
    vm.commit(0, [0, 1], n_buckets=4)
    vm.commit(2, [1], n_buckets=4)
    assert [v for v, _ in vm.committed()] == [0, 2]
    # later versions shadow earlier ones per partition
    current = partition_versions(vm.committed())
    assert current == {0: 0, 1: 2}
    assert partition_versions(vm.committed(below=2)) == {0: 0, 1: 0}
    # touched is sorted and invariants are pinned in the payload
    v0 = dict(vm.committed())[0]
    assert v0["touched"] == [0, 1] and v0["n_buckets"] == 4
    # leaf dirs: touched-but-absent reads as empty (no path), unmapped
    # partitions are skipped, and `partitions` order is kept
    (vm.version_dir(0) / "p=0").mkdir()
    (vm.version_dir(2) / "p=1").mkdir()
    d0, d1 = str(vm.version_dir(0) / "p=0"), str(vm.version_dir(2) / "p=1")
    assert vm.leaf_dirs(current) == [d0, d1]
    assert vm.leaf_dirs(current, [1, 3, 0]) == [d1, d0]
    assert vm.leaf_dirs({0: 2, 1: 2}) == [d1]


def test_version_manifests_torn_manifest_is_uncommitted(tmp_path):
    vm = VersionManifests(tmp_path / "store")
    vm.commit(0, [0], n_buckets=2)
    torn = vm.version_dir(1)
    torn.mkdir(parents=True)
    (torn / VersionManifests.MANIFEST).write_text('{"touched": [0')
    assert [v for v, _ in vm.committed()] == [0]
    assert partition_versions(vm.committed()) == {0: 0}
    # redelivery overwrites the torn version and it becomes visible
    vm.commit(1, [0], n_buckets=2)
    assert partition_versions(vm.committed()) == {0: 1}


def test_id_buckets_pin(tmp_path):
    """The id-routing pin (sinks._check_id_buckets): hash routing must
    stay stable for the store's lifetime, every manifest must carry
    it, and a MIXED store (pre-sidecar batches without the pin) is
    rejected — its early ids are absent from the sidecar, so the
    known-id gate would silently re-admit them (ADVICE r10)."""
    ok = [(0, {"id_buckets": 64, "touched": []}), (1, {"id_buckets": 64})]
    _check_id_buckets(ok, 64, "s")  # consistent: fine
    assert _pinned_id_buckets(ok, "s") == 64
    assert _pinned_id_buckets([], "s") is None
    _check_id_buckets([], 64, "s")  # empty chain: first batch pins

    with pytest.raises(ValueError, match="id_buckets=64"):
        _check_id_buckets(ok, 32, "s")

    mixed = [(0, {"accepted": 3}), (1, {"id_buckets": 64})]
    with pytest.raises(ValueError, match="pre-sidecar"):
        _check_id_buckets(mixed, 64, "s")
    with pytest.raises(ValueError, match="pre-sidecar"):
        _pinned_id_buckets(mixed, "s")

    inconsistent = [(0, {"id_buckets": 32}), (1, {"id_buckets": 64})]
    with pytest.raises(ValueError, match="inconsistent"):
        _pinned_id_buckets(inconsistent, "s")
