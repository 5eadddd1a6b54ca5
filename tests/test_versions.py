"""The shared version log (``target.versions``) on a job-output root.

File-system tests only — no SparkSession. A root holds ``v{n:06d}.json``
versions and the ``snap-*`` dirs they reference by relative name, the
layout the rollup and dedup-index jobs publish.
"""

import os
import threading
import time

import pytest

from etl_reconciliate_spark.target.versions import (
    CommitConflictError,
    _slot,
    data_name,
    expire_versions,
    list_versions,
    publish_version,
    read_version,
)

OLD = time.time() - 3600


def _snap(root, name, aged=True):
    path = os.path.join(root, name)
    os.makedirs(path)
    if aged:
        os.utime(path, (OLD, OLD))
    return path


def _publish(root, version):
    """Build ``snap-{version}-…`` and publish it as ``version``."""
    name = f"snap-{version:06d}-{version:04x}"
    _snap(root, name)
    publish_version(root, version, {"data_dir": name, "rows": version})
    return os.path.join(root, name)


def test_two_publishers_for_one_slot_exactly_one_wins(tmp_path):
    root = str(tmp_path)
    barrier = threading.Barrier(2)
    results = []

    def publisher(who):
        barrier.wait()
        try:
            publish_version(root, 0, {"data_dir": f"snap-000000-{who}"})
            results.append(("won", who))
        except CommitConflictError:
            results.append(("lost", who))

    threads = [threading.Thread(target=publisher, args=(w,))
               for w in ("a", "b")]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert sorted(r[0] for r in results) == ["lost", "won"]
    winner = next(w for r, w in results if r == "won")
    assert list_versions(root) == [0]
    assert read_version(root)["data_dir"] == f"snap-000000-{winner}"
    assert not [n for n in os.listdir(root) if n.endswith(".tmp")]
    # a later publisher for the same slot conflicts too
    with pytest.raises(CommitConflictError):
        publish_version(root, 0, {"data_dir": "snap-000000-c"})


def test_publish_into_expired_slot_is_stale(tmp_path):
    root = str(tmp_path)
    for v in range(4):
        _publish(root, v)
    expire_versions(root, keep_last=2, orphan_grace_secs=0)
    assert list_versions(root) == [2, 3]
    with pytest.raises(CommitConflictError, match="stale"):
        publish_version(root, 1, {"data_dir": "snap-000001-late"})
    # the stale writer withdrew its link; the current version never rewinds
    assert list_versions(root) == [2, 3]
    assert read_version(root)["rows"] == 3
    with pytest.raises(FileNotFoundError):
        read_version(root, 1)


def test_expire_keeps_the_last_two_outputs(tmp_path):
    root = str(tmp_path)
    dirs = [_publish(root, v) for v in range(3)]
    expire_versions(root, keep_last=2, orphan_grace_secs=0)
    assert list_versions(root) == [1, 2]
    assert not os.path.exists(dirs[0])
    assert os.path.isdir(dirs[1]) and os.path.isdir(dirs[2])


def test_expire_reaps_aged_unreferenced_dir_at_or_below_current(tmp_path):
    root = str(tmp_path)
    _publish(root, 0)
    _publish(root, 1)
    crashed = _snap(root, "snap-000001-dead")  # lost slot 1, never linked
    expire_versions(root, keep_last=2, orphan_grace_secs=60)
    assert not os.path.exists(crashed)


def test_expire_keeps_young_unreferenced_dir(tmp_path):
    root = str(tmp_path)
    _publish(root, 0)
    _publish(root, 1)
    young = _snap(root, "snap-000001-beef", aged=False)
    expire_versions(root, keep_last=2, orphan_grace_secs=60)
    assert os.path.isdir(young)


def test_expire_keeps_aged_dir_above_current_until_its_slot_passes(tmp_path):
    """A slow writer's build for an unpublished slot is never collected,
    however old; once a later publish passes that slot the writer is
    bound to conflict, and the dir goes."""
    root = str(tmp_path)
    _publish(root, 0)
    slow = _snap(root, "snap-000002-slow")
    expire_versions(root, keep_last=2, orphan_grace_secs=0)
    assert os.path.isdir(slow)
    _publish(root, 1)
    expire_versions(root, keep_last=2, orphan_grace_secs=0)
    assert os.path.isdir(slow)  # slot 2 still unpublished
    _publish(root, 2)  # another writer takes slot 2
    _publish(root, 3)
    expire_versions(root, keep_last=2, orphan_grace_secs=0)
    assert not os.path.exists(slow)


def test_expire_collects_aged_temps(tmp_path):
    root = str(tmp_path)
    _publish(root, 0)
    _publish(root, 1)
    aged = os.path.join(root, "v000001.json.0123abcd.tmp")
    young = os.path.join(root, "v000001.json.4567cdef.tmp")
    ahead = os.path.join(root, "v000002.json.89abcdef.tmp")
    for p in (aged, young, ahead):
        with open(p, "w") as f:
            f.write('{"data_dir": ')
    os.utime(aged, (OLD, OLD))
    os.utime(ahead, (OLD, OLD))
    expire_versions(root, keep_last=2, orphan_grace_secs=60)
    assert not os.path.exists(aged)
    assert os.path.exists(young)  # may be milliseconds from its link
    assert os.path.exists(ahead)  # its slot is not published yet
    assert list_versions(root) == [0, 1]


def test_expire_leaves_legacy_and_unparsed_names_alone(tmp_path):
    root = str(tmp_path)
    legacy = [
        _snap(root, "data-v000000-aaaa"),
        _snap(root, "snap-latest"),
    ]
    for name in ("data-v000000-aaaa.retired", "data-v000000-aaaa.building",
                 "_rollup_meta.json"):
        path = os.path.join(root, name)
        open(path, "w").close()
        os.utime(path, (OLD, OLD))
        legacy.append(path)
    for v in range(3):
        _publish(root, v)
    expire_versions(root, keep_last=2, orphan_grace_secs=0)
    for path in legacy:
        assert os.path.exists(path), path


def test_expire_rejects_keep_last_below_one(tmp_path):
    root = str(tmp_path)
    _publish(root, 0)
    for bad in (0, -1):
        with pytest.raises(ValueError):
            expire_versions(root, keep_last=bad, orphan_grace_secs=0)
    assert list_versions(root) == [0]


@pytest.mark.parametrize("kind", ["snap", "delta"])
@pytest.mark.parametrize("n", [0, 123456])
def test_data_name_carries_its_slot(kind, n):
    name = data_name(kind, n)
    assert name.startswith(f"{kind}-")
    assert _slot(name) == n
    assert data_name(kind, n) != name  # unique per writer
