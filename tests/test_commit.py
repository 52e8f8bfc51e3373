"""The local replace protocols under a crash after every step —
commit.replace_files / commit.recover, and the versioned snapshots of
commit.publish / commit.latest — and the JVM-free import guard of the
event store that uses them.  No Spark session: files are written and read
with pyarrow."""

import glob
import logging
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.dataset as pa_ds
import pyarrow.parquet as pq
import pytest

from cloudfabric_eventsourcing_spark import commit

N_OLD = 4  # old files, 10 rows each
N_NEW = 3  # staged files
BYSTANDER = {(100 + i, 0) for i in range(5)}  # appended concurrently


class _Crash(Exception):
    pass


def _write(path, rows):
    pq.write_table(
        pa.table({"id": [r[0] for r in rows], "gen": [r[1] for r in rows]}), path
    )


def _rows(d):
    out = []
    for f in glob.glob(os.path.join(d, "*.parquet")):
        t = pq.read_table(f)
        out += list(zip(t["id"].to_pylist(), t["gen"].to_pylist()))
    return sorted(out)


def _setup(d):
    """Old generation: ids 0..39 in N_OLD files.  New generation (what
    the replace installs): the ids not divisible by 5 — a hard_delete
    shape, so old and new differ — in N_NEW files.  A bystander file not
    in the old list must survive every outcome."""
    os.makedirs(d)
    old = []
    for k in range(N_OLD):
        f = os.path.join(d, f"part-{k}.parquet")
        _write(f, [(i, 0) for i in range(10 * k, 10 * k + 10)])
        old.append(f)
    _write(os.path.join(d, "part-late.parquet"), sorted(BYSTANDER))
    new = [(i, 1) for i in range(10 * N_OLD) if i % 5]

    def write(staging):
        for k in range(N_NEW):
            _write(os.path.join(staging, f"n{k}.parquet"), new[k::N_NEW])

    old_set = sorted([(i, 0) for i in range(10 * N_OLD)] + list(BYSTANDER))
    new_set = sorted(new + list(BYSTANDER))
    return old, write, old_set, new_set


def _crash_on(monkeypatch, name, match, k):
    """Make the k-th (0-based) call of os.<name> whose first argument
    satisfies `match` raise _Crash instead of running."""
    real = getattr(os, name)
    seen = [0]

    def wrapped(p, *a, **kw):
        if match(p):
            if seen[0] == k:
                raise _Crash(f"{name} #{k}")
            seen[0] += 1
        return real(p, *a, **kw)

    monkeypatch.setattr(commit.os, name, wrapped)


def _in_staging(p):
    return os.path.basename(os.path.dirname(p)).startswith(commit._STAGING)


def _is_old(p):
    return os.path.basename(p) in {f"part-{k}.parquet" for k in range(N_OLD)}


# (case id, crash hook, delete the staging dir from outside?, outcome)
CASES = (
    [("mid-write", None, False, "old"),
     ("marker-part-written", ("rename", lambda p: p.endswith(".part"), 0), False, "old")]
    + [(f"moves-{k}-of-{N_NEW}", ("rename", _in_staging, k), False, "new")
       for k in range(N_NEW)]
    + [(f"moves-{k}-of-{N_NEW}-staging-deleted", ("rename", _in_staging, k), True, "old")
       for k in range(N_NEW)]
    + [(f"unlinks-{k}-of-{N_OLD}", ("unlink", _is_old, k), False, "new")
       for k in range(N_OLD)]
    + [(f"unlinks-0-of-{N_OLD}-staging-deleted", ("unlink", _is_old, 0), True, "new"),
       ("marker-unlink", ("unlink", lambda p: p.endswith(commit._MARKER), 0), False, "new")]
)


@pytest.mark.parametrize(
    "hook,delete_staging,outcome",
    [c[1:] for c in CASES],
    ids=[c[0] for c in CASES],
)
def test_recover_leaves_exactly_old_or_new(
    tmp_path, monkeypatch, caplog, hook, delete_staging, outcome
):
    """Crash `replace_files` after each of its steps; `recover` must then
    leave exactly the old row set or exactly the new one (never both,
    never a partial set), no marker and no staging dir, and say so in
    one WARNING.  A staging dir deleted from outside while moves are
    outstanding rolls back; once every move landed it rolls forward."""
    d = str(tmp_path / "ds")
    old, write, old_set, new_set = _setup(d)
    if hook is None:
        def crashing_write(staging):
            write(staging)
            raise _Crash("write")
        with pytest.raises(_Crash):
            commit.replace_files(d, old, crashing_write)
    else:
        _crash_on(monkeypatch, *hook)
        with pytest.raises(_Crash):
            commit.replace_files(d, old, write)
        monkeypatch.undo()
    if delete_staging:
        (staging,) = glob.glob(os.path.join(d, f"{commit._STAGING}*"))
        shutil.rmtree(staging)

    with caplog.at_level(logging.WARNING, logger=commit.__name__):
        assert commit.recover(d) is True
    warnings = [r for r in caplog.records if r.name == commit.__name__]
    assert len(warnings) == 1 and "repairing an interrupted swap" in warnings[0].message
    assert _rows(d) == (old_set if outcome == "old" else new_set)
    assert not any(
        n.startswith((commit._STAGING, commit._MARKER)) for n in os.listdir(d)
    )
    # idempotent: nothing left to repair
    assert commit.recover(d) is False
    assert _rows(d) == (old_set if outcome == "old" else new_set)


def test_replace_files_without_crash(tmp_path, caplog):
    d = str(tmp_path / "ds")
    old, write, _old_set, new_set = _setup(d)
    with caplog.at_level(logging.WARNING, logger=commit.__name__):
        commit.replace_files(d, old, write)
        assert commit.recover(d) is False
    assert _rows(d) == new_set
    names = sorted(os.listdir(d))
    assert names[-1] == "part-late.parquet"
    assert len(names) == N_NEW + 1
    assert all(n.endswith("-compacted.parquet") for n in names[:-1])
    assert not caplog.records


# ---------------------------------------------------------------------------
# publish + latest
# ---------------------------------------------------------------------------

OLD = [(i, 0) for i in range(10)]
NEW = [(i, 1) for i in range(0, 10, 2)]  # a delete shape: old and new differ


def _gen(rows, files=2):
    def write(staging):
        for k in range(files):
            _write(os.path.join(staging, f"part-{k}.parquet"), rows[k::files])
    return write


def _snapshot_rows(path):
    """What a reader of `path` sees: the dataset read skips dot- and
    underscore-prefixed entries, the same rule as Spark's file listing."""
    t = pa_ds.dataset(path, format="parquet").to_table()
    return sorted(zip(t["id"].to_pylist(), t["gen"].to_pylist()))


def _mid_write(staging):
    _gen(NEW)(staging)
    raise _Crash("write")


# (case id, crash hook, the staged write, outcome)
PUBLISH_CASES = [
    ("mid-write", None, _mid_write, "old"),
    ("before-rename", ("rename", lambda p: True, 0), _gen(NEW), "old"),
    ("before-retire", "rmtree", _gen(NEW), "new"),
]


@pytest.mark.parametrize(
    "hook,write,outcome", [c[1:] for c in PUBLISH_CASES],
    ids=[c[0] for c in PUBLISH_CASES],
)
def test_publish_leaves_exactly_old_or_new(tmp_path, monkeypatch, hook, write, outcome):
    """Crash `publish` while the staged write runs, between the write and
    the rename, and between the rename and the retire: `latest()` is
    exactly the old snapshot or exactly the new one, its readers see none
    of the staged rows, and the next publish proceeds and retires."""
    d = str(tmp_path / "index")
    old, _ = commit.publish(d, _gen(OLD), base=None)
    if hook == "rmtree":  # the first retire, right after the rename
        def crash(*_a, **_kw):
            raise _Crash("retire")
        monkeypatch.setattr(commit, "RETENTION_S", 0)
        monkeypatch.setattr(commit.shutil, "rmtree", crash)
    elif hook is not None:
        _crash_on(monkeypatch, *hook)
    with pytest.raises(_Crash):
        commit.publish(d, write, base=old)
    monkeypatch.undo()

    head = commit.latest(d)
    if outcome == "old":
        assert head == old and _snapshot_rows(head) == OLD
        assert os.listdir(d) == [os.path.basename(old)]  # staging removed
    else:
        assert head != old and _snapshot_rows(head) == NEW
        assert _snapshot_rows(old) == OLD  # kept for its readers
    monkeypatch.setattr(commit, "RETENTION_S", 0)
    out, retired = commit.publish(d, _gen(OLD[:3]), base=head)
    assert commit.latest(d) == out and _snapshot_rows(out) == OLD[:3]
    assert sorted(retired) == sorted({old, head})
    assert os.listdir(d) == [os.path.basename(out)]


def test_publish_keeps_superseded_snapshots_for_the_retention(tmp_path, monkeypatch):
    d = str(tmp_path / "index")
    base, published = None, []
    for gen in range(3):
        base, retired = commit.publish(d, _gen([(0, gen)]), base=base)
        published.append(base)
        assert retired == []
    assert commit._snapshots(d) == published
    assert [_snapshot_rows(p) for p in published] == [[(0, g)] for g in range(3)]
    monkeypatch.setattr(commit, "RETENTION_S", 0)
    out, retired = commit.publish(d, _gen([(0, 3)]))  # a plain overwrite
    assert retired == published and commit._snapshots(d) == [out]


def test_publish_on_a_stale_base_conflicts(tmp_path, monkeypatch):
    d = str(tmp_path / "index")
    first, _ = commit.publish(d, _gen(OLD), base=None)
    with pytest.raises(commit.SnapshotConflictError):
        commit.publish(d, _gen(NEW), base=None)
    assert commit.latest(d) == first and os.listdir(d) == [os.path.basename(first)]
    # a plain overwrite replaces whatever is newest
    out, _ = commit.publish(d, _gen(NEW))
    assert commit.latest(d) == out and _snapshot_rows(out) == NEW
    # a base whose successor is already retired: its slot is free, and the
    # publish must still conflict instead of landing under the newest
    monkeypatch.setattr(commit, "RETENTION_S", 0)
    newest, retired = commit.publish(d, _gen(OLD))
    assert retired == [first, out]
    with pytest.raises(commit.SnapshotConflictError):
        commit.publish(d, _gen(NEW), base=first)
    assert commit._snapshots(d) == [newest] and os.listdir(d) == [os.path.basename(newest)]


def test_publish_conflicts_when_a_racer_renames_in_first(tmp_path, monkeypatch):
    """Two writers that read one base both pass the newest-snapshot check;
    the rename is what decides: the second fails onto the first's
    snapshot and leaves it intact."""
    d = str(tmp_path / "index")
    base, _ = commit.publish(d, _gen(OLD), base=None)
    real, raced = os.rename, []

    def racer_first(src, dst):
        if not raced:
            raced.append(True)
            commit.publish(d, _gen([(99, 2)]), base=base)
        return real(src, dst)

    monkeypatch.setattr(commit.os, "rename", racer_first)
    with pytest.raises(commit.SnapshotConflictError):
        commit.publish(d, _gen(NEW), base=base)
    monkeypatch.undo()
    assert _snapshot_rows(commit.latest(d)) == [(99, 2)]
    assert not any(n.startswith(commit._STAGING) for n in os.listdir(d))


def test_eventstore_import_stays_jvm_free():
    """The event store and domain layers (the no-JVM append path) import
    without pulling in pyspark, commit module included."""
    code = (
        "import sys\n"
        "import cloudfabric_eventsourcing_spark.eventstore, "
        "cloudfabric_eventsourcing_spark.domain\n"
        "assert 'cloudfabric_eventsourcing_spark.commit' in sys.modules\n"
        "bad = sorted(m for m in sys.modules if m.split('.')[0] in ('pyspark', 'py4j'))\n"
        "print(bad)\n"
        "sys.exit(1 if bad else 0)\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    res = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True, text=True,
        timeout=60,
    )
    assert res.returncode == 0, res.stdout + res.stderr
