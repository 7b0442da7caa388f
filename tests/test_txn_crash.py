"""Crash injection for the txn log's staged-link commit protocol (r7
verdict #5): `FilesystemLogStore.put_if_absent` claims readers never see
a torn manifest and a failed claim leaves the version claimable — no test
killed a writer mid-commit until now.

Method: a CHILD process runs the REAL ``FilesystemLogStore.put_if_absent``
with one os-level step hooked to ``os._exit(137)`` — a hard death at that
exact point (``os._exit`` skips ``finally`` blocks and atexit, i.e. the
same filesystem state a SIGKILL leaves). The parent then asserts the two
protocol invariants directly against the directory:

  * READER SAFETY — `_versions()`-visible names are only ever complete,
    fsynced manifests (a crash can strand a ``_tmp-*`` stage file, which
    the version listing ignores by contract);
  * CLAIMABILITY — if the crash happened before the hard link, a later
    writer's put_if_absent(name) must WIN and its payload must be what
    readers see; if the crash happened after the link, the claim stands
    complete and a later writer must LOSE.

The TxnTable-level twin (writer dies between data-file staging and log
publish) needs no subprocess: process death adds nothing to "publish
never ran", so the test drives `_write_data_files` without `_publish`
and asserts snapshot isolation + vacuumability of the orphans.

`ConditionalPutLogStore` is NOT crash-injected here deliberately: its
docstring documents the torn-object window a hard kill inside O_EXCL +
write leaves in the local MODEL (a real conditional-PUT object store is
all-or-nothing server-side); its failed-WRITE undo path is pinned by
test_txn.py::test_conditional_put_failed_write_leaves_nothing.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = r"""
import os, sys
sys.path.insert(0, sys.argv[1])
log_dir, name, crash_at = sys.argv[2], sys.argv[3], sys.argv[4]
payload = sys.argv[5].encode()

real_open, real_fsync, real_link = open, os.fsync, os.link

if crash_at == "mid_write":
    import builtins

    class TornFile:
        def __init__(self, fh):
            self._fh = fh

        def write(self, data):
            # Half the bytes reach the file, then the process dies — the
            # state an OOM-kill mid-write leaves.
            self._fh.write(data[: len(data) // 2])
            self._fh.flush()
            os._exit(137)

        def __getattr__(self, a):
            return getattr(self._fh, a)

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self._fh.__exit__(*exc)

    def open_hook(path, mode="r", *a, **kw):
        fh = real_open(path, mode, *a, **kw)
        return TornFile(fh) if "w" in mode and "_tmp-" in str(path) else fh

    builtins.open = open_hook
elif crash_at == "before_fsync":
    os.fsync = lambda fd: os._exit(137)
elif crash_at == "before_link":
    def link_hook(src, dst):
        os._exit(137)
    os.link = link_hook
elif crash_at == "after_link":
    def link_hook(src, dst):
        real_link(src, dst)
        os._exit(137)
    os.link = link_hook
else:
    raise SystemExit(f"unknown crash_at {crash_at}")

from importer_spark.txn import FilesystemLogStore

FilesystemLogStore().put_if_absent(log_dir, name, payload)
os._exit(0)  # unreachable for every crash_at above
"""

NAME = "00000000000000000007.json"
PAYLOAD_1 = json.dumps({"writer": "crashed", "adds": ["a.parquet"] * 200})
PAYLOAD_2 = json.dumps({"writer": "survivor", "adds": ["b.parquet"]})


def _crash_put(log_dir: str, crash_at: str) -> int:
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD, REPO, log_dir, NAME, crash_at, PAYLOAD_1],
        capture_output=True,
        text=True,
    )
    assert proc.returncode == 137, (crash_at, proc.returncode, proc.stderr)
    return proc.returncode


def _visible_versions(log_dir: str) -> list[str]:
    """The reader's view — the same filter TxnTable._versions applies."""
    return sorted(
        f
        for f in os.listdir(log_dir)
        if f.endswith(".json")
        and not f.endswith(".checkpoint.json")
        and not f.startswith("_tmp")
    )


@pytest.mark.parametrize("crash_at", ["mid_write", "before_fsync", "before_link"])
def test_crash_before_link_leaves_version_claimable(tmp_path, crash_at):
    """Writer dies before the hard link: readers see NO manifest at the
    version (not even a torn one), and a later writer claims it cleanly."""
    from importer_spark.txn import FilesystemLogStore

    log_dir = str(tmp_path)
    _crash_put(log_dir, crash_at)
    assert _visible_versions(log_dir) == [], (
        f"a manifest became reader-visible despite dying at {crash_at}"
    )
    # A stranded _tmp stage file is allowed (vacuumable garbage), but it
    # must never be version-shaped.
    for f in os.listdir(log_dir):
        assert f.startswith("_tmp"), f"unexpected non-stage leftover {f}"
    # The version is still claimable, and the survivor's payload wins.
    assert FilesystemLogStore().put_if_absent(log_dir, NAME, PAYLOAD_2.encode())
    with open(os.path.join(log_dir, NAME)) as fh:
        assert json.load(fh)["writer"] == "survivor"


def test_crash_after_link_claim_stands_complete(tmp_path):
    """Writer dies after the link but before stage cleanup: the claim
    STANDS (complete, fsynced payload — the link happens only after
    write+fsync), the stranded stage file stays reader-invisible, and a
    later writer correctly loses."""
    from importer_spark.txn import FilesystemLogStore

    log_dir = str(tmp_path)
    _crash_put(log_dir, "after_link")
    assert _visible_versions(log_dir) == [NAME]
    with open(os.path.join(log_dir, NAME)) as fh:
        assert json.load(fh)["writer"] == "crashed"  # complete, parseable
    assert not FilesystemLogStore().put_if_absent(log_dir, NAME, PAYLOAD_2.encode())
    with open(os.path.join(log_dir, NAME)) as fh:
        assert json.load(fh)["writer"] == "crashed"  # loser changed nothing


def test_torn_stage_never_poisons_reads_or_later_commits(tmp_path):
    """After a mid-write crash the stranded HALF-written stage file sits in
    the log dir; a full TxnTable lifecycle over that directory must behave
    as if it weren't there."""
    pytest.importorskip("pyspark")
    from tests.conftest import SF_DIR  # noqa: F401  (fixture source marker)

    # Crash a writer into the table's future _log dir first.
    table_dir = str(tmp_path / "t")
    log_dir = os.path.join(table_dir, "_log")
    os.makedirs(log_dir)
    _crash_put(log_dir, "mid_write")

    from importer_spark.session import get_spark
    from importer_spark.txn import TxnTable

    spark = get_spark(app_name="txn-crash-test", master="local[2]", shuffle_partitions=2)
    t = TxnTable(spark, table_dir)
    df = spark.range(5).selectExpr("id", "id * 2 AS v")
    v0 = t.commit_append(df)
    assert t.latest_version() == v0
    assert t.read().count() == 5
    v1 = t.commit_append(df)
    assert v1 == v0 + 1
    assert t.read().count() == 10


def test_writer_death_between_data_stage_and_publish(spark, tmp_path):
    """TxnTable-level crash window: data files written, log publish never
    ran (what a process death there leaves). Readers see the OLD snapshot;
    the orphaned files are invisible and vacuumable; the next commit gets
    the version the dead writer never claimed."""
    from importer_spark.txn import TxnTable

    t = TxnTable(spark, str(tmp_path / "t"))
    base = spark.range(4).selectExpr("id", "id + 100 AS v")
    v0 = t.commit_append(base)

    # The dead writer: stage data files for v1, then 'die' (no publish).
    orphan_names = t._write_data_files(
        spark.range(7).selectExpr("id", "id + 500 AS v"), version_hint=v0 + 1
    )
    assert orphan_names  # files exist on disk...
    assert t.latest_version() == v0  # ...but no manifest references them
    assert t.read().count() == 4  # reader sees the pre-crash snapshot

    # Next writer claims the version the dead one never linked.
    v1 = t.commit_append(spark.range(2).selectExpr("id", "id AS v"))
    assert v1 == v0 + 1
    assert t.read().count() == 6
    assert t.read(v0).count() == 4

    # The orphans are garbage, not state: vacuum removes exactly them.
    removed = t.vacuum(retain_from_version=0)
    assert sorted(os.path.basename(r) for r in removed) == sorted(orphan_names)
    assert t.read().count() == 6


# The `pipeline` front door's crash windows. The child runs the real loads
# in order ("<mode>=<batch path>"; mode "merge" is a direct merge_by_key)
# and dies with ``os._exit(137)`` in the last one: at its cursor commit
# ("cursor"), or after its data write and before its merge sidecar is
# written ("sidecar").
_LOAD_CHILD = r"""
import os, sys
sys.path.insert(0, sys.argv[1])
wh, crash_at, loads = sys.argv[2], sys.argv[3], sys.argv[4:]

from importer_spark import io
from importer_spark.plans import pipeline
from importer_spark.session import get_spark

spark = get_spark(app_name="load-crash-child", master="local[1]", shuffle_partitions=2)
for i, load in enumerate(loads):
    mode, src = load.split("=", 1)
    if i == len(loads) - 1:
        die = lambda *a, **k: os._exit(137)
        if crash_at == "cursor":
            pipeline.commit_cursor = die
        else:
            io.write_json_atomic = die
    df = spark.read.parquet(src)
    if mode == "merge":
        io.merge_by_key(spark, df, wh, keys=["id"], version_col="updated_at")
    else:
        pipeline.run_source_load(spark, df, wh, keys=["id"], cursor_col="updated_at", mode=mode)
os._exit(0)  # unreachable: the last load crashes
"""

_LOAD_BATCHES = [
    [(1, "a", "2024-01-01"), (2, "b", "2024-01-02")],
    # a late update of id 2, a new id 3, and a stale re-delivery of id 1
    [(2, "b2", "2024-01-05"), (3, "c", "2024-01-06"), (1, "a", "2024-01-01")],
]
_FINAL_ROWS = [(1, "a", "2024-01-01"), (2, "b2", "2024-01-05"), (3, "c", "2024-01-06")]


@pytest.fixture
def load_batches(spark, tmp_path):
    paths = []
    for i, rows in enumerate(_LOAD_BATCHES):
        p = str(tmp_path / f"batch{i}")
        spark.createDataFrame(rows, "id int, v string, updated_at string").write.parquet(p)
        paths.append(p)
    return paths


def _crash_child(wh, crash_at, loads):
    proc = subprocess.run(
        [sys.executable, "-c", _LOAD_CHILD, REPO, wh, crash_at, *loads],
        capture_output=True,
        text=True,
    )
    assert proc.returncode == 137, proc.stderr[-2000:]


def _load(spark, wh, batch, mode="auto"):
    from importer_spark.plans.pipeline import run_source_load

    return run_source_load(
        spark, spark.read.parquet(batch), wh, keys=["id"], cursor_col="updated_at", mode=mode
    )


def _state(spark, wh):
    from importer_spark.streaming.incremental import read_cursor

    rows = sorted(tuple(r) for r in spark.read.parquet(wh).select("id", "v", "updated_at").collect())
    return rows, read_cursor(spark, wh + "__cursor")


@pytest.mark.parametrize("crash_batch", [0, 1], ids=["seed", "incremental"])
def test_source_load_crash_before_cursor_commit_reruns_to_same_state(
    spark, tmp_path, load_batches, crash_batch
):
    """After the crash the table holds the batch but the cursor does not;
    an ``auto`` rerun re-delivers that batch (seeding again when no cursor
    was ever committed) and ends with the same rows and the same cursor as
    a run that never crashed."""
    from importer_spark.streaming.incremental import read_cursor

    crashed = str(tmp_path / "crashed" / "src")
    _crash_child(crashed, "cursor", [f"auto={b}" for b in load_batches[: crash_batch + 1]])
    assert os.path.exists(os.path.join(crashed, "_merge_meta.json"))
    assert read_cursor(spark, crashed + "__cursor") == (None, "2024-01-02")[crash_batch]

    rerun = [_load(spark, crashed, b) for b in load_batches[crash_batch:]]
    assert rerun[0].mode == ("seed", "incremental")[crash_batch]

    clean = str(tmp_path / "clean" / "src")
    assert [_load(spark, clean, b).mode for b in load_batches] == ["seed", "incremental"]
    assert _state(spark, crashed) == _state(spark, clean)
    assert _state(spark, clean) == (_FINAL_ROWS, "2024-01-06")


def test_reseed_crash_before_merge_sidecar_reruns_to_same_state(spark, tmp_path, load_batches):
    """A source with a committed cursor is re-seeded, and the seed dies after
    its data write and before its merge sidecar. The seed deleted the
    cursor first and stages data and sidecar away from the table, so the
    table is still the old one and an ``auto`` rerun seeds again, ending
    where an uninterrupted re-seed ends."""
    from importer_spark.streaming.incremental import read_cursor

    crashed = str(tmp_path / "crashed" / "src")
    b0, b1 = load_batches
    _crash_child(crashed, "sidecar", [f"auto={b0}", f"seed={b1}"])
    assert read_cursor(spark, crashed + "__cursor") is None
    assert _state(spark, crashed)[0] == sorted(_LOAD_BATCHES[0])

    assert _load(spark, crashed, b1).mode == "seed"
    clean = str(tmp_path / "clean" / "src")
    assert [_load(spark, clean, b0).mode, _load(spark, clean, b1, "seed").mode] == ["seed", "seed"]
    assert _state(spark, crashed) == _state(spark, clean)
    assert _state(spark, clean) == (_FINAL_ROWS, "2024-01-06")


def test_merge_create_crash_before_sidecar_leaves_no_table(spark, tmp_path, load_batches):
    """A direct merge_by_key that creates its table dies after the data
    write and before the sidecar: the table does not exist yet, so the
    next merge creates it."""
    from importer_spark.io import merge_by_key

    crashed = str(tmp_path / "crashed" / "src")
    _crash_child(crashed, "sidecar", [f"merge={load_batches[0]}"])
    assert not os.path.exists(crashed)
    for b in load_batches:
        merge_by_key(spark, spark.read.parquet(b), crashed, keys=["id"], version_col="updated_at")
    assert _state(spark, crashed)[0] == _FINAL_ROWS
