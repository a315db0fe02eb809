"""Atomic visibility of persisted state.

Versioned tables commit through ``log_store`` + ``table_format`` (one
atomic manifest publish per commit). The only other writers that make
directories visible by renaming them are pinned here, so a new
per-module stage-and-swap protocol fails this tier until someone argues
for it. The rollup journal is one of them: its per-epoch stage-and-rename
write, replay idempotence and crash healing run in this default tier at
SF_SMOKE.
"""

from __future__ import annotations

import ast
import os
import pathlib
import shutil

from tests.conftest import SF_SMOKE

_PKG = pathlib.Path(__file__).resolve().parent.parent / "video_streamer_spark"

RENAME_SWAP_MODULES = {
    "streaming/incremental.py",  # rollup journal epoch swap
    "operators/similarity.py",  # IVF index cell swap
    "queries/extended2.py",  # prebuilt-table rename into place
}


def _calls_os_rename(tree: ast.AST) -> bool:
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("rename", "replace")
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "os"
        ):
            return True
        if isinstance(node, ast.ImportFrom) and node.module == "os":
            if {a.name for a in node.names} & {"rename", "replace"}:
                return True
    return False


def test_rename_swap_protocols_are_pinned():
    """Exactly the pinned modules call ``os.rename``/``os.replace``;
    every other persisted writer goes through the table format's
    commit protocol."""
    found = {
        f.relative_to(_PKG).as_posix()
        for f in _PKG.rglob("*.py")
        if _calls_os_rename(ast.parse(f.read_text(), str(f)))
    }
    assert found == RENAME_SWAP_MODULES, (
        f"rename-swap modules changed: added "
        f"{sorted(found - RENAME_SWAP_MODULES)}, gone "
        f"{sorted(RENAME_SWAP_MODULES - found)} — commit through "
        "operators/table_format instead, or update RENAME_SWAP_MODULES "
        "with the reason"
    )


def _halves(spark):
    from video_streamer_spark.catalog import table

    e = table(spark, SF_SMOKE, "events")
    return [
        e.where(f"event_id % 2 = {i}").select("ts", "event_type", "value")
        for i in range(2)
    ]


def _rollup(spark, journal):
    from video_streamer_spark.streaming.incremental import combine_rollup

    return sorted(tuple(r) for r in combine_rollup(spark, journal).collect())


def test_incremental_rollup_epoch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch may replay an epoch after a failure: re-journaling the
    same epoch must leave the combined rollup unchanged (overwrite, not
    accumulate)."""
    from video_streamer_spark.streaming.incremental import write_partial_batch

    journal = str(tmp_path / "journal")
    half_a, half_b = _halves(spark)
    write_partial_batch(half_a, 0, journal)
    write_partial_batch(half_b, 1, journal)
    once = _rollup(spark, journal)
    # replay epoch 1 (same data, same epoch id) — a crash-retry
    write_partial_batch(half_b, 1, journal)
    assert _rollup(spark, journal) == once
    assert sum(r[2] for r in once) == half_a.count() + half_b.count()


def test_incremental_journal_epochs_are_staged_atomically(spark, tmp_path):
    """No .staging-* dirs survive a write, and the batch-* glob a reader
    uses can never match a staging dir name."""
    from video_streamer_spark.catalog import table
    from video_streamer_spark.streaming.incremental import write_partial_batch

    journal = str(tmp_path / "journal")
    e = table(spark, SF_SMOKE, "events").select("ts", "event_type", "value")
    write_partial_batch(e, 7, journal)
    entries = os.listdir(journal)
    assert "batch-7" in entries
    assert not [d for d in entries if d.startswith(".staging")]
    # replay: same epoch again — still exactly one complete dir
    write_partial_batch(e, 7, journal)
    entries = os.listdir(journal)
    assert entries.count("batch-7") == 1
    assert not [d for d in entries if d.startswith(".staging")]


def test_incremental_journal_crash_chaos_all_stages(spark, tmp_path):
    """Injected crash at every stage boundary of the epoch-replay swap
    (``journal_epoch``'s two renames): recovery by
    ``heal_journal_residue``, which the normal entry points invoke,
    must converge to the same combined rollup."""
    from video_streamer_spark.streaming.incremental import write_partial_batch

    halves = _halves(spark)

    def fresh(tag):
        journal = str(tmp_path / f"journal-{tag}")
        write_partial_batch(halves[0], 0, journal)
        write_partial_batch(halves[1], 1, journal)
        return journal

    want = _rollup(spark, fresh("want"))

    # state A: staged written, old epoch moved aside, final missing
    j = fresh("a")
    os.rename(f"{j}/batch-1", f"{j}/.replaced-batch-1")
    shutil.copytree(f"{j}/.replaced-batch-1", f"{j}/.staging-batch-1")
    assert _rollup(spark, j) == want
    assert not [d for d in os.listdir(j) if d.startswith(".")]

    # state B: second rename done, .replaced cleanup missed (a later
    # replay must not resurrect it, and it must not leak forever)
    j = fresh("b")
    shutil.copytree(f"{j}/batch-1", f"{j}/.replaced-batch-1")
    write_partial_batch(halves[1], 1, j)  # replay heals then swaps
    assert _rollup(spark, j) == want
    assert not [d for d in os.listdir(j) if d.startswith(".")]

    # state C: crash mid-parquet-write — an incomplete stage beside an
    # intact final must be discarded, not promoted
    j = fresh("c")
    os.makedirs(f"{j}/.staging-batch-1")
    with open(f"{j}/.staging-batch-1/part-junk.parquet", "w") as fh:
        fh.write("not parquet")
    assert _rollup(spark, j) == want

    # state D: between the renames with an INCOMPLETE stage (no
    # _SUCCESS): the replaced original must be restored
    j = fresh("d")
    os.rename(f"{j}/batch-1", f"{j}/.replaced-batch-1")
    os.makedirs(f"{j}/.staging-batch-1")
    assert _rollup(spark, j) == want
