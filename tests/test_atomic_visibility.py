"""Atomic visibility of persisted state.

Versioned tables commit through ``log_store`` + ``table_format`` (one
atomic manifest publish per commit). The only other writers that make
directories visible by renaming them are pinned here, so a new
per-module stage-and-swap protocol fails this tier until someone argues
for it. The rollup journal is one of them: its per-epoch stage-and-rename
write, replay idempotence and crash healing run in this default tier at
SF_SMOKE. Where scratch directories live is pinned here too: only
``scratch.py`` names a temp location.
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
    "scratch.py",  # built_dir's rename into place
}

# The catalog warehouse dir is session configuration, not query scratch;
# it stays where get_spark puts it.
TEMP_PATHS_ALLOWED = {("session.py", "/tmp/vss-warehouse")}


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


def _docstrings(tree: ast.AST) -> set[int]:
    ids = set()
    for node in ast.walk(tree):
        if isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ) and ast.get_docstring(node, clean=False) is not None:
            ids.add(id(node.body[0].value))
    return ids


def _temp_locations(tree: ast.AST) -> list[tuple[int, str]]:
    """(line, what) for each ``/tmp`` string (docstrings aside) and each
    use of the ``tempfile`` module."""
    docs = _docstrings(tree)
    found = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and "/tmp" in node.value
            and id(node) not in docs
        ):
            found.append((node.lineno, node.value))
        elif isinstance(node, ast.Import):
            found += [
                (node.lineno, "import tempfile")
                for a in node.names
                if a.name == "tempfile"
            ]
        elif isinstance(node, ast.ImportFrom) and node.module == "tempfile":
            found.append((node.lineno, "from tempfile import"))
    return found


def test_only_scratch_names_a_temp_location():
    """Every scratch directory comes from ``scratch.run_dir`` or
    ``scratch.built_dir``: no other package module spells a ``/tmp`` path
    or asks ``tempfile`` for one."""
    found = sorted(
        (rel, line, what)
        for f in _PKG.rglob("*.py")
        if (rel := f.relative_to(_PKG).as_posix()) != "scratch.py"
        for line, what in _temp_locations(ast.parse(f.read_text(), str(f)))
        if (rel, what) not in TEMP_PATHS_ALLOWED
    )
    assert not found, (
        f"temp locations outside scratch.py: {found} — take the directory "
        "from video_streamer_spark.scratch instead"
    )
    # the scan does see the one module that asks tempfile
    assert _temp_locations(ast.parse((_PKG / "scratch.py").read_text()))


def test_built_dir_loser_of_the_rename_race_discards_its_copy(spark, tmp_path):
    """Two builders of one slot: the one that renames second drops its
    staged copy and returns the winner's directory; later calls build
    nothing."""
    import glob

    from video_streamer_spark import scratch

    sf = str(tmp_path / "sf")
    stages = []

    def build(who):
        def run(stage):
            stages.append(stage)
            os.makedirs(stage)
            pathlib.Path(stage, "who").write_text(who)

        return run

    def loser(stage):
        build("loser")(stage)
        # another builder finishes while this one is still staging
        scratch.built_dir(spark, sf, "race-test", build("winner"))

    path = scratch.built_dir(spark, sf, "race-test", loser)
    try:
        assert path == scratch.slot(spark, sf, "race-test")
        assert pathlib.Path(path, "who").read_text() == "winner"
        assert scratch.built_dir(spark, sf, "race-test", build("late")) == path
        assert len(stages) == 2
        assert not any(os.path.exists(s) for s in stages)
        assert not glob.glob(f"{path}.building-*")
    finally:
        shutil.rmtree(path, ignore_errors=True)


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
