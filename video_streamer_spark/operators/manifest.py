"""The versioned table's manifest format, in one module: how a
manifest entry is named, how its data refs resolve, how a timestamp
resolves to a version, and how two manifests (or a chain of them)
diff into changed buckets — plus the merge-on-read tombstone keep-mask
every reader of a bucket applies, and the lossless type widenings a
schema may take.

Layout (``operators/table_format.py`` owns the commit protocol)::

    <path>/_manifests/v<version, 9 digits>.json

Runner-safe by construction: this module imports only the standard
library at module level (pandas/pyarrow lazily, inside the keep-mask),
so the Python DataSources (``sources/cdf_source.py``,
``sources/snapshot_source.py``) import it at module level and
``ship_module`` it by value — their methods run in Spark's data-source
runner process, which cannot import this package for an external-cwd
consumer. Readers pass their own ``load(version)``: ``table_format``
its LogStore-routed read (so fault injection sees every read), the
runner :func:`load_file`."""

from __future__ import annotations

import datetime
import json
import os
from collections.abc import Callable, Iterable

# Lossless type widenings a manifest schema may take (the Iceberg
# type-promotion set plus the small-int ladder): every value
# representable in the old type is exactly representable in the new,
# so old data files read under the widened schema are value-identical
# (Spark's parquet reader upcasts natively — probed on
# int32→int64/float32→float64 files). bigint → double is deliberately
# ABSENT (lossy past 2^53), as is any narrowing.
SAFE_WIDENINGS = {
    "tinyint": {"smallint", "int", "bigint"},
    "smallint": {"int", "bigint"},
    "int": {"bigint"},
    "float": {"double"},
}


def manifest_dir(path: str) -> str:
    return os.path.join(path, "_manifests")


def entry_name(version: int) -> str:
    """The log entry holding manifest ``version``."""
    return f"v{version:09d}.json"


def versions_in(names: Iterable[str]) -> list[int]:
    """Committed versions named by a manifest-dir listing, ascending
    (a manifest entry IS a commit; store staging files are skipped)."""
    return sorted(
        int(f.removeprefix("v").removesuffix(".json"))
        for f in names
        if f.startswith("v") and f.endswith(".json")
    )


def abs_ref(path: str, rel: str) -> str:
    """Resolve a manifest data ref to a filesystem path. Refs a table
    wrote are table-relative (``data/commit-.../pb=N``); a SHALLOW
    CLONE's manifest (``clone_table``) carries ABSOLUTE refs into its
    source table's layout. Every consumer of ``doc["buckets"]`` /
    ``doc["tombstones"]`` refs resolves through here; writers always
    mint relative refs under their own table root."""
    return rel if os.path.isabs(rel) else os.path.join(path, rel)


def load_file(path: str, version: int) -> dict:
    """Plain-file manifest read for the DataSource runner (no LogStore
    there). A missing entry raises the raw ``FileNotFoundError``."""
    with open(os.path.join(manifest_dir(path), entry_name(version))) as fh:
        return json.load(fh)


def file_versions(path: str) -> list[int]:
    """Plain-directory twin of ``table_format.history``."""
    return versions_in(os.listdir(manifest_dir(path)))


def latest_file_version(path: str) -> int:
    versions = file_versions(path)
    if not versions:
        raise FileNotFoundError(f"no committed version at {path}")
    return versions[-1]


def parse_timestamp(text) -> float:
    """ISO-8601 (naive = UTC) or epoch seconds → epoch seconds. An
    unparseable string raises ``ValueError``."""
    t = str(text).strip()
    try:
        return float(t)
    except ValueError:
        pass
    dt = datetime.datetime.fromisoformat(t)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=datetime.timezone.utc)
    return dt.timestamp()


def version_at_timestamp(
    path: str,
    versions: Iterable[int],
    load: Callable[[int], dict],
    ts: float,
    remedy: str,
) -> int:
    """The LATEST of ``versions`` whose ``committed_at`` is ≤ ``ts``
    (Delta's ``TIMESTAMP AS OF`` rule). Taking the max qualifying
    VERSION, not the max stamp, keeps resolution deterministic under
    writer clock skew. A manifest without a stamp raises by name, with
    the caller's ``remedy``; a timestamp older than every retained
    commit raises too (there is no state to serve)."""
    best = None
    for v in versions:
        at = load(v).get("committed_at")
        if at is None:
            raise ValueError(
                f"version {v} at {path} has no committed_at stamp "
                f"(written before timestamp support): {remedy}"
            )
        if at <= ts:
            best = v
    if best is None:
        raise ValueError(
            f"no retained version at {path} is as old as timestamp "
            f"{ts} (oldest retained commit is newer, or was vacuumed)"
        )
    return best


def buckets_changed_between(a: dict, b: dict) -> set[str]:
    """Bucket ids whose effective content differs between two manifests
    of the SAME layout: a repointed data dir or a changed tombstone
    list. Data dirs are immutable and commit-uuid-unique, so a pointer
    can never revert — diffing the endpoints sees every bucket any
    intermediate commit touched."""
    out: set[str] = set()
    ab, bb = a.get("buckets", {}), b.get("buckets", {})
    for k in set(ab) | set(bb):
        if ab.get(k) != bb.get(k):
            out.add(k)
    at, bt = a.get("tombstones", {}), b.get("tombstones", {})
    for k in set(at) | set(bt):
        if at.get(k) != bt.get(k):
            out.add(k)
    return out


class BucketLayoutChanged(Exception):
    """The version window spans a ``rebucket_table`` commit: the bucket
    COUNT changed, so key→bucket assignment differs between manifests
    and bucket ids are not comparable across the window. Callers must
    fall back to a key-level (global) diff."""


def changed_buckets_between(
    load: Callable[[int], dict], v_from: int, v_to: int
) -> set[str]:
    """Buckets that MAY contain a changed row in (v_from, v_to]: walk
    the manifest chain and collect the changes introduced by
    non-layout commits. A bucket rewritten only by ``optimize_table``
    (``layout_only`` manifests) holds byte-different files with
    identical rows, so skipping it is exact — and the walk is pure
    JSON, so an OPTIMIZE of a 100 TB table costs its CDC readers a
    metadata scan, not a full-table diff. A ``delete_keys`` commit
    changes rows WITHOUT repointing the bucket dir; the pair diff
    counts its tombstone list as part of the bucket's contents.

    Raises ``BucketLayoutChanged`` if ``n_buckets`` varies anywhere in
    the window AND some non-layout commit changed rows: bucket ids then
    name DIFFERENT key partitions in different manifests. A window
    whose only commits are layout_only still returns the exact empty
    set, keeping rebucket/OPTIMIZE zero-read for the feed. A vacuumed
    manifest in the chain surfaces as ``load``'s error."""
    cur = {"buckets": {}} if v_from == 0 else load(v_from)
    anchor_n = cur.get("n_buckets")
    varied = False
    changed: set[str] = set()
    for v in range(v_from + 1, v_to + 1):
        nxt = load(v)
        if anchor_n is None:
            anchor_n = nxt.get("n_buckets")
        elif nxt.get("n_buckets") != anchor_n:
            varied = True
        if not nxt.get("layout_only"):
            changed |= buckets_changed_between(cur, nxt)
        cur = nxt
    if varied and changed:
        raise BucketLayoutChanged(
            f"n_buckets changed within versions ({v_from}, {v_to}] "
            "alongside data commits: bucket ids are not comparable "
            "across the window"
        )
    return changed


def arrow_types_mapper(t):
    """pyarrow→pandas dtype mapper: integral columns land DIRECTLY in
    nullable Int* dtypes. Without it, an int64 column that carries any
    null detours through float64, and values past 2^53 come back
    corrupted (verified off-by-7 at 10^18).

    Nested columns land in ``pd.ArrowDtype`` for the same reason: the
    default numpy detour turns null list elements into NaN and struct
    cells into opaque numpy records; ArrowDtype cells surface as exact
    python lists/dicts with null preserved."""
    import pandas as pd
    import pyarrow as pa

    if (
        pa.types.is_list(t)
        or pa.types.is_large_list(t)
        or pa.types.is_struct(t)
        or pa.types.is_map(t)
    ):
        return pd.ArrowDtype(t)
    return {
        pa.int8(): pd.Int8Dtype(),
        pa.int16(): pd.Int16Dtype(),
        pa.int32(): pd.Int32Dtype(),
        pa.int64(): pd.Int64Dtype(),
    }.get(t)


def tombstone_keep_mask(keys, tomb_dirs: list[str], key_cols: list[str]):
    """Merge-on-read delete mask: for each row of ``keys`` (a pandas
    frame of the key columns), True when no tombstone under
    ``tomb_dirs`` kills it. SQL equality semantics, not pandas': a
    pandas merge MATCHES NA==NA, so null tombstone keys are dropped
    first — they kill nothing, and null-keyed rows survive. Integral
    keys compare as nullable integers, exact past 2^53."""
    import numpy as np
    import pandas as pd
    import pyarrow.parquet as pq

    if not tomb_dirs or not len(keys):
        return np.ones(len(keys), dtype=bool)
    dead = (
        pd.concat(
            [
                pq.read_table(d, columns=key_cols).to_pandas(
                    types_mapper=arrow_types_mapper
                )
                for d in tomb_dirs
            ],
            ignore_index=True,
        )
        .drop_duplicates()
        .dropna(subset=key_cols)
    )
    if not len(dead):
        return np.ones(len(keys), dtype=bool)
    for c in key_cols:
        # one integral dtype on both sides of the merge
        if pd.api.types.is_integer_dtype(keys[c].dtype):
            dead[c] = dead[c].astype(keys[c].dtype)
    marked = keys[key_cols].merge(
        dead, on=key_cols, how="left", indicator=True
    )
    return (marked["_merge"] == "left_only").to_numpy()
